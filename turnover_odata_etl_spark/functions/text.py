"""Text-analysis column functions (all built-in expressions, no UDFs).

Designed for the ``documents`` fixture and, at scale, any text corpus:
token counting, quality scoring, a stopword-based language heuristic,
and md5 fingerprinting. Every function composes
``pyspark.sql.functions`` only, so the whole pipeline stays inside
whole-stage codegen — the 100 TB path is a single scan + project.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# A tiny function-word inventory per language — enough for a
# deterministic, SQL-mirrorable heuristic (not a real langid model).
STOPWORDS = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "for"),
    "es": ("el", "la", "de", "que", "y", "en", "los", "por"),
    "fr": ("le", "la", "de", "et", "les", "des", "un", "une"),
    "de": ("der", "die", "das", "und", "von", "mit", "ein", "zu"),
}

_WS = r"\s+"


def tokens(col: Column | str) -> Column:
    """Whitespace tokens of trimmed text (empty text → empty array)."""
    c = F.col(col) if isinstance(col, str) else col
    t = F.trim(c)
    return F.when(t == "", F.array().cast("array<string>")).otherwise(F.split(t, _WS))


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col)).cast("long")


def char_count(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.length(c).cast("long")


def stopword_count(col: Column | str, lang: str = "en") -> Column:
    """Count of word-boundary stopword matches for ``lang``."""
    c = F.col(col) if isinstance(col, str) else col
    pattern = r"\b(" + "|".join(STOPWORDS[lang]) + r")\b"
    return F.size(F.regexp_extract_all(F.lower(c), F.lit(pattern), F.lit(1))).cast(
        "long"
    )


def punct_count(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.size(F.regexp_extract_all(c, F.lit(r"([.,;:!?])"), F.lit(1))).cast("long")


def quality_score(col: Column | str) -> Column:
    """Composite [0,1] quality heuristic: length band + stopword ratio
    − punctuation excess. Deterministic, SQL-mirrorable, rounded 4 dp.
    """
    n_tok = token_count(col)
    sw = stopword_count(col)
    pc = punct_count(col)
    length_ok = F.when((n_tok >= 10) & (n_tok <= 10000), F.lit(0.5)).otherwise(
        F.lit(0.0)
    )
    sw_ratio = F.when(n_tok > 0, sw.cast("double") / n_tok.cast("double")).otherwise(
        F.lit(0.0)
    )
    punct_ratio = F.when(n_tok > 0, pc.cast("double") / n_tok.cast("double")).otherwise(
        F.lit(0.0)
    )
    score = length_ok + F.least(sw_ratio * F.lit(2.0), F.lit(0.3)) + F.when(
        punct_ratio <= 0.2, F.lit(0.2)
    ).otherwise(F.lit(0.0))
    return F.round(F.least(score, F.lit(1.0)), 4)


def lang_id(col: Column | str) -> Column:
    """Pick the language whose stopword inventory matches most.

    Ties break by fixed language order (en, es, fr, de); zero matches
    everywhere → 'und'. Mirrors exactly in SQL via the same regexes.
    """
    counts = {lang: stopword_count(col, lang) for lang in STOPWORDS}
    best = F.greatest(*counts.values())
    expr = F.lit("und")
    # Build reversed so earlier languages win ties via later when().
    for lang in reversed(list(STOPWORDS)):
        expr = F.when((best > 0) & (counts[lang] == best), F.lit(lang)).otherwise(expr)
    return expr


def fingerprint(col: Column | str) -> Column:
    """Deterministic document fingerprint: md5 of normalized text
    (lowercase, punctuation stripped, whitespace collapsed). The
    normalization makes near-identical formatting variants collide —
    the cheap first tier of a dedup cascade.
    """
    c = F.col(col) if isinstance(col, str) else col
    norm = F.trim(
        F.regexp_replace(F.regexp_replace(F.lower(c), r"[^a-z0-9\s]", ""), r"\s+", " ")
    )
    return F.md5(norm)


# GPT-2-style pre-tokenizer shape, restricted to the Java∩RE2 regex
# subset so Spark and DuckDB agree: runs of letters / digits / other
# non-space symbols, each optionally preceded by one space.
BPE_ISH_PATTERN = r"( ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+)"


def bpe_ish_tokens(col: Column | str) -> Column:
    """BPE-pre-tokenizer-style token list (letters|digits|symbol runs,
    leading-space attached) — the token-count basis real pipelines
    budget by, vs. naive whitespace tokens."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(c, F.lit(BPE_ISH_PATTERN), F.lit(1))


def rolling_hash(col: Column | str, base: int = 31, mod: int = 1_000_000_007) -> Column:
    """Polynomial (Rabin-Karp) rolling hash over the characters of the
    text: fold acc ← (acc·base + ascii(char)) mod m. Cheap incremental
    fingerprint (contrast md5 ``fingerprint``: cryptographic, not
    incrementally maintainable). Mod applied every step keeps the
    arithmetic in int64 under ANSI mode; mirrors exactly in DuckDB via
    list_reduce."""
    c = F.col(col) if isinstance(col, str) else col
    codes = F.transform(F.split(c, ""), lambda ch: F.ascii(ch).cast("long"))
    return F.aggregate(
        codes,
        F.lit(0).cast("long"),
        lambda acc, x: (acc * base + x) % mod,
    )


def word_shingles(col: Column | str, k: int = 3) -> Column:
    """Distinct k-word shingles (space-joined) — MinHash/Jaccard input.

    Text shorter than k tokens yields a single shingle of the whole
    text so every non-empty doc has ≥1 shingle.

    PERF: this embeds ``tokens(col)`` (a split) multiple times in one
    expression — and higher-order functions evaluate INTERPRETED
    (codegen fallback), so the transform lambda re-splits the text
    once per shingle index. Cheap callers (tests, tiny frames) can
    use this form; hot paths should materialize the token array as a
    generator-output attribute first (``explode(array(tokens(..)))``,
    see ``plans/llm._with_tk``) and call :func:`word_shingles_from`
    on the attribute — `simhash_signatures` does exactly that.
    """
    return word_shingles_from(tokens(col), k)


def word_shingles_from(toks: Column, k: int = 3) -> Column:
    """`word_shingles` over an ALREADY-COMPUTED token-array column.
    When ``toks`` is a real attribute (not an aliased expression the
    optimizer can inline), each lambda iteration just slices column
    data — the do-the-tokenization-once form."""
    n = F.size(toks)
    shingled = F.transform(
        F.sequence(F.lit(0), n - k),
        lambda i: F.array_join(F.slice(toks, i + 1, k), " "),
    )
    whole = F.array(F.array_join(toks, " "))
    return F.array_distinct(F.when(n >= k, shingled).otherwise(whole))


def bpe_train_merges(
    words, n_merges: int, checkpoint_every: int = 64
) -> list[tuple[int, str, str, int]]:
    """Learn BPE merge rules from a word-frequency dictionary.

    ``words`` is a DataFrame ``(word string of [a-z]+, cnt long)`` —
    the aggregated output of the corpus word count, which is how the
    original BPE algorithm (Sennrich et al. 2016, public) trains:
    iterations run on the VOCABULARY-sized dictionary, never on the
    corpus. That is the whole 100 TB posture — the one corpus-sized
    job is the word count (hash-aggregate, map-side combined); the K
    merge rounds each run a distributed pair-count + argmax over the
    dict, and only the single best pair (metadata) ever reaches the
    driver, PageRank-style.

    Token sequences are represented wrapped — ``hello`` →
    ``(h)(e)(l)(l)(o)`` — so applying merge (a,b) is a LITERAL
    ``replace(seq, '(a)(b)', '(ab)')``: left-to-right non-overlapping,
    the exact BPE convention, and identical in Spark and DuckDB —
    which is what makes the trainer hash-checkable cross-engine (the
    oracle unrolls the same K rounds as CTEs).

    Ties break (count DESC, pair lexicographic) for determinism.
    Returns ``[(rank, left, right, count-at-selection), ...]``.

    Lineage-depth guard: each round stacks one more ``replace()`` on
    the persisted dict, so round k would otherwise re-execute k−1
    prior replaces — O(K²) string work and an unboundedly deep plan
    at production merge counts (32k). Every ``checkpoint_every``
    rounds the dict is ``localCheckpoint``-ed (it is vocabulary-sized
    — metadata next to the corpus — so materializing it is cheap),
    resetting both the lineage and the re-execution cost to O(K²/C).
    The default (64) keeps the small-K oracle-parity path untouched
    (no checkpoint fires below K=64); ``tests/test_properties.py``
    pins a K=40 run with ``checkpoint_every=8`` to the sequential
    textbook trainer so the checkpointed path is bit-identical.
    """
    seq = words.select(
        F.regexp_replace("word", "(.)", r"($1)").alias("seq"), "cnt"
    )
    merges: list[tuple[int, str, str, int]] = []
    for k in range(1, n_merges + 1):
        toks = F.split(F.expr("substring(seq, 2, length(seq)-2)"), r"\)\(")
        t = seq.select(toks.alias("toks"), "cnt").filter(F.size("toks") >= 2)
        pairs = t.select(
            F.slice("toks", 1, F.size("toks") - 1).alias("heads"),
            F.slice("toks", 2, F.size("toks") - 1).alias("tails"),
            "cnt",
        ).select(
            F.explode(F.arrays_zip("heads", "tails")).alias("z"), "cnt"
        ).select(
            F.col("z.heads").alias("p1"), F.col("z.tails").alias("p2"), "cnt"
        )
        best = (
            pairs.groupBy("p1", "p2")
            .agg(F.sum("cnt").alias("c"))
            .orderBy(F.col("c").desc(), "p1", "p2")
            .limit(1)
            .collect()
        )
        if not best:
            break
        p1, p2, c = best[0]["p1"], best[0]["p2"], int(best[0]["c"])
        merges.append((k, p1, p2, c))
        seq = seq.withColumn(
            "seq",
            F.replace("seq", F.lit(f"({p1})({p2})"), F.lit(f"({p1}{p2})")),
        )
        if checkpoint_every > 0 and k % checkpoint_every == 0:
            # Materialize the vocabulary-sized dict and truncate the
            # replace-chain lineage (see docstring).
            seq = seq.localCheckpoint()
    return merges


def make_bpe_word_encoder(merge_pairs, cache_size: int = 1 << 16):
    """Production-tier BPE encoder factory: (rank, position) pair-
    priority-HEAP merges per word with an LRU word cache — the encode
    path a real tokenizer service runs, vs the oracle tier's K
    sequential whole-string ``str.replace`` passes (``plans/llm.
    _make_bpe_encoder``), which are O(K·len) per document and two
    orders of magnitude slower at a production 32k-merge vocabulary
    (``scripts/bench_bpe_encode.py`` measures the gap; BASELINE.md
    records it).

    ``merge_pairs`` is the rank-ordered ``[(left, right), ...]`` list
    a training run produced. Returns ``encode_word(word) -> [token]``.

    BIT-IDENTICAL to the rank-ordered literal-replace convention the
    cross-engine oracles replay (``tests/test_properties.py`` pins it
    at K=40 against trained tables): a merge at rank r can only
    create adjacencies involving the token born at rank r, and any
    pair containing that token must have been selected at a LATER
    training round — so every pair a merge creates has rank > r, and
    popping a (rank, position) heap reproduces exactly the
    rank-by-rank, left-to-right non-overlapping replace. Within one
    rank the position key gives left-to-right order, and the
    stale-entry guards skip overlapping occurrences the same way a
    non-overlapping ``replace`` does (``aaa`` with merge (a,a) →
    ``[aa, a]`` in both tiers). The argument needs the table to come
    from a real training run: an arbitrary hand-built list could
    rank a pair below the round that creates one of its sides, which
    the replace tier would process in list order — trained tables
    cannot.

    Cost: O(len · log len) amortized per UNIQUE word (each merge is
    O(log len) heap work, ≤ len−1 merges, plus ≤ 2 pushes per merge);
    word-frequency Zipf makes the LRU cache absorb the common case
    into a dict hit. Defined inside the factory (``<locals>``
    qualname) so cloudpickle ships it BY VALUE into mapInPandas
    closures — the ``sources/warc.py`` pattern; the ranks dict is
    vocabulary-sized (< 1 MB at 32k merges), the broadcast-a-
    dimension-table posture.
    """
    import heapq
    from collections import OrderedDict

    ranks = {pair: i for i, pair in enumerate(merge_pairs)}
    cache: OrderedDict = OrderedDict()

    def encode_word(word):
        hit = cache.get(word)
        if hit is not None:
            cache.move_to_end(word)
            return hit
        toks = list(word)
        n = len(toks)
        if n >= 2:
            nxt = list(range(1, n)) + [-1]
            prv = [-1] + list(range(n - 1))
            alive = [True] * n
            heap = [
                (r, i)
                for i in range(n - 1)
                if (r := ranks.get((toks[i], toks[i + 1]))) is not None
            ]
            heapq.heapify(heap)
            while heap:
                r, i = heapq.heappop(heap)
                # Stale-entry guards: the pair must still exist AND
                # still be the pair this rank refers to (tokens at i
                # or its neighbor may have merged since the push).
                if not alive[i]:
                    continue
                j = nxt[i]
                if j == -1 or ranks.get((toks[i], toks[j])) != r:
                    continue
                toks[i] = toks[i] + toks[j]
                alive[j] = False
                k = nxt[j]
                nxt[i] = k
                if k != -1:
                    prv[k] = i
                p = prv[i]
                if p != -1:
                    rp = ranks.get((toks[p], toks[i]))
                    if rp is not None:
                        heapq.heappush(heap, (rp, p))
                if k != -1:
                    rk = ranks.get((toks[i], toks[k]))
                    if rk is not None:
                        heapq.heappush(heap, (rk, i))
            toks = [t for t, a in zip(toks, alive) if a]
        out = tuple(toks)
        cache[word] = out
        if len(cache) > cache_size:
            cache.popitem(last=False)
        return out

    return encode_word
