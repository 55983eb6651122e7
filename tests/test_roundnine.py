"""Round-9 queries (plans/roundnine.py) — registered in round 10 per
the r09 cap ruling (registry 191 -> 201, then frozen). These tests
predate registration and stay as the deep-dive suite (fixpoint,
lifecycle-GC, invariant checks) on top of the registry-wide
test_oracle_parity sweep that now also covers all ten."""

from __future__ import annotations

import duckdb

from .oracle_utils import compare_spark_vs_oracle
from turnover_odata_etl_spark.plans.registry import all_specs
from turnover_odata_etl_spark.plans.roundnine import (
    AVI_ORACLE,
    EXACT_SUBSTR_CLEAN_ORACLE,
    d_exact_substr_clean,
    m_avi_decode_features,
)

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def _con(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def test_avi_decode_features_matches_oracle(spark, sf_dir):
    assert AVI_ORACLE  # eager constant, never None
    compare_spark_vs_oracle(
        m_avi_decode_features(spark, sf_dir),
        _con(sf_dir),
        AVI_ORACLE,
        "m_avi_decode_features",
    )


def test_exact_substr_clean_matches_oracle(spark, sf_dir):
    assert EXACT_SUBSTR_CLEAN_ORACLE
    compare_spark_vs_oracle(
        d_exact_substr_clean(spark, sf_dir),
        _con(sf_dir),
        EXACT_SUBSTR_CLEAN_ORACLE,
        "d_exact_substr_clean",
    )


def test_exact_substr_clean_is_a_fixpoint(spark, sf_dir):
    """Re-analyzing the cleaned corpus must find nothing — the
    idempotence ExactSubstr removal promises (duplicate spans either
    survived as canonicals or were cut entirely)."""
    from pyspark.sql import functions as F

    from turnover_odata_etl_spark.operators.dedup import (
        duplicate_spans,
        remove_duplicate_spans,
    )
    from turnover_odata_etl_spark.plans.llm import _with_tk
    from turnover_odata_etl_spark.tables import load_table

    docs = _with_tk(load_table(spark, sf_dir, "documents"))
    cleaned = remove_duplicate_spans(docs, "tk", "doc_id", k=8).select(
        "doc_id", F.col("tokens_clean").alias("tk")
    )
    assert duplicate_spans(cleaned, "tk", "doc_id", k=8).count() == 0


def test_roundnine_is_registered_with_eager_oracles():
    """The r09 cap ruling executed in round 10: all ten round-9
    queries are registered with eager (never-None) oracles; the cap
    moved to 221 in round 16 (r15 ruling) and is frozen there."""
    specs = all_specs()
    activated = (
        "m_avi_decode_features",
        "d_exact_substr_clean",
        "s_snapshot_lifecycle",
        "s_snapshot_skipping",
        "st_snapshot_ivm",
        "s_odata_delta_sync",
        "d_semdedup_kmeans",
        "t_byte_entropy",
        "d_incremental_neardup",
        "g_triangle_count",
    )
    for name in activated:
        assert name in specs, name
        assert specs[name].oracle, f"{name}: oracle must be eager"
    assert len(specs) == 221  # the frozen cap (r15 ruling)


def test_snapshot_lifecycle_matches_oracle(spark, sf_dir):
    from turnover_odata_etl_spark.plans.roundnine import (
        SNAPSHOT_LIFECYCLE_ORACLE,
        s_snapshot_lifecycle,
    )

    assert SNAPSHOT_LIFECYCLE_ORACLE
    got = s_snapshot_lifecycle(spark, sf_dir)
    compare_spark_vs_oracle(
        got,
        _con(sf_dir),
        SNAPSHOT_LIFECYCLE_ORACLE,
        "s_snapshot_lifecycle",
    )
    # the band must actually hold rows — a 0-row match is vacuous
    assert s_snapshot_lifecycle(spark, sf_dir).count() > 0


def test_snapshot_lifecycle_expires_old_layout(spark, sf_dir):
    """After the query runs, the table on disk must hold exactly ONE
    snapshot in the NEW (4-bucket) layout — the expire really dropped
    the pre-rebucket history."""
    import os

    from turnover_odata_etl_spark.plans.roundnine import (
        s_snapshot_lifecycle,
    )
    from turnover_odata_etl_spark.storage import SnapshotTable

    s_snapshot_lifecycle(spark, sf_dir).collect()
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    t = SnapshotTable.load(
        spark, f"/tmp/spark_graft_layout/{tag}/snapshot_lifecycle/table"
    )
    assert len(t.snapshot_ids()) == 1
    assert t.n_buckets == 4


def test_snapshot_skipping_matches_oracle(spark, sf_dir):
    from turnover_odata_etl_spark.plans.roundnine import (
        SNAPSHOT_SKIPPING_ORACLE,
        s_snapshot_skipping,
    )

    assert SNAPSHOT_SKIPPING_ORACLE
    got = s_snapshot_skipping(spark, sf_dir)
    compare_spark_vs_oracle(
        got,
        _con(sf_dir),
        SNAPSHOT_SKIPPING_ORACLE,
        "s_snapshot_skipping",
    )
    # non-vacuity: the value band must actually hold rows
    assert s_snapshot_skipping(spark, sf_dir).count() > 0


def test_odata_delta_sync_matches_oracle(spark, sf_dir):
    from turnover_odata_etl_spark.plans.roundnine import (
        ODATA_DELTA_SYNC_ORACLE,
        s_odata_delta_sync,
    )

    assert ODATA_DELTA_SYNC_ORACLE
    compare_spark_vs_oracle(
        s_odata_delta_sync(spark, sf_dir),
        _con(sf_dir),
        ODATA_DELTA_SYNC_ORACLE,
        "s_odata_delta_sync",
    )
    assert s_odata_delta_sync(spark, sf_dir).count() > 0


def test_semantic_dedup_matches_oracle(spark, sf_dir):
    from turnover_odata_etl_spark.plans.roundnine import (
        SEMANTIC_DEDUP_ORACLE,
        d_semdedup_kmeans,
    )

    assert SEMANTIC_DEDUP_ORACLE
    compare_spark_vs_oracle(
        d_semdedup_kmeans(spark, sf_dir),
        _con(sf_dir),
        SEMANTIC_DEDUP_ORACLE,
        "d_semdedup_kmeans",
    )


def test_semantic_dedup_actually_drops_near_duplicates(spark, sf_dir):
    """The contract row alone can't show the operator DOES anything on
    real data — pin that the fixture's near-dup pairs (the ones
    d_embedding_neardup finds at the same 0.45 threshold) produce a
    keep set strictly smaller than the corpus, and that re-running is
    deterministic."""
    from turnover_odata_etl_spark.operators.dedup import semantic_dedup
    from turnover_odata_etl_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    out1 = semantic_dedup(emb, "vec_id", "embedding", 16, 0.45)
    kept1 = sorted(r["vec_id"] for r in out1.filter("keep").collect())
    assert 0 < len(kept1) < n  # dedup occurred, but not everything
    out2 = semantic_dedup(emb, "vec_id", "embedding", 16, 0.45)
    kept2 = sorted(r["vec_id"] for r in out2.filter("keep").collect())
    assert kept1 == kept2  # deterministic (seeded, no RNG)


def test_byte_entropy_matches_oracle(spark, sf_dir):
    from turnover_odata_etl_spark.plans.roundnine import (
        BYTE_ENTROPY_ORACLE,
        t_byte_entropy,
    )

    assert BYTE_ENTROPY_ORACLE
    compare_spark_vs_oracle(
        t_byte_entropy(spark, sf_dir),
        _con(sf_dir),
        BYTE_ENTROPY_ORACLE,
        "t_byte_entropy",
    )


def test_byte_entropy_hand_cases(spark):
    """Closed-form anchor points: uniform-2-symbol text has exactly
    1 bit/byte, uniform-4-symbol exactly 2, constant text 0, empty 0
    with zero distinct bytes."""
    from turnover_odata_etl_spark.functions.multimodal import (
        byte_entropy_features,
        with_binary_payload,
    )

    df = spark.createDataFrame(
        [(1, "aabb"), (2, "abcd"), (3, "aaaa"), (4, ""), (5, None)],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["n_bytes"], r["n_distinct"], r["byte_entropy"])
        for r in byte_entropy_features(
            with_binary_payload(df, "text"), "doc_id"
        ).collect()
    }
    assert got == {
        1: (4, 2, 1.0),
        2: (4, 4, 2.0),
        3: (4, 1, 0.0),
        4: (0, 0, 0.0),
        5: (0, 0, 0.0),
    }


def test_incremental_neardup_matches_batch_oracle(spark, sf_dir):
    """The three-wave incremental LSH protocol must converge to the
    batch brute-force answer — same oracle as d_minhash_lsh_neardup."""
    from turnover_odata_etl_spark.plans.roundnine import (
        INCREMENTAL_NEARDUP_ORACLE,
        d_incremental_neardup,
    )

    assert INCREMENTAL_NEARDUP_ORACLE
    compare_spark_vs_oracle(
        d_incremental_neardup(spark, sf_dir),
        _con(sf_dir),
        INCREMENTAL_NEARDUP_ORACLE,
        "d_incremental_neardup",
    )


def test_incremental_neardup_never_reverifies_old_pairs(spark, sf_dir):
    """Each pair must be emitted by exactly ONE wave (no duplicate
    verification of pairs both of whose docs are already indexed):
    the union of wave outputs is duplicate-free without any final
    distinct."""
    from turnover_odata_etl_spark.plans.roundnine import (
        d_incremental_neardup,
    )

    rows = [
        (r["a_id"], r["b_id"])
        for r in d_incremental_neardup(spark, sf_dir).collect()
    ]
    assert len(rows) == len(set(rows))


def test_incremental_neardup_resumes_from_committed_index(
    spark, tmp_path
):
    """The resumability contract: a 'crashed' run (handles dropped
    after two committed waves) resumes through a FRESH index handle,
    and the union of all waves' pairs equals the batch answer on a
    corpus with known near-dups spanning every wave combination."""
    from turnover_odata_etl_spark.operators.dedup import near_dup_pairs
    from turnover_odata_etl_spark.plans.roundnine import (
        NeardupIndex,
        neardup_wave,
    )

    base = "the quick brown fox jumps over the lazy dog and runs far"
    docs = [
        (0, base),                       # wave 1 (id % 3 == 0)
        (3, base + " away"),             # wave 1 — near-dup of 0
        (1, base + " today"),            # wave 2 — near-dup of 0, 3
        (4, "completely different words about snapshot tables here"),
        (2, base + " away"),             # wave 3 — exact dup of 3
        (5, "completely different words about snapshot tables maybe"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    def wave(index, n):
        return neardup_wave(
            index, df.filter(f"doc_id % 3 == {n - 1}"),
            "text", "doc_id", 0.6, n,
        )

    tdir = str(tmp_path / "idx")
    t1 = NeardupIndex(spark, tdir, n_buckets=4)
    pairs = [r for r in wave(t1, 1).collect()]
    pairs += [r for r in wave(t1, 2).collect()]
    del t1  # "crash": nothing in memory survives

    t2 = NeardupIndex(spark, tdir, n_buckets=4)
    assert t2.current_wave() == 2  # two committed waves found on disk
    pairs += [r for r in wave(t2, 3).collect()]

    got = {(r["a_id"], r["b_id"], r["jac"]) for r in pairs}
    want = {
        (r["a_id"], r["b_id"], r["jac"])
        for r in near_dup_pairs(df, "text", "doc_id", 0.6).collect()
    }
    assert got == want and len(got) == len(pairs)  # converged, no dups


def test_triangle_count_matches_oracle(spark, sf_dir):
    from turnover_odata_etl_spark.plans.roundnine import (
        TRIANGLE_ORACLE,
        g_triangle_count,
    )

    assert TRIANGLE_ORACLE
    compare_spark_vs_oracle(
        g_triangle_count(spark, sf_dir),
        _con(sf_dir),
        TRIANGLE_ORACLE,
        "g_triangle_count",
    )


def test_triangle_count_hand_graph(spark, monkeypatch):
    """Hand-checkable graph through the degree-ordered path: K4 on
    parts {1,2,3,4} (4 triangles, each node in 3) plus a pendant node
    5 (in none) and an isolated edge 6-7 — built as synthetic
    lineitem orders."""
    import turnover_odata_etl_spark.plans.roundnine as r9

    # orders: one order per clique/edge realizes exactly those edges
    rows = []
    # order keys are multiples of 3: the query slices to
    # l_orderkey % 3 == 0 (see its docstring)
    rows += [(300, p) for p in (1, 2, 3, 4)]  # K4
    rows += [(600, 4), (600, 5)]              # pendant 4-5
    rows += [(900, 6), (900, 7)]              # isolated edge
    df = spark.createDataFrame(rows, "l_orderkey long, l_partkey long")
    monkeypatch.setattr(
        r9, "load_table", lambda _spark, _sf, _name: df
    )
    got = {
        r["node"]: r["n_triangles"]
        for r in r9.g_triangle_count(spark, "unused").collect()
    }
    # K4 has C(4,3)=4 triangles; every node sits in C(3,2)=3 of them.
    # Pendant and isolated-edge nodes (5, 6, 7) are in none.
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


def test_triangle_counts_releases_session_cache(spark):
    """Cache-lifetime contract (round 17 — VERDICT r16 item 2):
    repeated triangle_counts calls whose results are dropped must not
    accumulate session cache. The edge persist is released in the
    operator's finally; the answer frame is an eager localCheckpoint
    whose blocks the ContextCleaner reclaims once the caller drops
    the frame — so the persistent-RDD count stays bounded (the last
    result may still be pending cleanup) instead of growing by one
    pinned entry per call, the r16 leak."""
    import gc
    import time

    from turnover_odata_etl_spark.plans.roundnine import triangle_counts

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 3), (3, 4), (2, 4), (4, 5)], "u long, v long"
    )
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    for _ in range(5):
        assert triangle_counts(edges).count() > 0
    # drop Python refs, nudge both GCs, poll the cleaner
    gc.collect()
    spark._jvm.System.gc()
    for _ in range(20):
        growth = jsc.getPersistentRDDs().size() - before
        if growth <= 1:  # at most the final call's pending blocks
            break
        time.sleep(0.5)
        gc.collect()
        spark._jvm.System.gc()
    assert growth <= 1, f"session cache grew by {growth} entries"


def test_incremental_neardup_replayed_wave_is_idempotent(
    spark, tmp_path
):
    """At-least-once recovery: re-running an ALREADY-COMMITTED wave
    (crash after the index merge but before the wave's pairs were
    secured) must emit exactly the original wave's pairs — no
    self-pairs (a doc on both join sides scores jac=1.0 against
    itself), no duplicate fan-out — and leave the final answer equal
    to the batch brute force."""
    from turnover_odata_etl_spark.operators.dedup import near_dup_pairs
    from turnover_odata_etl_spark.plans.roundnine import (
        NeardupIndex,
        neardup_wave,
    )

    base = "the quick brown fox jumps over the lazy dog and runs far"
    docs = [
        (0, base),
        (3, base + " away"),
        (1, base + " today"),
        (4, "completely different words about snapshot tables here"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")

    def wave(index, n):
        return neardup_wave(
            index, df.filter(f"doc_id % 3 == {n - 1}"),
            "text", "doc_id", 0.6, n,
        )

    t = NeardupIndex(spark, str(tmp_path / "idx"), n_buckets=4)
    w1 = [tuple(r) for r in wave(t, 1).collect()]
    # crash AFTER wave 2's commit, BEFORE its pairs were secured:
    w2_original = [tuple(r) for r in wave(t, 2).collect()]
    # recovery: replay the committed wave
    w2_replay = [tuple(r) for r in wave(t, 2).collect()]
    assert sorted(w2_replay) == sorted(w2_original)
    assert not any(a == b for a, b, _ in w2_replay)  # no self-pairs
    assert len(w2_replay) == len(set(w2_replay))     # no duplicates

    got = sorted(w1 + w2_replay)
    want = sorted(
        tuple(r) for r in near_dup_pairs(df, "text", "doc_id", 0.6).collect()
    )
    assert got == want


def test_incremental_neardup_index_read_is_pruned(spark, tmp_path):
    """Wave-level parquet spy (VERDICT r09 item 2): with the band
    index laid out on (band, bucket) across 64 physical buckets, a
    ONE-DOC wave's candidate probe carries at most 32 band keys, so
    its index read must open at most 32 buckets' files — never the
    whole corpus. Pinned through the pruned scan's inputFiles()."""
    from pyspark.sql import functions as F

    from turnover_odata_etl_spark.plans.roundnine import NeardupIndex
    from turnover_odata_etl_spark.operators.dedup import (
        minhash_signatures,
    )

    corpus = spark.createDataFrame(
        [(i, f"document number {i} talks about topic {i % 7} and "
             f"subject {i % 11} in varying words {i * 37 % 101}")
         for i in range(200)],
        "doc_id long, text string",
    )
    idx = NeardupIndex(spark, str(tmp_path / "idx"), n_buckets=64)
    sigs = minhash_signatures(corpus, "text", "doc_id")
    bn_all = sigs.select(
        "doc_id", F.posexplode("buckets").alias("band", "bucket")
    )
    idx.bands.merge(bn_all.withColumn("__ver", F.lit(1)))
    idx.sigs.merge(
        sigs.select("doc_id", "shingles").withColumn("__ver", F.lit(1))
    )

    m = idx.bands._manifest(idx.bands.current_id())
    n_table_files = len(m["files"])
    assert n_table_files > 32  # the corpus spans most physical buckets

    probe_doc = spark.createDataFrame(
        [(999, "document number 3 talks about topic 3 and subject 3 "
               "in varying words 111")],
        "doc_id long, text string",
    )
    probe = minhash_signatures(probe_doc, "text", "doc_id").select(
        F.posexplode("buckets").alias("band", "bucket")
    )
    pruned = idx.bands.read_matching(probe)
    opened = set(pruned.inputFiles())
    assert 0 < len(opened) <= 32 < n_table_files


def test_semantic_dedup_id_type_boundary(spark):
    """r11 (VERDICT r10 item 6): string keys are now ACCEPTED — the
    Arrow schemas derive from the input id type — while genuinely
    unorderable-as-key types (double) still fail with a clear
    ValueError at the API boundary, not an Arrow conversion error
    three stages in (ADVICE r09)."""
    import pytest as _pytest

    from turnover_odata_etl_spark.operators.dedup import semantic_dedup

    df = spark.createDataFrame(
        [("url-a", [1.0, 0.0]), ("url-b", [0.999, 0.01]),
         ("url-c", [0.0, 1.0])],
        "vec_id string, embedding array<float>",
    )
    out = {
        r["vec_id"]: r["keep"]
        for r in semantic_dedup(
            df, "vec_id", "embedding", n_clusters=1, threshold=0.45
        ).collect()
    }
    assert out == {"url-a": True, "url-b": False, "url-c": True}

    bad = spark.createDataFrame(
        [(1.5, [1.0, 0.0])], "vec_id double, embedding array<float>"
    )
    with _pytest.raises(ValueError, match="integral or string"):
        semantic_dedup(bad, "vec_id", "embedding", n_clusters=2)


def test_semantic_dedup_cluster_guard_splits_oversized_cells(spark):
    """The max_cluster_size refinement pass must break up a separable
    mega-cluster: 40 vectors along two well-separated directions all
    land in few Lloyd cells at n_clusters=1; with the guard the final
    assignment has no cell above the bound (separable data), and the
    keep semantics still hold per the property test's invariants."""
    import numpy as np

    from turnover_odata_etl_spark.operators.dedup import semantic_dedup

    rows = []
    for i in range(40):
        base = [1.0, 0.0, 0.0] if i % 2 == 0 else [0.0, 1.0, 0.0]
        jitter = [(i % 5) * 1e-3, ((i * 7) % 5) * 1e-3, 0.0]
        rows.append((i, [b + j for b, j in zip(base, jitter)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    out = semantic_dedup(
        df, "vec_id", "embedding", n_clusters=1, threshold=0.99,
        max_cluster_size=25,
    ).collect()
    assert sorted(r["vec_id"] for r in out) == list(range(40))
    sizes = {}
    for r in out:
        sizes[r["cluster"]] = sizes.get(r["cluster"], 0) + 1
    assert max(sizes.values()) <= 25  # the guard actually split


def test_triangle_celebrity_node_wedge_volume(spark):
    """The scale claim behind the degree orientation (VERDICT r09
    item 4), pinned on the adversarial input: a celebrity hub joined
    to 400 leaves that form a path. The naive per-node wedge volume is
    sum C(deg, 2) ~ deg(hub)^2/2 (~80k — the 'last reducer'); the
    degree-ORIENTED volume must stay O(m): every hub edge orients
    leaf->hub, so the hub builds no wedges and each leaf builds at
    most C(3, 2). Counts are asserted too (each path edge closes a
    triangle with the hub)."""
    from pyspark.sql import functions as F

    from turnover_odata_etl_spark.plans.roundnine import (
        oriented_wedges,
        triangle_counts,
    )

    hub, n_leaves = 0, 401
    rows = [(hub, i) for i in range(1, n_leaves + 1)]
    rows += [(i, i + 1) for i in range(1, n_leaves)]  # leaf path
    edges = spark.createDataFrame(rows, "u long, v long")
    m = len(rows)

    deg = (
        edges.select(F.col("u").alias("node"))
        .unionByName(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .count()
    )
    naive_wedges = deg.select(
        F.sum(F.col("count") * (F.col("count") - 1) / 2).alias("w")
    ).first()["w"]
    oriented = oriented_wedges(edges).count()

    assert naive_wedges >= n_leaves * (n_leaves - 1) / 2  # ~80k
    assert oriented <= 2 * m          # O(m), no celebrity blow-up
    assert naive_wedges > 45 * oriented

    got = {
        r["node"]: r["n_triangles"]
        for r in triangle_counts(edges).collect()
    }
    # one triangle per path edge: (hub, i, i+1) for i in 1..400
    assert got[hub] == n_leaves - 1
    inner = {i: got[i] for i in range(1, n_leaves + 1)}
    assert inner[1] == 1 and inner[n_leaves] == 1
    assert all(inner[i] == 2 for i in range(2, n_leaves))
