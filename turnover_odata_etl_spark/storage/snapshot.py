"""Snapshot-isolated table commits: a minimal Iceberg-shaped protocol.

The incremental upsert/CDC family (``streaming/incremental.py``) used
atomic-rename-per-bucket with last-writer-wins — readable mid-merge
only by luck, no history, unsafe under concurrent writers. This module
gives the same bucketed keep-latest MERGE the three properties a real
100 TB pipeline needs, with the exact commit shape Iceberg's
HadoopTableOperations uses (write files → write manifest → advance the
pointer), sized down to stdlib + parquet:

    table_dir/
      data/<uuid>-b<bucket>-<n>.parquet   immutable data files
      manifests/manifest-<N>.json         snapshot N: per-bucket DELTA
                                          vs parent (round 9; full at
                                          the root, every 16th id, on
                                          rebucket, and at the GC
                                          floor — see _manifest)
      _current                            pointer file (read hint)

- **Commit point = manifest claim.** A writer stages new data files
  under unique names, writes the manifest JSON to a temp file, then
  ``os.link``-s it to ``manifests/manifest-<N>.json``. ``link(2)``
  fails atomically if the name exists — the compare-and-swap: two
  writers racing to commit snapshot N produce exactly one winner; the
  loser re-reads the new current state and retries its merge on top
  (optimistic concurrency, Iceberg's retry loop). The manifest is
  complete before the link, so a reader can never observe a partial
  manifest.
- **Crash safety.** Crash before the link: only orphan staged files —
  the table still reads at the old snapshot (the crash-injection test
  in ``tests/test_snapshot.py`` pins byte-identical pre-merge reads).
  Crash after the link but before the pointer write: the commit IS
  durable (past the commit point); readers roll forward because
  ``current_id`` takes ``max(pointer, max manifest id)`` — the
  pointer file is a hint, never the source of truth (same contract as
  Iceberg's ``version-hint.text``).
- **Time travel.** Every snapshot's manifest lists its complete file
  set; old data files are never mutated or deleted by commits, so
  ``read(snapshot_id=k)`` reproduces snapshot k bit-for-bit forever
  (until an explicit ``expire_snapshots``). MERGE rewrites only the
  buckets a batch touches and carries every other file forward by
  reference — at 100 TB a commit costs O(touched buckets), and the
  manifest's per-file ``bucket``/``rows`` stats are the file-level
  pruning metadata (read a key's bucket → open only its files).

Scale notes. The manifest is file-COUNT-sized metadata (one JSON row
per data file), the analogue of an Iceberg manifest list; the merge
itself is the same pruned shape as before (read touched buckets only,
one output file per touched bucket). ``os.link`` needs a
rename-atomic namespace — true of POSIX filesystems and of HDFS
(create-no-overwrite); object stores need a conditional-PUT variant,
which is exactly why Iceberg on S3 uses a catalog for the pointer.
"""

from __future__ import annotations

import json
import math
import os
import re
import uuid

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


# CASE..END is the one parenthesis-free construct that nests AND, so
# the naive AND-split would slice through its body and mine bounds
# from an arm that doesn't constrain the row (ADVICE r11: CASE WHEN a
# AND x = 5 AND b THEN 1 ELSE 1 END = 1 is TRUE for every row). Any of
# its keywords anywhere => refuse the whole predicate.
_PRED_FORBIDDEN = re.compile(
    r"\bOR\b|\bNOT\b|\bIN\b|\bCASE\b|\bWHEN\b|\bTHEN\b|\bELSE\b|\bEND\b|[()']",
    re.I,
)
_PRED_STR_LIT = re.compile(r"'(?:[^']|'')*'")
_PRED_BETWEEN_AND = re.compile(
    r"(\bBETWEEN\b\s+-?\d+(?:\.\d+)?\s+)\bAND\b", re.I
)
_PRED_CMP = re.compile(
    r"^\s*([A-Za-z_][A-Za-z0-9_]*)\s*(<=|>=|==|=|<|>)\s*"
    r"(-?\d+(?:\.\d+)?)\s*$"
)
_PRED_STR_CMP = re.compile(
    r"^\s*([A-Za-z_][A-Za-z0-9_]*)\s*(<=|>=|==|=|<|>)\s*"
    r"__STRLIT(\d+)__\s*$"
)

# String manifest stats are TRUNCATED to this many code points
# (Iceberg's write.metadata.metrics truncate(16) default): long text
# columns would otherwise bloat every manifest entry for no pruning
# power beyond the prefix.
_STATS_TRUNC = 16

# Per-file bloom filters (round 13 — VERDICT r12 item 3; the public
# capability is Iceberg/Delta's per-file bloom filters for equality
# pruning): a k-hash bitset per (file, string column) stored in the
# manifest entry, consulted by the equality-shaped prune paths where
# truncate-16 prefix windows are wide (the `user_email = x` GDPR
# probe on a NON-key column). Sizing: 16 bits per row, k=5 hashes
# (theoretical FPR ≈ 0.1%), clamped so one bitset never exceeds 8 KiB
# in the manifest (files beyond ~4 Ki rows saturate gracefully toward
# all-ones — weaker pruning, never a wrong one). Bloom NEGATIVES are
# proofs (no hash of the probe missing its bit ⇒ value absent ⇒ skip
# is sound); positives just mean "must read".
_BLOOM_K = 5
_BLOOM_BITS_PER_ROW = 16
_BLOOM_MIN_BITS = 256
_BLOOM_MAX_BITS = 65536

# Merge-on-read deletion vectors (round 14 — VERDICT r13 item 2; the
# public capability is Iceberg v2 positional delete files / Delta
# deletion vectors): a MOR delete writes O(matched rows) of (file,
# position) pairs to a sidecar parquet and flips manifest entries to
# reference it — it never rewrites data files. Readers anti-join the
# referenced positions back out; compaction / COW rewrites fold them
# into data files and drop the reference.
DV_CHAIN_MAX = 4  # sidecar refs per file before the write-side fold
DV_BROADCAST_MAX = 2_000_000  # positions; above this AQE decides


def _bloom_nbits(rows: int) -> int:
    m = rows * _BLOOM_BITS_PER_ROW
    m = max(_BLOOM_MIN_BITS, min(_BLOOM_MAX_BITS, m))
    return (m + 7) // 8 * 8


def _bloom_pack(positions, n_bits: int) -> str:
    """Pack set bit positions into a base64 bitset (little-endian
    within each byte)."""
    import base64

    data = bytearray(n_bits // 8)
    for p in positions:
        data[p // 8] |= 1 << (p % 8)
    return base64.b64encode(bytes(data)).decode("ascii")


def _bloom_contains(entry: dict, raw_hashes: list) -> bool:
    """Membership probe against a manifest bloom entry: ``True`` =
    possibly present (must read), ``False`` = PROVEN absent (sound to
    skip). ``raw_hashes`` are the probe value's un-modded 32-bit
    Spark hashes for seeds 0..k-1 — Python's floored ``%`` agrees
    with the Spark ``pmod`` the build used, so probe and build index
    the same bit."""
    import base64

    m, k = entry["m"], entry["k"]
    data = base64.b64decode(entry["b"])
    for h in raw_hashes[:k]:
        p = h % m
        if not (data[p // 8] >> (p % 8)) & 1:
            return False
    return True


def _truncate_upper(s: str, length: int = _STATS_TRUNC):
    """A string STRICTLY GREATER than every string sharing ``s``'s
    first ``length`` code points — the public Iceberg scheme
    (UnicodeUtil.truncateStringMax): truncate, then increment the last
    code point, dropping positions that sit at the maximum (skipping
    the surrogate block, which cannot encode to UTF-8). Returns ``s``
    unchanged when it's already short (exact, inclusive upper), or
    ``None`` when every kept position is U+10FFFF (no finite upper —
    callers must treat that as unbounded-above).

    When the footer max is itself a silent prefix truncation LONGER
    than ``length``, the correction still covers it: any string
    prefixed by the footer max compares below the incremented
    16-point prefix. The guarantee does NOT extend to a writer that
    prefix-truncates to ``length`` or shorter without incrementing —
    the short value is stored verbatim as an exact inclusive upper
    (review r12). Our own write path is Spark/parquet-mr, whose
    binary stats are exact-or-omitted (and whose truncator
    increments), so that case is unreachable here; an external
    consumer adopting this manifest format with a laxer writer must
    apply its own correction before storing."""
    if len(s) <= length:
        return s
    prefix = s[:length]
    for i in range(length - 1, -1, -1):
        cp = ord(prefix[i])
        if cp < 0x10FFFF:
            nxt = cp + 1
            if 0xD800 <= nxt <= 0xDFFF:  # lone surrogates: not UTF-8
                nxt = 0xE000
            return prefix[:i] + chr(nxt)
    return None


def _stats_overlap(s, lo, hi) -> bool:
    """Could a file whose manifest stats are ``s = [s_lo, s_hi]``
    hold a value in ``[lo, hi]``? Shared by every stats-prune path.
    ``s_hi is None`` = unbounded above (all-U+10FFFF truncation);
    ``hi is None`` = predicate unbounded above (string domain; the
    numeric domain uses ±inf floats). A numeric-vs-string type
    mismatch (predicate literal typed differently from the column,
    on EITHER bound — a mixed-type public call like
    ``read_where(col, 'a', 5)`` included, ADVICE r12) never prunes —
    must-read, the universal degrade direction."""
    s_lo, s_hi = s[0], s[1]
    if isinstance(s_lo, str) != isinstance(lo, str):
        return True
    if hi is not None and isinstance(s_lo, str) != isinstance(hi, str):
        return True
    if s_hi is not None and s_hi < lo:
        return False
    if hi is not None and s_lo > hi:
        return False
    return True
_PRED_RANGE = re.compile(
    r"^\s*([A-Za-z_][A-Za-z0-9_]*)\s+BETWEEN\s+(-?\d+(?:\.\d+)?)"
    r"\s+__BAND__\s+(-?\d+(?:\.\d+)?)\s*$",
    re.I,
)


def predicate_bounds(predicate: str) -> dict[str, tuple]:
    """Per-column ``[lo, hi]`` bounds IMPLIED by a SQL predicate, for
    file-level stats pruning (Iceberg's inclusive-projection idea in
    miniature) — deliberately conservative: bounds are extracted ONLY
    when the predicate is provably a top-level AND-chain of simple
    comparisons — numeric (``col <op> number`` / ``col BETWEEN a AND
    b``) or string (``col <op> 'literal'``, round 12). Anything
    structurally richer — OR / NOT / IN / CASE (the parenthesis-free
    construct that nests AND) / parentheses — returns ``{}`` and every
    file stays a candidate, because mis-reading structure (e.g.
    deriving bounds from one arm of an OR, or from a comparison inside
    a CASE branch) would prune files that hold rows the delete MUST
    remove.

    Numeric bounds are float pairs with ±inf sentinels; string bounds
    use ``""`` as the bottom sentinel and ``None`` as unbounded-above
    (strings have no finite top). A column constrained in BOTH domains
    (``x = 5 AND x = 'a'``) is dropped from the result — type
    confusion never prunes. Within a verified AND-chain, skipping an
    unparsed conjunct is sound (conjuncts only narrow), and ``<``/
    ``>`` widen to closed bounds — pruning may only ever skip files
    proven irrelevant."""
    # Swap complete string literals for numbered placeholders FIRST
    # ('' escapes handled) so a literal containing AND/OR can't be
    # misread as structure; the string-comparison parse then resolves
    # the placeholder back to its (unescaped) literal. A quote
    # surviving the swap is an unbalanced literal — no pruning.
    lits: list[str] = []

    def _keep(m: re.Match) -> str:
        lits.append(m.group(0)[1:-1].replace("''", "'"))
        return f"__STRLIT{len(lits) - 1}__"

    masked = _PRED_STR_LIT.sub(_keep, predicate)
    if _PRED_FORBIDDEN.search(masked):
        return {}
    # protect BETWEEN's own AND before splitting the conjunction
    guarded = _PRED_BETWEEN_AND.sub(r"\1__BAND__", masked)
    out: dict[str, tuple] = {}
    conflicted: set[str] = set()
    for conj in re.split(r"\bAND\b", guarded, flags=re.I):
        m = _PRED_RANGE.match(conj)
        if m:
            col, lo, hi = m.group(1), float(m.group(2)), float(m.group(3))
        elif m := _PRED_STR_CMP.match(conj):
            col, op = m.group(1), m.group(2)
            lit = lits[int(m.group(3))]
            if op in ("=", "=="):
                lo, hi = lit, lit
            elif op in ("<", "<="):
                lo, hi = "", lit
            else:
                lo, hi = lit, None
        else:
            m = _PRED_CMP.match(conj)
            if not m:
                continue  # unrecognized conjunct — sound to skip
            col, op, lit = m.group(1), m.group(2), float(m.group(3))
            if op in ("=", "=="):
                lo, hi = lit, lit
            elif op in ("<", "<="):
                lo, hi = float("-inf"), lit
            else:
                lo, hi = lit, float("inf")
        if col in out:
            plo, phi = out[col]
            if isinstance(plo, str) != isinstance(lo, str):
                conflicted.add(col)  # cross-domain: never prune on it
                continue
            lo = max(plo, lo)
            if hi is None:
                hi = phi
            elif phi is not None:
                hi = min(phi, hi)
        out[col] = (lo, hi)
    for col in conflicted:
        out.pop(col, None)
    return out


class CommitConflict(RuntimeError):
    """Another writer claimed the target snapshot id (CAS lost)."""


# Every Nth commit writes a FULL manifest (all buckets) instead of a
# delta against its parent, bounding the resolution walk to < N raw
# manifest reads on a cold open. 16 trades ~16× smaller steady-state
# commit metadata against a ≤16-step (cached, metadata-sized) walk —
# the same knob as Iceberg's manifest-list rewrite cadence.
FULL_MANIFEST_EVERY = 16

# A committed bucket's file-entry list larger than this is written as
# its own immutable SEGMENT file (manifests/seg-<sid>-<bucket>-<run>.
# json) and referenced from the manifest as {"seg": name, "n": count}
# — so a FULL ANCHOR carries untouched big buckets as O(1) references
# instead of re-serializing their lists (the last O(F) write on the
# commit path; see _build_delta). Small lists stay inline: tiny
# tables produce v2-identical manifests and pay zero extra file I/O.
SEG_INLINE_MAX = 32


class SnapshotTable:
    """A keyed keep-latest table with snapshot-isolated commits.

    ``key_cols``/``order_col`` define MERGE semantics (newest row per
    key wins, ties broken by the physically later row never arising
    because ``order_col`` is required unique per key upstream — same
    contract as ``run_incremental_upsert``). ``n_buckets`` fixes the
    physical layout for the table's lifetime (Murmur3 ``pmod`` — the
    same function Spark's bucketed tables use, stable across
    sessions).

    ``bucket_cols`` (default: the full key) chooses WHICH key columns
    the physical hash covers — Iceberg's partition-spec-vs-identifier
    split in miniature. A strict prefix/subset lets an access path
    that knows only those columns prune files (``read_matching``)
    while MERGE still dedups on the full key: the layout serves the
    hot join, the key serves correctness. The canonical user is the
    incremental-LSH band index (keyed ``(band, bucket, doc_id)`` so
    many docs share a band bucket, laid out on ``(band, bucket)`` so
    a wave's candidate join opens only matching buckets — the r09
    "index layout" fix). Must be a non-empty subset of ``key_cols``:
    bucketing on a non-key column would scatter a key's versions
    across buckets and break keep-latest merges.
    """

    def __init__(
        self,
        spark: SparkSession,
        table_dir: str,
        key_cols: list[str],
        order_col: str,
        n_buckets: int = 8,
        bucket_cols: list[str] | None = None,
        bloom_cols: list[str] | None = None,
    ) -> None:
        self.spark = spark
        self.table_dir = table_dir.rstrip("/")
        self.key_cols = list(key_cols)
        self.order_col = order_col
        self.n_buckets = n_buckets
        self.bucket_cols = list(bucket_cols) if bucket_cols else list(key_cols)
        if key_cols and not set(self.bucket_cols) <= set(self.key_cols):
            raise ValueError(
                f"bucket_cols {self.bucket_cols} must be a subset of "
                f"key_cols {self.key_cols}"
            )
        # STRING columns to build per-file bloom filters for (round
        # 13; opt-in — a bloom per (file, col) costs one extra pass
        # over each commit's new files plus ≤ 8 KiB of manifest per
        # bitset, so it's for the high-cardinality equality-probed
        # columns, not everything). Persisted in the manifest config;
        # readers consult whatever entries carry regardless of this
        # handle's setting.
        self.bloom_cols = list(bloom_cols) if bloom_cols else []
        self._data_dir = os.path.join(self.table_dir, "data")
        self._manifest_dir = os.path.join(self.table_dir, "manifests")
        self._pointer = os.path.join(self.table_dir, "_current")
        # Resolved-manifest cache: claimed manifests are immutable
        # (expire_snapshots only ever replaces one with an equivalent
        # resolved view), so caching by snapshot id is always safe.
        self._mcache: dict[int, dict] = {}
        # Structurally-shared per-bucket views (see _by_bucket).
        self._bcache: dict[int, dict[int, list[dict]]] = {}
        # Config-only raw views (see _raw_meta) — small, FIFO-bounded.
        self._metacache: dict[int, dict] = {}
        # Immutable segment payloads by file name (see _entries).
        self._segcache: dict[str, list] = {}
        # Field-id schema evolution state (round 16 — the Iceberg v2
        # mechanism): the highest stable field id assigned so far
        # (0 = table predates fid tracking and has never evolved) and
        # the retired-name registry {historical name: field id} of
        # DROPPED fields' whole lineages. Both are adopted from the
        # current manifest by every write (_adopt_layout) and carried
        # in every manifest, like the bucket layout.
        self._last_fid: int = 0
        self._retired: dict[str, int] = {}

    @classmethod
    def load(cls, spark: SparkSession, table_dir: str) -> "SnapshotTable":
        """Open an existing table, reading its merge configuration
        (key_cols/order_col/n_buckets) from the current manifest."""
        t = cls(spark, table_dir, key_cols=[], order_col="", n_buckets=0)
        sid = t.current_id()
        if sid is None:
            raise ValueError(f"snapshot table {table_dir}: no commits")
        m = t._raw_meta(sid)  # config only — opening a 10⁶-file table
        # must not materialize its flat file list just to read keys
        t.key_cols = list(m["key_cols"])
        t.order_col = m["order_col"]
        t.n_buckets = m["n_buckets"]
        t.bucket_cols = list(m.get("bucket_cols") or m["key_cols"])
        t.bloom_cols = list(m.get("bloom_cols") or [])
        t._last_fid = int(m.get("last_fid") or 0)
        t._retired = dict(m.get("retired") or {})
        return t

    # ------------------------------------------------------------ metadata

    def _mname(self, sid: int) -> str:
        """On-disk file name for snapshot ``sid``'s manifest — the ONE
        naming seam; :class:`SnapshotBranch` overrides it to route
        post-fork ids into the branch namespace (round 14, WAP)."""
        return f"manifest-{sid}.json"

    def snapshot_ids(self) -> list[int]:
        """Committed snapshot ids, ascending (claimed manifests ARE
        the commits)."""
        if not os.path.isdir(self._manifest_dir):
            return []
        out = []
        for name in os.listdir(self._manifest_dir):
            if name.startswith("manifest-") and name.endswith(".json"):
                out.append(int(name[len("manifest-") : -len(".json")]))
        return sorted(out)

    def current_id(self) -> int | None:
        """Current snapshot id: max(pointer hint, claimed manifests).

        The roll-forward max is what makes a crash between manifest
        claim and pointer write harmless — the commit is already
        durable, the hint is just stale."""
        ids = self.snapshot_ids()
        hint = None
        try:
            with open(self._pointer) as fh:
                hint = int(fh.read().strip())
        except (OSError, ValueError):
            pass
        if not ids:
            return hint
        return max(ids[-1], hint) if hint is not None else ids[-1]

    def order_watermark(self):
        """Max value of the order column across the CURRENT snapshot's
        rows, from manifest footer stats alone when every file carries
        them (O(files) metadata, no data read — the per-trigger path
        an incremental view takes to find its own from-point), else
        one column-pruned aggregate over the data. ``None`` when the
        table has no commits or no rows — callers treat that as
        "recompute from scratch"."""
        sid = self.current_id()
        if sid is None:
            return None
        files = [f for f in self._manifest(sid)["files"] if f["rows"]]
        if not files:
            return None
        maxes = [f.get("order_max") for f in files]
        if all(v is not None for v in maxes):
            return max(maxes)
        return self.read(sid).agg(F.max(self.order_col)).first()[0]

    def latest_property(self, key: str):
        """Newest committed value of manifest property ``key``
        (see ``merge(properties=...)``): walk snapshots newest→oldest,
        return the first hit, ``None`` if no commit carries it. The
        common case reads ONE manifest — the writer that stamps the
        property stamps it on every commit. Reads the RAW manifest's
        cached CONFIG VIEW (``_raw_meta``): properties live on the
        commit itself, so neither the delta-chain resolution (O(files)
        view materialization) nor a full anchor's file-payload parse
        may run on this per-trigger hot path."""
        for sid in reversed(self.snapshot_ids()):
            props = self._raw_meta(sid).get("properties") or {}
            if key in props:
                return props[key]
        return None

    def files(self, snapshot_id: int | None = None) -> list[dict]:
        """The per-file metadata table at an anchor (round 13 —
        Iceberg's ``table$files`` next to :meth:`history`'s
        ``$snapshots``): one dict per data file with ``path``,
        ``bucket``, ``rows``, and — when recorded — ``order_min``/
        ``order_max``, per-column ``stats`` bounds with their ``sx``
        exactness marker, per-column ``nulls``, and which columns
        carry a ``bloom`` (the bitset itself is elided — callers
        inspect sizes/coverage, probes go through the prune paths).
        Deep-copied views: mutating the result can never corrupt the
        manifest caches. O(files at the anchor) driver metadata — the
        small-file / stats-coverage / maintenance-planning
        introspection surface."""
        sid = self.current_id() if snapshot_id is None else snapshot_id
        if sid is None:
            raise ValueError(f"snapshot table {self.table_dir}: no commits")
        out = []
        for f in self._manifest(sid)["files"]:
            rec = {
                "path": f["path"],
                "bucket": f["bucket"],
                "rows": f["rows"],
            }
            for k in ("order_min", "order_max"):
                if k in f:
                    rec[k] = f[k]
            if f.get("stats"):
                rec["stats"] = {
                    c: list(v) for c, v in f["stats"].items()
                }
            if f.get("sx") is not None:
                rec["sx"] = dict(f["sx"])
            if f.get("nulls"):
                rec["nulls"] = dict(f["nulls"])
            if f.get("bloom"):
                rec["bloom_cols"] = sorted(f["bloom"])
            if f.get("dv"):
                # merge-on-read delete exposure (round 14): physical
                # ``rows`` minus ``dv_rows`` is the live count; the
                # sidecar list length is the read-side merge fan-in
                rec["dv_rows"] = f["dv"]["n"]
                rec["dv_sidecars"] = len(f["dv"].get("sidecars", ()))
            out.append(rec)
        return out

    def maintenance_plan(
        self,
        max_files_per_bucket: int = 4,
        min_avg_rows: int | None = None,
        max_delete_ratio: float | None = 0.3,
    ) -> dict[int, dict]:
        """Which buckets NEED maintenance (round 13 — the planning
        half of Delta's OPTIMIZE: pick targets from metadata, then
        feed them to :meth:`compact` or
        :meth:`rewrite_zorder(buckets=...)`): a bucket qualifies when
        it holds more than ``max_files_per_bucket`` live files (the
        small-file accumulation every append-heavy table develops)
        or, when ``min_avg_rows`` is given, when its average file
        falls under that row count. Returns ``{bucket: {"n_files",
        "rows", "avg_rows"}}`` for qualifying buckets only —
        O(manifest entries) driver metadata, zero data files opened.
        A bucket also qualifies when its merge-on-read delete ratio
        (deletion-vector rows over physical rows) exceeds
        ``max_delete_ratio`` (round 14): reads there pay the position
        anti-join for mostly-dead bytes, so the bucket is due a
        :meth:`compact` fold.

        On a 100-TB table this is the nightly job's first query: scan
        the manifest, rewrite the few buckets the day's commits
        fragmented, leave the rest untouched."""
        per_bucket: dict[int, list[dict]] = {}
        for f in self.files():
            if f["rows"]:
                per_bucket.setdefault(f["bucket"], []).append(f)
        out: dict[int, dict] = {}
        for b, fs in sorted(per_bucket.items()):
            rows = [f["rows"] for f in fs]
            dv_rows = sum(f.get("dv_rows", 0) for f in fs)
            avg = sum(rows) / len(rows)
            ratio = dv_rows / sum(rows)
            if (
                len(rows) > max_files_per_bucket
                or (min_avg_rows is not None and avg < min_avg_rows)
                or (
                    max_delete_ratio is not None
                    and ratio > max_delete_ratio
                )
            ):
                out[b] = {
                    "n_files": len(rows),
                    "rows": sum(rows),
                    "avg_rows": round(avg, 1),
                }
                if dv_rows:
                    out[b]["dv_rows"] = dv_rows
        return out

    def history(self) -> list[dict]:
        """``[{snapshot_id, parent, operation, n_files, n_rows}]``,
        ascending — the audit trail a transaction log exists for.
        ``n_rows`` is LIVE rows (physical minus deletion-vector
        counts), so a merge-on-read delete shows the same row drop a
        copy-on-write one does."""
        out = []
        for sid in self.snapshot_ids():
            m = self._manifest(sid)
            out.append(
                {
                    "snapshot_id": m["snapshot_id"],
                    "parent": m["parent"],
                    "operation": m["operation"],
                    "n_files": len(m["files"]),
                    "n_rows": sum(
                        self._live_rows(f) for f in m["files"]
                    ),
                }
            )
        return out

    def _manifest_raw(self, sid: int) -> dict:
        with open(
            os.path.join(self._manifest_dir, self._mname(sid))
        ) as fh:
            return json.load(fh)

    def _raw_meta(self, sid: int) -> dict:
        """A manifest's CONFIG VIEW — everything except the file
        payload (``files``/``buckets``) — cached. The commit hot path
        needs only the parent's n_buckets/bucket_cols/key_cols/schema;
        parsing a FULL ANCHOR manifest (O(F) JSON) to answer that was
        the last table-size term in the per-commit cost (round 10).
        Safe to cache: claimed manifests are immutable, and the one
        rewrite (expire's floor materialization) preserves every
        config field by construction."""
        cached = self._metacache.get(sid)
        if cached is None:
            self._prime_meta(sid, self._manifest_raw(sid))
            cached = self._metacache[sid]
        return cached

    def _manifest(self, sid: int) -> dict:
        """RESOLVED manifest view (retrying) — see ``_resolve``.

        A reader racing ``expire_snapshots`` can lose an ANCESTOR
        manifest mid-walk: expire first materializes the floor as a
        self-contained full manifest (os.replace) and only then
        unlinks the dropped ancestors, so the recovery is simply to
        RE-READ — the fresh raw floor no longer needs the vanished
        parents. One retry suffices per level: a second
        FileNotFoundError means the requested snapshot itself was
        expired, which is a genuine error (ADVICE r09)."""
        try:
            return self._resolve(sid)
        except FileNotFoundError:
            return self._resolve(sid)

    # ------------------------------------------------------ locators
    #
    # A manifest's per-bucket value (its LOCATOR) has two on-disk
    # forms: an inline entry list, or a segment reference
    # {"seg": <file name>, "n": <entry count>} pointing at an
    # immutable manifests/seg-*.json payload (format 3, round 10).
    # The _by_bucket view carries locators VERBATIM — nothing
    # materializes a big bucket's list until a consumer actually
    # needs its entries.

    @staticmethod
    def _loc_n(loc) -> int:
        """Entry count of a locator without materializing it."""
        return loc["n"] if isinstance(loc, dict) else len(loc)

    def _entries(self, loc) -> list[dict]:
        """Materialize a locator to its entry list. Segment files
        are immutable once referenced by a claimed manifest, so the
        path-keyed cache is always safe; a FileNotFoundError here
        means the owning snapshot was expired — a genuine error."""
        if not isinstance(loc, dict):
            return loc
        name = loc["seg"]
        cached = self._segcache.get(name)
        if cached is None:
            with open(
                os.path.join(self._manifest_dir, name), encoding="utf-8"
            ) as fh:
                cached = json.load(fh)
            self._segcache[name] = cached
            while len(self._segcache) > 256:
                self._segcache.pop(next(iter(self._segcache)))
        return cached

    def _write_segment(self, sid: int, bucket: int, entries: list) -> dict:
        """Durably write one bucket's entry list as a segment file
        and return its locator. The run suffix keeps racing writers'
        attempts distinct (two writers both staging snapshot N must
        not collide on a name the CAS winner's manifest references);
        a loser's orphan segment is swept by a later expire."""
        os.makedirs(self._manifest_dir, exist_ok=True)
        run = uuid.uuid4().hex[:8]
        name = f"seg-{sid}-{bucket}-{run}.json"
        tmp = os.path.join(self._manifest_dir, f".{name}.tmp")
        with open(tmp, "w", encoding="utf-8") as fh:
            json.dump(entries, fh)
            fh.flush()
            os.fsync(fh.fileno())
        os.rename(tmp, os.path.join(self._manifest_dir, name))
        return {"seg": name, "n": len(entries)}

    def _maybe_segment(self, sid: int, bucket: int, loc):
        """Locator to WRITE for a bucket: existing segment refs carry
        verbatim (zero bytes rewritten — the anchor win); entry lists
        above SEG_INLINE_MAX become new segments; small lists stay
        inline (v2-identical manifests for small tables)."""
        if isinstance(loc, dict):
            return loc
        if len(loc) > SEG_INLINE_MAX:
            return self._write_segment(sid, bucket, loc)
        return loc

    def _resolve(self, sid: int) -> dict:
        """RESOLVED manifest view: always carries the complete
        ``files`` list, whatever the on-disk form.

        On-disk forms (back-compatible):

        - **v1 / full**: ``files: [...]`` (pre-round-9 tables, or any
          hand-written manifest) — self-contained.
        - **v2 delta** (round 9): ``buckets: {bucket: [entries]}``
          holding ONLY the buckets whose file lists differ from the
          parent (a now-empty bucket appears as ``[]``); untouched
          buckets resolve from the parent chain. ``full: true`` marks
          a self-contained v2 manifest (root commits, every
          ``FULL_MANIFEST_EVERY``-th commit, bucket-count changes,
          and the expire_snapshots floor).

        This is what makes commit metadata O(touched buckets) instead
        of O(table files): a 100 TB table with 10⁶ files no longer
        rewrites a multi-MB file list per micro-batch commit. The walk
        is bounded by FULL_MANIFEST_EVERY raw reads and memoized per
        handle; every consumer (reads, CDC diff, GC, history) sees the
        identical resolved dict it always did."""
        cached = self._mcache.get(sid)
        if cached is not None:
            return cached
        m = self._manifest_raw(sid)
        if "files" not in m:
            bb = self._by_bucket(sid)
            m = dict(m)
            m["files"] = [
                f for b in sorted(bb) for f in self._entries(bb[b])
            ]
        self._mcache[sid] = m
        # Bounded FIFO: a full-history walk (history(), GC) over a deep
        # table must not pin depth × O(files) resolved views in RAM.
        # 64 > FULL_MANIFEST_EVERY keeps the active chain hot; an
        # evicted ancestor re-resolves from disk in ≤16 raw reads.
        while len(self._mcache) > 64:
            self._mcache.pop(next(iter(self._mcache)))
        return m

    def _by_bucket(self, sid: int) -> dict[int, list[dict]]:
        """Resolved ``{bucket: [file entries]}`` view with STRUCTURAL
        SHARING: a delta child shallow-copies its parent's dict
        (O(n_buckets)) and replaces only the delta's buckets — the
        untouched buckets' file LISTS are carried by reference, never
        copied or iterated. This is what makes the merge hot path flat
        in table size (VERDICT r09 item 5): ``_prepare_merge`` and
        ``_build_delta`` consult only this view for the touched
        buckets, so a micro-batch commit on a 10⁶-file table walks
        O(n_buckets + touched files) entries, not O(F). The flat
        ``_manifest(...)["files"]`` view (which IS O(F) to build)
        remains for consumers that genuinely need the whole file list
        — reads, CDC diffs, GC, full-manifest cadence writes.

        Entries are shared across snapshots and with ``_manifest``
        caches — treat them as immutable, same contract as manifests
        themselves. Same concurrent-expire retry as ``_manifest``:
        a vanished ancestor mid-walk re-reads the (now materialized
        full) floor (ADVICE r09)."""
        try:
            return self._by_bucket_once(sid)
        except FileNotFoundError:
            return self._by_bucket_once(sid)

    def _by_bucket_once(self, sid: int) -> dict[int, list[dict]]:
        cached = self._bcache.get(sid)
        if cached is not None:
            return cached
        raw = self._manifest_raw(sid)
        if "files" in raw:  # v1 flat form — group once
            bb: dict[int, list[dict]] = {}
            for f in raw["files"]:
                bb.setdefault(f["bucket"], []).append(f)
        else:
            # Values are LOCATORS (inline lists or v3 segment refs),
            # carried verbatim — materialization is per-consumer via
            # _entries, so a pruned read never pays untouched buckets.
            delta = {
                int(b): fs for b, fs in (raw.get("buckets") or {}).items()
            }
            if not raw.get("full") and raw.get("parent") is not None:
                bb = dict(self._by_bucket(raw["parent"]))  # shallow
                bb.update(delta)
            else:
                bb = delta
        self._bcache[sid] = bb
        while len(self._bcache) > 64:
            self._bcache.pop(next(iter(self._bcache)))
        return bb

    # ---------------------------------------------------------------- read

    def _aligned_read(
        self, paths: list[str], schema: T.StructType, spark=None
    ) -> DataFrame:
        """Read data files ALIGNED to a manifest schema. Carried-
        forward files may lack columns (additive evolution), hold
        them under a FORMER name (rename lineage), or hold them at a
        NARROWER physical type (metadata-only widen) — the read
        requests an EXPLICIT parquet schema containing every lineage
        name at the field's current type (the parquet reader
        backfills a missing column as NULL and widens int32→int64 /
        float→double per file natively — Spark 4 widening reads,
        SPARK-40876), then a coalesce folds each lineage into its
        current name. Every snapshot reads with EXACTLY its
        manifest's schema — including time travel to pre-evolution
        snapshots, which read with their own (narrower, older-named)
        schema. The explicit schema also drops the old mergeSchema
        footer-union job — file footers are never read on the
        driver."""
        spark = spark or self.spark
        if not paths:
            return spark.createDataFrame([], schema)
        read_schema, exprs = self._lineage_plan(schema)
        return spark.read.schema(read_schema).parquet(*paths).select(
            *exprs
        )

    def _schema_of(self, manifest: dict) -> T.StructType:
        return T.StructType.fromJson(json.loads(manifest["schema"]))

    # ------------------------ field-id schema evolution (round 16)
    #
    # The Iceberg v2 mechanism (public: the Iceberg spec's "Schema
    # Evolution" section; Delta Lake column mapping), re-expressed
    # Spark-first. Every column carries a STABLE integer field id in
    # its StructField metadata (``fid``); a RENAME appends the former
    # name to the field's name lineage (``prior``) and swaps the
    # name; a DROP removes the field and retires its whole lineage;
    # int→long / float→double WIDEN by swapping the declared type.
    # All three are metadata-only commits — zero data files
    # rewritten. Reads resolve by LINEAGE: the requested parquet
    # schema lists every lineage name at the field's current type
    # and a coalesce folds them (a data file holds at most one name
    # of a lineage, so the fold is exact); a retired name may never
    # be reused by a new column while files carrying it can still be
    # live — the reserved-name guard below.

    @staticmethod
    def _priors_of(f: T.StructField) -> list[str]:
        """The field's FORMER names, oldest first (empty for a
        never-renamed field)."""
        return [str(p) for p in (f.metadata or {}).get("prior") or ()]

    def _stamp_fids_json(self, schema_json: str) -> str:
        """``schema_json`` with every fid-less field assigned the
        next stable id (advances ``self._last_fid``). Field ids are
        assigned in declaration order at table create; a table that
        predates fid tracking is upgraded by its first evolution
        commit the same way."""
        st = T.StructType.fromJson(json.loads(schema_json))
        fields, changed = [], False
        for f in st.fields:
            md = dict(f.metadata or {})
            if "fid" not in md:
                self._last_fid += 1
                md["fid"] = self._last_fid
                f = T.StructField(f.name, f.dataType, f.nullable, md)
                changed = True
            fields.append(f)
        return T.StructType(fields).json() if changed else schema_json

    @staticmethod
    def _strip_priors_json(schema_json: str) -> str:
        """``schema_json`` with every field's name lineage removed —
        for whole-table rewrites, after which no file carrying a
        former name survives."""
        st = T.StructType.fromJson(json.loads(schema_json))
        fields, changed = [], False
        for f in st.fields:
            md = dict(f.metadata or {})
            if "prior" in md:
                md.pop("prior")
                f = T.StructField(f.name, f.dataType, f.nullable, md)
                changed = True
            fields.append(f)
        return T.StructType(fields).json() if changed else schema_json

    @staticmethod
    def _inherit_fids_json(schema_json: str, base_json: str) -> str:
        """fid-less fields of ``schema_json`` inherit the id of the
        base field with the SAME name — an overwrite with a
        user-built (metadata-free) frame keeps stable field ids for
        the columns it preserves; genuinely new names fall through to
        a fresh stamp."""
        base = T.StructType.fromJson(json.loads(base_json))
        by_name = {
            f.name: (f.metadata or {}).get("fid") for f in base.fields
        }
        st = T.StructType.fromJson(json.loads(schema_json))
        fields, changed = [], False
        for f in st.fields:
            md = dict(f.metadata or {})
            if "fid" not in md and by_name.get(f.name) is not None:
                md["fid"] = by_name[f.name]
                f = T.StructField(f.name, f.dataType, f.nullable, md)
                changed = True
            fields.append(f)
        return T.StructType(fields).json() if changed else schema_json

    def _rewrite_schema(self, schema_json: str, base_raw: dict) -> str:
        """Schema of a WHOLE-TABLE rewrite (overwrite, rebucket) of a
        fid-tracked table: fid-less fields inherit the base field id
        by name, and the name machinery is RECLAIMED — no pre-rewrite
        file survives, so prior-name lineages and the retired
        registry would only contradict the post-rewrite schema
        (review r16: a stale retired entry next to a re-created live
        column of the same name). A genuinely new name is stamped
        fresh by :meth:`_build_delta`'s guard. Tables without fid
        tracking pass through untouched."""
        if not self._last_fid:
            return schema_json
        self._retired = {}
        return self._strip_priors_json(
            self._inherit_fids_json(schema_json, base_raw["schema"])
        )

    def _guarded_append_schema(self, schema_json: str) -> str:
        """Commit-time hook for fid-tracked tables: any fid-less
        field is a NEW column (append's additive evolution) — refuse
        a name that collides with a retired lineage or any live
        field's former name (old data files still carry that column
        physically; a coalesce would surface the DEAD field's bytes
        as the new field's values), then stamp it."""
        st = T.StructType.fromJson(json.loads(schema_json))
        fresh = [
            f.name for f in st.fields
            if "fid" not in (f.metadata or {})
        ]
        if not fresh:
            return schema_json
        reserved = set(self._retired)
        for f in st.fields:
            reserved.update(self._priors_of(f))
        bad = sorted(set(fresh) & reserved)
        if bad:
            raise ValueError(
                f"schema evolution: column names {bad} were used by a "
                "renamed or dropped column whose data files may still "
                "be live — pick different names (the reserved-name "
                "guard; rewrite the table to reclaim them)"
            )
        return self._stamp_fids_json(schema_json)

    def _lineage_plan(self, schema: T.StructType):
        """(requested-parquet-schema, projection) for a manifest
        schema. Fast path: no field has priors — the requested
        schema IS the manifest schema (nullable, as parquet
        backfills missing columns with NULL) and the projection is a
        bare column list, so never-evolved tables keep their plans
        unchanged."""
        read_fields, exprs = [], []
        for f in schema.fields:
            read_fields.append(
                T.StructField(f.name, f.dataType, True, f.metadata)
            )
            prior = self._priors_of(f)
            if not prior:
                exprs.append(F.col(f.name))
                continue
            for p in reversed(prior):  # newest former name first
                read_fields.append(T.StructField(p, f.dataType, True))
            exprs.append(
                F.coalesce(
                    F.col(f.name), *[F.col(p) for p in reversed(prior)]
                ).alias(f.name, metadata=dict(f.metadata or {}))
            )
        return T.StructType(read_fields), exprs

    # ------------------------------------ merge-on-read deletion vectors

    def _dv_pairs(self, entries: list[dict], spark=None) -> DataFrame:
        """Deleted-position frame ``(__fname, __pos)`` for the given
        dv-carrying manifest entries: the union of their position
        sidecars, restricted to exactly the (file, sidecar) pairs the
        entries reference. The pairing matters for time travel — a
        sidecar written by a later delete may hold positions for a
        file whose entry at THIS snapshot does not reference it yet,
        so filtering by file name alone would delete from the past.
        O(referenced sidecar rows) — the not-yet-compacted deleted
        positions, never the data files."""
        spark = spark or self.spark
        refs = sorted(
            {
                (os.path.basename(f["path"]), os.path.basename(sc))
                for f in entries
                for sc in (f.get("dv") or {}).get("sidecars", ())
            }
        )
        sidecars = sorted({sc for _, sc in refs})
        raw = spark.read.parquet(
            *[
                os.path.join(self.table_dir, "data", sc)
                for sc in sidecars
            ]
        ).select(
            F.col("fname").alias("__fname"),
            F.col("pos").alias("__pos"),
            F.col("_metadata.file_name").alias("__sc"),
        )
        ref_df = spark.createDataFrame(
            refs, "__fname string, __sc string"
        )
        return raw.join(
            F.broadcast(ref_df), ["__fname", "__sc"], "left_semi"
        ).select("__fname", "__pos")

    def _read_entries(
        self,
        entries: list[dict],
        schema: T.StructType,
        spark=None,
        keep_meta: bool = False,
    ) -> DataFrame:
        """DV-aware aligned read of manifest entries — the merge-on-
        read half of deletion vectors (round 14; the public pattern is
        Iceberg v2 positional delete files / Delta deletion vectors,
        re-expressed Spark-first as ONE broadcast anti-join on
        ``(_metadata.file_name, _metadata.row_index)`` — both native
        metadata columns, so position derivation costs no shuffle and
        no Python). Entries without a ``dv`` take the plain
        :meth:`_aligned_read` path UNCHANGED — dv-less tables (every
        pre-r14 table) keep byte-identical plans.

        ``keep_meta=True`` retains ``__fname``/``__pos`` for callers
        that group per file (the agg_stats fallback scan) or write
        position sidecars (the MOR delete verbs).

        Scale note: the deleted-position frame is broadcast only while
        its manifest-recorded total stays under ``DV_BROADCAST_MAX``
        positions; past that the hint is dropped and AQE picks the
        strategy — and a table carrying that many un-compacted deletes
        is precisely what :meth:`maintenance_plan`'s delete-ratio
        targeting exists to flag for :meth:`compact`."""
        spark = spark or self.spark
        entries = list(entries)
        paths = [os.path.join(self.table_dir, f["path"]) for f in entries]
        dved = [f for f in entries if f.get("dv")]
        if not dved and not keep_meta:
            return self._aligned_read(paths, schema, spark=spark)
        if not paths:
            df = spark.createDataFrame([], schema)
            if keep_meta:
                df = df.withColumn(
                    "__fname", F.lit(None).cast("string")
                ).withColumn("__pos", F.lit(None).cast("long"))
            return df
        read_schema, exprs = self._lineage_plan(schema)
        df = spark.read.schema(read_schema).parquet(*paths).select(
            *exprs,
            F.col("_metadata.file_name").alias("__fname"),
            F.col("_metadata.row_index").alias("__pos"),
        )
        if dved:
            dv = self._dv_pairs(dved, spark=spark)
            total = sum((f.get("dv") or {}).get("n", 0) for f in dved)
            if total <= DV_BROADCAST_MAX:
                dv = F.broadcast(dv)
            df = df.join(dv, ["__fname", "__pos"], "left_anti")
        return df if keep_meta else df.drop("__fname", "__pos")

    @staticmethod
    def _live_rows(f: dict) -> int:
        """Live (undeleted) rows of a manifest entry: physical rows
        minus its deletion-vector count."""
        return f["rows"] - (f.get("dv") or {}).get("n", 0)

    def read(self, snapshot_id: int | None = None) -> DataFrame:
        """Read the table at ``snapshot_id`` (default: current). A
        zero-file snapshot reads as an empty frame with the table's
        recorded schema (C3 schema stability)."""
        sid = self.current_id() if snapshot_id is None else snapshot_id
        if sid is None:
            raise ValueError(f"snapshot table {self.table_dir}: no commits")
        m = self._manifest(sid)
        return self._read_entries(m["files"], self._schema_of(m))

    def read_keys(
        self, key_values: list, snapshot_id: int | None = None
    ) -> DataFrame:
        """File-PRUNED point-lookup read: open only the data files
        whose bucket any requested key hashes into (the manifest's
        per-file ``bucket`` stat is the pruning metadata — Iceberg's
        partition-stats read path in miniature), then filter to the
        exact keys. Single-column keys only (the layout hash is on
        the full key tuple; a partial-key lookup can't prune).

        The requested keys' buckets are computed THROUGH Spark's own
        ``hash``/``pmod`` (a key-count-sized local frame — metadata,
        never data), so pruning can never disagree with the layout.
        At 100 TB this is the difference between a point lookup
        opening ~1/n_buckets of the table and scanning all of it.

        String keys on a bloom-enabled table prune FURTHER (round 13
        — the per-file half of Iceberg's bloom point-lookup): within
        the matched buckets, a file is opened only if at least one
        requested key is bloom-possible in it, so a many-append
        bucket opens ~the holder files instead of its whole history.
        Bloom-less files and non-string keys keep the bucket-grain
        prune."""
        if len(self.key_cols) != 1:
            raise ValueError("read_keys: single-column key tables only")
        sid = self.current_id() if snapshot_id is None else snapshot_id
        if sid is None:
            raise ValueError(f"snapshot table {self.table_dir}: no commits")
        # Config view only — resolving the flat file list here would
        # materialize every bucket's entries and defeat the prune
        # (format 3 reads only the matching buckets' segments).
        m = self._raw_meta(sid)
        key = self.key_cols[0]
        key_type = next(
            f["type"]
            for f in json.loads(m["schema"])["fields"]
            if f["name"] == key
        )
        kdf = self.spark.createDataFrame(
            [(v,) for v in key_values], f"{key} {key_type}"
        )
        # Prune with the TARGET SNAPSHOT's bucket count, not the
        # handle's: after a rebucket, older snapshots keep their own
        # layout, and pruning a time-travel read with the new count
        # would open the wrong files.
        buckets = {
            r["b"]
            for r in kdf.select(
                F.pmod(F.hash(key), F.lit(m["n_buckets"])).alias("b")
            )
            .distinct()
            .collect()
        }
        bb = self._by_bucket(sid)
        cand = [
            f
            for b in sorted(buckets)
            for f in self._entries(bb.get(b, []))
        ]
        str_keys = [v for v in key_values if isinstance(v, str)]
        if (
            str_keys
            and len(str_keys) == len(key_values)
            and any((f.get("bloom") or {}).get(key) for f in cand)
        ):
            # key-count-sized ROW frame (like the bucket probe above
            # — review r13: a 5·N-column projection would blow up
            # Catalyst on large key lists), k hash columns per row
            hash_rows = (
                self.spark.createDataFrame(
                    [(v,) for v in str_keys], "v string"
                )
                .select(
                    *[
                        F.hash(F.col("v"), F.lit(s)).alias(f"h{s}")
                        for s in range(_BLOOM_K)
                    ]
                )
                .collect()
            )
            all_hashes = [
                [r[f"h{s}"] for s in range(_BLOOM_K)]
                for r in hash_rows
            ]

            def may_hold(f: dict) -> bool:
                import base64

                e = (f.get("bloom") or {}).get(key)
                if e is None:
                    return True
                m_bits, kk = e["m"], e["k"]
                data = base64.b64decode(e["b"])  # decoded ONCE/file
                for hs in all_hashes:
                    if all(
                        (data[(h % m_bits) // 8] >> ((h % m_bits) % 8))
                        & 1
                        for h in hs[:kk]
                    ):
                        return True
                return False

            cand = [f for f in cand if may_hold(f)]
        return self._read_entries(cand, self._schema_of(m)).filter(
            F.col(key).isin(key_values)
        )

    def read_matching(
        self, keys_df: DataFrame, snapshot_id: int | None = None
    ) -> DataFrame:
        """Bucket-PRUNED read for a JOIN probe side: open only the
        data files whose physical bucket some row of ``keys_df``
        (which must carry the table's bucket columns) hashes into.

        The distributed-scale sibling of :meth:`read_keys`: only the
        DISTINCT PHYSICAL BUCKET IDS cross to the driver (at most
        ``n_buckets`` integers — metadata, never keys or rows), so the
        prune works for arbitrarily large probe frames. The probe's
        bucket ids are computed through Spark's own ``hash``/``pmod``
        — the exact expression ``_with_bucket`` laid the files out
        with — so pruning can never disagree with the layout.

        The returned frame is NOT filtered to the exact probe keys:
        callers join it (that join is what the prune serves), and rows
        from co-hashed keys in opened files are extra join input the
        join itself discards — never wrong output. At 100 TB this is
        the difference between a micro-batch's index probe exchanging
        the whole corpus and opening ~|probe buckets|/n_buckets of it
        (the r09 E106 "index layout" fix)."""
        sid = self.current_id() if snapshot_id is None else snapshot_id
        if sid is None:
            raise ValueError(f"snapshot table {self.table_dir}: no commits")
        m = self._raw_meta(sid)  # config only — see read_keys note
        bcols = list(m.get("bucket_cols") or m["key_cols"])
        # Prune with the TARGET snapshot's layout (count + columns),
        # same rule as read_keys: time travel across a rebucket must
        # use that snapshot's own bucket assignment. The probe columns
        # are CAST to the table schema's types first — Spark's hash is
        # type-sensitive (hash(7 as int) != hash(7 as long)), so an
        # int-typed probe against a long-keyed table would otherwise
        # prune the WRONG buckets and silently drop join rows (the
        # same alignment read_keys does via its typed probe frame).
        schema_types = {
            f.name: f.dataType for f in self._schema_of(m).fields
        }
        hash_cols = [
            F.col(c).cast(schema_types[c]) if c in schema_types
            else F.col(c)
            for c in bcols
        ]
        buckets = {
            r["b"]
            for r in keys_df.select(
                F.pmod(F.hash(*hash_cols), F.lit(m["n_buckets"])).alias("b")
            )
            .distinct()
            .collect()
        }
        bb = self._by_bucket(sid)
        ents = [
            f
            for b in sorted(buckets)
            for f in self._entries(bb.get(b, []))
        ]
        return self._read_entries(ents, self._schema_of(m))

    @staticmethod
    def _changed_buckets(
        files_from: list[dict], files_to: list[dict]
    ) -> set[int]:
        """Buckets whose FILE SETS differ between two manifests.
        Data files are immutable and carried forward by reference, so
        identical per-bucket file lists prove the bucket's contents
        are byte-identical — the manifest diff is the pruning
        metadata for an incremental read (Iceberg's incremental-scan
        planning in miniature). A merge-on-read delete changes an
        entry's deletion-vector reference WITHOUT changing its path
        (round 14), so the identity compared here is (path, dv
        sidecar list) — a dv flip marks the bucket changed exactly
        like a rewrite would. Unit-tested directly in
        tests/test_snapshot.py."""

        def ident(f: dict):
            return (
                f["path"],
                tuple((f.get("dv") or {}).get("sidecars", ())),
            )

        by_bucket_from: dict[int, list] = {}
        by_bucket_to: dict[int, list] = {}
        for f in files_from:
            by_bucket_from.setdefault(f["bucket"], []).append(ident(f))
        for f in files_to:
            by_bucket_to.setdefault(f["bucket"], []).append(ident(f))
        changed = set()
        for b in set(by_bucket_from) | set(by_bucket_to):
            if sorted(by_bucket_from.get(b, [])) != sorted(
                by_bucket_to.get(b, [])
            ):
                changed.add(b)
        return changed

    def changes(
        self,
        from_id: int,
        to_id: int | None = None,
        include_preimages: bool = False,
    ) -> DataFrame:
        """Incremental CDC read: the NET row-level difference between
        two snapshots, as the table's columns plus a ``_change_type``
        column. Two output conventions:

        - default (net form): ``insert`` / ``update`` / ``delete``;
          post-image for insert/update, pre-image for delete — one
          row per changed key.
        - ``include_preimages=True`` (Delta CDF convention): updates
          emit TWO rows, ``update_preimage`` (old values) +
          ``update_postimage`` (new values). This is the form
          downstream incremental aggregate maintenance needs: a key
          whose GROUP changed must decrement the old group and
          increment the new one (``incremental.apply_cdc_to_agg``).

        ``changes(n, m)`` compares states directly, so a key updated
        five times between n and m appears once (or twice with
        pre-images) with its endpoint values — net-changes semantics,
        the right input for downstream incremental materialization
        (compose with ``streaming/incremental.py``).

        Scale posture: the manifest diff prunes BOTH reads to the
        buckets whose file sets differ (``_changed_buckets``) — a
        commit touches O(batch) buckets, so an incremental read costs
        O(changed data), never O(table), exactly the property that
        makes CDC viable on a 100 TB table. The diff itself is one
        full-outer join on the key columns over the pruned buckets,
        filtered by null-safe struct inequality (unchanged rows in
        rewritten buckets drop out here).

        Merge-on-read fast path (round 14): a changed bucket whose
        file PATHS are identical can only have grown deletion
        vectors (files are immutable; dv position sets only grow
        until a rewrite changes the path) — a pure DELETE delta. For
        those buckets the diff skips the full-outer join entirely:
        the delta positions (to-side minus from-side pairs) broadcast
        into one scan of the same files, and the matched rows ARE the
        pre-image delete rows. The weekly GDPR batch's CDC costs one
        position-pruned scan, zero shuffles — never two bucket-state
        joins. (Like the join path, keyed net-change semantics
        presuppose the keep-latest invariant: on a table holding
        replayed duplicate keys, run ``compact(dedup_keys=True)``
        before trusting keyed CDC from either path.)"""
        sid_to = self.current_id() if to_id is None else to_id
        m_from, m_to = self._manifest(from_id), self._manifest(sid_to)
        schema = self._schema_of(m_to)
        out_schema = T.StructType(
            schema.fields
            + [T.StructField("_change_type", T.StringType(), False)]
        )
        changed = self._changed_buckets(m_from["files"], m_to["files"])
        if not changed:
            return self.spark.createDataFrame([], out_schema)
        # Split: dv-only buckets vs rewrites. A bucket takes the fast
        # path only when its path set is IDENTICAL and every file's
        # dv count grew monotonically from -> to (dv position sets
        # only grow on an immutable path, so monotone counts prove
        # to-pairs ⊇ from-pairs — a pure delete delta). A REVERSED or
        # mid-shrink window (to-side dv smaller/absent) falls back to
        # the general join, which handles re-appearing rows correctly
        # (review r14-2).
        fmap: dict[int, dict] = {}
        tmap: dict[int, dict] = {}
        for f in m_from["files"]:
            if f["bucket"] in changed:
                fmap.setdefault(f["bucket"], {})[f["path"]] = f
        for f in m_to["files"]:
            if f["bucket"] in changed:
                tmap.setdefault(f["bucket"], {})[f["path"]] = f

        def _dvn(f):
            return (f.get("dv") or {}).get("n", 0)

        dv_only = {
            b
            for b in changed
            if fmap.get(b, {}).keys() == tmap.get(b, {}).keys()
            and all(
                _dvn(tf) >= _dvn(fmap[b][p])
                for p, tf in tmap.get(b, {}).items()
            )
        }
        rewritten = changed - dv_only
        fast = None
        if dv_only:
            # file-grain prune (review r14-2): scan only the entries
            # whose dv actually changed, not the whole bucket
            grown_to, grown_from, n_delta = [], [], 0
            for b in dv_only:
                for p, tf in tmap[b].items():
                    ff = fmap[b][p]
                    if _dvn(tf) > _dvn(ff):
                        grown_to.append(tf)
                        if ff.get("dv"):
                            grown_from.append(ff)
                        n_delta += _dvn(tf) - _dvn(ff)
            fast = self._dv_delta_rows(
                grown_from, grown_to, schema, n_delta
            )
        j = None
        if rewritten:

            def _side(manifest: dict) -> DataFrame:
                # both sides align to the TO-schema: across an
                # additive evolution, pre-evolution rows carry typed
                # NULLs for the new columns (the standard CDF
                # backfill convention)
                ents = [
                    f
                    for f in manifest["files"]
                    if f["bucket"] in rewritten
                ]
                return self._read_entries(ents, schema)

            non_key = [
                c for c in schema.fieldNames() if c not in self.key_cols
            ]
            old = _side(m_from).select(
                *self.key_cols, F.struct(*non_key).alias("__old")
            )
            new = _side(m_to).select(
                *self.key_cols, F.struct(*non_key).alias("__new")
            )
            j = old.join(
                new, on=self.key_cols, how="full_outer"
            ).filter(~F.col("__old").eqNullSafe(F.col("__new")))
        if j is None:
            return fast
        if include_preimages:
            def tagged(img: str, t: str):
                return F.struct(
                    F.col(img).alias("img"), F.lit(t).alias("t")
                )

            arr = (
                F.when(
                    F.col("__old").isNull(),
                    F.array(tagged("__new", "insert")),
                )
                .when(
                    F.col("__new").isNull(),
                    F.array(tagged("__old", "delete")),
                )
                .otherwise(
                    F.array(
                        tagged("__old", "update_preimage"),
                        tagged("__new", "update_postimage"),
                    )
                )
            )
            ex = j.select(*self.key_cols, F.explode(arr).alias("__e"))
            slow = ex.select(
                *self.key_cols,
                *[F.col("__e")["img"][c].alias(c) for c in non_key],
                F.col("__e")["t"].alias("_change_type"),
            ).select(*schema.fieldNames(), "_change_type")
        else:
            change_type = (
                F.when(F.col("__old").isNull(), F.lit("insert"))
                .when(F.col("__new").isNull(), F.lit("delete"))
                .otherwise(F.lit("update"))
            )
            image = F.when(
                F.col("__new").isNull(), F.col("__old")
            ).otherwise(F.col("__new"))
            slow = j.select(
                *self.key_cols,
                *[image[c].alias(c) for c in non_key],
                change_type.alias("_change_type"),
            ).select(*schema.fieldNames(), "_change_type")
        return slow if fast is None else slow.unionByName(fast)

    def _dv_delta_rows(
        self,
        ents_from: list[dict],
        ents_to: list[dict],
        schema: T.StructType,
        n_delta: int,
    ) -> DataFrame:
        """The merge-on-read CDC fast path (see :meth:`changes`):
        pre-image ``delete`` rows at exactly the positions the
        to-side deletion vectors grew over the from-side. One scan of
        ONLY the files whose vectors grew, with the delta positions
        joined in — zero shuffles, zero joins of bucket states.
        ``n_delta`` (the manifest-computed position-count delta)
        gates the broadcast hint at ``DV_BROADCAST_MAX``, the same
        cap every other dv consumer applies (review r14-2)."""
        delta = self._dv_pairs(ents_to)
        if ents_from:
            delta = delta.join(
                self._dv_pairs(ents_from),
                ["__fname", "__pos"],
                "left_anti",
            )
        if n_delta <= DV_BROADCAST_MAX:
            delta = F.broadcast(delta)
        raw = self._read_entries(
            # dv STRIPPED: the delta rows are live at `from`, deleted
            # at `to` — the raw scan + position semi-join selects them
            [
                {k: v for k, v in f.items() if k != "dv"}
                for f in ents_to
            ],
            schema,
            keep_meta=True,
        )
        return (
            raw.join(delta, ["__fname", "__pos"], "left_semi")
            .drop("__fname", "__pos")
            .withColumn("_change_type", F.lit("delete"))
            .select(*schema.fieldNames(), "_change_type")
        )

    # --------------------------------------------------------------- write

    def _with_bucket(self, df: DataFrame) -> DataFrame:
        return df.withColumn(
            "__bucket",
            F.pmod(F.hash(*self.bucket_cols), F.lit(self.n_buckets)),
        )

    def _adopt_layout(self, base_raw: dict) -> None:
        """Adopt the CURRENT manifest's physical layout (bucket count
        + bucket columns) onto this handle. The on-disk layout is the
        truth: every write path calls this so a handle constructed
        with stale values (or racing a rebucket — the CAS retry
        re-enters the write) can never mix layouts in one snapshot."""
        self.n_buckets = base_raw["n_buckets"]
        self.bucket_cols = list(
            base_raw.get("bucket_cols") or base_raw["key_cols"]
        )
        # bloom config is layout-like write config: the on-disk value
        # wins when present (a handle opened without it keeps building
        # the table's blooms); a fresh table keeps the ctor's list
        if base_raw.get("bloom_cols"):
            self.bloom_cols = list(base_raw["bloom_cols"])
        # schema-evolution state rides the same adoption: a rename may
        # have moved key/order names, and the fid counter/retired
        # registry must continue from the on-disk truth
        self._last_fid = int(base_raw.get("last_fid") or 0)
        self._retired = dict(base_raw.get("retired") or {})
        # Key/order adoption (round 16): the manifest wins, but ONLY
        # when the handle's names resolve to the SAME fields through
        # the rename lineage (a handle constructed with pre-rename
        # names keeps working). A handle whose key list names
        # DIFFERENT fields is a re-keying attempt, which was never a
        # supported write path — pre-r16 it silently re-keyed the
        # table, post-r16 silent adoption would silently IGNORE the
        # caller's intent (and a keep-latest merge would collapse on
        # fewer keys than the caller assumed — review r16). Refuse
        # loudly instead.
        mk = list(base_raw.get("key_cols") or [])
        mo = base_raw.get("order_col") or ""
        if (self.key_cols and mk and self.key_cols != mk) or (
            self.order_col and mo and self.order_col != mo
        ):
            st = T.StructType.fromJson(json.loads(base_raw["schema"]))
            lineage = {}
            for f in st.fields:
                for nm in (f.name, *self._priors_of(f)):
                    lineage[nm] = f.name
            if self.key_cols and mk and self.key_cols != mk:
                if [lineage.get(c) for c in self.key_cols] != mk:
                    raise ValueError(
                        f"handle key_cols {self.key_cols} do not "
                        f"resolve to the table's keys {mk} (through "
                        "any rename lineage) — re-keying a table "
                        "through a differently-keyed handle is not "
                        "supported; the manifest is the truth"
                    )
            if self.order_col and mo and self.order_col != mo:
                if lineage.get(self.order_col) != mo:
                    raise ValueError(
                        f"handle order_col {self.order_col!r} does "
                        f"not resolve to the table's {mo!r} (through "
                        "any rename lineage) — the manifest is the "
                        "truth"
                    )
        if mk:
            self.key_cols = mk
        if mo:
            self.order_col = mo

    def _prime_meta(self, sid: int, manifest: dict) -> None:
        """Prime the payload-free config cache with a dict already in
        hand (shared by _raw_meta's miss path and _claim's post-commit
        prime), FIFO-bounded."""
        self._metacache[sid] = {
            k: v for k, v in manifest.items()
            if k not in ("files", "buckets")
        }
        while len(self._metacache) > 256:
            self._metacache.pop(next(iter(self._metacache)))

    def _retry(self, label: str, once, max_retries: int) -> int:
        """The optimistic-concurrency loop every committing verb runs:
        call ``once()`` — one full plan + commit attempt — and on a
        lost CAS (``CommitConflict``) re-plan on the new current, up
        to ``max_retries`` attempts."""
        last: Exception | None = None
        for _ in range(max_retries):
            try:
                return once()
            except CommitConflict as e:  # re-plan on the new current
                last = e
        raise RuntimeError(
            f"{label} lost the commit race {max_retries} times"
        ) from last

    def merge(
        self,
        batch_df: DataFrame,
        tombstone_filter: str | None = None,
        max_retries: int = 5,
        properties: dict | None = None,
    ) -> int:
        """Keep-latest MERGE of ``batch_df`` as one snapshot commit;
        returns the committed snapshot id. ``tombstone_filter`` gives
        CDC APPLY semantics (a key whose newest row matches is
        physically dropped — same contract as
        ``run_incremental_upsert``). ``properties`` is an optional
        JSON-safe dict recorded on the commit's manifest (Iceberg's
        snapshot-summary shape) — the hook an incremental view uses to
        stamp which base snapshot a commit reflects, surviving even
        commits whose every row is a tombstone. Retries the whole
        merge on a lost CAS, re-reading the winner's state (optimistic
        concurrency)."""
        return self._retry(
            "merge",
            lambda: self._claim_or_rebase(
                self._prepare_merge(batch_df, tombstone_filter, properties),
                rebase_ok=True,
            ),
            max_retries,
        )

    def append(
        self,
        batch_df: DataFrame,
        max_retries: int = 5,
        properties: dict | None = None,
    ) -> int:
        """APPEND batch rows as one snapshot commit — the fact-table /
        log-ingest fast path next to the keyed MERGE. No base
        read-back, no keep-latest collapse: ONE Spark job (the
        bucketed staged write) and an O(touched) delta commit, so
        per-batch cost is O(batch) however large the table grows.
        MERGE's copy-on-write rewrite of every touched bucket is the
        right tool for UPSERTS; for insert-only arrivals it silently
        becomes an O(table/n_buckets × touched) rewrite per batch —
        at 100 TB, a micro-batch whose keys hash across all physical
        buckets (uniform band keys, event ingest) would rewrite the
        whole table every trigger.

        Contract (merge-on-read): rows are appended VERBATIM. The
        keep-latest invariant MERGE maintains does not hold across
        appended duplicates of an existing key — ``read()`` returns
        every appended row. Use append when keys are new by
        construction (event logs, the incremental-LSH band index) or
        when the read side dedups; ``compact(dedup_keys=True)`` is
        the explicit maintenance commit that folds duplicates back to
        keep-latest form. At-least-once callers that replay a batch
        get duplicate ROWS, never corruption.

        Everything else matches MERGE: additive schema evolution
        (computed on empty frames — no data read), layout adoption
        from the current manifest, optional commit ``properties``,
        CAS retry on a lost race, and an empty batch leaving history
        clean (metadata-only commit iff ``properties`` given)."""
        # adopt BEFORE validating (round 16 review: a rename moves
        # the key/order names, and a handle constructed with the
        # pre-rename names must accept correctly-named batches)
        sid0 = self.current_id()
        if sid0 is not None:
            self._adopt_layout(self._raw_meta(sid0))
        missing = [
            c
            for c in (*self.key_cols, self.order_col)
            if c not in batch_df.columns
        ]
        if missing:
            raise ValueError(
                f"append: batch is missing key/order columns {missing}"
            )
        return self._retry(
            "append",
            lambda: self._claim_or_rebase(
                self._prepare_append(batch_df, properties), rebase_ok=True
            ),
            max_retries,
        )

    def _prepare_append(
        self, batch_df: DataFrame, properties: dict | None
    ) -> "tuple[dict, int, dict] | int":
        """Everything APPEND does up to — not including — the commit
        claim: staged write, file promotion, manifest construction.
        Returns the plain base id for the no-op case, else
        ``(manifest, new_id, merged_bb)`` for the caller to claim —
        through :meth:`_claim_or_rebase`, or as one member of a
        grouped transaction (:class:`SnapshotGroup`). Staged data
        files are durable under ``data/`` when this returns; until a
        claim lands they are unreferenced orphans, exactly the
        existing crash-before-claim contract."""
        base_id = self.current_id()
        base_bb: dict = {}
        if base_id:
            base_raw = self._raw_meta(base_id)
            self._adopt_layout(base_raw)
            base_bb = self._by_bucket(base_id)
            # Additive evolution on EMPTY frames: the union computes
            # base ∪ batch column sets without reading a single row
            # (the data files align lazily via _aligned_read).
            evolved_json = (
                batch_df.sparkSession.createDataFrame(
                    [], self._schema_of(base_raw)
                )
                .unionByName(batch_df.limit(0), allowMissingColumns=True)
                .schema.json()
            )
        else:
            evolved_json = batch_df.schema.json()
        new_files = self._stage_rewrite(
            self._with_bucket(batch_df), self.n_buckets, self.order_col
        )
        if not new_files and base_id is not None and not properties:
            return base_id  # empty batch: same contract as MERGE's
        # A touched bucket's new list = parent's list + the appended
        # files; untouched buckets carry by reference through base_bb.
        return self._build_delta(
            evolved_json, base_bb, {}, operation="append",
            base_id=base_id, properties=properties, new_files=new_files,
        )

    def compact(
        self,
        min_files: int = 2,
        dedup_keys: bool = False,
        max_retries: int = 5,
        buckets: list[int] | None = None,
    ) -> int:
        """Bin-pack MAINTENANCE commit: rewrite every bucket holding
        ≥ ``min_files`` data files into one file, carrying all other
        buckets by reference — the small-file compaction an
        append-heavy table needs (each append adds a file per touched
        bucket, and scan cost degrades with FILE COUNT, not data
        size). Row-preserving by default: a pure layout change — same
        rows, same values, re-sorted on the order column within each
        file so row-group pruning recovers its monotone stats.

        ``dedup_keys=True`` ALSO folds duplicate keys to their
        keep-latest row (the MERGE window) — the explicit op that
        restores the keep-latest invariant after at-least-once append
        replays. Duplicates can hide inside a single file (one append
        of a dup-key batch), so this mode rewrites every non-empty
        bucket regardless of ``min_files``.

        Runs as an ordinary snapshot commit: concurrent readers and
        time travel see pre-compaction snapshots untouched, a racing
        writer wins or loses the same CAS every commit uses, and
        ``expire_snapshots`` reclaims the replaced files once no kept
        snapshot references them. Returns the committed id — or the
        CURRENT id unchanged when nothing qualifies (no-op, no empty
        commit).

        ``buckets`` restricts the rewrite to the named buckets
        regardless of ``min_files`` (round 14) — the targeted fold
        :meth:`maintenance_plan`'s delete-ratio flag feeds, mirroring
        ``rewrite_zorder(buckets=...)``. Deletion-vector-carrying
        buckets also auto-qualify, but ONLY where the locator is an
        inline entry list: probing segment-backed buckets for dvs
        would resolve O(table files) of segment payload on every
        no-op nightly call (review r14) — plan those explicitly via
        ``maintenance_plan`` → ``buckets=``."""
        if buckets is not None:
            unknown = sorted(set(buckets) - set(range(self.n_buckets)))
            if unknown:
                raise ValueError(
                    f"compact: unknown buckets {unknown} "
                    f"(layout has {self.n_buckets})"
                )
        return self._retry(
            "compact",
            lambda: self._compact_once(min_files, dedup_keys, buckets),
            max_retries,
        )

    def _compact_once(
        self,
        min_files: int,
        dedup_keys: bool,
        buckets: list[int] | None = None,
    ) -> int:
        base_id = self.current_id()
        if base_id is None:
            raise ValueError(
                f"snapshot table {self.table_dir}: no commits"
            )
        base_raw = self._raw_meta(base_id)
        self._adopt_layout(base_raw)
        base_bb = self._by_bucket(base_id)
        touched = sorted(
            bkt
            for bkt, loc in base_bb.items()
            if self._loc_n(loc)
            and (
                dedup_keys
                or (buckets is not None and bkt in buckets)
                or self._loc_n(loc) >= min_files
                # an INLINE deletion-vector-carrying bucket also
                # qualifies — compaction folds MOR deletes back into
                # data files (the Iceberg/Delta rewrite rule). Only
                # inline locators are probed: resolving seg refs here
                # would cost O(table files) per no-op nightly call
                # (review r14); seg-backed dv buckets are targeted
                # via maintenance_plan -> buckets=
                or (
                    isinstance(loc, list)
                    and any(f.get("dv") for f in loc)
                )
            )
        )
        if not touched:
            return base_id
        ents = [
            f
            for bkt in touched
            for f in self._entries(base_bb[bkt])
        ]
        cur = self._read_entries(
            ents, self._schema_of(base_raw),
            spark=self.spark,
        )
        if dedup_keys:
            w = Window.partitionBy(*self.key_cols).orderBy(
                F.col(self.order_col).desc()
            )
            cur = (
                cur.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn")
            )
        new_files = self._stage_rewrite(
            self._with_bucket(cur), len(touched), self.order_col
        )
        return self._claim_or_rebase(
            self._build_delta(
                base_raw["schema"], base_bb, {b: [] for b in touched},
                operation="compact", base_id=base_id, new_files=new_files,
            ),
            rebase_ok=True,
        )

    def rewrite_zorder(
        self,
        cols: list[str],
        rows_per_file: int = 65536,
        bits: int = 8,
        max_retries: int = 5,
        buckets: list[int] | None = None,
    ) -> int:
        """MAINTENANCE: rewrite every non-empty bucket's files in
        Morton (Z-order) along ``cols`` — multi-dimensional data
        skipping (the public Delta/Iceberg ``OPTIMIZE ZORDER BY``):
        after the rewrite each file covers a tight z-range, so its
        per-column footer [min, max] box is tight on EVERY
        participating column at once and :meth:`read_where` prunes
        well on any of them (a range-sorted layout only ever serves
        one column). ``rows_per_file`` splits each bucket's sorted
        stream into z-contiguous files — the knob that trades file
        count against prune granularity.

        Row-preserving pure layout change, same discipline as
        :meth:`compact`: the key-hash bucket assignment is untouched
        (``read_keys``/``read_matching`` unaffected), concurrent
        readers and time travel see pre-rewrite snapshots, the same
        commit CAS applies, ``expire_snapshots`` reclaims replaced
        files. Trade-off recorded: within-file rows are z-sorted, not
        order-column-sorted, so order-column ROW-GROUP pruning inside
        a file degrades while file-level stats stay exact — z-order a
        table whose scans are multi-column windows, range-sort one
        whose scans are order-column ranges.

        Quantization is RANK-based (``2^bits`` approximate quantiles
        per column, one ``approxQuantile`` pass): a linear min-max
        grid collapses a skewed column into its lowest cells and the
        interleave degenerates to the other columns — measured on
        the events fixture's long-tailed ``value`` (SCALE.md round
        12: linear = zero prune, rank = selective on every column).
        The z-value is pure codegen (``functions.zorder``, no UDF)
        and never stored: pruning correctness depends only on the
        exact footer stats, the z-code only decides CLUSTERING.

        ``buckets`` (round 13 — Delta's WHERE-scoped OPTIMIZE in
        bucket terms) scopes the rewrite to a SUBSET of physical
        buckets: only their files are read and rewritten, every other
        bucket carries by reference — the incremental-maintenance
        shape a very large table runs (rewrite the buckets the last
        N commits touched, a few per night, instead of one O(table)
        job). Quantile cuts come from the scoped rows — clustering
        quality only; pruning correctness always rests on exact
        footer stats."""
        return self._retry(
            "rewrite_zorder",
            lambda: self._zorder_once(cols, rows_per_file, bits, buckets),
            max_retries,
        )

    def _zorder_once(
        self,
        cols: list[str],
        rows_per_file: int,
        bits: int,
        buckets: list[int] | None = None,
    ) -> int:
        from ..functions.zorder import (
            morton_code,
            quantize_by_boundaries,
        )

        base_id = self.current_id()
        if base_id is None:
            raise ValueError(
                f"snapshot table {self.table_dir}: no commits"
            )
        base_raw = self._raw_meta(base_id)
        self._adopt_layout(base_raw)
        schema = self._schema_of(base_raw)
        missing = [c for c in cols if c not in schema.names]
        if not cols or missing:
            raise ValueError(
                f"rewrite_zorder: unknown columns {missing or cols}"
            )
        non_numeric = [
            c
            for c in cols
            if not isinstance(schema[c].dataType, T.NumericType)
        ]
        if non_numeric:
            raise ValueError(
                "rewrite_zorder: z-order columns must be numeric "
                f"(got {non_numeric}); cast timestamps to epoch "
                "numbers or dictionary-encode strings upstream"
            )
        base_bb = self._by_bucket(base_id)
        touched = sorted(
            bkt for bkt, loc in base_bb.items() if self._loc_n(loc)
        )
        if buckets is not None:
            unknown = sorted(
                set(buckets) - set(range(self.n_buckets))
            )
            if unknown:
                raise ValueError(
                    f"rewrite_zorder: unknown buckets {unknown} "
                    f"(layout has {self.n_buckets})"
                )
            touched = sorted(set(touched) & set(buckets))
        if not touched:
            return base_id
        ents = [
            f
            for bkt in touched
            for f in self._entries(base_bb[bkt])
        ]
        cur = self._read_entries(ents, schema, spark=self.spark)
        # rank quantization: 2^bits - 1 approximate quantile cuts per
        # column in ONE pass; only (cols × 2^bits) doubles reach the
        # driver — metadata at any table size
        n_cells = 1 << bits
        probs = [i / n_cells for i in range(1, n_cells)]
        cuts = cur.approxQuantile(
            list(cols), probs, 1.0 / (4 * n_cells)
        )
        qs = [
            quantize_by_boundaries(c, b) for c, b in zip(cols, cuts)
        ]
        # Materialize the quantized values behind a GENERATE boundary
        # before Morton-interleaving: morton_code references each q
        # expression `bits` times (one shiftright per bit), each q is
        # a HOF fold over a 255-literal array, and HOFs are
        # CodegenFallback — CollapseProject would inline the fold
        # `bits`× per column per row (the plans/llm._with_tk trap,
        # review r12). explode(array(struct)) pins ONE evaluation.
        q_struct = F.explode(
            F.array(
                F.struct(
                    *[q.alias(f"q{i}") for i, q in enumerate(qs)]
                )
            )
        ).alias("__qs")
        z = morton_code(
            [F.col(f"__qs.q{i}") for i in range(len(qs))], bits
        )
        new_files = self._stage_rewrite(
            self._with_bucket(cur).select("*", q_struct).withColumn("__z", z),
            len(touched), "__z", int(rows_per_file), scratch=("__z", "__qs"),
        )
        return self._claim_or_rebase(
            self._build_delta(
                base_raw["schema"], base_bb, {b: [] for b in touched},
                operation="zorder", base_id=base_id,
                properties={"zorder.cols": ",".join(cols)},
                new_files=new_files,
            )
        )

    def overwrite(
        self,
        df: DataFrame,
        operation: str = "overwrite",
        properties: dict | None = None,
        max_retries: int = 5,
    ) -> int:
        """MAINTENANCE: replace the table's ENTIRE contents with
        ``df`` in one snapshot commit (Delta's dynamic-less overwrite
        / INSERT OVERWRITE TABLE) — the verb a whole-table transform
        rewrite needs when rows themselves change (e.g.
        :func:`..operators.similarity.ivf_refresh` reassigning every
        posting's cell after a codebook re-train: keys and buckets
        both move, so compact/zorder's row-preserving discipline
        can't carry it). ``df`` must match the table schema (columns
        are cast; missing or extra columns refuse loudly). Time
        travel keeps pre-overwrite snapshots readable until
        ``expire_snapshots``; the same commit CAS applies. O(table)
        by design — this IS the full rewrite."""
        return self._retry(
            "overwrite",
            lambda: self._claim_or_rebase(
                self._prepare_overwrite(df, operation, properties)
            ),
            max_retries,
        )

    def _prepare_overwrite(
        self,
        df: DataFrame,
        operation: str = "overwrite",
        properties: dict | None = None,
    ) -> "tuple[dict, int, dict]":
        """Everything OVERWRITE does up to — not including — the
        commit claim (the :meth:`_prepare_append` contract); claimed
        by :meth:`overwrite`, or as one member of a mixed-verb
        grouped transaction (:meth:`SnapshotGroup.apply_all` — e.g.
        an IVF posting rebalance committed in the same instant as its
        re-trained codebook). Never a no-op: overwriting with an
        empty frame EMPTIES the table."""
        base_id = self.current_id()
        if base_id is None:
            raise ValueError(
                f"snapshot table {self.table_dir}: no commits"
            )
        base_raw = self._raw_meta(base_id)
        self._adopt_layout(base_raw)
        schema = self._schema_of(base_raw)
        missing = [c for c in schema.names if c not in df.columns]
        extra = [c for c in df.columns if c not in schema.names]
        if missing or extra:
            raise ValueError(
                f"overwrite: frame must match the table schema "
                f"(missing {missing}, extra {extra}); evolve the "
                "schema through merge/append first"
            )
        aligned = df.select(
            *[
                F.col(f.name).cast(f.dataType).alias(f.name)
                for f in schema.fields
            ]
        )
        base_bb = self._by_bucket(base_id)
        # every existing bucket must be touched (its old files drop)
        # and every layout bucket may receive new rows
        touched = sorted(set(base_bb) | set(range(self.n_buckets)))
        new_files = self._stage_rewrite(
            self._with_bucket(aligned), self.n_buckets, self.order_col
        )
        return self._build_delta(
            self._rewrite_schema(base_raw["schema"], base_raw), base_bb,
            {b: [] for b in touched}, operation=operation, base_id=base_id,
            properties=properties, new_files=new_files,
        )

    def delete_where(
        self,
        predicate: str,
        max_retries: int = 5,
        properties: dict | None = None,
        mode: str = "cow",
    ) -> int:
        """Predicate DELETE as one snapshot commit — the
        ``DELETE FROM t WHERE ...`` Iceberg/Delta users reach for
        weekly (VERDICT r10 item 4), completing the DML triad next to
        MERGE (upserts) and APPEND (insert-only). Rows where
        ``predicate`` evaluates TRUE are removed; FALSE and NULL rows
        survive (SQL DELETE semantics).

        ``mode`` picks the physical strategy (round 14 — VERDICT r13
        item 2):

        * ``"cow"`` (default, the pre-r14 behavior): copy-on-write —
          every file holding a matching row is rewritten without its
          matches. Best when deletes are dense (a rewritten file
          amortizes) or downstream reads dominate.
        * ``"mor"``: merge-on-read deletion vectors — the Iceberg v2
          positional-delete / Delta DV pattern. The commit writes
          O(matched rows) of (file, position) pairs to ONE sidecar
          parquet and re-points manifest entries; data files are
          NEVER rewritten. Readers anti-join the positions back out;
          :meth:`compact` (or any COW rewrite touching the file)
          folds them in. Best for selective deletes on huge tables —
          the weekly GDPR batch at 100 TB deletes kilobytes instead
          of rewriting terabytes.

        Cost discipline, in pruning order:

        1. **File-level stats prune** — :func:`predicate_bounds`
           extracts per-column ``[lo, hi]`` bounds implied by the
           predicate; files whose footer stats can't overlap are not
           even READ (same machinery as :meth:`read_where`; with
           range-sorted or Z-ordered layout the prune skips most of
           the table).
        2. **File-level copy-on-write** — only files that (a) might
           match by stats AND (b) live in a bucket where at least one
           row ACTUALLY matched are rewritten; every other file —
           including non-candidate files inside rewritten buckets —
           carries by reference.
        3. **O(touched) commit** — the delta-manifest path; a no-match
           delete returns the current id with no empty commit.

        Runs under the same optimistic-concurrency contract as every
        commit: CAS retry on a lost race, time travel preserved
        (deleted rows remain readable at pre-delete snapshots until
        ``expire_snapshots``), and the predicate is recorded on the
        manifest as the ``delete.predicate`` property for audit.

        All three row-level DML verbs (this one, :meth:`update_where`
        and :meth:`delete_keys`) share one pipeline per attempt,
        :meth:`_dml_once`: ``touched = prune(...)`` — the predicate's
        stats + bloom split, or the keys' layout hash — then one
        candidate read marking each row's ``__hit``, then
        ``effect = rewrite(touched) | dv(touched)`` — a copy-on-write
        rewrite of the touched buckets, or a deletion-vector sidecar
        of the hit positions — then ``commit(effect)`` under the
        shared CAS retry (:meth:`_retry`)."""
        if mode not in ("cow", "mor"):
            raise ValueError(
                f"delete_where: mode must be 'cow' or 'mor', got {mode!r}"
            )
        audit = {"delete.predicate": predicate}
        if mode == "mor":
            audit["delete.mode"] = "mor"
        return self._retry(
            "delete_where",
            lambda: self._dml_once(
                properties, audit, mode == "mor", predicate=predicate
            ),
            max_retries,
        )

    @staticmethod
    def _buckets_of(df: DataFrame) -> list:
        """Sorted distinct ``__bucket`` ids of ``df`` — ≤ n_buckets
        ids collected, metadata, never data."""
        return sorted(
            r["__bucket"]
            for r in df.select("__bucket").distinct().collect()
        )

    def _dml_once(
        self,
        properties: dict | None,
        audit: dict,
        mor: bool,
        predicate: str | None = None,
        keys_df: DataFrame | None = None,
        assignments: dict[str, str] | None = None,
    ) -> int:
        """One attempt of a row-level DML verb: ``delete_where`` (a
        ``predicate``), ``update_where`` (a ``predicate`` and
        ``assignments``) or ``delete_keys`` (a ``keys_df``), in
        copy-on-write or merge-on-read (``mor``) form.

        * **Prune.** A predicate splits files by footer stats and
          blooms (:meth:`_split_candidates`); disjoint files carry by
          reference. A keys frame is CAST to the table's key types
          before hashing AND matching — Spark's hash is type-sensitive
          (hash(7 as int) != hash(7 as long)), so an int-typed keys
          frame against a long-keyed table would prune the wrong
          buckets and SILENTLY DELETE NOTHING (the read_matching
          alignment, review r11) — then deduped and persisted, since
          it feeds both the bucket-target collect and the match join
          (without the pin a nondeterministic lineage could hash one
          version and join another). Only its buckets' files are
          candidates.
        * **Hit.** One read of the candidates marks each row's
          ``__hit``: the predicate with NULL as FALSE (SQL DML
          semantics — NULL rows survive), or a NULL-SAFE left join
          against the keys. Merge-on-read keeps only the hits — the
          predicate as a filter, the keys as a left-semi join — so
          its plans carry no ``__hit`` column.
        * **Effect.** Copy-on-write rewrites the touched buckets —
          those holding an actual hit — with their survivors (delete)
          or every row with the assignments applied to the hits
          (update) through :meth:`_stage_rewrite`; candidate files of
          untouched buckets and non-candidate files carry by
          reference. Merge-on-read
          hands the hits' ``(__fname, __pos)`` to :meth:`_commit_dv`,
          the updated rows riding along as ``extra_files``; data files
          are never rewritten, and the DV-applied read means a row an
          earlier vector deleted can never be matched twice.

        The commit records the verb's ``audit`` properties (caller
        properties win) and its read set — ``read.predicate``, or the
        PROBED ``read.buckets`` (matched or not: the rebase overlap
        check validates reads too, the write-skew guard) — so a lost
        CAS can rebase (:meth:`_rebase_commit`); both effects build
        their manifest with :meth:`_build_delta` and claim it through
        :meth:`_claim_or_rebase`. Nothing matched: returns the base id,
        no empty commit."""
        from pyspark import StorageLevel

        base_id = self.current_id()
        if base_id is None:
            raise ValueError(
                f"snapshot table {self.table_dir}: no commits"
            )
        if assignments is not None and not assignments:
            raise ValueError(
                "update_where: empty assignments (a no-op rewrite "
                "would still burn I/O and a history entry)"
            )
        base_raw = self._raw_meta(base_id)
        self._adopt_layout(base_raw)
        schema = self._schema_of(base_raw)
        if assignments:
            frozen = (
                set(self.key_cols) | {self.order_col} | set(self.bucket_cols)
            )
            bad = sorted(set(assignments) & frozen)
            if bad:
                raise ValueError(
                    f"update_where: cannot assign key/order/bucket "
                    f"columns {bad} (use merge with a new row instead)"
                )
            unknown = sorted(set(assignments) - set(schema.fieldNames()))
            if unknown:
                raise ValueError(
                    f"update_where: unknown columns {unknown}"
                )
            # SQL UPDATE semantics: every SET expression evaluates
            # against the PRE-update row — withColumns applies all
            # assignments in ONE projection, so {'a': 'b', 'b': 'a'}
            # is a swap, not dict-order-dependent (review r11).
            sets = {
                col: F.expr(expr).cast(schema[col].dataType)
                for col, expr in assignments.items()
            }
        base_bb = self._by_bucket(base_id)
        props = dict(properties or {})
        for k, v in audit.items():
            props.setdefault(k, v)
        operation = "update" if assignments else "delete"
        pinned: list[DataFrame] = []
        try:
            if keys_df is None:
                cand, kept = self._split_candidates(
                    base_bb, predicate_bounds(predicate)
                )
                spark = self.spark
                hit = F.coalesce(F.expr(predicate), F.lit(False))
                read_set = {"read.predicate": predicate}
            else:
                keys = (
                    keys_df.select(
                        *[
                            F.col(k).cast(schema[k].dataType).alias(k)
                            for k in self.key_cols
                        ]
                    )
                    .dropDuplicates(self.key_cols)
                    .persist(StorageLevel.MEMORY_AND_DISK)
                )
                pinned.append(keys)
                target = self._buckets_of(self._with_bucket(keys))
                cand = {
                    b: self._entries(base_bb[b])
                    for b in target
                    if self._loc_n(base_bb.get(b, []))
                }
                kept = {}
                # the keys frame's own session — inside foreachBatch
                # the micro-batch belongs to a cloned session and a
                # join must not cross sessions (the _prepare_merge rule)
                spark = keys_df.sparkSession
                marked = keys.select(
                    *[F.col(k).alias(f"__k_{k}") for k in self.key_cols]
                )
                on = self._null_safe_keys("__k_")
                read_set = {"read.buckets": [int(b) for b in target]}
            if not cand:
                return base_id  # stats/bloom/layout prove no match
            rows = self._read_entries(
                [f for fs in cand.values() for f in fs],
                schema, spark=spark, keep_meta=mor,
            )
            if mor:
                matched = (
                    rows.filter(hit)
                    if keys_df is None
                    else rows.join(marked, on, "left_semi")
                )
                if not assignments:
                    matched = matched.select("__fname", "__pos")
                matched = matched.persist(StorageLevel.MEMORY_AND_DISK)
                pinned.append(matched)
                new_files = None
                if assignments:
                    # updated rows keep their keys, so they land in
                    # the buckets the dv flips already touch
                    updated = self._with_bucket(
                        matched.drop("__fname", "__pos")
                    ).withColumns(sets)
                    touched = self._buckets_of(updated)
                    if not touched:
                        return base_id
                    new_files = self._stage_rewrite(
                        updated, len(touched), self.order_col
                    )
                    matched = matched.select("__fname", "__pos")
                props.update(read_set)
                return self._commit_dv(
                    base_id, base_raw, base_bb, cand, matched, props,
                    extra_files=new_files, operation=operation,
                )
            cur = self._with_bucket(rows)
            if keys_df is None:
                cur = cur.withColumn("__hit", hit)
                miss = ~F.col("__hit")
                drop = ["__hit"]
            else:
                cur = cur.join(
                    marked.withColumn("__hit", F.lit(True)), on, "left"
                )
                miss = F.col("__hit").isNull()
                drop = ["__hit", *[f"__k_{k}" for k in self.key_cols]]
            cur = cur.persist(StorageLevel.MEMORY_AND_DISK)
            pinned.append(cur)
            touched = self._buckets_of(cur.filter("__hit"))
            if not touched:
                return base_id  # candidates held no actual match
            in_touched = F.col("__bucket").isin(touched)
            if assignments:
                out = cur.filter(in_touched).withColumns(
                    {
                        col: F.when(F.col("__hit"), e).otherwise(F.col(col))
                        for col, e in sets.items()
                    }
                )
            else:
                out = cur.filter(in_touched & miss)
            new_files = self._stage_rewrite(
                out.drop(*drop), len(touched), self.order_col
            )
        finally:
            for df in reversed(pinned):
                df.unpersist()
        if keys_df is not None:
            props.setdefault("delete.keys.buckets", len(touched))
        props.update(read_set)
        # Touched buckets: non-candidate files carry by reference, the
        # candidate files are replaced by the rewrite. Untouched
        # candidate buckets keep their original lists.
        return self._claim_or_rebase(
            self._build_delta(
                base_raw["schema"], base_bb,
                {b: list(kept.get(b, [])) for b in touched},
                operation=operation, base_id=base_id, properties=props,
                new_files=new_files,
            ),
            rebase_ok=True,
        )

    def _commit_dv(
        self,
        base_id: int,
        base_raw: dict,
        base_bb: dict,
        cand: dict,
        matched: DataFrame,
        props: dict,
        extra_files: list | None = None,
        operation: str = "delete",
    ) -> int:
        """Shared deletion-vector commit tail (round 14): given the
        matched ``(__fname, __pos)`` frame, write ONE position
        sidecar, flip the matched entries' ``dv`` references, and
        commit the O(touched buckets) manifest delta. Write-side
        fold: a file whose sidecar chain would exceed ``DV_CHAIN_MAX``
        gets its accumulated positions folded into the new sidecar
        and references only it — chains stay O(1) per file without
        waiting for compaction. Fully-deleted files (live rows hit
        zero) drop out of the manifest entirely; their bytes are
        reclaimed by ``expire_snapshots`` like any unreferenced file.

        Durability order matches data files: the sidecar is fully
        written and promoted to its immutable name BEFORE the
        manifest claim, so a crash in between leaves only an
        unreferenced orphan.

        ``extra_files`` (the updated rows of a merge-on-read
        ``update_where`` or ``merge_into``) are fresh staged entries
        appended into their buckets IN THE SAME commit as the dv
        flips — atomicity is the manifest claim, exactly as for every
        other verb. Both callers (the row-level DML verbs and
        :meth:`merge_into`) record their read set, so a lost claim may
        rebase."""
        import shutil

        counts = {
            r["__fname"]: r["n"]
            for r in matched.groupBy("__fname")
            .agg(F.count(F.lit(1)).alias("n"))
            .collect()  # ≤ touched files rows — metadata, never data
        }
        if not counts and not extra_files:
            return base_id  # candidates held no actual match
        by_fname = {
            os.path.basename(f["path"]): f
            for fs in cand.values()
            for f in fs
        }
        fold = [
            by_fname[fn]
            for fn in counts
            if len((by_fname[fn].get("dv") or {}).get("sidecars", ()))
            + 1
            > DV_CHAIN_MAX
        ]
        rel = None
        fold_names: set[str] = set()
        if counts:  # a pure-insert MERGE has no positions — no sidecar
            to_write = matched
            if fold:
                # the MATCHED frame's session, not self.spark: inside
                # foreachBatch the micro-batch belongs to a cloned
                # session and a union must not cross sessions (the
                # _prepare_merge rule; review r14)
                to_write = to_write.unionByName(
                    self._dv_pairs(fold, spark=matched.sparkSession)
                )
            run = uuid.uuid4().hex[:12]
            staging = os.path.join(self._data_dir, f".dv-staging-{run}")
            os.makedirs(self._data_dir, exist_ok=True)
            (
                to_write.select(
                    F.col("__fname").alias("fname"),
                    F.col("__pos").alias("pos"),
                )
                # one sidecar file: the deleted-position set is small
                # by regime (dense deletes belong to mode="cow");
                # sorted for per-file row-group locality on the
                # read-side merge
                .coalesce(1)
                .sortWithinPartitions("fname", "pos")
                .write.mode("overwrite")
                .parquet(staging)
            )
            part = next(
                p
                for p in sorted(os.listdir(staging))
                if p.endswith(".parquet")
            )
            name = f"dv-{run}.parquet"
            os.rename(
                os.path.join(staging, part),
                os.path.join(self._data_dir, name),
            )
            shutil.rmtree(staging, ignore_errors=True)
            rel = f"data/{name}"
            fold_names = {os.path.basename(f["path"]) for f in fold}
        touched_buckets = {by_fname[fn]["bucket"] for fn in counts}
        touched_buckets.update(f["bucket"] for f in extra_files or ())
        touched_new: dict[int, list[dict]] = {}
        for bkt in sorted(touched_buckets):
            lst = []
            for f in self._entries(base_bb.get(bkt, [])):
                fn = os.path.basename(f["path"])
                cnt = counts.get(fn)
                if cnt is None:
                    lst.append(f)  # untouched entry carries as-is
                    continue
                old = f.get("dv") or {}
                n = old.get("n", 0) + cnt
                if n >= f["rows"]:
                    continue  # fully deleted: drop the entry
                g = dict(f)
                g["dv"] = {
                    "n": n,
                    "sidecars": (
                        [rel]
                        if fn in fold_names
                        else [*old.get("sidecars", ()), rel]
                    ),
                }
                lst.append(g)
            touched_new[bkt] = lst
        return self._claim_or_rebase(
            self._build_delta(
                base_raw["schema"], base_bb, touched_new,
                operation=operation, base_id=base_id, properties=props,
                new_files=extra_files or (),
            ),
            rebase_ok=True,
        )

    def _split_candidates(
        self, base_bb: dict, bounds: dict
    ) -> "tuple[dict[int, list[dict]], dict[int, list[dict]]]":
        """Stats-prune split shared by the predicate verbs: per
        bucket, files whose footer stats could overlap the bounds
        (candidates — must be read) vs files proven disjoint (carried
        by reference). Absent stats degrade to must-read.

        String EQUALITY bounds (``lo == hi`` — the shape
        ``predicate_bounds`` derives from ``col = 'x'``) additionally
        consult the per-file bloom filters (round 13): a bloom
        negative proves the value absent from the file, so the file
        is pruned even when its min/max window covers the probe —
        exactly where truncate-16 prefix stats are blind (long shared
        prefixes, high-cardinality emails). Files without a bloom for
        the column stay candidates."""
        eq = {
            c: lo
            for c, (lo, hi) in bounds.items()
            if isinstance(lo, str) and lo == hi
        }
        # probe hashes are a (tiny) Spark job — computed LAZILY on
        # the first bloom-bearing entry, so bloom-less tables (every
        # pre-r13 table) pay nothing on this hot path (review r13)
        hashes: dict | None = None

        def may_match(f: dict) -> bool:
            nonlocal hashes
            st = f.get("stats") or {}
            for col, (lo, hi) in bounds.items():
                s = st.get(col)
                if s is not None and not _stats_overlap(s, lo, hi):
                    return False
            if eq:
                bl = f.get("bloom") or {}
                for col in eq:
                    e = bl.get(col)
                    if e is None:
                        continue
                    if hashes is None:
                        hashes = self._bloom_raw_hashes(eq)
                    if not _bloom_contains(e, hashes[col]):
                        return False
            return True

        cand: dict[int, list[dict]] = {}
        kept: dict[int, list[dict]] = {}
        for bkt, loc in base_bb.items():
            for f in self._entries(loc):
                side = cand if may_match(f) else kept
                side.setdefault(bkt, []).append(f)
        return cand, kept

    def _stage_rewrite(
        self,
        rows: DataFrame,
        parts: int,
        sort: str | None,
        max_records: int | None = None,
        scratch: tuple = (),
    ) -> list:
        """The one staged data write every committing verb runs:
        ``rows`` (carrying ``__bucket``) hash-repartitioned into
        ``parts`` tasks, written one directory per bucket under a
        unique ``.staging-<run>`` name (never visible to readers until
        the manifest claim) and promoted to immutable names; returns
        the new files' manifest entries.

        Within each file rows sort on ``sort`` — the order column for
        every verb but two, which keeps parquet ROW-GROUP statistics
        monotone so a pushed-down range predicate (read_range,
        read_where) skips row groups inside the files the
        manifest-level prune could not exclude; z-order sorts on its
        Morton code and rebucket (``None``) does not sort.
        ``max_records`` caps rows per file (z-order's
        ``rows_per_file`` split) and ``scratch`` names the columns
        only the sort needs (z-order's ``__z`` key and its ``__qs``
        quantized struct), dropped after it — named by the caller, as
        any ``__``-prefixed name rule would also drop a table's own
        ``__``-prefixed columns."""
        run = uuid.uuid4().hex[:12]
        staging = os.path.join(self._data_dir, f".staging-{run}")
        out = rows.repartition(parts, "__bucket")
        if sort is not None:
            out = out.sortWithinPartitions("__bucket", sort)
        if scratch:
            out = out.drop(*scratch)
        w = out.write.mode("overwrite")
        if max_records is not None:
            w = w.option("maxRecordsPerFile", max_records)
        w.partitionBy("__bucket").parquet(staging)
        return self._promote_staged(staging, run)

    def update_where(
        self,
        predicate: str,
        assignments: dict[str, str],
        max_retries: int = 5,
        properties: dict | None = None,
        mode: str = "cow",
    ) -> int:
        """Predicate UPDATE as one snapshot commit —
        ``UPDATE t SET col = expr WHERE ...``, completing the DML
        quartet (MERGE / APPEND / DELETE / UPDATE). Rows where
        ``predicate`` is TRUE get each ``assignments[col]`` SQL
        expression applied (cast back to the column's type — the
        schema never drifts through an update); FALSE/NULL rows pass
        through byte-identical.

        Same cost discipline as :meth:`delete_where`: predicate-bound
        stats prune at FILE level, rewrite only buckets holding an
        actual match, carry everything else by reference, O(touched)
        delta commit, no-match no-op, CAS retry, predicate recorded as
        a manifest property.

        ``mode="mor"`` (round 14 — the Delta DV-update shape): instead
        of rewriting every file holding a match, ONE commit marks the
        matched positions deleted via deletion vectors AND appends the
        updated rows as new files — I/O is O(matched rows), not
        O(touched files). The anonymize-in-place GDPR update at 100 TB
        touches kilobytes. Readers see the same result as COW
        (position anti-join + the appended rows); compaction folds as
        usual.

        Key, order, and bucket columns cannot be assigned (a key/
        bucket rewrite is a MERGE with a tombstone, not an update —
        the row would change identity and physical placement);
        unknown columns raise up front."""
        if mode not in ("cow", "mor"):
            raise ValueError(
                f"update_where: mode must be 'cow' or 'mor', got {mode!r}"
            )
        audit = {
            "update.predicate": predicate,
            "update.columns": sorted(assignments),
        }
        if mode == "mor":
            audit["update.mode"] = "mor"
        return self._retry(
            "update_where",
            lambda: self._dml_once(
                properties, audit, mode == "mor",
                predicate=predicate, assignments=assignments,
            ),
            max_retries,
        )

    def delete_keys(
        self,
        keys_df: DataFrame,
        max_retries: int = 5,
        properties: dict | None = None,
        mode: str = "cow",
    ) -> int:
        """Keyed delete: remove every row whose full key tuple
        appears in ``keys_df`` — the GDPR/right-to-be-forgotten
        primitive a corpus table runs in batches (a keys frame, not a
        key LIST: the deletion set can be millions of ids and never
        touches the driver).

        Pruning is by LAYOUT, not stats: the keys hash to their
        physical buckets through Spark's own hash (bucket ids — at
        most ``n_buckets`` integers — are the only thing collected),
        so only those buckets' files are read; buckets where no key
        actually matched carry by reference; matches are NULL-SAFE on
        every key column (a NULL key component deletes rows with the
        same NULL — the eqNullSafe lesson from the dedup family).

        ``mode="mor"`` (round 14) writes deletion vectors instead of
        rewriting files — see :meth:`delete_where`; for the keyed
        GDPR batch this is THE intended mode at scale (kilobytes of
        positions instead of terabytes of rewrite)."""
        sid0 = self.current_id()
        if sid0 is not None:  # adopt before validating (see append)
            self._adopt_layout(self._raw_meta(sid0))
        missing = [c for c in self.key_cols if c not in keys_df.columns]
        if missing:
            raise ValueError(
                f"delete_keys: keys frame is missing key columns "
                f"{missing}"
            )
        if mode not in ("cow", "mor"):
            raise ValueError(
                f"delete_keys: mode must be 'cow' or 'mor', got {mode!r}"
            )
        return self._retry(
            "delete_keys",
            lambda: self._dml_once(
                properties,
                {"delete.mode": "mor"} if mode == "mor" else {},
                mode == "mor", keys_df=keys_df,
            ),
            max_retries,
        )

    def merge_into(
        self,
        source: DataFrame,
        when_matched: str = "update",
        matched_condition: str | None = None,
        when_not_matched: str = "insert",
        max_retries: int = 5,
        properties: dict | None = None,
        mode: str = "cow",
    ) -> int:
        """SQL ``MERGE INTO`` with the canonical clause set (round 12
        — the conditional-DML verb next to the unconditional
        keep-latest :meth:`merge`):

        - ``WHEN MATCHED [AND matched_condition] THEN UPDATE SET *``
          (``when_matched="update"``: the target row is REPLACED by
          the source row — Delta's upsert-by-star shape) or
          ``THEN DELETE`` (``when_matched="delete"``) or ``"ignore"``;
        - ``WHEN NOT MATCHED THEN INSERT *``
          (``when_not_matched="insert"``) or ``"ignore"``.

        ``matched_condition`` is a SQL boolean over BOTH sides,
        target columns prefixed ``t_`` and source columns ``s_``
        (e.g. ``"s_value > t_value"`` — only update when newer); the
        action fires only where it evaluates TRUE (NULL = not fired,
        SQL semantics). ``source`` must carry every table column
        (keys, order, data — replacements and inserts are full rows;
        a delete-only keyed workload wants :meth:`delete_keys`).
        Duplicate SOURCE keys are refused loudly — the SQL MERGE
        cardinality rule (one source row per target key); target rows
        with duplicate keys (merge-on-read appends) each receive the
        action.

        Cost discipline (the :meth:`delete_keys` layout prune): every
        source row — matched or inserted — hashes to a source-key
        bucket, so only those buckets' files are read, only buckets
        with an actual action rewrite, everything else carries by
        reference; matching is NULL-SAFE on every key column.

        ``mode="mor"`` (round 14 — the deletion-vector MERGE): fired
        matched rows become position deletes, their replacements and
        the inserts append as new files, ONE commit — I/O is
        O(source-affected rows), never O(touched files). The daily
        upsert batch against a 100-TB fact table stops rewriting the
        buckets it grazes."""
        if mode not in ("cow", "mor"):
            raise ValueError(
                f"merge_into: mode must be 'cow' or 'mor', got {mode!r}"
            )
        if when_matched not in ("update", "delete", "ignore"):
            raise ValueError(
                f"merge_into: when_matched={when_matched!r} not in "
                "('update', 'delete', 'ignore')"
            )
        if when_not_matched not in ("insert", "ignore"):
            raise ValueError(
                f"merge_into: when_not_matched={when_not_matched!r} "
                "not in ('insert', 'ignore')"
            )
        return self._retry(
            "merge_into",
            lambda: self._merge_into_once(
                source, when_matched, matched_condition,
                when_not_matched, properties, mor=(mode == "mor"),
            ),
            max_retries,
        )

    def _merge_into_once(
        self,
        source: DataFrame,
        when_matched: str,
        matched_condition: str | None,
        when_not_matched: str,
        properties: dict | None,
        mor: bool = False,
    ) -> int:
        from pyspark import StorageLevel

        base_id = self.current_id()
        if base_id is None:
            raise ValueError(
                f"snapshot table {self.table_dir}: no commits — "
                "bootstrap with append()/merge(), then MERGE INTO"
            )
        base_raw = self._raw_meta(base_id)
        self._adopt_layout(base_raw)
        base_bb = self._by_bucket(base_id)
        schema = self._schema_of(base_raw)
        missing = [c for c in schema.names if c not in source.columns]
        if missing:
            raise ValueError(
                f"merge_into: source is missing table columns "
                f"{missing} (full rows required — see docstring)"
            )
        # align to the table schema (types cast — the type-sensitive
        # hash lesson) and pin: the source feeds the cardinality
        # check, the bucket-target collect, the match join, and the
        # insert anti-join
        src = source.select(
            *[
                F.col(f.name).cast(f.dataType).alias(f.name)
                for f in schema.fields
            ]
        ).persist(StorageLevel.MEMORY_AND_DISK)
        try:
            dup = (
                src.groupBy(*self.key_cols)
                .agg(F.count(F.lit(1)).alias("__n"))
                .filter(F.col("__n") > 1)
                .limit(1)
                .count()
            )
            if dup:
                raise ValueError(
                    "merge_into: source has duplicate keys — SQL "
                    "MERGE requires at most one source row per "
                    "target key"
                )
            target = self._buckets_of(self._with_bucket(src))
            cand = {
                b: self._entries(base_bb[b])
                for b in target
                if self._loc_n(base_bb.get(b, []))
            }
            cand_ents = [f for fs in cand.values() for f in fs]
            base_rows = self._with_bucket(
                self._read_entries(
                    cand_ents, schema, spark=source.sparkSession,
                    keep_meta=mor,
                )
            )
            s_pref = src.select(
                *[F.col(c).alias(f"__s_{c}") for c in schema.names],
                F.lit(True).alias("__s_present"),
            )
            joined = base_rows.join(
                s_pref, self._null_safe_keys("__s_"), "left"
            )
            if matched_condition is not None:
                # The condition resolves against a frame exposing
                # ONLY the t_/s_ prefixed names — the original row is
                # packed into a struct first, so a table that itself
                # has a column named t_x/s_x can never make the
                # documented prefix syntax ambiguous (review r12).
                cview = joined.select(
                    F.struct(*joined.columns).alias("__row"),
                    *[
                        F.col(c).alias(f"t_{c}")
                        for c in schema.names
                    ],
                    *[
                        F.col(f"__s_{c}").alias(f"s_{c}")
                        for c in schema.names
                    ],
                )
                fired = F.coalesce(
                    F.expr(matched_condition), F.lit(False)
                )
                joined = cview.withColumn(
                    "__act",
                    F.coalesce(F.col("__row.__s_present"), F.lit(False))
                    & fired,
                ).select("__row.*", "__act")
            else:
                joined = joined.withColumn(
                    "__act",
                    F.coalesce(F.col("__s_present"), F.lit(False)),
                )
            joined = joined.persist(StorageLevel.MEMORY_AND_DISK)
            try:
                if when_matched == "ignore":
                    # matched rows pass through untouched — a match
                    # alone must not force a bucket rewrite
                    act_buckets: set = set()
                else:
                    act_buckets = set(
                        self._buckets_of(joined.filter("__act"))
                    )
                if when_not_matched == "insert":
                    inserts = src.join(
                        joined.select(
                            *[
                                F.col(k).alias(f"__b_{k}")
                                for k in self.key_cols
                            ]
                        ).dropDuplicates(),
                        self._null_safe_keys("__b_"),
                        "left_anti",
                    ).persist(StorageLevel.MEMORY_AND_DISK)
                    ins_buckets = set(
                        self._buckets_of(self._with_bucket(inserts))
                    )
                else:
                    inserts = None
                    ins_buckets = set()
                touched = sorted(act_buckets | ins_buckets)
                if not touched:
                    return base_id  # nothing fired anywhere — no-op
                if mor:
                    # deletion-vector MERGE: fired matched rows are
                    # position deletes; replacements + inserts append
                    # as new files; ONE commit carries both
                    to_stage = None
                    if when_matched == "update":
                        to_stage = joined.filter("__act").select(
                            "__bucket",
                            *[
                                F.col(f"__s_{c}").alias(c)
                                for c in schema.names
                            ],
                        )
                    if inserts is not None:
                        ins_b = self._with_bucket(inserts)
                        to_stage = (
                            ins_b
                            if to_stage is None
                            else to_stage.unionByName(ins_b)
                        )
                    stage_buckets = sorted(
                        (
                            act_buckets
                            if when_matched == "update"
                            else set()
                        )
                        | ins_buckets
                    )
                    new_files = (
                        self._stage_rewrite(
                            to_stage, len(stage_buckets), self.order_col
                        )
                        if to_stage is not None and stage_buckets
                        else []
                    )
                    if when_matched == "ignore":
                        positions = source.sparkSession.createDataFrame(
                            [], "__fname string, __pos long"
                        )
                    else:
                        positions = joined.filter("__act").select(
                            "__fname", "__pos"
                        )
                    props = dict(properties or {})
                    props.setdefault(
                        "merge_into.when_matched", when_matched
                    )
                    props.setdefault(
                        "merge_into.when_not_matched", when_not_matched
                    )
                    props.setdefault("merge_into.mode", "mor")
                    # every source key's bucket, matched or not — the
                    # rebase overlap check validates reads too
                    # (write-skew guard)
                    props["read.buckets"] = [int(b) for b in target]
                    if matched_condition is not None:
                        props.setdefault(
                            "merge_into.matched_condition",
                            matched_condition,
                        )
                    return self._commit_dv(
                        base_id, base_raw, base_bb, cand, positions,
                        props, extra_files=new_files,
                        operation="merge_into",
                    )
                if when_matched == "update":
                    kept = joined.select(
                        "__bucket",
                        *[
                            F.when(
                                F.col("__act"), F.col(f"__s_{c}")
                            )
                            .otherwise(F.col(c))
                            .alias(c)
                            for c in schema.names
                        ],
                    )
                elif when_matched == "delete":
                    kept = joined.filter(~F.col("__act")).select(
                        "__bucket", *schema.names
                    )
                else:  # ignore — matched rows pass through untouched
                    kept = joined.select("__bucket", *schema.names)
                rows = kept.filter(F.col("__bucket").isin(touched))
                if inserts is not None:
                    rows = rows.unionByName(
                        self._with_bucket(inserts).filter(
                            F.col("__bucket").isin(touched)
                        )
                    )
                new_files = self._stage_rewrite(
                    rows, len(touched), self.order_col
                )
            finally:
                joined.unpersist()
                if inserts is not None:
                    inserts.unpersist()
        finally:
            src.unpersist()
        props = dict(properties or {})
        props.setdefault("merge_into.when_matched", when_matched)
        props.setdefault("merge_into.when_not_matched", when_not_matched)
        if matched_condition is not None:
            props.setdefault(
                "merge_into.matched_condition", matched_condition
            )
        # every source key's bucket, matched or not — the rebase
        # overlap check validates reads too (write-skew guard)
        props["read.buckets"] = [int(b) for b in target]
        return self._claim_or_rebase(
            self._build_delta(
                base_raw["schema"], base_bb, {b: [] for b in touched},
                operation="merge_into", base_id=base_id, properties=props,
                new_files=new_files,
            ),
            rebase_ok=True,
        )

    def _null_safe_keys(self, pref: str):
        """eqNullSafe join condition src.key <=> <pref>key."""
        cond = None
        for k in self.key_cols:
            c = F.col(k).eqNullSafe(F.col(f"{pref}{k}"))
            cond = c if cond is None else (cond & c)
        return cond

    def _prepare_merge(
        self,
        batch_df: DataFrame,
        tombstone_filter: str | None,
        properties: dict | None = None,
    ) -> "tuple[dict, int, dict] | int":
        """Everything MERGE does up to — not including — the commit
        claim (see :meth:`_prepare_append` for the contract); claimed
        by :meth:`merge`, or as one member of a grouped transaction
        (:meth:`SnapshotGroup.merge_all`)."""
        from pyspark import StorageLevel

        base_id = self.current_id()
        base_bb: dict = {}
        if base_id:
            # Config + schema come from the RAW manifest (O(1) read)
            # and file lists from the structurally-shared per-bucket
            # view — the merge hot path must never materialize the
            # flat O(F) files list (VERDICT r09 item 5). The on-disk
            # layout is the truth: adopt the current manifest's bucket
            # count so a handle constructed with a stale value (or
            # racing a rebucket — the CAS retry re-enters here) can
            # never mix layouts in one snapshot.
            base_raw = self._raw_meta(base_id)
            self._adopt_layout(base_raw)
            base_bb = self._by_bucket(base_id)
        # validated AFTER adoption (round 16 review: post-rename key/
        # order names are the ones a batch must carry)
        missing = [
            c
            for c in (*self.key_cols, self.order_col)
            if c not in batch_df.columns
        ]
        if missing:
            raise ValueError(
                f"merge: batch is missing key/order columns {missing}"
            )

        # Pin the bucketed batch across its TWO consumers (round 17,
        # guide §5): the touched-bucket probe job and the staged
        # write both execute the batch lineage — which for the
        # incremental operators is itself a join/aggregation tree —
        # so without the pin the batch is computed twice per merge.
        # Released in the finally below; O(batch) memory-and-disk,
        # exactly the bytes the merge already moves.
        b = self._with_bucket(batch_df).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        try:
            touched = self._buckets_of(b)
            if not touched:
                # Empty batch: leave history clean (the caller's run
                # is still checkpoint-tracked); first-ever commit
                # records an empty snapshot so the table becomes
                # readable. If the caller asked to stamp PROPERTIES,
                # an existing table gets a metadata-only commit (all
                # base files carried by reference, an O(1)-manifest
                # delta with zero bucket entries) instead of a silent
                # return — otherwise an IVM view's `reflects_base`
                # watermark would lag on no-op batches and every later
                # fold would walk changes() across a growing span,
                # breaking latest_property's documented "stamped on
                # every commit reads ONE manifest" fast path
                # (ADVICE r08).
                if base_id is not None and not properties:
                    return base_id
                return self._build_delta(
                    base_raw["schema"]
                    if base_id
                    else b.drop("__bucket").schema.json(),
                    base_bb, {}, operation="merge", base_id=base_id,
                    properties=properties,
                )
            replaced = [
                f
                for bkt in touched
                for f in self._entries(base_bb.get(bkt, []))
            ]
            if replaced:
                # Use the batch's own session (inside foreachBatch the
                # micro-batch frame belongs to a cloned session; a
                # union must not cross sessions). Aligned to the BASE
                # schema so files predating an earlier evolution read
                # consistently.
                cur = self._read_entries(
                    replaced,
                    self._schema_of(base_raw),
                    spark=b.sparkSession,
                )
                # allowMissingColumns = ADDITIVE schema evolution: a
                # batch with a new column widens the table (old rows
                # read NULL); a batch from an old writer gets NULLs
                # for newer columns. Same-name type conflicts fail
                # loudly inside unionByName.
                merged = self._with_bucket(cur).unionByName(
                    b, allowMissingColumns=True
                )
            elif base_id:
                # No touched bucket has existing files, but the table
                # has a schema history: union against an EMPTY frame
                # in the base manifest's schema so the recorded schema
                # is always base ∪ batch. Without this, a batch from
                # an old writer landing only in currently-empty
                # buckets would NARROW the manifest schema and
                # _aligned_read would silently drop the newer columns
                # still present in carried-forward files — breaking
                # the additive-evolution contract on exactly the path
                # that skips the unionByName above.
                empty_base = b.sparkSession.createDataFrame(
                    [], self._schema_of(base_raw)
                )
                merged = self._with_bucket(empty_base).unionByName(
                    b, allowMissingColumns=True
                )
            else:
                merged = b
            w = Window.partitionBy(*self.key_cols).orderBy(
                F.col(self.order_col).desc()
            )
            latest = (
                merged.withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .drop("__rn")
            )
            if tombstone_filter is not None:
                latest = latest.filter(f"NOT ({tombstone_filter})")
            new_files = self._stage_rewrite(
                latest, len(touched), self.order_col
            )
        finally:
            b.unpersist()
        # Touched buckets map to their new file lists — a bucket whose
        # every row was tombstoned stages nothing and records [] (the
        # emptied-bucket delta entry). Untouched buckets are carried
        # BY REFERENCE through base_bb; nothing O(table) is built.
        return self._build_delta(
            latest.drop("__bucket").schema.json(), base_bb,
            {bkt: [] for bkt in touched}, operation="merge",
            base_id=base_id, properties=properties, new_files=new_files,
        )

    def _promote_staged(self, staging: str, run: str) -> list[dict]:
        """Move staged bucket files to immutable names under data/;
        returns their manifest entries (path, bucket, rows, and —
        when the footer has them — JSON-safe ``order_min``/
        ``order_max`` stats over the order column, the file-level
        pruning metadata :meth:`read_range` uses)."""
        import shutil

        import pyarrow.parquet as pq

        os.makedirs(self._data_dir, exist_ok=True)
        new_files = []
        for entry in sorted(os.listdir(staging)):
            if not entry.startswith("__bucket="):
                continue
            bucket = int(entry.split("=", 1)[1])
            part_dir = os.path.join(staging, entry)
            for i, part in enumerate(
                sorted(p for p in os.listdir(part_dir) if p.endswith(".parquet"))
            ):
                name = f"{run}-b{bucket}-{i}.parquet"
                dst = os.path.join(self._data_dir, name)
                os.rename(os.path.join(part_dir, part), dst)
                meta = pq.ParquetFile(dst).metadata
                rec = {
                    "path": f"data/{name}", "bucket": bucket,
                    "rows": meta.num_rows,
                }
                lo, hi = self._order_stats(meta)
                if lo is not None:
                    rec["order_min"], rec["order_max"] = lo, hi
                stats, trunc = self._column_stats(meta)
                if stats:
                    rec["stats"] = stats
                    # stats-exactness protocol marker (round 13): the
                    # KEY's presence says "bounds are exact-attained
                    # unless the column appears here" — entries
                    # without it (pre-r13) only prove a string LOWER
                    # exact (len<16 ⇒ the prefix truncation didn't
                    # fire); their string uppers must be re-verified
                    # against data (agg_stats's fallback read).
                    rec["sx"] = trunc
                nulls = self._column_nulls(meta)
                if nulls:
                    rec["nulls"] = nulls
                new_files.append(rec)
        shutil.rmtree(staging, ignore_errors=True)
        if self.bloom_cols:
            self._attach_blooms(new_files)
        return new_files

    def _attach_blooms(self, new_files: list[dict]) -> None:
        """Build per-file bloom bitsets for ``bloom_cols`` over a
        commit's NEW files (one distributed pass over the batch —
        the cost discipline Iceberg pays inside its parquet writer;
        carried-by-reference files keep the blooms they were written
        with). Each entry gains ``bloom = {col: {m, k, b}}``. Bits
        are set via Spark's own ``hash``/``pmod`` so the driver-side
        probe (:func:`_bloom_contains` over :meth:`_bloom_raw_hashes`)
        can never disagree with the build. Sizing is per-file
        (16 bits/row, 8 KiB cap — see the module constants); an
        all-NULL or absent column packs an all-zero bitset, which
        soundly prunes every equality probe (NULL never equals).

        Driver payload: per (file, col), ONE packed base64 bitset
        (≤ 8 KiB — the positions are packed executor-side by an
        applyInPandas group aggregate, so a huge commit's driver
        payload is files × cols × cap bytes, never position sets),
        never data rows."""
        live = [f for f in new_files if f["rows"]]
        for f in new_files:
            if not f["rows"]:
                continue
            f["bloom"] = {
                c: {
                    "m": _bloom_nbits(f["rows"]),
                    "k": _BLOOM_K,
                    "b": _bloom_pack([], _bloom_nbits(f["rows"])),
                }
                for c in self.bloom_cols
            }
        if not live:
            return
        paths = [os.path.join(self.table_dir, f["path"]) for f in live]
        df = self.spark.read.parquet(*paths)
        present = [c for c in self.bloom_cols if c in df.columns]
        for c in present:
            if not isinstance(df.schema[c].dataType, T.StringType):
                raise ValueError(
                    f"bloom_cols are string-only (numeric equality "
                    f"prunes via footer stats already): {c!r} is "
                    f"{df.schema[c].dataType.simpleString()}"
                )
        if not present:
            return
        base = F.element_at(F.split(F.input_file_name(), "/"), -1)
        m_df = self.spark.createDataFrame(
            [
                (os.path.basename(f["path"]), _bloom_nbits(f["rows"]))
                for f in live
            ],
            "__base string, __m int",
        )
        def pack_group(pdf):
            # Deliberately re-implements _bloom_pack's little-endian
            # bit layout INLINE: worker closures must be
            # self-contained (a module-global reference would pickle
            # by reference and fail where workers can't import this
            # package — the /tmp-driven verify contract). The layout
            # is pinned against _bloom_pack by
            # tests/test_snapshot_bloom.py's no-false-negative fuzz.
            import base64 as _b64

            import pandas as _pd

            m = int(pdf["__m"].iloc[0])
            data = bytearray(m // 8)
            for p in pdf["p"]:
                p = int(p)
                data[p // 8] |= 1 << (p % 8)
            return _pd.DataFrame(
                {
                    "__base": [pdf["__base"].iloc[0]],
                    "col": [pdf["col"].iloc[0]],
                    "b64": [
                        _b64.b64encode(bytes(data)).decode("ascii")
                    ],
                }
            )

        packed = (
            df.select(base.alias("__base"), *present)
            .join(F.broadcast(m_df), "__base")
            .select(
                "__base",
                "__m",
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(c).alias("col"),
                                F.when(
                                    F.col(c).isNotNull(),
                                    F.array(
                                        *[
                                            F.pmod(
                                                F.hash(
                                                    F.col(c), F.lit(s)
                                                ),
                                                F.col("__m"),
                                            )
                                            for s in range(_BLOOM_K)
                                        ]
                                    ),
                                )
                                .otherwise(F.array())
                                .alias("pos"),
                            )
                            for c in present
                        ]
                    )
                ).alias("cp"),
            )
            .select(
                "__base", "__m", "cp.col",
                F.explode("cp.pos").alias("p"),
            )
            # map-side-combinable dedup BEFORE the group shuffle
            # (review r13): positions are bounded by the bitset size,
            # so every (file, col) group shrinks to ≤ m rows — a 50M-
            # row file contributes ≤65536 positions to the pack task,
            # never rows×k raw rows
            .distinct()
            .groupBy("__base", "col")
            .applyInPandas(
                pack_group, "__base string, col string, b64 string"
            )
            .collect()
        )
        by_base = {os.path.basename(f["path"]): f for f in live}
        for r in packed:
            f = by_base[r["__base"]]
            f["bloom"][r["col"]] = {
                "m": _bloom_nbits(f["rows"]),
                "k": _BLOOM_K,
                "b": r["b64"],
            }

    def _bloom_raw_hashes(self, values_by_col: dict) -> dict:
        """Un-modded 32-bit Spark hashes for each probe value, seeds
        0..k-1, computed THROUGH Spark's own ``hash`` on a 1-row
        local frame (the delete_keys bucket-probe discipline: the
        probe can never disagree with the build)."""
        if not values_by_col:
            return {}
        cols = sorted(values_by_col)
        row = (
            self.spark.range(1)
            .select(
                *[
                    F.hash(
                        F.lit(values_by_col[c]).cast("string"), F.lit(s)
                    ).alias(f"h_{i}_{s}")
                    for i, c in enumerate(cols)
                    for s in range(_BLOOM_K)
                ]
            )
            .first()
        )
        return {
            c: [row[f"h_{i}_{s}"] for s in range(_BLOOM_K)]
            for i, c in enumerate(cols)
        }

    def _column_stats(self, meta) -> tuple[dict, dict]:
        """Per-column ``{name: [min, max]}`` across a file's row
        groups, for every numeric or STRING top-level column with
        complete footer stats — the generic data-skipping metadata
        :meth:`read_where` prunes with (Iceberg's per-column
        lower/upper bounds in miniature). String bounds (round 12,
        VERDICT r11 item 3) are stored TRUNCATION-AWARE: lower =
        16-code-point prefix of the footer min (a prefix is always a
        valid, merely weaker, lower bound), upper =
        :func:`_truncate_upper` of the footer max (exact when short;
        the increment-last-code-point correction when truncated —
        which also covers a writer that silently prefix-truncated its
        footer max to LONGER than 16 points (see _truncate_upper's
        scope note); ``None`` = unbounded when
        every kept position is U+10FFFF). bool/binary/nested skip. A
        column missing anywhere in the file contributes nothing —
        absent stats degrade to must-read, never to wrong-prune.

        Second return (round 13): the truncation report
        ``{name: "lo"|"hi"|"both"}`` for string columns whose stored
        bound is a truncation, not the attained footer value — the
        exactness metadata :meth:`agg_stats` needs to answer
        ``min``/``max`` without opening files."""
        out: dict[str, list] = {}
        trunc: dict[str, str] = {}
        if meta.num_row_groups == 0:
            return out, trunc
        return self._column_stats_body(meta, out, trunc)

    def _column_nulls(self, meta) -> dict:
        """Per-column NULL counts across a file's row groups (round
        13 — the metadata behind exact ``count(col)`` in
        :meth:`agg_stats`, Iceberg's ``null_value_counts``): recorded
        only when EVERY row group reports ``null_count`` (absent
        degrades to a fallback read, never a wrong count). All
        top-level columns participate — null counts don't need the
        min/max type restrictions."""
        nulls: dict[str, int] = {}
        if meta.num_row_groups == 0:
            return nulls
        for i in range(meta.num_columns):
            name = meta.row_group(0).column(i).path_in_schema
            if "." in name:
                continue
            total = 0
            ok = True
            for rg in range(meta.num_row_groups):
                st = meta.row_group(rg).column(i).statistics
                if st is None or not st.has_null_count:
                    ok = False
                    break
                total += st.null_count
            if ok:
                nulls[name] = total
        return nulls

    def _column_stats_body(self, meta, out, trunc):
        for i in range(meta.num_columns):
            col = meta.row_group(0).column(i)
            name = col.path_in_schema
            if "." in name:  # nested leaf — not a top-level column
                continue
            mins, maxs = [], []
            ok = True
            for rg in range(meta.num_row_groups):
                st = meta.row_group(rg).column(i).statistics
                if st is None or not st.has_min_max:
                    ok = False
                    break
                mins.append(st.min)
                maxs.append(st.max)
            if not ok:
                continue
            lo, hi = min(mins), max(maxs)
            if isinstance(lo, str) and isinstance(hi, str):
                s_lo, s_hi = lo[:_STATS_TRUNC], _truncate_upper(hi)
                out[name] = [s_lo, s_hi]
                t = ("lo" if s_lo != lo else "") + (
                    "hi" if s_hi != hi else ""
                )
                if t:
                    trunc[name] = "both" if t == "lohi" else t
                continue
            if isinstance(lo, bool) or not isinstance(lo, (int, float)):
                continue
            # NaN/inf bounds would serialize as the non-RFC JSON
            # tokens `NaN`/`Infinity` — Python round-trips them but
            # any external manifest consumer breaks. Skip the column:
            # absent stats degrade to must-read (ADVICE r08).
            if any(
                isinstance(v, float) and not math.isfinite(v)
                for v in (lo, hi)
            ):
                continue
            out[name] = [lo, hi]
        return out, trunc

    def read_where(
        self, column: str, lo, hi, snapshot_id: int | None = None
    ) -> DataFrame:
        """File-pruned read on ANY numeric or string column: open
        only files whose manifest ``stats[column] = [min, max]``
        overlaps ``[lo, hi]`` — :meth:`read_range` generalized from
        the order column to arbitrary data-skipping (the "WHERE value
        BETWEEN" scan a 100 TB pipeline runs constantly; with
        range-sorted or Z-ordered layout the bounds become selective
        and the prune skips most of the table). String stats are
        truncation-aware (round 12 — see :meth:`_column_stats`); a
        ``None`` stored upper means unbounded. Files without recorded
        stats for ``column`` are conservatively read; the exact
        predicate is applied after the prune either way, so pruning
        can only skip files proven irrelevant.

        ``lo``/``hi`` must live in ONE domain (both strings or both
        numbers; ADVICE r12): a mixed pair is refused here with a
        clear error instead of surfacing as a mid-prune TypeError or
        an engine-side cast failure deep in the scan."""
        if isinstance(lo, str) != isinstance(hi, str):
            raise TypeError(
                f"read_where({column!r}): lo and hi must both be "
                f"strings or both numeric, got {type(lo).__name__} "
                f"and {type(hi).__name__}"
            )
        sid = self.current_id() if snapshot_id is None else snapshot_id
        if sid is None:
            raise ValueError(f"snapshot table {self.table_dir}: no commits")
        m = self._manifest(sid)
        # a string POINT probe (lo == hi) additionally consults the
        # per-file blooms (round 13) — see _split_candidates; hashes
        # are computed lazily on the first bloom-bearing entry so
        # bloom-less tables pay no extra Spark job (review r13)
        is_point = isinstance(lo, str) and lo == hi
        hs: list | None = None

        def must_read(f: dict) -> bool:
            nonlocal hs
            if is_point:
                e = (f.get("bloom") or {}).get(column)
                if e is not None:
                    if hs is None:
                        hs = self._bloom_raw_hashes({column: lo})[
                            column
                        ]
                    if not _bloom_contains(e, hs):
                        return False
            s = (f.get("stats") or {}).get(column)
            if s is None:
                return True
            return _stats_overlap(s, lo, hi)

        files = [f for f in m["files"] if must_read(f)]
        return self._read_entries(files, self._schema_of(m)).filter(
            F.col(column).between(F.lit(lo), F.lit(hi))
        )

    def read_pred(
        self, predicate: str, snapshot_id: int | None = None
    ) -> DataFrame:
        """File-pruned read for an arbitrary SQL predicate — the
        read-side sibling of :meth:`delete_where`'s prune (round 13):
        :func:`predicate_bounds` mines per-column ``[lo, hi]`` bounds
        from a provable AND-chain, files disjoint from ANY bound are
        never opened, string EQUALITY conjuncts additionally consult
        the per-file bloom filters, and the exact predicate applies
        after the prune (rows where it evaluates TRUE — SQL WHERE
        semantics). An unparseable predicate degrades to a full scan
        with the filter applied, never to a wrong answer.

        This is the ``WHERE a BETWEEN x AND y AND email = 'z'`` scan
        :meth:`read_where` can't express (one column, one window);
        with range-sorted or Z-ordered layout plus blooms the
        multi-conjunct prune intersects."""
        sid = self.current_id() if snapshot_id is None else snapshot_id
        if sid is None:
            raise ValueError(f"snapshot table {self.table_dir}: no commits")
        cand, _ = self._split_candidates(
            self._by_bucket(sid), predicate_bounds(predicate)
        )
        # config view only (review r13): the schema is all we need —
        # materializing the flat O(F) file list here would defeat the
        # prune's point on a 10⁶-file table (the read_keys rule)
        schema = self._schema_of(self._raw_meta(sid))
        return self._read_entries(
            [f for fs in cand.values() for f in fs], schema
        ).filter(F.expr(predicate))

    def agg_stats(
        self, columns=(), snapshot_id: int | None = None
    ) -> dict:
        """METADATA-ONLY aggregates (round 13 — Iceberg's metadata
        tables / Delta's stats-only scans in miniature): answer
        ``count(*)``, per-bucket row counts, and per-column exact
        ``min``/``max`` from the manifest at the current (or given)
        anchor — O(manifest entries) driver work, ZERO data files
        opened on the common path. On a 100 TB table the daily
        "how many rows / what's the watermark" probe is the most-run
        query there is; manifests already carry exact per-file
        ``rows`` and per-column ``[min, max]`` footer bounds, so
        reading data for it is pure waste.

        Exactness discipline — the answer is always EXACT, never a
        bound: a numeric bound is the attained footer value by
        construction; a string bound is attained unless the 16-point
        truncation fired, which entries record in their ``sx``
        marker (``_column_stats``'s truncation report; pre-r13
        entries lack the marker, where only a sub-16-length LOWER is
        provably untruncated). Files whose bounds are inexact or
        absent for a column — and could therefore MOVE the answer
        past the best exact bound — are read (one batched
        ``_aligned_read`` over the union), and the scan result is
        folded in. Pure metadata when every deciding bound is exact;
        degrades smoothly toward a scan as stats weaken, never to a
        wrong answer. Per-file footer min/max ignore NULLs exactly
        like SQL ``min``/``max``; an all-NULL file has no stats and
        lands in the fallback scan, where the engine's own NULL
        semantics apply.

        Per-column non-NULL ``count`` folds the same way from the
        entries' parquet ``null_count`` metadata (Iceberg's
        null_value_counts): exact when every file recorded it, the
        gap scanned per-file otherwise.

        Returns ``{"n_rows": int, "by_bucket": {bucket: rows},
        "columns": {col: {"min": v, "max": v, "count": n}},
        "files_read": int}`` (``files_read`` pins the zero-data-files
        contract in tests)."""
        sid = self.current_id() if snapshot_id is None else snapshot_id
        if sid is None:
            raise ValueError(f"snapshot table {self.table_dir}: no commits")
        m = self._manifest(sid)
        schema_cols = {f.name for f in self._schema_of(m).fields}
        unknown = [c for c in columns if c not in schema_cols]
        if unknown:
            raise ValueError(f"agg_stats: unknown columns {unknown}")
        files = [f for f in m["files"] if self._live_rows(f)]
        # n_rows stays EXACT under merge-on-read deletes: each dv
        # carries its exact position count, so live = rows - dv.n
        # (round 14 — Iceberg's "record_count minus position deletes")
        n_rows = sum(self._live_rows(f) for f in files)
        by_bucket: dict[int, int] = {}
        for f in files:
            by_bucket[f["bucket"]] = (
                by_bucket.get(f["bucket"], 0) + self._live_rows(f)
            )

        # Per column: exact-attained bounds vs files needing a read.
        exact_lo: dict[str, list] = {c: [] for c in columns}
        exact_hi: dict[str, list] = {c: [] for c in columns}
        need: dict[str, set] = {c: set() for c in columns}  # paths
        known_count: dict[str, int] = {c: 0 for c in columns}
        need_count: dict[str, set] = {c: set() for c in columns}
        for f in files:
            stats = f.get("stats") or {}
            nulls = f.get("nulls") or {}
            sx = f.get("sx")  # None = pre-marker entry (pre-r13)
            # A deletion-vector-carrying file's footer stats are OUTER
            # bounds on its live values (the extreme row may be among
            # the deleted), and its null count says nothing about
            # which rows the dv removed — so its bounds never enter
            # the exact sets and its counts always come from the (dv-
            # applied) fallback scan. The moves-pruning below still
            # applies: physical lo ≥ best exact min proves even the
            # undeleted rows can't lower the answer.
            has_dv = bool(f.get("dv"))
            for c in columns:
                if c in nulls and not has_dv:
                    known_count[c] += f["rows"] - nulls[c]
                else:
                    need_count[c].add(f["path"])
                s = stats.get(c)
                if s is None:
                    need[c].add(f["path"])
                    continue
                if has_dv:
                    need[c].add(f["path"])
                    continue
                lo, hi = s[0], s[1]
                if isinstance(lo, str):
                    t = (sx or {}).get(c, "") if sx is not None else None
                    if t is None:  # pre-marker: prove what we can
                        lo_ok = len(lo) < _STATS_TRUNC
                        hi_ok = False
                    else:
                        lo_ok = t not in ("lo", "both")
                        hi_ok = hi is not None and t not in ("hi", "both")
                else:
                    lo_ok, hi_ok = True, True
                if lo_ok:
                    exact_lo[c].append(lo)
                if hi_ok:
                    exact_hi[c].append(hi)
                if not (lo_ok and hi_ok):
                    need[c].add(f["path"])

        # A file only decides the answer if its bound could move it
        # past the best exact bound (stored lo ≤ attained min, so
        # lo ≥ best-exact-min proves the file can't lower the min).
        for c in columns:
            # mixed domains across files (schema evolution retyped
            # the column): nothing provable — drop every "exact"
            # bound (they can't be compared, let alone folded) and
            # scan everything; the per-file scan results are
            # homogeneous in the CURRENT schema's type (review r13)
            doms = {isinstance(v, str) for v in exact_lo[c] + exact_hi[c]}
            if len(doms) > 1:
                exact_lo[c] = []
                exact_hi[c] = []
                known_count[c] = 0
                need[c] = {f["path"] for f in files}
                need_count[c] = {f["path"] for f in files}
                continue
            best_lo = min(exact_lo[c]) if exact_lo[c] else None
            best_hi = max(exact_hi[c]) if exact_hi[c] else None
            keep = set()
            for f in files:
                if f["path"] not in need[c]:
                    continue
                s = (f.get("stats") or {}).get(c)
                lo = s[0] if s else None
                hi = s[1] if s else None
                moves_min = (
                    best_lo is None or lo is None
                    or isinstance(lo, str) != isinstance(best_lo, str)
                    or lo < best_lo
                )
                moves_max = (
                    best_hi is None or hi is None
                    or isinstance(hi, str) != isinstance(best_hi, str)
                    or hi > best_hi
                )
                if moves_min or moves_max:
                    keep.add(f["path"])
            need[c] = keep

        all_paths = (
            sorted(
                set().union(*need.values(), *need_count.values())
            )
            if columns
            else []
        )
        # one batched read over the union, aggregated PER FILE so
        # each column folds exactly its own deciding files (counts
        # are additive and may NOT come from a superset; min/max
        # could, but per-file folding is uniformly exact). Driver
        # payload: one row per scanned file — metadata-sized.
        scanned: dict[str, dict] = {}
        if all_paths:
            by_path = {f["path"]: f for f in files}
            grouped = (
                self._read_entries(
                    # dv-applied read (round 14): the fallback scan
                    # must aggregate LIVE rows only, grouped by the
                    # same _metadata.file_name the dv merge rides on
                    [by_path[p] for p in all_paths],
                    self._schema_of(m),
                    keep_meta=True,
                )
                .groupBy(F.col("__fname").alias("__base"))
                .agg(
                    *[
                        g
                        for c in columns
                        for g in (
                            F.min(c).alias(f"__lo_{c}"),
                            F.max(c).alias(f"__hi_{c}"),
                            F.count(c).alias(f"__n_{c}"),
                        )
                    ]
                )
                .collect()
            )
            scanned = {r["__base"]: r for r in grouped}

        def _file_rows(paths):
            for p in paths:
                r = scanned.get(os.path.basename(p))
                if r is not None:
                    yield r

        out_cols: dict[str, dict] = {}
        for c in columns:
            cands_lo = list(exact_lo[c])
            cands_hi = list(exact_hi[c])
            for r in _file_rows(need[c]):
                if r[f"__lo_{c}"] is not None:
                    cands_lo.append(r[f"__lo_{c}"])
                if r[f"__hi_{c}"] is not None:
                    cands_hi.append(r[f"__hi_{c}"])
            cnt = known_count[c]
            for r in _file_rows(need_count[c]):
                cnt += r[f"__n_{c}"]
            out_cols[c] = {
                "min": min(cands_lo) if cands_lo else None,
                "max": max(cands_hi) if cands_hi else None,
                "count": cnt,
            }
        return {
            "n_rows": n_rows,
            "by_bucket": by_bucket,
            "columns": out_cols,
            "files_read": len(all_paths),
        }

    def _order_stats(self, meta) -> tuple:
        """(min, max) of the order column across a file's row groups,
        or (None, None) when stats are absent or not JSON-safe
        (missing stats degrade to must-read, never to wrong-prune)."""
        try:
            idx = next(
                i
                for i in range(meta.num_columns)
                if meta.row_group(0).column(i).path_in_schema
                == self.order_col
            )
        except (StopIteration, IndexError):
            return None, None
        mins, maxs = [], []
        for rg in range(meta.num_row_groups):
            st = meta.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max:
                return None, None
            mins.append(st.min)
            maxs.append(st.max)
        lo, hi = min(mins), max(maxs)
        if not isinstance(lo, (int, float, str)) or isinstance(lo, bool):
            return None, None
        if any(
            isinstance(v, float) and not math.isfinite(v) for v in (lo, hi)
        ):  # NaN/inf are not RFC-JSON; degrade to must-read
            return None, None
        return lo, hi

    def read_range(
        self, lo, hi, snapshot_id: int | None = None
    ) -> DataFrame:
        """File-pruned RANGE read on the order column: open only
        files whose footer ``[order_min, order_max]`` overlaps
        ``[lo, hi]`` (Iceberg's column-stats pruning in miniature —
        the time-series read path: "events in this id/time window"
        touches only the files that hold it). Files without recorded
        stats (pre-upgrade manifests) are conservatively read; the
        exact predicate is applied after the prune either way, so
        pruning can only skip files proven irrelevant."""
        sid = self.current_id() if snapshot_id is None else snapshot_id
        if sid is None:
            raise ValueError(f"snapshot table {self.table_dir}: no commits")
        m = self._manifest(sid)
        files = [
            f
            for f in m["files"]
            if "order_min" not in f
            or not (f["order_max"] < lo or f["order_min"] > hi)
        ]
        return self._read_entries(files, self._schema_of(m)).filter(
            F.col(self.order_col).between(F.lit(lo), F.lit(hi))
        )

    def _diverged_buckets(
        self, from_id: int | None, to_id: int | None
    ) -> set:
        """Buckets whose locator differs between two snapshots — the
        conflict set optimistic rebase validates against. Locator
        EQUALITY is the test, so a full anchor that merely re-formed
        an untouched bucket's locator (inline list → segment ref at
        the ``FULL_MANIFEST_EVERY`` cadence) reports it changed: a
        FALSE conflict is a safe refusal (the loser re-plans), a
        missed conflict would corrupt — the asymmetry this comparison
        is biased toward. O(n_buckets) dict walks on the cached
        ``_by_bucket`` views; no file list is iterated."""
        a = self._by_bucket(from_id) if from_id is not None else {}
        b = self._by_bucket(to_id) if to_id is not None else {}
        return {
            k
            for k in set(a) | set(b)
            if a.get(k, []) is not b.get(k, []) and a.get(k, []) != b.get(k, [])
        }

    @staticmethod
    def _entries_cannot_match(entries: list, bounds: dict) -> bool:
        """True iff EVERY entry's per-file stats PROVE no row in it
        can satisfy ``bounds`` (``predicate_bounds`` output).
        Strictly conservative: empty bounds (unparseable predicate),
        an entry without stats on any bound column, or any stats
        window overlapping its bound all return False — the caller
        must then take the always-correct path."""
        if not bounds:
            return False
        for f in entries:
            st = f.get("stats") or {}
            proven = False
            for col, (lo, hi) in bounds.items():
                s = st.get(col)
                if s is not None and not _stats_overlap(s, lo, hi):
                    proven = True
                    break
            if not proven:
                return False
        return True

    @staticmethod
    def _permissive_type(dt):
        """``dt`` with every NESTED nullability flag (containsNull /
        valueContainsNull / inner struct-field nullable) forced True.
        Nested flags drift exactly like top-level ones (an
        ``F.array(F.lit(..))`` column serializes containsNull=false,
        the same column after a base-union serializes true — review
        r15 second pass), and declaring MORE nullable is always safe
        for a read schema."""
        p = SnapshotTable._permissive_type
        if isinstance(dt, T.ArrayType):
            return T.ArrayType(p(dt.elementType), True)
        if isinstance(dt, T.MapType):
            return T.MapType(p(dt.keyType), p(dt.valueType), True)
        if isinstance(dt, T.StructType):
            return T.StructType(
                [
                    T.StructField(f.name, p(f.dataType), True, f.metadata)
                    for f in dt.fields
                ]
            )
        return dt

    @staticmethod
    def _schema_core(schema_json: str) -> "list[tuple]":
        """(name, nullability-normalized dataType) field list — the
        structural identity the rebase schema guard compares.
        NULLABILITY IS EXCLUDED on purpose, at every nesting level:
        it drifts between commits with no data change (a first
        commit's ``lit()`` columns serialize non-nullable, the same
        column after the next merge's base-union serializes
        nullable), and a string compare would falsely refuse the
        rebase on exactly the realistic pipelines it exists for
        (review r15; nested flags caught by the second pass).

        FIELD IDS participate (round 16): the identity compared is
        (fid, name, type) — a concurrent rename/drop/widen changes
        the core, so a racing rebase re-plans (always correct); a
        pure data commit never moves fids, so the guard stays exactly
        as permissive as before for data/data races."""
        st = T.StructType.fromJson(json.loads(schema_json))
        return [
            (
                (f.metadata or {}).get("fid"),
                f.name,
                SnapshotTable._permissive_type(f.dataType).json(),
            )
            for f in st.fields
        ]

    @staticmethod
    def _nullable_union(ours_json: str, theirs_json: str) -> str:
        """``ours`` with each shared field's top-level nullable flag
        OR'd with ``theirs`` and every NESTED flag forced permissive —
        the schema a rebased manifest must carry so no existing
        file's nulls (top-level or nested) are declared away (ours ⊇
        theirs structurally; extra fields keep their own top-level
        flag)."""
        if ours_json == theirs_json:
            return ours_json
        ours = T.StructType.fromJson(json.loads(ours_json))
        theirs = T.StructType.fromJson(json.loads(theirs_json))
        tn = {f.name: f.nullable for f in theirs.fields}
        return T.StructType(
            [
                T.StructField(
                    f.name,
                    SnapshotTable._permissive_type(f.dataType),
                    f.nullable or tn.get(f.name, False),
                    f.metadata,
                )
                for f in ours.fields
            ]
        ).json()

    def _rebase_commit(
        self,
        schema_json: str,
        touched_new: dict,
        operation: str,
        base_id: int | None,
        properties: dict | None,
        max_rebases: int = 8,
    ) -> int:
        """Iceberg-style optimistic conflict validation (round 15 —
        VERDICT r14 item 4): a commit that lost the claim CAS no
        longer re-plans unconditionally. If the buckets it touched
        are DISJOINT from every bucket that changed between its base
        and the new head — and schema/layout did not move — its
        staged files and locators are still valid verbatim, so the
        delta manifest is simply REBUILT against the new head and
        re-claimed: no second Spark job, no data rewrite. Keyed verbs
        (merge, merge_into, delete_keys, append, compact) qualify
        because bucketing is key-hash — a concurrent write to the
        same KEY lands in the same BUCKET, so bucket disjointness IS
        key disjointness for every key the verb WROTE. Keys it only
        PROBED (a merge_into/delete_keys key that matched nothing at
        base writes no bucket) are covered by the commit's recorded
        read set: those verbs stamp ``read.buckets`` — the buckets
        every source/delete key hashes to, matched or not — into
        their commit properties, and the overlap check below runs
        against ``touched ∪ read``. Without it, a concurrent insert
        of exactly a probed-but-unmatched key would slip past write-
        set disjointness and the rebased commit would land without
        updating/deleting it — the write-skew anomaly (two racing
        merge_intos each inserting the key the other probed yield an
        outcome no serial order produces; ADVICE r15). This is
        Iceberg's validate-added-files-against-the-operation's-read-
        filter, specialized to hash-bucket granularity. Predicate
        verbs (delete_where/update_where) qualify CONDITIONALLY
        (round 16 — VERDICT r15 item 6): their read set is the whole
        table filtered by the predicate, so beyond bucket
        disjointness the rebase demands PROOF that no file the
        winner ADDED could hold a predicate-matching row — the
        commit records ``read.predicate`` and the check below runs
        ``predicate_bounds``' strictly-conservative parser against
        the per-file stats of every new-vs-base entry in the
        winner's changed buckets (dv-only growth is excluded by
        path identity: deletion vectors only shrink visible rows).
        An unparseable predicate, a stats-less new file, or any
        overlap refuses — the GDPR predicate delete only absorbs
        winners it can prove irrelevant. Whole-table rewrites
        (overwrite/zorder/rebucket) never take this path.

        Raises ``CommitConflict`` when validation refuses (the verb's
        existing retry loop re-plans on the winner's state — the
        previous, always-correct behavior)."""
        touched = set(touched_new) | {
            int(b) for b in (properties or {}).get("read.buckets") or ()
        }
        last: Exception | None = None
        for _ in range(max_rebases):
            ids = self.snapshot_ids()
            cur = ids[-1] if ids else None
            if cur is None or base_id is None or cur <= base_id:
                raise CommitConflict(
                    f"rebase: claim of {base_id}+1 lost but no newer "
                    "head is visible — re-plan"
                ) from last
            try:
                base_raw = self._raw_meta(base_id)
                cur_raw = self._raw_meta(cur)
                if self._schema_core(
                    cur_raw["schema"]
                ) != self._schema_core(base_raw["schema"]):
                    raise CommitConflict(
                        "rebase: schema evolved since base — re-plan"
                    ) from last
                if cur_raw["n_buckets"] != self.n_buckets or list(
                    cur_raw.get("bucket_cols") or []
                ) != list(self.bucket_cols):
                    raise CommitConflict(
                        "rebase: bucket layout changed since base — "
                        "re-plan"
                    ) from last
                changed = self._diverged_buckets(base_id, cur)
            except FileNotFoundError:
                raise CommitConflict(
                    "rebase: base expired mid-validation — re-plan"
                ) from last
            overlap = changed & touched
            if overlap:
                raise CommitConflict(
                    f"rebase: buckets {sorted(overlap)[:8]} changed "
                    f"since base {base_id} — overlapping writes or "
                    "probed keys, re-plan"
                ) from last
            pred = (properties or {}).get("read.predicate")
            if pred is not None and changed:
                bounds = predicate_bounds(pred)
                base_bb_v = self._by_bucket(base_id)
                cur_bb_v = self._by_bucket(cur)
                for bkt in changed:
                    base_paths = {
                        e["path"]
                        for e in self._entries(base_bb_v.get(bkt, []))
                    }
                    fresh = [
                        e
                        for e in self._entries(cur_bb_v.get(bkt, []))
                        if e["path"] not in base_paths
                    ]
                    if fresh and not self._entries_cannot_match(
                        fresh, bounds
                    ):
                        raise CommitConflict(
                            f"rebase: bucket {bkt} gained files the "
                            f"predicate {pred!r} could match — "
                            "re-plan"
                        ) from last
            # Segment large touched buckets ONCE: the first attempt
            # writes the segment files, and the refs then carry
            # VERBATIM through _maybe_segment on every further
            # attempt (and through _build_delta), so repeated claim
            # losses stop rewriting a fresh orphan segment set per
            # retry (ADVICE r15).
            touched_new = {
                b: self._maybe_segment(cur + 1, b, loc)
                for b, loc in touched_new.items()
            }
            manifest, new_id, merged_bb = self._build_delta(
                self._nullable_union(schema_json, cur_raw["schema"]),
                self._by_bucket(cur), touched_new,
                operation, cur, properties,
            )
            try:
                sid = self._claim(manifest, new_id)
            except CommitConflict as e:
                last = e  # head moved again — validate vs the newer one
                continue
            self._prime_bb(sid, merged_bb)
            return sid
        raise CommitConflict(
            f"rebase: lost the claim race {max_rebases} times"
        ) from last

    def _claim_or_rebase(self, prep, rebase_ok: bool = False) -> int:
        """The one claim tail every commit runs: claim a prepared
        ``(manifest, new_id, merged_bb)`` and prime the per-bucket
        cache with the merged view; an ``int`` prepare is a no-op
        that returns that (base) id unchanged.

        On a lost CAS a ``rebase_ok`` verb — one whose touched and
        read buckets bound what it depends on (the keyed verbs,
        compact, and the predicate verbs with their recorded
        ``read.predicate``) — attempts the optimistic rebase with the
        ingredients recovered FROM the manifest itself. Whole-table
        rewrites (overwrite, rewrite_zorder, rebucket), metadata-only
        evolution and branch publish never rebase: the
        ``CommitConflict`` propagates to the verb's re-plan. A
        FULL-anchor manifest never rebases either (see the inline
        comment: its touched set is unreconstructible because full
        manifests drop empty buckets)."""
        if isinstance(prep, int):
            return prep
        manifest, new_id, merged_bb = prep
        try:
            sid = self._claim(manifest, new_id)
        except CommitConflict:
            # A FULL-anchor manifest cannot reconstruct its touched
            # set: full manifests DROP empty buckets, so a bucket this
            # commit emptied would be missing from "buckets" and the
            # rebase would carry the parent's files through — re-plan
            # instead (review r15; the full view also reports every
            # bucket touched, which made the rebase near-useless here
            # anyway).
            if not rebase_ok or manifest.get("full"):
                raise
            return self._rebase_commit(
                manifest["schema"],
                {int(b): loc for b, loc in manifest["buckets"].items()},
                manifest["operation"],
                manifest.get("parent"),
                manifest.get("properties"),
            )
        self._prime_bb(sid, merged_bb)
        return sid

    def _build_delta(
        self,
        schema_json: str,
        parent_by_bucket: dict[int, list[dict]],
        touched_new: dict[int, list[dict]],
        operation: str,
        base_id: int | None,
        properties: dict | None = None,
        new_files: "list[dict] | tuple" = (),
    ) -> tuple[dict, int, dict]:
        """The one manifest builder (VERDICT r09 item 5 — the
        O(touched) commit): returns the manifest, the id it claims
        (``base_id + 1``, so a racing writer that committed in
        between makes the claim fail rather than silently dropping
        its files), and the merged per-bucket view to prime the cache
        with AFTER a successful claim. Building is separate from
        claiming so a grouped transaction (:class:`SnapshotGroup`)
        can build every member's manifest BEFORE the single group
        claim.

        ``touched_new`` maps each touched bucket to its new entry
        list; ``new_files`` (a staged write's entries) join their
        buckets' lists, a bucket not yet listed starting from its
        parent's entries (append's add-only shape). Untouched buckets
        are carried BY REFERENCE from ``parent_by_bucket`` (the
        structurally-shared :meth:`_by_bucket` view) — neither the
        delta nor the manifest write ever iterates them, and a staged
        file's fresh immutable name means a touched bucket differs
        from its parent by construction, so the delta IS
        ``touched_new``. Full manifests are written at the root,
        every ``FULL_MANIFEST_EVERY``-th id (bounds the resolution
        walk; O(F) amortized to O(F / 16) per commit) and on any
        bucket-count change (bucket numbers mean different things
        across a rebucket, so a delta against the old layout would be
        incoherent)."""
        for f in new_files:
            b = f["bucket"]
            if b not in touched_new:
                touched_new[b] = list(
                    self._entries(parent_by_bucket.get(b, []))
                )
            touched_new[b].append(f)
        if self._last_fid:
            # fid-tracked table: any fid-less field is a new column
            # from append's additive evolution — reserved-name guard
            # + stable-id stamp (round 16)
            schema_json = self._guarded_append_schema(schema_json)
        new_id = (base_id or 0) + 1
        manifest = {
            "snapshot_id": new_id,
            "parent": base_id,
            "operation": operation,
            "key_cols": self.key_cols,
            "order_col": self.order_col,
            "n_buckets": self.n_buckets,
            "bucket_cols": self.bucket_cols,
            "schema": schema_json,
            "format": 3,
        }
        if self.bloom_cols:  # absent key = feature off (back-compat)
            manifest["bloom_cols"] = self.bloom_cols
        if self._last_fid:
            manifest["last_fid"] = self._last_fid
        if self._retired:
            manifest["retired"] = dict(self._retired)
        full = (
            base_id is None
            or new_id % FULL_MANIFEST_EVERY == 0
            or self._raw_meta(base_id)["n_buckets"] != self.n_buckets
        )
        if full:
            merged = dict(parent_by_bucket)
            merged.update(touched_new)
            # The format-3 anchor win: an untouched bucket whose
            # locator is already a segment ref carries as O(1) bytes —
            # the anchor re-serializes only inline lists (buckets
            # touched since they last went to a segment, or small
            # ones). Segment writes happen BEFORE the claim, same
            # durability order as data files.
            written = {
                b: self._maybe_segment(new_id, b, loc)
                for b, loc in merged.items()
                if self._loc_n(loc)
            }
            manifest["full"] = True
            manifest["buckets"] = {
                str(b): loc for b, loc in written.items()
            }
            merged_bb = written
        else:
            written = {
                b: self._maybe_segment(new_id, b, loc)
                for b, loc in touched_new.items()
            }
            manifest["buckets"] = {
                str(b): loc for b, loc in written.items()
            }
            merged_bb = dict(parent_by_bucket)
            merged_bb.update(written)
        if properties:
            manifest["properties"] = properties
        return manifest, new_id, merged_bb

    def _prime_bb(self, sid: int, merged_bb: dict) -> None:
        """Prime the shared per-bucket cache with the ON-DISK locator
        forms (the next commit's parent view, and what a cold reader
        would reconstruct): O(n_buckets + touched), no resolution
        walk, and big buckets stay as refs — not pinned lists."""
        self._bcache[sid] = merged_bb
        while len(self._bcache) > 64:  # same bound as the miss path —
            # a long-lived foreachBatch writer commits unboundedly
            self._bcache.pop(next(iter(self._bcache)))

    def _claim(self, manifest: dict, new_id: int) -> int:
        """Durable-write + os.link CAS + pointer advance — the commit
        point, reached only through :meth:`_claim_or_rebase` and
        :meth:`_rebase_commit`."""
        os.makedirs(self._manifest_dir, exist_ok=True)
        tmp = self._write_manifest_tmp(manifest)
        target = os.path.join(self._manifest_dir, self._mname(new_id))
        try:
            os.link(tmp, target)  # atomic claim — fails if N is taken
        except FileExistsError as e:
            os.unlink(tmp)
            raise CommitConflict(f"snapshot {new_id} already claimed") from e
        finally:
            if os.path.exists(tmp):
                os.unlink(tmp)
        self._write_pointer(new_id)
        # Prime the config cache with the dict already in hand: the
        # NEXT commit's parent is this snapshot, and without this its
        # _raw_meta would be a guaranteed miss — re-parsing a full
        # anchor's O(F) payload just to read n_buckets (the measured
        # 9→20 ms delta-commit drift at 131k files).
        self._prime_meta(new_id, manifest)
        return new_id

    def _write_manifest_tmp(self, manifest: dict) -> str:
        """Serialize a manifest to a durable temp file (write + flush +
        fsync) and return its path — the ONE place the on-disk JSON is
        produced, shared by the _claim CAS link, the group txn's
        member temps and expire_snapshots' floor materialization so
        they can never drift."""
        os.makedirs(self._manifest_dir, exist_ok=True)
        tmp = os.path.join(
            self._manifest_dir, f".tmp-{uuid.uuid4().hex[:12]}.json"
        )
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
            fh.flush()
            os.fsync(fh.fileno())
        return tmp

    @staticmethod
    def _as_full_manifest(raw: dict, resolved_files: list[dict]) -> dict:
        """Rewrite a manifest dict as the self-contained v2 FULL form
        carrying ``resolved_files``."""
        full_m = {
            k: v for k, v in raw.items() if k not in ("buckets", "files")
        }
        full_m["format"] = 2
        full_m["full"] = True
        by_bucket: dict[int, list[dict]] = {}
        for f in resolved_files:
            by_bucket.setdefault(f["bucket"], []).append(f)
        full_m["buckets"] = {str(b): fs for b, fs in by_bucket.items()}
        return full_m

    def _write_pointer(self, sid: int) -> None:
        """Advance the read hint (atomic replace; losing this to a
        crash is harmless — current_id rolls forward)."""
        tmp = self._pointer + f".tmp-{uuid.uuid4().hex[:8]}"
        with open(tmp, "w") as fh:
            fh.write(str(sid))
        os.replace(tmp, self._pointer)

    def rebucket(self, new_n_buckets: int, max_retries: int = 5) -> int:
        """Bucket-count EVOLUTION: rewrite the current state into
        ``new_n_buckets`` hash buckets as one snapshot commit
        (operation ``rebucket``). The operation a growing table needs
        when its fixed bucket count stops matching its size — at
        100 TB, 8 buckets means 12.5 TB merges and lookups; 4096
        means 25 GB.

        Properties: an O(table) rewrite, but a NORMAL commit — time
        travel to pre-rebucket snapshots still works (each manifest
        records its own ``n_buckets``, and ``read_keys`` prunes with
        the target snapshot's count), concurrent writers race on the
        same CAS (a merge that loses to a rebucket retries and adopts
        the new layout via ``_prepare_merge``'s manifest-first rule),
        and a crash leaves the old snapshot current. ``changes``
        across a rebucket boundary stays CORRECT but unpruned — every
        file path is new, so every bucket's list differs and both
        endpoint states are read in full (the diff itself is still
        exact)."""
        if new_n_buckets < 1:
            raise ValueError("rebucket: need at least one bucket")
        def once() -> int:
            base_id = self.current_id()
            if base_id is None:
                raise ValueError(
                    f"snapshot table {self.table_dir}: no commits"
                )
            cur = self.read(snapshot_id=base_id)
            # Adopt the manifest's BUCKET COLUMNS before rewriting —
            # a stale handle (default bucket_cols = full key) would
            # otherwise silently destroy a (band, bucket)-style layout
            # split and break every read_matching prune downstream.
            # Only the COUNT changes here; the column split is part of
            # the table's access-path contract.
            base_raw = self._raw_meta(base_id)
            self._adopt_layout(base_raw)
            self.n_buckets = new_n_buckets
            new_files = self._stage_rewrite(
                self._with_bucket(cur), new_n_buckets, None
            )
            # Nothing carries from the old layout: a new bucket count
            # writes a full manifest of exactly the new files. An
            # unchanged count writes a delta of every bucket that got
            # rows — the same hash puts rows in the same buckets, so
            # no parent bucket with live rows is left un-replaced.
            return self._claim_or_rebase(
                self._build_delta(
                    self._rewrite_schema(cur.schema.json(), base_raw),
                    {}, {}, operation="rebucket", base_id=base_id,
                    new_files=new_files,
                )
            )

        return self._retry("rebucket", once, max_retries)

    # ------------------------------------------------------------ maintain

    # -------------------- schema-evolution verbs (round 16, E126)

    _WIDENINGS = {
        ("byte", "short"), ("byte", "integer"), ("byte", "long"),
        ("short", "integer"), ("short", "long"),
        ("integer", "long"),
        ("float", "double"),
    }
    _TYPE_ALIASES = {
        "tinyint": "byte", "smallint": "short", "int": "integer",
        "bigint": "long",
    }

    def _evolve(self, label: str, fn, max_retries: int = 5) -> int:
        """Shared metadata-only evolution commit: re-derive the new
        schema FROM the current manifest on every attempt (so a lost
        CAS re-plans against the winner's state), upgrade a pre-fid
        table to fid tracking as part of the same commit, and commit
        a zero-bucket delta — O(1) metadata, no Spark job, no data
        file touched. ``fn(StructType, base_raw) -> StructType`` may
        also update ``self.key_cols`` / ``self.order_col`` /
        ``self.bucket_cols`` / ``self.bloom_cols`` /
        ``self._retired`` (always derived from ``base_raw``, never
        from handle state — retry-safe)."""
        def once() -> int:
            base_id = self.current_id()
            if base_id is None:
                raise ValueError(
                    f"snapshot table {self.table_dir}: no commits"
                )
            base_raw = self._raw_meta(base_id)
            self._adopt_layout(base_raw)
            schema_json = base_raw["schema"]
            if not self._last_fid:
                # legacy table: first evolution upgrades it to fid
                # tracking (ids in declaration order) in this commit
                schema_json = self._stamp_fids_json(schema_json)
            st = T.StructType.fromJson(json.loads(schema_json))
            return self._claim_or_rebase(
                self._build_delta(
                    fn(st, base_raw).json(), self._by_bucket(base_id), {},
                    operation="evolve", base_id=base_id,
                    properties={"evolve.op": label},
                )
            )

        return self._retry(f"{label}:", once, max_retries)

    def rename_column(
        self, old: str, new: str, max_retries: int = 5
    ) -> int:
        """Metadata-only column RENAME (round 16 — the Iceberg v2
        field-id mechanism; SURVEY E126). The field keeps its stable
        id, ``old`` joins its name lineage, and every read — current
        or time travel — coalesces the lineage, so NO data file is
        rewritten: files written before the rename still carry the
        column under ``old`` and resolve correctly. Renaming a key /
        order / bucket / bloom column moves the table config with it
        (bucket hashes are VALUE-based, so the physical layout is
        untouched). Renaming BACK to one of the field's own former
        names is allowed (same field id — same data); any other
        reuse of a historical name is refused by the reserved-name
        guard. Returns the committed snapshot id."""
        if not new or new == old:
            raise ValueError(
                f"rename_column: invalid target name {new!r}"
            )

        def fn(st: T.StructType, base_raw: dict) -> T.StructType:
            names = [f.name for f in st.fields]
            if old not in names:
                raise ValueError(
                    f"rename_column: no column {old!r} "
                    f"(have {names})"
                )
            if new in names:
                raise ValueError(
                    f"rename_column: column {new!r} already exists"
                )
            reserved = set(self._retired)
            for f in st.fields:
                if f.name != old:
                    reserved.update(self._priors_of(f))
            if new in reserved:
                raise ValueError(
                    f"rename_column: name {new!r} was used by another "
                    "renamed or dropped column whose data files may "
                    "still be live (reserved-name guard)"
                )
            fields = []
            for f in st.fields:
                if f.name != old:
                    fields.append(f)
                    continue
                md = dict(f.metadata or {})
                # renaming back to an own former name collapses the
                # lineage entry instead of duplicating it
                prior = [p for p in self._priors_of(f) if p != new]
                md["prior"] = [*prior, old]
                fields.append(
                    T.StructField(new, f.dataType, f.nullable, md)
                )

            def ren(xs):
                return [new if c == old else c for c in xs]

            self.key_cols = ren(list(base_raw["key_cols"]))
            if base_raw.get("order_col") == old:
                self.order_col = new
            self.bucket_cols = ren(
                list(base_raw.get("bucket_cols") or base_raw["key_cols"])
            )
            self.bloom_cols = ren(list(base_raw.get("bloom_cols") or []))
            return T.StructType(fields)

        return self._evolve(f"rename:{old}->{new}", fn, max_retries)

    def drop_column(self, name: str, max_retries: int = 5) -> int:
        """Metadata-only column DROP (round 16 — SURVEY E126): the
        field leaves the schema and its WHOLE name lineage is
        retired; data files are untouched (readers simply stop
        requesting the column — parquet is columnar, the bytes cost
        nothing to skip). Time travel to a pre-drop snapshot still
        reads the column. A retired name can never be reused by a
        new column while files carrying it may be live (the
        reserved-name guard); a whole-table rewrite reclaims it.
        Key / order / bucket / bloom columns refuse (re-key the
        table explicitly instead). Returns the committed id."""

        def fn(st: T.StructType, base_raw: dict) -> T.StructType:
            names = [f.name for f in st.fields]
            if name not in names:
                raise ValueError(
                    f"drop_column: no column {name!r} (have {names})"
                )
            protected = {
                *base_raw["key_cols"],
                base_raw.get("order_col") or "",
                *(base_raw.get("bucket_cols") or ()),
                *(base_raw.get("bloom_cols") or ()),
            }
            if name in protected:
                raise ValueError(
                    f"drop_column: {name!r} is a key/order/bucket/"
                    "bloom column — re-key the table explicitly first"
                )
            if len(names) == 1:
                raise ValueError(
                    "drop_column: cannot drop the last column"
                )
            fields, retired = [], dict(self._retired)
            for f in st.fields:
                if f.name != name:
                    fields.append(f)
                    continue
                fid = (f.metadata or {}).get("fid")
                for n in (f.name, *self._priors_of(f)):
                    retired[n] = fid
            self._retired = retired
            return T.StructType(fields)

        return self._evolve(f"drop:{name}", fn, max_retries)

    def widen_column(
        self, name: str, new_type, max_retries: int = 5
    ) -> int:
        """Metadata-only type WIDEN (round 16 — SURVEY E126):
        byte/short/int → a strictly wider integral type, float →
        double (the Iceberg v2 promotion set). Data files keep their
        narrower physical type — the read side requests the widened
        schema and Spark 4's parquet reader up-casts per file
        (SPARK-40876 widening reads), so zero bytes are rewritten.
        BUCKET columns refuse: the layout hash is TYPE-sensitive
        (``hash(7 as int) != hash(7 as long)``), so widening one
        would silently divorce existing rows from their buckets and
        corrupt every keyed contract — rebucket explicitly instead.
        Returns the committed snapshot id."""
        if isinstance(new_type, str):
            tn = self._TYPE_ALIASES.get(
                new_type.strip().lower(), new_type.strip().lower()
            )
            new_dt = {
                "byte": T.ByteType(), "short": T.ShortType(),
                "integer": T.IntegerType(), "long": T.LongType(),
                "float": T.FloatType(), "double": T.DoubleType(),
            }.get(tn)
            if new_dt is None:
                raise ValueError(
                    f"widen_column: unsupported target type {new_type!r}"
                )
        else:
            new_dt = new_type

        def fn(st: T.StructType, base_raw: dict) -> T.StructType:
            names = [f.name for f in st.fields]
            if name not in names:
                raise ValueError(
                    f"widen_column: no column {name!r} (have {names})"
                )
            if name in (
                base_raw.get("bucket_cols") or base_raw["key_cols"]
            ):
                raise ValueError(
                    f"widen_column: {name!r} is a bucket column — the "
                    "layout hash is type-sensitive; rebucket instead"
                )
            fields = []
            for f in st.fields:
                if f.name != name:
                    fields.append(f)
                    continue
                pair = (f.dataType.typeName(), new_dt.typeName())
                if pair not in self._WIDENINGS:
                    raise ValueError(
                        f"widen_column: {pair[0]} -> {pair[1]} is not "
                        "a supported widening (byte/short/int -> "
                        "wider integral, float -> double)"
                    )
                fields.append(
                    T.StructField(
                        f.name, new_dt, f.nullable, dict(f.metadata or {})
                    )
                )
            return T.StructType(fields)

        return self._evolve(
            f"widen:{name}->{new_dt.typeName()}", fn, max_retries
        )

    # ------------------------------------------ tags (round 14)

    def create_tag(self, name: str, snapshot_id: int | None = None) -> int:
        """Pin an IMMUTABLE named ref to a snapshot (round 14 —
        Iceberg tags): the reproducibility handle an ML pipeline
        stamps on the exact table state a training run consumed.
        Tagged snapshots survive :meth:`expire_snapshots` until the
        tag is dropped. Refuses to overwrite (tags are immutable —
        drop and re-create is the explicit path). Returns the pinned
        id."""
        if not re.fullmatch(r"[A-Za-z0-9_.\-]+", name or ""):
            raise ValueError(
                f"create_tag: name {name!r} must be [A-Za-z0-9_.-]+"
            )
        sid = self.current_id() if snapshot_id is None else snapshot_id
        if sid is None or sid not in self.snapshot_ids():
            raise ValueError(f"create_tag: no snapshot {sid}")
        tmp = os.path.join(
            self.table_dir, f".tag-tmp-{uuid.uuid4().hex[:8]}"
        )
        with open(tmp, "w") as fh:
            fh.write(str(sid))
            fh.flush()
            os.fsync(fh.fileno())
        try:
            os.link(tmp, os.path.join(self.table_dir, f"_tag-{name}"))
        except FileExistsError:
            raise ValueError(
                f"create_tag: tag {name!r} exists (tags are "
                "immutable — drop_tag first)"
            ) from None
        finally:
            os.unlink(tmp)
        return sid

    def tags(self) -> dict[str, int]:
        """Live tags as ``{name: snapshot_id}``."""
        out = {}
        try:
            names = os.listdir(self.table_dir)
        except FileNotFoundError:
            return out
        for n in names:
            if n.startswith("_tag-"):
                try:
                    with open(os.path.join(self.table_dir, n)) as fh:
                        out[n[len("_tag-"):]] = int(fh.read().strip())
                except (OSError, ValueError):
                    continue
        return out

    def drop_tag(self, name: str) -> None:
        try:
            os.unlink(os.path.join(self.table_dir, f"_tag-{name}"))
        except FileNotFoundError:
            raise ValueError(f"drop_tag: no tag {name!r}") from None

    def read_tag(self, name: str) -> DataFrame:
        """Read the table at a tag — ``read(tags()[name])`` with the
        lookup's existence check."""
        t = self.tags()
        if name not in t:
            raise ValueError(f"read_tag: no tag {name!r}")
        return self.read(snapshot_id=t[name])

    # ------------------------------------------ WAP branches (round 14)

    def branches(self) -> list[str]:
        """Names of live branches (write-audit-publish refs): the
        union of branch MARKER files (written at create time, so a
        fresh branch is visible to the expire guard and duplicate
        check BEFORE its first commit — review r14) and branch
        manifest names (pre-marker branches keep working)."""
        out = set()
        try:
            for name in os.listdir(self.table_dir):
                if name.startswith("_branch-"):
                    out.add(name[len("_branch-"):])
        except FileNotFoundError:
            pass
        if os.path.isdir(self._manifest_dir):
            for name in os.listdir(self._manifest_dir):
                if name.startswith("branch-") and "-manifest-" in name:
                    out.add(
                        name[len("branch-"):].rsplit("-manifest-", 1)[0]
                    )
        return sorted(out)

    def create_branch(self, name: str) -> "SnapshotBranch":
        """Fork a write-audit-publish branch at the CURRENT snapshot
        (round 14 — VERDICT r13 item 5; the public pattern is
        Iceberg's WAP / Nessie branches): commits land in the
        branch's own manifest namespace and are INVISIBLE to main
        readers until :meth:`SnapshotBranch.publish` fast-forwards
        them in — or :meth:`SnapshotBranch.drop` discards them. Audit
        the branch with any reader (the expectations gate in
        ``operators/profile`` is the intended one) before publishing.

        Branch commits share the table's data directory (immutable
        files; losers/drops become orphans that GC reclaims) and run
        under the same CAS/crash discipline as main commits."""
        if not re.fullmatch(r"[A-Za-z0-9_]+", name or ""):
            raise ValueError(
                f"create_branch: name {name!r} must be [A-Za-z0-9_]+"
            )
        if name in self.branches():
            raise ValueError(f"create_branch: branch {name!r} exists")
        base = self.current_id() or 0
        # durable marker FIRST (the fork-base record): the branch is
        # visible to expire_snapshots' guard and to duplicate checks
        # from this moment, commits or not (review r14)
        marker = os.path.join(self.table_dir, f"_branch-{name}")
        tmp = marker + f".tmp-{uuid.uuid4().hex[:8]}"
        os.makedirs(self.table_dir, exist_ok=True)
        with open(tmp, "w") as fh:
            fh.write(str(base))
            fh.flush()
            os.fsync(fh.fileno())
        try:
            os.link(tmp, marker)
        except FileExistsError:
            raise ValueError(
                f"create_branch: branch {name!r} exists"
            ) from None
        finally:
            os.unlink(tmp)
        return SnapshotBranch(self, name, base)

    def branch(self, name: str) -> "SnapshotBranch":
        """Open an EXISTING branch: the fork base comes from the
        marker file (falling back to the first branch manifest's
        parent for pre-marker branches)."""
        marker = os.path.join(self.table_dir, f"_branch-{name}")
        try:
            with open(marker) as fh:
                return SnapshotBranch(self, name, int(fh.read().strip()))
        except (OSError, ValueError):
            pass
        sids = sorted(
            int(n.rsplit("-", 1)[1][: -len(".json")])
            for n in os.listdir(self._manifest_dir)
            if n.startswith(f"branch-{name}-manifest-")
            and n.endswith(".json")
        )
        if not sids:
            raise ValueError(f"branch: no branch named {name!r}")
        return SnapshotBranch(self, name, sids[0] - 1)

    def expire_snapshots(self, keep_last: int = 1) -> list[str]:
        """Drop all but the newest ``keep_last`` snapshots and delete
        data files no surviving snapshot references — the explicit GC
        that bounds time-travel storage (commits themselves never
        delete). Returns removed data-file paths.

        TAGGED snapshots always survive (round 14 — Iceberg's
        expire-respects-refs rule): the training run pinned to
        ``_tag-prod`` keeps reading its exact table state until the
        tag is dropped, however many commits and expires pass.

        Refuses while WAP branches exist: a branch's un-published
        commits reference main snapshots (their resolution parents)
        and possibly main data files that this sweep cannot see —
        publish or drop the branches first."""
        live_branches = self.branches()
        if live_branches:
            raise RuntimeError(
                f"expire_snapshots: live branches {live_branches} — "
                "publish or drop them first (their commits resolve "
                "through main snapshots this sweep would remove)"
            )
        ids = self.snapshot_ids()
        keep_set = set(ids[-keep_last:]) | (
            set(self.tags().values()) & set(ids)
        )
        drop = [i for i in ids if i not in keep_set]
        if not drop:
            return []
        keep = sorted(keep_set)
        # Every kept RUN-START becomes a resolution floor: a kept
        # delta whose parent is dropped must materialize as a FULL
        # manifest (content-equivalent — readers see the same
        # resolved view) so every surviving walk stops before the
        # dropped ids. With tags the kept set can be non-contiguous,
        # so there may be several run-starts, not one floor. Must
        # happen while the dropped ancestors are still on disk.
        for floor in keep:
            raw = self._manifest_raw(floor)
            if (
                "files" not in raw
                and not raw.get("full")
                and raw.get("parent") not in keep_set
            ):
                full_m = self._as_full_manifest(
                    raw, self._manifest(floor)["files"]
                )
                tmp = self._write_manifest_tmp(full_m)
                os.replace(
                    tmp,
                    os.path.join(
                        self._manifest_dir, f"manifest-{floor}.json"
                    ),
                )
                # The on-disk floor changed form (inline full): drop
                # its cached views so this handle's later reads and
                # the seg liveness scan below see the rewritten
                # manifest, not a stale locator view referencing
                # about-to-be-swept segments.
                self._mcache.pop(floor, None)
                self._bcache.pop(floor, None)
                self._metacache.pop(floor, None)
        # Deletion-vector sidecars share the data files' reachability
        # rule (round 14): a sidecar lives while any KEPT snapshot's
        # entry references it, and sweeps like any other data/ file.
        live = set()
        for sid in keep:
            for f in self._manifest(sid)["files"]:
                live.add(f["path"])
                for sc in (f.get("dv") or {}).get("sidecars", ()):
                    live.add(f"data/{os.path.basename(sc)}")
        # Segment liveness (format 3): every segment some KEPT
        # snapshot's locator view references survives; a concurrent
        # writer's new commit only carries refs from kept manifests,
        # so its anchors can never reference a swept segment.
        live_segs = {
            loc["seg"]
            for sid in keep
            for loc in self._by_bucket(sid).values()
            if isinstance(loc, dict)
        }
        # Stream the dropped snapshots ASCENDING — each resolution's
        # parents are either still cached (bounded FIFO, parent is the
        # immediately previous resolution) or re-read from manifests
        # still on disk (nothing is unlinked until every dropped id's
        # paths are collected). Set membership, not list scan — every
        # dropped snapshot can contribute distinct files (O(removed²)
        # otherwise).
        removed: list[str] = []
        removed_set: set[str] = set()
        for sid in drop:
            for f in self._manifest(sid)["files"]:
                for p in (
                    f["path"],
                    *(f.get("dv") or {}).get("sidecars", ()),
                ):
                    if p not in live and p not in removed_set:
                        removed_set.add(p)
                        removed.append(p)
        # Unlink DESCENDING — children before parents. A crash mid-loop
        # then leaves only orphaned ANCESTORS (harmless: nothing
        # resolves through a dropped child, and a re-run expire cleans
        # them up). Ascending would do the opposite: surviving delta
        # manifests whose parents are gone, an unrecoverable chain
        # break for history()/GC.
        for sid in reversed(drop):
            os.unlink(
                os.path.join(self._manifest_dir, f"manifest-{sid}.json")
            )
            self._mcache.pop(sid, None)
            self._bcache.pop(sid, None)
            self._metacache.pop(sid, None)
        for rel in removed:
            try:
                os.unlink(os.path.join(self.table_dir, rel))
            except FileNotFoundError:
                pass
        # Sweep dropped-era segments LAST (after the dropped manifests
        # are gone, so a crashed re-run never resolves a dropped id
        # into a missing segment). The sid guard keeps any concurrent
        # in-flight commit's fresh segments (its id > every dropped
        # id); orphans from earlier crashes sweep here too once their
        # id falls inside a dropped horizon.
        horizon = max(drop)
        for name in os.listdir(self._manifest_dir):
            if not (name.startswith("seg-") and name.endswith(".json")):
                continue
            try:
                seg_sid = int(name.split("-")[1])
            except ValueError:
                continue
            if seg_sid <= horizon and name not in live_segs:
                try:
                    os.unlink(os.path.join(self._manifest_dir, name))
                except FileNotFoundError:
                    pass
                self._segcache.pop(name, None)
        return removed

    def remove_orphans(self, older_than_seconds: float = 86400.0) -> list[str]:
        """Delete data files and dv sidecars under ``data/`` that NO
        snapshot — main or branch — references (round 14; Iceberg's
        ``remove_orphan_files`` action): the leftovers of crashed
        writers, lost CAS racers, and interrupted publishes that
        :meth:`expire_snapshots` never sees because no manifest ever
        referenced them.

        ``older_than_seconds`` (default 1 day) is the in-flight-writer
        guard, same as Iceberg's: a racing writer promotes staged
        files BEFORE its manifest claim, so a freshly-mtimed
        unreferenced file may be a commit in flight, not an orphan —
        only files older than the threshold sweep. Staging directories
        (``.staging-*``/``.dv-staging-*``) are never touched; their
        owner removes them. Returns removed relative paths."""
        import time as _time

        if not os.path.isdir(self._data_dir):
            return []
        referenced: set[str] = set()
        for sid in self.snapshot_ids():
            for f in self._manifest(sid)["files"]:
                referenced.add(os.path.basename(f["path"]))
                for sc in (f.get("dv") or {}).get("sidecars", ()):
                    referenced.add(os.path.basename(sc))
        for bname in self.branches():
            bh = self.branch(bname)
            for sid in bh._branch_ids():
                for f in bh._manifest(sid)["files"]:
                    referenced.add(os.path.basename(f["path"]))
                    for sc in (f.get("dv") or {}).get("sidecars", ()):
                        referenced.add(os.path.basename(sc))
        now = _time.time()
        removed: list[str] = []
        for name in os.listdir(self._data_dir):
            full = os.path.join(self._data_dir, name)
            if not os.path.isfile(full) or name in referenced:
                continue
            try:
                if now - os.path.getmtime(full) < older_than_seconds:
                    continue  # possible in-flight commit — spare it
                os.unlink(full)
            except FileNotFoundError:
                continue
            removed.append(f"data/{name}")
        return sorted(removed)



class SnapshotBranch(SnapshotTable):
    """A write-audit-publish branch of a :class:`SnapshotTable`
    (round 14 — VERDICT r13 item 5; the public pattern is Iceberg's
    WAP workflow / Nessie branch refs).

    The branch IS a SnapshotTable — every verb (merge/append/DML/
    compact/zorder, COW and MOR alike) and every read path works
    unchanged — whose manifests claim ``branch-<name>-manifest-<N>``
    names instead of ``manifest-<N>``. Main readers scan only the
    ``manifest-`` namespace, so branch commits are structurally
    invisible to them: there is no flag to forget, no read-path
    check to bypass. Ids stay in the shared linear sequence
    (fork base + 1, +2, ...), and a branch manifest's resolution
    parents cross the fork into main manifests transparently
    (``_mname`` routes ids ≤ fork base to main names).

    Workflow::

        b = table.create_branch("wap_20260816")
        b.append(batch)                  # stage
        audit(b.read())                  # gate (expectations E34)
        b.publish()                      # ONE atomic commit into main
        # or: b.drop()                   # discard + reclaim orphans

    :meth:`publish` lands the branch HEAD's state as ONE main commit
    through the same claim CAS every commit uses — all-or-nothing
    (see its docstring for why a per-commit os.link fast-forward
    cannot be atomic against a racing main writer). If main advanced
    past the fork base, publish first attempts Iceberg-style
    OPTIMISTIC VALIDATION (round 15): unchanged schema/layout and
    disjoint changed-bucket sets rebase the squash onto the new head;
    only an overlapping, schema-moved, or re-laid-out main refuses
    (``CommitConflict`` — re-create the branch from the new main).
    """

    def __init__(self, main: SnapshotTable, name: str, base_id: int):
        super().__init__(
            main.spark,
            main.table_dir,
            key_cols=list(main.key_cols),
            order_col=main.order_col,
            n_buckets=main.n_buckets,
            bucket_cols=list(main.bucket_cols),
            bloom_cols=list(main.bloom_cols),
        )
        self._main = main
        self.branch_name = name
        self.branch_base = base_id
        self._pointer = os.path.join(
            self.table_dir, f"_branch-{name}"
        )

    def _mname(self, sid: int) -> str:
        if sid <= self.branch_base:
            return f"manifest-{sid}.json"  # pre-fork: main namespace
        return f"branch-{self.branch_name}-manifest-{sid}.json"

    def snapshot_ids(self) -> list[int]:
        """Main ids up to the fork base + this branch's ids. Main
        commits PAST the fork are deliberately invisible — the branch
        is a snapshot-isolated line of development."""
        if not os.path.isdir(self._manifest_dir):
            return []
        pre = f"branch-{self.branch_name}-manifest-"
        out = []
        for name in os.listdir(self._manifest_dir):
            if name.startswith("manifest-") and name.endswith(".json"):
                sid = int(name[len("manifest-"): -len(".json")])
                if sid <= self.branch_base:
                    out.append(sid)
            elif name.startswith(pre) and name.endswith(".json"):
                out.append(int(name[len(pre): -len(".json")]))
        return sorted(out)

    def _branch_ids(self) -> list[int]:
        return [s for s in self.snapshot_ids() if s > self.branch_base]

    def create_branch(self, name: str):
        raise ValueError(
            "create_branch: cannot branch a branch — fork from main"
        )

    def expire_snapshots(self, keep_last: int = 1):
        raise RuntimeError(
            "expire_snapshots: GC runs on main, not on a branch — "
            "publish or drop first"
        )

    def rebucket(self, new_n_buckets: int, max_retries: int = 5):
        raise RuntimeError(
            "rebucket: layout changes run on main, not on a branch — "
            "publish() diffs per-bucket locators against the fork "
            "base, which a bucket-count change would silently corrupt"
        )

    def create_tag(self, name: str, snapshot_id: int | None = None):
        raise RuntimeError(
            "create_tag: tags live on main — a tag pinned to a "
            "branch snapshot would dangle after drop() (review r14)"
        )

    def drop_tag(self, name: str):
        raise RuntimeError("drop_tag: tags live on main")

    def _write_pointer(self, sid: int) -> None:
        """No-op: the branch's ``_branch-<name>`` file is the fork-
        base RECORD (and the existence marker), not a current-id
        hint — ``current_id``'s roll-forward max over
        ``snapshot_ids()`` already serves the hint's crash-safety
        purpose, and overwriting the marker would lose the base."""

    def publish(self) -> int:
        """Publish the branch into main as ONE atomic commit: the
        branch HEAD's per-bucket state lands as a single delta
        manifest (parent = the fork base) through the same claim CAS
        every main commit uses — an audited branch becomes visible
        all-or-nothing, which is the write-audit-publish guarantee.
        (A per-branch-commit os.link fast-forward would be O(commits)
        claims and therefore NOT atomic: a main writer racing a
        multi-commit adoption could strand an audited-together branch
        half-published — the review-r14 finding this design answers.
        The cost is squash granularity: main history records one
        ``publish`` commit per branch; the per-commit trail lives on
        the branch until :meth:`drop`.)

        O(changed buckets) metadata: untouched buckets carry by
        reference from the fork base, and branch segment files are
        referenced verbatim (never rewritten). A main that advanced
        past the fork base is absorbed when its changed buckets are
        disjoint from the branch's (optimistic validation — see
        :meth:`_prepare_publish`); otherwise raises
        ``CommitConflict`` (re-create the branch from current main).
        Crash-safe: a re-run after a crash between the claim and the
        cleanup recognizes its own published commit (the
        ``publish.branch``/``publish.head`` properties) and just
        finishes the cleanup."""
        ids = self._branch_ids()
        last: Exception | None = None
        for _ in range(5):
            prep = self._prepare_publish()
            if prep is None:
                try:
                    os.unlink(self._pointer)
                except FileNotFoundError:
                    pass
                return self._main.current_id()
            if isinstance(prep, int):  # crash recovery: published
                self._cleanup_branch_names(ids)
                return prep
            try:
                sid = self._main._claim_or_rebase(prep)
            except CommitConflict as e:
                # A racer claimed this id between prepare and claim —
                # re-prepare: the optimistic validation re-runs
                # against the NEW head (disjoint-bucket winners are
                # absorbed; overlapping ones raise the refusal, which
                # is itself a CommitConflict — so this loop, not
                # _retry, owns the attempts: _retry would re-plan the
                # refusal away).
                last = e
                continue
            self._cleanup_branch_names(ids)
            return sid
        raise CommitConflict(
            "publish: lost the claim race 5 times; re-create the "
            f"branch from current main (fork base {self.branch_base})"
        ) from last

    def _prepare_publish(self):
        """Build the publish commit WITHOUT claiming it — the
        prepare half :class:`..group.SnapshotGroup.publish_branches`
        rides for atomic MULTI-TABLE publishes (prepare each member's
        publish manifest, one group-txn CAS commits them all).
        Returns ``(manifest, new_id, merged_bb)``; the already-
        published id (int) when a crashed publish already claimed
        (idempotent recovery); ``None`` on a commit-less branch.

        Optimistic validation (round 15 — VERDICT r14 item 4): a main
        that advanced past the fork base no longer refuses outright.
        If main's schema and bucket layout are unchanged since the
        fork AND the buckets main changed are DISJOINT from the
        buckets the branch touched, the squash manifest is rebuilt
        against main's CURRENT head — the branch's staged work is
        valid verbatim, exactly the single-writer rebase argument
        (``_rebase_commit``). Overlapping buckets, schema drift, or a
        layout change still raise ``CommitConflict`` (re-create the
        branch from current main)."""
        ids = self._branch_ids()
        if not ids:
            return None
        head = ids[-1]
        main_ids_l = self._main.snapshot_ids()
        main_ids = set(main_ids_l)
        # Idempotent crash recovery: our squash may already sit at ANY
        # id past the fork (a rebased publish lands past base + 1).
        # NEWEST-FIRST: a crashed publish sits at or near the head, so
        # the match is found in O(1) metas instead of O(main history)
        # (ADVICE r15; the no-match sweep still reads each meta once —
        # _metacache amortizes the 5-attempt publish loop to one scan).
        for sid in reversed(main_ids_l):
            if sid <= (self.branch_base or 0):
                break  # ids ascend — nothing older can match
            props = self._main._raw_meta(sid).get("properties") or {}
            if (
                props.get("publish.branch") == self.branch_name
                and props.get("publish.head") == head
            ):
                return sid
        head_bb = self._by_bucket(head)
        base_bb = (
            self._main._by_bucket(self.branch_base)
            if self.branch_base in main_ids
            else {}
        )
        # buckets whose locator changed across the branch — locators
        # carry verbatim (seg refs included), so this is O(changed).
        # Iterate the UNION of both views: a bucket the branch EMPTIED
        # is absent from head_bb when the branch head is a full-anchor
        # manifest (full manifests drop empty buckets), and omitting
        # it would carry the fork base's files through the squash —
        # silently resurrecting the branch's whole-bucket delete
        # (review r15). The emptied bucket publishes as an explicit
        # [] delta entry.
        touched_new = {
            b: head_bb.get(b, [])
            for b in set(head_bb) | set(base_bb)
            if head_bb.get(b, []) != base_bb.get(b, [])
        }
        base_for = (
            self.branch_base if self.branch_base in main_ids else None
        )
        main_head = main_ids_l[-1] if main_ids_l else None
        # ONE pass over the branch commits' properties — the read set
        # and read predicates feed BOTH the main-moved refusal below
        # and the squash's recorded read set (review r16: two copies
        # of this fold drifted apart by construction).
        read_bk: set = set()
        preds: list[str] = []
        for sid in ids:
            p = self._raw_meta(sid).get("properties") or {}
            read_bk.update(int(b) for b in p.get("read.buckets") or ())
            if p.get("read.predicate"):
                preds.append(p["read.predicate"])
        if main_head is not None and main_head != base_for:
            refusal = CommitConflict(
                f"publish: main moved past the fork base "
                f"{self.branch_base} and touches overlapping state; "
                "re-create the branch from current main"
            )
            if base_for is None:
                raise refusal  # forked off empty — nothing to diff
            base_raw_m = self._main._raw_meta(base_for)
            head_raw_m = self._main._raw_meta(main_head)
            if (
                self._schema_core(head_raw_m["schema"])
                != self._schema_core(base_raw_m["schema"])
                or head_raw_m["n_buckets"] != base_raw_m["n_buckets"]
                or list(head_raw_m.get("bucket_cols") or [])
                != list(base_raw_m.get("bucket_cols") or [])
            ):
                raise refusal
            changed = self._main._diverged_buckets(base_for, main_head)
            # the branch's READ set too: a branch merge_into/
            # delete_keys key that matched nothing wrote no bucket,
            # but a main insert of exactly that key since the fork
            # must still refuse — the same write-skew guard as
            # _rebase_commit (ADVICE r15). Branch commits stamp
            # "read.buckets" into their properties; metas are cached.
            if changed & (set(touched_new) | read_bk):
                raise refusal
            # branch predicate verbs read the whole table filtered by
            # their predicate: every file main ADDED since the fork
            # must be stats-proven unable to match EACH predicate
            # (the _rebase_commit round-16 rule, applied at publish)
            if preds and changed:
                head_bb_m = self._main._by_bucket(main_head)
                base_bb_m = self._main._by_bucket(base_for)
                for bkt in changed:
                    old_paths = {
                        e["path"]
                        for e in self._main._entries(
                            base_bb_m.get(bkt, [])
                        )
                    }
                    fresh = [
                        e
                        for e in self._main._entries(
                            head_bb_m.get(bkt, [])
                        )
                        if e["path"] not in old_paths
                    ]
                    if fresh and not all(
                        self._entries_cannot_match(
                            fresh, predicate_bounds(pr)
                        )
                        for pr in preds
                    ):
                        raise refusal
            base_for = main_head  # disjoint: rebase onto the head
            base_bb = self._main._by_bucket(main_head)
        head_raw = self._raw_meta(head)
        # The squash manifest is built THROUGH the main handle, whose
        # in-memory evolution/config state (_last_fid, _retired,
        # key/order/bucket/bloom columns) may predate both the fork
        # and any branch-side evolution — a cold main handle would
        # silently publish last_fid=0 and an empty retired registry,
        # resurrecting dropped columns' bytes on the next name reuse
        # (review r16, CONFIRMED repro). The branch HEAD's raw meta
        # is the truth the squash must carry.
        self._main._adopt_layout(head_raw)
        props = dict(head_raw.get("properties") or {})
        # the squash's read set is the UNION over branch commits, not
        # whatever the head commit alone recorded; a single commit's
        # read.predicate likewise must not masquerade as the squash's
        if read_bk:
            props["read.buckets"] = sorted(read_bk)
        else:
            props.pop("read.buckets", None)
        props.pop("read.predicate", None)
        props["publish.branch"] = self.branch_name
        props["publish.head"] = head
        props["publish.commits"] = len(ids)
        pub_schema = head_raw["schema"]
        if main_head is not None:
            # EVERY publish onto a non-empty main (moved or not):
            # untouched buckets carry main's files by reference, so
            # the squash schema must never declare away nulls those
            # files may hold — union with main's head schema
            pub_schema = self._nullable_union(
                pub_schema, self._main._raw_meta(main_head)["schema"]
            )
        return self._main._build_delta(
            pub_schema, base_bb, touched_new,
            operation="publish",
            base_id=base_for,
            properties=props,
        )

    def _cleanup_branch_names(self, ids: list[int]) -> None:
        for sid in ids:  # branch names are now redundant
            try:
                os.unlink(
                    os.path.join(self._manifest_dir, self._mname(sid))
                )
            except FileNotFoundError:
                pass
        try:
            os.unlink(self._pointer)
        except FileNotFoundError:
            pass

    def drop(self) -> list[str]:
        """Discard the branch: remove its manifests (children before
        parents — the expire unlink rule), its segments, its pointer,
        and every data file / dv sidecar referenced ONLY by branch
        manifests (main may later claim the branch's ids with new
        commits; segment names carry a uuid run suffix so they can
        never collide). Returns removed data-file paths."""
        ids = self._branch_ids()
        branch_paths: set[str] = set()
        branch_segs: set[str] = set()
        for sid in ids:
            for f in self._manifest(sid)["files"]:
                branch_paths.add(f["path"])
                for sc in (f.get("dv") or {}).get("sidecars", ()):
                    branch_paths.add(sc)
            for loc in self._by_bucket(sid).values():
                if isinstance(loc, dict):
                    branch_segs.add(loc["seg"])
        main_paths: set[str] = set()
        main_segs: set[str] = set()
        for sid in self._main.snapshot_ids():
            for f in self._main._manifest(sid)["files"]:
                main_paths.add(f["path"])
                for sc in (f.get("dv") or {}).get("sidecars", ()):
                    main_paths.add(sc)
            for loc in self._main._by_bucket(sid).values():
                if isinstance(loc, dict):
                    main_segs.add(loc["seg"])
        removed = sorted(branch_paths - main_paths)
        for sid in reversed(ids):
            try:
                os.unlink(
                    os.path.join(self._manifest_dir, self._mname(sid))
                )
            except FileNotFoundError:
                pass
            self._mcache.pop(sid, None)
            self._bcache.pop(sid, None)
            self._metacache.pop(sid, None)
        for seg in branch_segs - main_segs:
            try:
                os.unlink(os.path.join(self._manifest_dir, seg))
            except FileNotFoundError:
                pass
            self._segcache.pop(seg, None)
        for rel in removed:
            try:
                os.unlink(os.path.join(self.table_dir, rel))
            except FileNotFoundError:
                pass
        try:
            os.unlink(self._pointer)
        except FileNotFoundError:
            pass
        return removed
