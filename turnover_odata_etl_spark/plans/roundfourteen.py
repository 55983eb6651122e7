"""Round-14 queries — REGISTERED round 15 per the r14 cap ruling
("REGISTER all three staged round-14 queries ... cap moves 215 →
218, then the registry is frozen again"). Staged round 14 with
oracles + bench history + empty-sweep coverage per the
roundeight→roundthirteen lifecycle; judge-verified oracle-green at
sf0.001 AND sf0.01 before the ruling.

``s_snapshot_dv_delete`` — merge-on-read deletion vectors (VERDICT
r13 item 2 / SURVEY E121, ``SnapshotTable.delete_where(mode="mor")``
/ ``delete_keys(mode="mor")``): the Iceberg v2 positional-delete /
Delta deletion-vector capability. A MOR delete writes O(matched
rows) of (file, position) pairs to ONE sidecar parquet and re-points
manifest entries — data files are NEVER rewritten; readers skip
those positions; compaction folds them into data files. The
lifecycle query bootstraps events as three id-sliced appends, runs a
predicate MOR delete (the value window) and a keyed MOR delete
(every seventh id — the GDPR batch shape), then returns the
surviving aggregate THREE ways: through the position-merging read
(label ``mor``), after ``compact()`` folds the vectors into data
files (label ``folded``), and as a ``contract`` row pinning that the
deletes rewrote ZERO data files while ``agg_stats``'s manifest-only
live-row count matches the oracle's survivor count exactly. Any
divergence between vector-merged reads, folded reads, metadata
counts, and the SQL answer hash-fails.

Mechanism deep-dives (chain folding, crash injection, GC
reachability, CDC across a dv flip, COW parity on every read path)
live in tests/test_snapshot_dv.py.

``s_knn_ivf_refresh`` — the `IvfIndex` durable-codebook lifecycle
end-to-end (VERDICT r13 item 3 / SURVEY E119): wave 1 fits and
commits the codebook atomically with its postings, waves 2–3 append
against it, ``refresh()`` re-trains + rebalances as ONE mixed-verb
transaction, wave 4 lands on the refreshed codebook, and the search
runs from a FRESH handle (durability — no session state). The floor
is RAISED to 60 (vs the frozen-codebook query's 50): measured
recall@5 for THIS 4-wave composition is 82 / 77 / 92 at sf0.001 /
0.01 / 0.1 (wave 4 arrives after the refresh, so its vectors are
assigned by a codebook trained without them — slightly below the
3-wave refresh A/B's 85/83/93 in SCALE.md r13, which refreshed
last). The floor sits 17 points under the worst measurement so a
fixture regeneration can't flip a deterministic pass into a flaky
one (the s_knn_ivf floor discipline).

``s_snapshot_wap_publish`` — write-audit-publish branches (VERDICT
r13 item 5 / SURVEY E122, ``SnapshotTable.create_branch`` /
``SnapshotBranch.publish``/``drop``): the Iceberg WAP / Nessie
pattern. The lifecycle stages a CORRUPTED slice on one branch, audits
it with the expectations gate (E34), and DROPS it — those rows must
never become reader-visible; stages the real slice plus a MOR range
delete on a second branch, audits (the rule verifies the delete did
its job — a load-bearing gate, not theater), and fast-forward
PUBLISHES. The result is main's final aggregate plus a contract row
pinning zero corrupt rows visible and zero branches left; the oracle
recomputes the published-path answer closed-form, so a leaked branch
row, a lost publish, or a surviving deleted row all hash-fail.

Activation checklist (mirror of roundthirteen's) — EXECUTED round
15: specs moved into ``@register`` form, roundfourteen imported in
``plans/__init__``, the three queries lead the r15 gate window,
STAGED_R14 → ADDITIONS_R14 in bench.py, staged empty-sweep block
folded into the registry sweep, registry-count pins moved to 218,
plan-audit adjudications recorded (the dv lifecycle's contract row
is a 1-row local frame — manifest metadata by design; the aggregate
rows are two full-table aggregates over the small snapshot table).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..tables import load_table
from .registry import register
from .roundthirteen import _append_id_slices

DV_DELETE_ORACLE = """
    WITH survivors AS (
      SELECT event_type, value FROM events
      WHERE NOT ((value BETWEEN 100 AND 250) IS TRUE)
        AND (event_id IS NULL OR event_id % 7 <> 0)
    ), agg AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             round(sum(value), 2) AS s
      FROM survivors GROUP BY event_type
    ), c AS (
      SELECT CAST(count(*) AS BIGINT) AS n_live FROM survivors
    )
    SELECT 'mor' AS label, event_type, n, s FROM agg
    UNION ALL
    SELECT 'folded', event_type, n, s FROM agg
    UNION ALL
    SELECT 'contract', NULL, CAST(0 AS BIGINT),
           CAST(n_live AS DOUBLE)
    FROM c
"""


@register(
    "s_snapshot_dv_delete",
    oracle=DV_DELETE_ORACLE,
    tags=("storage", "snapshot", "delete", "dv"),
)
def s_snapshot_dv_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read deletion-vector lifecycle (SURVEY E121): three
    id-sliced appends, a predicate MOR delete, a keyed MOR delete,
    then the surviving per-type aggregate through the position-
    merging read (``mor``), again after ``compact()`` folds the
    vectors (``folded``), plus a ``contract`` row: n = data files
    REWRITTEN by the two deletes (must be 0 — the whole point), s =
    ``agg_stats``'s manifest-only live-row count (must equal the
    oracle's survivor count).

    Plan shape: the MOR deletes write O(matched positions); each
    read is one scan that drops the positions with one InSet filter
    on the native ``(_metadata.file_name, _metadata.row_index)``
    pair, resolved on the driver — one Spark job, no shuffle, no
    Python. At 100 TB this is the weekly GDPR batch
    deleting kilobytes instead of rewriting terabytes."""
    import os
    import shutil

    from ..storage import SnapshotTable

    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    base = f"/tmp/spark_graft_layout/{tag}/dv_delete"
    shutil.rmtree(base, ignore_errors=True)
    t = SnapshotTable(
        spark, os.path.join(base, "events"),
        key_cols=["event_id"], order_col="__ver", n_buckets=8,
    )
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    row = ev.agg(
        F.min("event_id").alias("mn"), F.max("event_id").alias("mx")
    ).first()
    mn, mx = row["mn"], row["mx"]
    out_schema = (
        "label string, event_type string, n long, s double"
    )
    if mn is None:
        return spark.createDataFrame([], out_schema)
    _append_id_slices(t, ev, mn, mx)
    before = {f["path"] for f in t.files()}
    t.delete_where("value BETWEEN 100 AND 250", mode="mor")
    t.delete_keys(
        ev.filter(F.col("event_id") % 7 == 0).select("event_id"),
        mode="mor",
    )
    rewritten = len({f["path"] for f in t.files()} - before)
    n_live = t.agg_stats()["n_rows"]  # manifest-only live count

    def agg(label: str) -> DataFrame:
        return (
            t.read()
            .groupBy("event_type")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.round(F.sum("value"), 2).alias("s"),
            )
            .select(F.lit(label).alias("label"), "event_type", "n", "s")
        )

    mor = agg("mor")
    t.compact(min_files=999)  # fold: only dv-carrying buckets qualify
    folded = agg("folded")
    contract = spark.createDataFrame(
        [("contract", None, rewritten, float(n_live))], out_schema
    )
    return mor.unionByName(folded).unionByName(contract)


WAP_ORACLE = """
    WITH survivors AS (
      SELECT event_type, value FROM events
      WHERE NOT ((value BETWEEN 100 AND 250) IS TRUE)
    )
    SELECT 'main' AS label, event_type,
           CAST(count(*) AS BIGINT) AS n, round(sum(value), 2) AS s
    FROM survivors GROUP BY event_type
    UNION ALL
    SELECT 'contract', NULL, CAST(0 AS BIGINT), CAST(0 AS DOUBLE)
"""


@register(
    "s_snapshot_wap_publish",
    oracle=WAP_ORACLE,
    tags=("storage", "snapshot", "wap", "branch"),
)
def s_snapshot_wap_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-audit-publish lifecycle (SURVEY E122): two id-sliced
    appends on main; branch ``bad`` stages a third slice CORRUPTED
    (``event_type = '__corrupt__'``), fails its expectations audit,
    and drops; branch ``good`` stages the REAL third slice plus a MOR
    range delete, passes its audit (the rule asserts the deleted
    window is gone — the gate verifies the branch's work, not just
    its inputs), and fast-forward publishes. Returns main's per-type
    aggregate plus a contract row: n = corrupt rows visible in main
    (must be 0 — the WAP claim), s = live branches left (0.0).

    Plan shape: branch commits are ordinary snapshot commits in a
    namespace main never scans; the audits are one single-pass
    aggregate each (check_expectations); publish is ONE atomic
    squash delta commit through the standard claim CAS — metadata,
    never data."""
    import os
    import shutil

    from ..operators.profile import check_expectations
    from ..storage import SnapshotTable

    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    base = f"/tmp/spark_graft_layout/{tag}/wap_publish"
    shutil.rmtree(base, ignore_errors=True)
    t = SnapshotTable(
        spark, os.path.join(base, "events"),
        key_cols=["event_id"], order_col="__ver", n_buckets=8,
    )
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    row = ev.agg(
        F.min("event_id").alias("mn"), F.max("event_id").alias("mx")
    ).first()
    mn, mx = row["mn"], row["mx"]
    out_schema = "label string, event_type string, n long, s double"
    if mn is None:
        return spark.createDataFrame([], out_schema)
    span = max(1, (mx - mn + 1) // 3)
    slices = []
    for w in range(3):
        lo = mn + w * span
        hi = mx if w == 2 else mn + (w + 1) * span - 1
        sl = (F.col("event_id") >= lo) & (F.col("event_id") <= hi)
        if w == 2:
            sl = sl | F.col("event_id").isNull()
        slices.append(ev.filter(sl))
    t.append(slices[0].withColumn("__ver", F.lit(1).cast("long")))
    t.append(slices[1].withColumn("__ver", F.lit(2).cast("long")))

    bad = t.create_branch("bad")
    bad.append(
        slices[2]
        .withColumn("event_type", F.lit("__corrupt__"))
        .withColumn("__ver", F.lit(3).cast("long"))
    )
    report = check_expectations(
        bad.read(),
        [{"name": "no_corrupt", "predicate": "event_type <> '__corrupt__'"}],
    )
    if report.filter("NOT passed").count():
        bad.drop()
    else:  # unreachable on real fixtures — publish would be correct
        bad.publish()

    good = t.create_branch("good")
    good.append(slices[2].withColumn("__ver", F.lit(3).cast("long")))
    good.delete_where("value BETWEEN 100 AND 250", mode="mor")
    report = check_expectations(
        good.read(),
        [
            {"name": "no_corrupt", "predicate": "event_type <> '__corrupt__' OR event_type IS NULL"},
            {"name": "window_deleted", "predicate": "(value BETWEEN 100 AND 250) IS NOT TRUE"},
        ],
    )
    if report.filter("NOT passed").count():  # unreachable likewise
        good.drop()
    else:
        good.publish()

    agg = (
        t.read()
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("s"),
        )
        .select(F.lit("main").alias("label"), "event_type", "n", "s")
    )
    n_corrupt = t.read().filter("event_type = '__corrupt__'").count()
    contract = spark.createDataFrame(
        [("contract", None, n_corrupt, float(len(t.branches())))],
        out_schema,
    )
    return agg.unionByName(contract)


# Approximate neighbor lists aren't SQL-reproducible (the candidate
# set depends on the engine-side codebook), so the query emits the
# recall-contract constants — the s_knn_ivf device: the oracle hash
# fails exactly when recall collapses or the cardinality breaks.
IVF_REFRESH_ORACLE = """
    SELECT CAST(5 AS BIGINT) AS k, CAST(60 AS BIGINT) AS floor_pct,
           CAST(100 AS BIGINT) AS n_true, CAST(1 AS BIGINT) AS meets_floor
"""


@register(
    "s_knn_ivf_refresh",
    oracle=IVF_REFRESH_ORACLE,
    tags=("llm", "similarity", "storage", "incremental", "maintenance"),
)
def s_knn_ivf_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durable-codebook IVF index maintenance lifecycle (SURVEY E119,
    ``operators/similarity.IvfIndex``): wave 1 (fit + atomic
    codebook/postings commit) → waves 2–3 (map-only assign + append
    fast path) → ``refresh()`` (re-train over the accumulated
    postings, reassign, ONE mixed-verb ``apply_all`` transaction so a
    prober can never read new centroids over the old cell layout) →
    wave 4 (assigned against the REFRESHED codebook) → ``topk`` from
    a FRESH handle opened off disk (the durability claim: search
    needs no session state). Recall contract at floor 60 — raised
    from the frozen-codebook query's 50 because refresh recovers the
    wave-1 codebook's drift (measured 82/77/92 for this composition
    vs 75/70/92 frozen; floor discipline in the module docstring).

    Plan shape: per-wave cost is O(batch); refresh is O(table) at
    maintenance cadence BY DESIGN; the probe reads only the probed
    cells' physical buckets (``read_matching``); the exact brute-
    force re-rank is the contract's verification cost, not the
    serving path."""
    import math
    import os
    import shutil

    from ..operators.similarity import (
        IvfIndex,
        cosine_topk,
        recall_contract,
    )
    from .roundten import _exact_order_stats

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    if n == 0:
        return spark.createDataFrame(
            [], "k long, floor_pct long, n_true long, meets_floor long"
        )
    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    base = f"/tmp/spark_graft_layout/{tag}/ivf_refresh_e2e"
    shutil.rmtree(base, ignore_errors=True)
    index = IvfIndex(spark, base, n_buckets=8)

    vecs = emb.select(
        F.col("vec_id").cast("long").alias("nid"),
        F.col("embedding").alias("vec"),
    )
    qs = [math.ceil(n * i / 4.0) for i in (1, 2, 3)]
    cuts = _exact_order_stats(vecs, "nid", qs)
    c1, c2, c3 = (cuts.get(q) for q in qs)
    bounds = [(None, c1), (c1, c2), (c2, c3), (c3, None)]
    for ver, (lo, hi) in enumerate(bounds, start=1):
        chunk = vecs
        if lo is not None:
            chunk = chunk.filter(F.col("nid") > lo)
        if hi is not None:
            chunk = chunk.filter(F.col("nid") <= hi)
        index.wave(chunk, ver, n_cells=16)
        if ver == 3:
            index.refresh()  # maintenance between waves 3 and 4

    served = IvfIndex(spark, base, n_buckets=8)  # fresh handle
    queries = emb.filter(F.col("vec_id") < 20)
    q = queries.select(
        F.col("vec_id").cast("long").alias("query_id"),
        F.col("embedding").alias("vec"),
    )
    approx = served.topk(q, k=5, nprobe=4)
    exact = cosine_topk(queries, emb, "vec_id", "embedding", k=5)
    return recall_contract(approx, exact, k=5, floor_pct=60)
