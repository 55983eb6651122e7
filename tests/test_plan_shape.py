"""Plan-shape regression tests — the scale posture, asserted.

Correctness says WHAT came out; these say HOW: filters reached the
parquet scan, projections pruned the read schema, small dims
broadcast, sort+limit became a top-k heap, no row-at-a-time Python
UDF ever appears on a data path. A regression here is invisible at
fixture scale and fatal at 100 TB, which is exactly why it's pinned
in tests.
"""

from __future__ import annotations

import io
from contextlib import redirect_stdout

import pytest

from turnover_odata_etl_spark.plans import registry

SPECS = registry.all_specs()


def plan_str(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    plan = plan_str(SPECS["e1_pricing_summary"].fn(spark, sf_dir))
    assert "PushedFilters" in plan and "l_shipdate" in plan.split("PushedFilters", 1)[1]


def test_column_pruning_reaches_scan(spark, sf_dir):
    """Q1 touches 6 of lineitem's 11 columns; the scan must not read
    the rest."""
    plan = plan_str(SPECS["e1_pricing_summary"].fn(spark, sf_dir))
    read_schema = plan.split("ReadSchema", 1)[1].splitlines()[0]
    assert "l_partkey" not in read_schema and "l_suppkey" not in read_schema
    assert "l_quantity" in read_schema


def test_star_join_broadcasts_dimensions(spark, sf_dir):
    plan = plan_str(SPECS["e3_star_join_revenue"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_sort_limit_is_topk_not_full_sort(spark, sf_dir):
    plan = plan_str(SPECS["o_sort_limit"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan


def test_correlated_subquery_is_decorrelated(spark, sf_dir):
    """Catalyst must rewrite the per-row scalar subquery into an
    aggregate + join; a surviving scalar-subquery node means per-row
    re-execution."""
    plan = plan_str(SPECS["q_sql_correlated_subquery"].fn(spark, sf_dir))
    assert "scalar-subquery" not in plan
    assert "Join" in plan or "BroadcastHashJoin" in plan


def test_range_frame_is_single_window_pass(spark, sf_dir):
    """The rolling 30-day sum must be a Window over ONE exchange, not
    a range self-join."""
    plan = plan_str(SPECS["e5_window_range_frame"].fn(spark, sf_dir))
    assert "Window" in plan
    assert "Join" not in plan


def test_sessionize_single_shuffle(spark, sf_dir):
    """lag + prefix-sum + groupBy all share the user_id partitioning:
    exactly one shuffle in the whole sessionization plan."""
    plan = plan_str(SPECS["e14_sessionize_batch"].fn(spark, sf_dir), mode="simple")
    n_exchanges = plan.count("Exchange hashpartitioning")
    assert n_exchanges == 1, plan


@pytest.mark.parametrize(
    "name",
    sorted(n for n, s in SPECS.items() if "streaming" not in s.tags),
)
def test_no_rowwise_python_udf_anywhere(name, registered_query):
    """BatchEvalPython = row-at-a-time Python UDF — banned on every
    data path (SCALE.md). Arrow paths (ArrowEvalPython, MapInPandas,
    FlatMapGroupsInPandas) are the sanctioned Python escape hatches.
    The plan is the one explained when the frame was built, before the
    oracle comparison runs it."""
    _, plan = registered_query(name)
    assert "BatchEvalPython" not in plan


def test_q5_dimension_chain_broadcasts(spark, sf_dir):
    """Q5's region→nation→supplier chain must collapse into broadcasts
    — the fact table never shuffles for a dimension."""
    plan = plan_str(SPECS["e6_q5_local_supplier_volume"].fn(spark, sf_dir))
    assert plan.count("BroadcastExchange") >= 3
    # lineitem scan reads only the 4 columns the query touches
    assert "ReadSchema: struct<l_orderkey:bigint,l_suppkey:bigint," in plan


def test_q18_aggregates_before_join(spark, sf_dir):
    """Q18 must be agg-first: the lineitem scan feeds a 2-column
    partial aggregate, not a join (join-first would widen the scan)."""
    plan = plan_str(SPECS["e6_q18_large_volume_customer"].fn(spark, sf_dir))
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in plan
    assert "partial_sum" in plan


def test_corpus_pipeline_quality_filter_pushed_to_scan(spark, sf_dir):
    """The composed pipeline's first stage (n_chars >= 100) must reach
    the parquet scan as a pushed filter, not run post-materialization."""
    plan = plan_str(SPECS["t_corpus_pipeline"].fn(spark, sf_dir))
    pushed = plan.split("PushedFilters", 1)[1].splitlines()[0]
    assert "n_chars" in pushed


def test_snapshot_diff_is_copartitioned_join(spark, sf_dir):
    """The full-outer snapshot diff must be a keyed join — never a
    nested-loop/cartesian fallback."""
    plan = plan_str(SPECS["c_snapshot_diff"].fn(spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q10_topk_is_take_ordered_and_filters_pushed(spark, sf_dir):
    """Q10's LIMIT 20 must compile to TakeOrderedAndProject (partial
    per-partition top-k), and both selective predicates must reach
    their scans."""
    plan = plan_str(SPECS["e6_q10_returned_items"].fn(spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    pushed = plan.split("PushedFilters", 1)[1]
    assert "l_returnflag" in plan and "PushedFilters" in plan
    # returnflag filter pushed into the lineitem scan
    assert any(
        "l_returnflag" in seg.splitlines()[0]
        for seg in plan.split("PushedFilters")[1:]
    )


def test_q7_double_dimension_broadcast(spark, sf_dir):
    """Q7 must broadcast BOTH reduced dimensions (supplier-side and
    customer-side nation joins) — at least 3 broadcast joins total,
    zero shuffles for dimension work."""
    plan = plan_str(SPECS["e6_q7_volume_shipping"].fn(spark, sf_dir))
    assert plan.count("BroadcastHashJoin") >= 3


def test_tiled_knn_is_cogrouped_not_collected(spark, sf_dir):
    """The tiled kNN must run as a cogrouped Arrow op (distributed
    tiles), never as a driver-collected broadcast of the query set."""
    plan = plan_str(SPECS["s_knn_tiled"].fn(spark, sf_dir))
    assert "FlatMapCoGroupsInPandas" in plan


def test_quality_filter_pushes_into_scan_when_filtered(spark, sf_dir):
    """Using the C4 gate as a WHERE must push the cheap rules into the
    parquet scan (here: the combined filter at least prunes with an
    IsNotNull; the full boolean evaluates in the scan stage, before
    any exchange)."""
    df = SPECS["t_quality_filter_c4"].fn(spark, sf_dir)
    from pyspark.sql import functions as F

    plan = plan_str(df.filter(F.col("keep")))
    assert "Exchange" not in plan  # scan+project+filter only — no shuffle


def test_profile_is_single_scan_single_aggregate(spark, sf_dir):
    """profile_table computes all N×5 statistics over ONE scan — never
    one query per column (the 4·N-scan anti-pattern). Exactly one file
    index (= one scan) may appear in the physical plan."""
    plan = plan_str(SPECS["p_profile_table"].fn(spark, sf_dir))
    assert plan.count("Location: InMemoryFileIndex") == 1


def test_lateral_join_is_decorrelated(spark, sf_dir):
    """The correlated LATERAL subquery must compile to aggregate +
    equi-join (no per-outer-row LateralJoin loop node)."""
    plan = plan_str(SPECS["q_sql_lateral_join"].fn(spark, sf_dir), mode="simple")
    assert "LateralJoin" not in plan
    assert "Join" in plan


def test_recursive_cte_uses_union_loop(spark, sf_dir):
    """The recursive spine must execute as Spark 4's UnionLoop
    operator (true recursion), not some unrolled approximation."""
    plan = plan_str(SPECS["q_sql_recursive_cte"].fn(spark, sf_dir), mode="simple")
    assert "UnionLoop" in plan


def test_q19_disjunction_implications_pushed_both_sides(spark, sf_dir):
    """The OR-of-ANDs spans both join inputs; Catalyst must extract the
    single-table implications and push them into BOTH parquet scans
    (else the join sees both tables unfiltered — fatal at 100 TB)."""
    plan = plan_str(SPECS["e6_q19_disjunctive_join"].fn(spark, sf_dir))
    part_scan = plan.split("part.parquet", 1)[0]
    assert "p_brand" in plan.split("PushedFilters", 1)[1] or "p_brand" in plan
    # both scans carry a pushed Or(...) filter
    assert plan.count("Or(") >= 2


def test_runtime_bloom_filter_injects_on_selective_dim_join(spark, sf_dir):
    """Runtime-filter capability check: with the size thresholds
    lowered (at real scale the defaults trigger on their own), a
    selective dimension predicate induces a bloom_filter_might_contain
    probe on the fact-side scan — rows that can't join are dropped
    before the shuffle, the standard big-join row-reduction at 100 TB."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force a shuffle join so the bloom path applies
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        from turnover_odata_etl_spark.tables import load_table
        from pyspark.sql import functions as F

        o = load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        li = load_table(spark, sf_dir, "lineitem")
        j = li.join(o, li.l_orderkey == o.o_orderkey).groupBy(
            "o_orderpriority"
        ).count()
        plan = plan_str(j)
        assert "bloom_filter" in plan or "BloomFilter" in plan, plan[:2000]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_blocked_knn_dispatches_to_tiled_on_large_query_set(spark, sf_dir):
    """The driver-small contract of cosine_topk_blocked is enforced by
    code: a corpus-sized query set must dispatch to the cogrouped tiled
    path (distributed tiles), never collect |Q| vectors to the driver.
    The probe itself reads at most max_driver_queries+1 rows."""
    from pyspark.sql import functions as F

    from turnover_odata_etl_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_blocked,
    )
    from turnover_odata_etl_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    df = cosine_topk_blocked(
        emb, emb, "vec_id", "embedding", k=3, max_driver_queries=8
    )
    assert "FlatMapCoGroupsInPandas" in plan_str(df)
    # and the dispatched result is still the exact top-k
    small = emb.filter(F.col("vec_id") < 6)
    got = sorted(
        cosine_topk_blocked(
            small, emb, "vec_id", "embedding", k=3, max_driver_queries=2
        ).collect()
    )
    want = sorted(cosine_topk(small, emb, "vec_id", "embedding", k=3).collect())
    assert got == want


def test_pq_dispatches_to_tiled_on_large_query_set(spark, sf_dir):
    """Same contract for pq_topk: corpus-sized |Q| must not collect the
    query set nor ship a |Q|-sized ADC LUT — it dispatches to the exact
    tiled cogroup path (which satisfies the recall contract trivially)."""
    from pyspark.sql import functions as F

    from turnover_odata_etl_spark.operators.similarity import (
        cosine_topk,
        pq_topk,
    )
    from turnover_odata_etl_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    df = pq_topk(emb, emb, "vec_id", "embedding", k=3, max_driver_queries=8)
    plan = plan_str(df)
    assert "FlatMapCoGroupsInPandas" in plan
    small = emb.filter(F.col("vec_id") < 6)
    got = sorted(
        pq_topk(
            small, emb, "vec_id", "embedding", k=3, max_driver_queries=2
        ).collect()
    )
    want = sorted(cosine_topk(small, emb, "vec_id", "embedding", k=3).collect())
    assert got == want


def test_copurchase_broadcasts_dim_and_no_cartesian(spark, sf_dir):
    """Brand lookup must be a broadcast hash join and pair generation a
    key-equi self-join — never a cartesian product."""
    plan = plan_str(SPECS["e6_copurchase_pairs"].fn(spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_funnel_is_jvm_only_single_table(spark, sf_dir):
    """The funnel min-chain is built-in aggregates + joins: no Python
    eval on the data path, and every stage reads the one events scan."""
    plan = plan_str(SPECS["e14_funnel_sequence"].fn(spark, sf_dir))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_exact_percentiles_single_scan(spark, sf_dir):
    """All per-group percentiles compute over ONE lineitem scan, not a
    scan per statistic."""
    plan = plan_str(SPECS["e13_exact_percentiles"].fn(spark, sf_dir))
    assert plan.count("Location: InMemoryFileIndex") == 1


def test_peak_concurrency_sweep_is_day_sharded(spark, sf_dir):
    """The sweep-line prefix sum must partition on (event_type, day),
    not event_type alone: event_type is low-cardinality, so a per-type
    global window is one straggler partition per type at 100 TB. The
    day-sharded rewrite splits intervals at day boundaries and merges
    per-day peaks by max (VERDICT r03 item 5)."""
    import re

    plan = plan_str(SPECS["e14_peak_concurrency"].fn(spark, sf_dir))
    spec = plan.split("windowspecdefinition", 1)[1].split(")", 1)[0]
    assert "event_type" in spec and "day" in spec, spec
    assert re.search(r"hashpartitioning\(event_type#\d+, day#\d+", plan), plan[:3000]


def test_q6_all_filters_and_pruning_reach_scan(spark, sf_dir):
    """Q6 is the pure-pushdown benchmark: every conjunct must appear in
    PushedFilters and the scan must read only the 4 touched columns."""
    plan = plan_str(SPECS["e6_q6_forecast_revenue"].fn(spark, sf_dir))
    pushed = plan.split("PushedFilters", 1)[1].splitlines()[0]
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in pushed, pushed
    read_schema = plan.split("ReadSchema", 1)[1].splitlines()[0]
    assert "l_orderkey" not in read_schema and "l_returnflag" not in read_schema


def test_q8_dimensions_broadcast_no_cartesian(spark, sf_dir):
    """The widest join in the suite. Fixed-cardinality dims (nation x2,
    region) carry explicit hints and must broadcast; the SF-growing
    sides (part slice, customer set, supplier) are deliberately
    UN-hinted (VERDICT r04 item 4) — at fixture scale the optimizer's
    size estimate still picks broadcast, but the test tolerates either
    strategy for them. No cartesian ever."""
    plan = plan_str(SPECS["e6_q8_market_share"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    # >= 3: the two hinted nation roles + region (more when the
    # optimizer also broadcasts the un-hinted slices at fixture scale)
    assert plan.count("BroadcastHashJoin") >= 3, plan[:2000]


def test_q21_aggregate_chain_copartitions_on_orderkey(spark, sf_dir):
    """per_order/blame/sole all key on l_orderkey: after the first
    fact shuffle the chain must not introduce additional exchanges on
    other keys until the final s_name groupBy (the co-partitioning is
    the point of the rewrite from EXISTS/NOT-EXISTS). The supplier
    lookup is AQE-decided (supplier grows with SF — no forced
    broadcast), so the test accepts broadcast OR shuffle for it."""
    plan = plan_str(SPECS["e6_q21_suppliers_kept_waiting"].fn(spark, sf_dir))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan


def test_spatial_grid_join_is_equi_join_on_cells(spark, sf_dir):
    """The radius join must execute as a hash equi-join on cell keys —
    the only nested-loop allowed is the 9-row neighbor-offset
    expansion on the dimension side; the fact side must never
    cartesian against stations."""
    plan = plan_str(
        SPECS["e4_spatial_grid_join"].fn(spark, sf_dir), mode="simple"
    )
    assert "BroadcastHashJoin" in plan
    assert plan.count("CartesianProduct") == 0
    # the only nested-loops build the 9-row offset grid (3×3 ranges ×
    # station side) — both dimension-sized, never touching events
    assert plan.count("BroadcastNestedLoopJoin") <= 2


def test_pretrain_pipeline_filter_pushes_under_composition(spark, sf_dir):
    """Composing quality -> decontaminate -> dedup -> pack into one
    plan must not defeat pushdown: the n_chars >= 100 gate reaches the
    parquet scan under the anti join and both window passes, and no
    per-row Python appears anywhere."""
    plan = plan_str(SPECS["t_pretrain_pipeline"].fn(spark, sf_dir))
    assert any(
        "n_chars" in seg.splitlines()[0]
        for seg in plan.split("PushedFilters")[1:]
    ), "quality gate not pushed to scan"
    assert "BatchEvalPython" not in plan


def test_gate_window_is_first_50_registrations():
    """The driver audits the FIRST 50 registered queries; promote()
    must put exactly GATED_QUERIES there, every one must exist, carry
    an oracle, and be unique — a rotation typo would otherwise
    silently shrink the audited surface."""
    from turnover_odata_etl_spark.plans import GATED_QUERIES

    assert len(GATED_QUERIES) == 50
    assert len(set(GATED_QUERIES)) == 50
    first50 = list(SPECS)[:50]
    assert first50 == GATED_QUERIES
    for name in GATED_QUERIES:
        assert SPECS[name].oracle is not None, name


def test_pack_fragments_shard_count_scales_with_parallelism(spark, sf_dir):
    """VERDICT r04 item 2: the packing prefix-sum must not be pinned to
    8 ordered-window partitions — the default shard modulus follows
    cluster parallelism, and the registered queries' n_shards=8 is an
    oracle-parity pin, not an engine constant."""
    from pyspark.sql import functions as F

    from turnover_odata_etl_spark.functions import text as TXT
    from turnover_odata_etl_spark.plans.llm import pack_fragments
    from turnover_odata_etl_spark.tables import load_table

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id", TXT.token_count("text").alias("n_tok"))
        .filter(F.col("n_tok") >= 1)
    )
    par = spark.sparkContext.defaultParallelism
    got = pack_fragments(docs)  # default: scales with the session
    n_shards = got.select("shard").distinct().count()
    n_docs = docs.count()
    assert n_shards == min(par, n_docs)
    # the pinned-8 variant stays bit-identical to the registered query
    pinned = pack_fragments(docs, n_shards=8)
    assert pinned.select("shard").distinct().count() <= 8
    # every token lands in exactly one fragment under either sharding
    total = docs.agg(F.sum("n_tok")).first()[0]
    for frame in (got, pinned):
        assert frame.agg(F.sum("frag_len")).first()[0] == total


def test_broadcast_guard_hints_small_declines_large(spark, sf_dir):
    """broadcast_if_storage_small must hint when the base scans are
    under the session broadcast threshold and decline (returning the
    frame unchanged, strategy left to AQE) when they are not — the
    size-guarded middle path of VERDICT r04 item 4."""
    from pyspark.sql import functions as F

    from turnover_odata_etl_spark.tables import (
        broadcast_if_storage_small,
        load_table,
    )

    n = load_table(spark, sf_dir, "nation")
    s = load_table(spark, sf_dir, "supplier")
    sl = s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).select(
        "s_suppkey", "n_name"
    )
    li = load_table(spark, sf_dir, "lineitem")

    hinted = broadcast_if_storage_small(sl, s, n)
    plan = li.join(
        hinted, li.l_suppkey == F.col("s_suppkey")
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan

    # shrink the threshold below the supplier scan size: guard declines
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1KB")
        declined = broadcast_if_storage_small(sl, s, n)
        # no ResolvedHint wrapper: the returned plan is the input plan
        assert (
            declined._jdf.queryExecution().logical().toString()
            == sl._jdf.queryExecution().logical().toString()
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_warc_parse_path_has_no_pre_parse_shuffle(spark, sf_dir, tmp_path):
    """WARC read = binaryFile scan → mapInPandas parse, with NO
    Exchange before the parse: parallelism is the shard count by
    design (gzip isn't splittable) and an eager repartition would
    move whole compressed blobs across the cluster for nothing."""
    from pyspark.sql import functions as F

    from turnover_odata_etl_spark.sources.warc import (
        read_warc,
        write_warc_shards,
    )
    from turnover_odata_etl_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents").limit(30).select(
        F.concat(F.lit("http://s/doc/"), F.col("doc_id")).alias("uri"),
        F.lit(1767225600).alias("date_s"),
        "lang",
        "text",
    )
    path = str(tmp_path / "warc_plan")
    write_warc_shards(docs, path, n_shards=2)
    plan = plan_str(read_warc(spark, path))
    head, _, _ = plan.partition("MapInPandas")
    assert "Exchange" not in head, plan


def test_bpe_pair_count_has_partial_aggregate(spark):
    """The per-round pair count must map-side combine (partial
    HashAggregate before the exchange) — at full-vocabulary scale the
    pair space is huge and the shuffle must carry combined counts,
    not one row per (word, position)."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("abab", 3), ("bb", 5)], "word string, cnt long"
    )
    seq = df.select(
        F.regexp_replace("word", "(.)", r"($1)").alias("seq"), "cnt"
    )
    toks = F.split(F.expr("substring(seq, 2, length(seq)-2)"), r"\)\(")
    pairs = (
        seq.select(toks.alias("toks"), "cnt")
        .filter(F.size("toks") >= 2)
        .select(
            F.slice("toks", 1, F.size("toks") - 1).alias("heads"),
            F.slice("toks", 2, F.size("toks") - 1).alias("tails"),
            "cnt",
        )
        .select(F.explode(F.arrays_zip("heads", "tails")).alias("z"), "cnt")
        .select(F.col("z.heads").alias("p1"), F.col("z.tails").alias("p2"), "cnt")
        .groupBy("p1", "p2")
        .agg(F.sum("cnt").alias("c"))
    )
    plan = plan_str(pairs)
    head, _, _ = plan.partition("Exchange")
    assert "HashAggregate" in head, plan


def test_ensure_parallelism_fans_out_narrow_scan_and_noops_when_wide(spark, sf_dir):
    """A single-file scan must fan out to cluster width before a
    CPU-bound Python stage; an already-wide frame must pass through
    UNTOUCHED (the guard is what keeps this a no-op — not a pointless
    full-corpus shuffle — at real scale)."""
    from turnover_odata_etl_spark.tables import ensure_parallelism, load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    target = spark.sparkContext.defaultParallelism
    assert docs.rdd.getNumPartitions() < target  # fixture = tiny file

    fanned = ensure_parallelism(docs)
    assert fanned.rdd.getNumPartitions() >= target

    # Idempotent: wide input returns the SAME frame, no new exchange.
    again = ensure_parallelism(fanned)
    assert again is fanned
