"""Round-12 queries (plans/roundtwelve.py, REGISTERED round 13 per
the r12 cap ruling) — oracle parity + mechanism deep-dives."""

from __future__ import annotations

import math

import duckdb

from .oracle_utils import compare_spark_vs_oracle
from turnover_odata_etl_spark.operators.retrieval import bm25_topk
from turnover_odata_etl_spark.plans.roundtwelve import (
    BM25_ORACLE,
    t_bm25_topk,
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


def test_roundtwelve_specs_registered_with_eager_oracles():
    from turnover_odata_etl_spark.plans import registry

    specs = registry.all_specs()
    for name in (
        "t_bm25_topk", "s_knn_ivf_persistent", "s_bm25_incremental",
        "s_snapshot_zorder_skipping", "s_snapshot_merge_into",
    ):
        assert name in specs, name
        assert specs[name].oracle and specs[name].oracle.strip()


def test_bm25_topk_matches_oracle(spark, sf_dir):
    compare_spark_vs_oracle(
        t_bm25_topk(spark, sf_dir),
        _con(sf_dir),
        BM25_ORACLE,
        "t_bm25_topk",
    )


def test_bm25_hand_corpus(spark):
    """Independent arithmetic: the Lucene-form BM25 computed by hand
    in the test must match the operator to the 4dp grid, including
    the tf-saturation/length-normalization ordering (d1 beats d2 on
    tf despite being longer)."""
    docs = spark.createDataFrame(
        [(1, "x x y"), (2, "x z"), (3, "y y y"), (4, "z")],
        "doc_id long, text string",
    )
    q = spark.createDataFrame([(0, "x")], "query_id long, term string")
    got = {
        (r["query_id"], r["doc_id"]): (r["score"], r["rn"])
        for r in bm25_topk(docs, q).collect()
    }

    def score(tf, dl, df, n=4.0, avgdl=9 / 4, k1=1.2, b=0.75):
        idf = math.log(1 + (n - df + 0.5) / (df + 0.5))
        return round(
            idf * tf / (tf + k1 * (1 - b + b * dl / avgdl)), 4
        )

    assert got == {
        (0, 1): (score(2, 3, 2), 1),
        (0, 2): (score(1, 2, 2), 2),
    }
    assert got[(0, 1)][0] > got[(0, 2)][0]


def test_bm25_df_not_inflated_by_query_overlap(spark):
    """Two queries sharing a term must not double that term's df (the
    postings restriction joins per (query, term) — df is counted on
    DISTINCT docs)."""
    docs = spark.createDataFrame(
        [(1, "x x y"), (2, "x z"), (3, "y y y"), (4, "z")],
        "doc_id long, text string",
    )
    q1 = spark.createDataFrame(
        [(0, "x")], "query_id long, term string"
    )
    q2 = spark.createDataFrame(
        [(0, "x"), (1, "x"), (1, "z")], "query_id long, term string"
    )
    solo = {
        r["doc_id"]: r["score"]
        for r in bm25_topk(docs, q1).collect()
    }
    both = {
        r["doc_id"]: r["score"]
        for r in bm25_topk(docs, q2)
        .filter("query_id = 0")
        .collect()
    }
    assert solo == both


def test_bm25_no_hit_queries_vanish_and_k_caps(spark):
    docs = spark.createDataFrame(
        [(i, "common tok" + str(i % 3)) for i in range(12)],
        "doc_id long, text string",
    )
    q = spark.createDataFrame(
        [(0, "common"), (1, "missingterm")],
        "query_id long, term string",
    )
    out = bm25_topk(docs, q, k=5).collect()
    assert {r["query_id"] for r in out} == {0}
    assert len(out) == 5  # k caps the 12 matching docs
    assert [r["rn"] for r in sorted(out, key=lambda r: r["rn"])] == [
        1, 2, 3, 4, 5,
    ]


def test_bm25_repeat_call_deterministic(spark, sf_dir):
    a = sorted(map(tuple, t_bm25_topk(spark, sf_dir).collect()))
    b = sorted(map(tuple, t_bm25_topk(spark, sf_dir).collect()))
    assert a == b


# ------------------------------------------------ persistent IVF ANN


def test_ivf_persistent_matches_oracle(spark, sf_dir):
    from turnover_odata_etl_spark.plans.roundtwelve import (
        IVF_PERSISTENT_ORACLE,
        s_knn_ivf_persistent,
    )

    compare_spark_vs_oracle(
        s_knn_ivf_persistent(spark, sf_dir),
        _con(sf_dir),
        IVF_PERSISTENT_ORACLE,
        "s_knn_ivf_persistent",
    )


def _axis_vec(axis, dim=8, wobble=0.0, wobble_axis=None):
    v = [0.0] * dim
    v[axis] = 1.0
    if wobble and wobble_axis is not None:
        v[wobble_axis] = wobble
    return v


def test_ivf_persistent_cross_wave_mechanism(spark, tmp_path):
    """The MECHANISM pin (the E109 synthetic-test pattern): a wave-3
    query must retrieve neighbors appended in EVERY earlier wave
    through the persistent index — the codebook froze at wave 1, the
    postings accumulated across appends, and the search never read a
    cell it didn't probe (inputFiles spy)."""
    import numpy as np
    from pyspark.sql import functions as F

    from turnover_odata_etl_spark.operators.similarity import (
        assign_to_centroids,
        ivf_probe_cells,
        kmeans_assign,
        topk_from_cells,
    )
    from turnover_odata_etl_spark.storage import SnapshotTable

    # three tight clusters on axes 0/1/2, ids interleaved so every
    # WAVE contributes a member of cluster 0
    rows = []
    for i in range(30):
        axis = i % 3
        rows.append((i, _axis_vec(axis, wobble=0.01 * (i % 5), wobble_axis=(axis + 3))))
    vecs = spark.createDataFrame(rows, "nid long, vec array<float>")

    index = SnapshotTable(
        spark, str(tmp_path / "postings"),
        key_cols=["cell", "nid"], order_col="__ver", n_buckets=8,
        bucket_cols=["cell"],
    )
    w1 = vecs.filter(F.col("nid") < 10)
    _, cents = kmeans_assign(w1, 3)
    for ver, (lo, hi) in enumerate(((0, 10), (10, 20), (20, 30)), 1):
        index.append(
            assign_to_centroids(
                vecs.filter((F.col("nid") >= lo) & (F.col("nid") < hi)),
                cents,
            )
            .select("cell", "nid", "vec")
            .withColumn("__ver", F.lit(ver))
        )

    q = spark.createDataFrame(
        [(1000, _axis_vec(0))], "query_id long, vec array<float>"
    )
    probes = ivf_probe_cells(q, cents, nprobe=1)
    pruned = index.read_matching(probes.select("cell"))
    got = topk_from_cells(probes, pruned, k=10).collect()
    hit_ids = {r["neighbor_id"] for r in got}
    # every axis-0 member, from all three waves
    assert hit_ids == {i for i in range(30) if i % 3 == 0}
    waves_hit = {i // 10 for i in hit_ids}
    assert waves_hit == {0, 1, 2}

    # prune: the single probed cell's bucket only — strictly fewer
    # files than the whole 3-wave index
    all_files = {
        f["path"] for f in index._manifest(index.current_id())["files"]
    }
    opened = {p.rsplit("/", 2)[-1] for p in pruned.inputFiles()}
    assert 0 < len(opened) < len(all_files)
    # and the opened files' vectors all share the probed cell's bucket
    probe_cell = probes.collect()[0]["cell"]
    cells_opened = {
        r["cell"] for r in pruned.select("cell").distinct().collect()
    }
    bucket_of = {
        r["cell"]: r["b"]
        for r in index.read()
        .select("cell")
        .distinct()
        .select(
            "cell", F.pmod(F.hash("cell"), F.lit(8)).alias("b")
        )
        .collect()
    }
    assert all(
        bucket_of[c] == bucket_of[probe_cell] for c in cells_opened
    )


def test_ivf_persistent_empty_input(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from turnover_odata_etl_spark.plans.roundtwelve import (
        s_knn_ivf_persistent,
    )

    # zero-row real-schema embeddings table
    d = tmp_path / "empty_sf"
    d.mkdir()
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array([], pa.int64()),
                "embedding": pa.array([], pa.list_(pa.float32())),
            }
        ),
        str(d / "embeddings.parquet"),
    )
    out = s_knn_ivf_persistent(spark, str(d))
    assert out.columns == ["k", "floor_pct", "n_true", "meets_floor"]
    assert out.collect() == []


def test_ivf_probe_tiny_codebook_and_zero_norm_query(spark):
    """Review r12: (a) a codebook smaller than nprobe must clamp the
    probe fan-out (argsort's silent cap used to disagree with the
    pandas repeat count — a ValueError inside mapInPandas for any
    1–9 row corpus); (b) a zero-norm query must not poison its GEMM
    row with NaN."""
    from turnover_odata_etl_spark.operators.similarity import (
        ivf_probe_cells,
        kmeans_assign,
    )

    vecs = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "nid long, vec array<float>"
    )
    _, cents = kmeans_assign(vecs, 16)  # only 2 centroids exist
    q = spark.createDataFrame(
        [(10, [1.0, 0.0]), (11, [0.0, 0.0])],
        "query_id long, vec array<float>",
    )
    probes = ivf_probe_cells(q, cents, nprobe=4).collect()
    per_q = {}
    for r in probes:
        per_q.setdefault(r["query_id"], set()).add(r["cell"])
    # fan-out clamped to the codebook size, for BOTH queries —
    # including the zero-norm one (no NaN loss)
    assert per_q == {10: {0, 1}, 11: {0, 1}}


def test_ivf_persistent_tiny_corpus_no_crash(spark, tmp_path):
    """Review r12 repro: a 6-row embeddings corpus seeds a 2-centroid
    wave-1 codebook (< nprobe=4); the full staged query must still
    run end-to-end."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from turnover_odata_etl_spark.plans.roundtwelve import (
        s_knn_ivf_persistent,
    )

    d = tmp_path / "tiny_sf"
    d.mkdir()
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(range(6), pa.int64()),
                "embedding": pa.array(
                    [[float(i % 3 == a) for a in range(4)] for i in range(6)],
                    pa.list_(pa.float32()),
                ),
            }
        ),
        str(d / "embeddings.parquet"),
    )
    (row,) = s_knn_ivf_persistent(spark, str(d)).collect()
    assert row["k"] == 5 and row["n_true"] == 30  # 6 queries x 5


# ------------------------------------------------ incremental BM25


def test_bm25_incremental_matches_oracle_and_batch(spark, sf_dir):
    """EXACT convergence: the incremental index answers the batch
    oracle verbatim AND equals the batch operator row-for-row."""
    from turnover_odata_etl_spark.plans.roundtwelve import (
        s_bm25_incremental,
    )

    compare_spark_vs_oracle(
        s_bm25_incremental(spark, sf_dir),
        _con(sf_dir),
        BM25_ORACLE,
        "s_bm25_incremental",
    )
    inc = sorted(map(tuple, s_bm25_incremental(spark, sf_dir).collect()))
    bat = sorted(map(tuple, t_bm25_topk(spark, sf_dir).collect()))
    assert inc == bat


def test_bm25_index_wave_protocol(spark, tmp_path):
    """The NeardupIndex wave discipline on the BM25 index: replayed
    waves skip (no duplicate postings, stats unchanged), gaps refuse
    loudly, empty waves advance the checkpoint, and the search read
    opens only the query terms' buckets (inputFiles spy)."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from turnover_odata_etl_spark.operators.retrieval import BM25Index

    idx = BM25Index(spark, str(tmp_path / "bm25"), n_buckets=16)

    def docs(rows):
        return spark.createDataFrame(rows, "doc_id long, text string")

    idx.wave(docs([(1, "alpha beta"), (2, "alpha gamma")]), 1)
    assert idx.current_wave() == 1
    assert idx.stats() == (2, 4)

    # gap refused
    with _pytest.raises(ValueError, match="consecutive"):
        idx.wave(docs([(9, "zeta")]), 3)

    # replay skips: same rows, same stats, no duplicate postings
    before = idx.postings.read().count()
    idx.wave(docs([(1, "alpha beta"), (2, "alpha gamma")]), 1)
    assert idx.postings.read().count() == before
    assert idx.stats() == (2, 4)

    # wave 2 from a DIFFERENT doc population; empty wave 3 advances
    idx.wave(docs([(3, "alpha delta epsilon")]), 2)
    idx.wave(docs([]), 3)
    assert idx.current_wave() == 3
    assert idx.stats() == (3, 7)

    # cross-wave retrieval: 'alpha' hits docs from both real waves
    q = spark.createDataFrame(
        [(0, "alpha")], "query_id long, term string"
    )
    got = idx.topk(q, k=10).collect()
    assert {r["doc_id"] for r in got} == {1, 2, 3}

    # prune: the postings read for one term opens fewer files than
    # the whole index holds (term-bucketed layout)
    pruned = idx.postings.read_matching(q.select("term"))
    all_files = {
        f["path"]
        for f in idx.postings._manifest(idx.postings.current_id())[
            "files"
        ]
    }
    opened = set(pruned.inputFiles())
    assert 0 < len(opened) < len(all_files)


def test_bm25_topk_releases_its_cache(spark, tmp_path):
    """ADVICE r12: repeated topk calls in a long-lived session must
    not accumulate pinned candidate frames — the tfq persist is
    released before topk returns (the wave() try/finally discipline),
    and the returned frame is complete and re-collectable after the
    release."""
    from turnover_odata_etl_spark.operators.retrieval import BM25Index

    idx = BM25Index(spark, str(tmp_path / "bm25c"), n_buckets=4)
    idx.wave(
        spark.createDataFrame(
            [(1, "alpha beta"), (2, "alpha gamma")],
            "doc_id long, text string",
        ),
        1,
    )
    q = spark.createDataFrame(
        [(0, "alpha")], "query_id long, term string"
    )
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    out = idx.topk(q, k=10)
    assert jsc.getPersistentRDDs().size() == before
    assert {r["doc_id"] for r in out.collect()} == {1, 2}
    assert {r["doc_id"] for r in out.collect()} == {1, 2}  # re-usable


def test_bm25_index_empty_before_first_wave(spark, tmp_path):
    from turnover_odata_etl_spark.operators.retrieval import BM25Index

    idx = BM25Index(spark, str(tmp_path / "bm25e"))
    q = spark.createDataFrame([(0, "x")], "query_id long, term string")
    out = idx.topk(q)
    assert out.columns == ["query_id", "doc_id", "score", "rn"]
    assert out.collect() == []


def test_merge_into_query_matches_oracle(spark, sf_dir):
    from turnover_odata_etl_spark.plans.roundtwelve import (
        MERGE_INTO_ORACLE,
        s_snapshot_merge_into,
    )

    compare_spark_vs_oracle(
        s_snapshot_merge_into(spark, sf_dir),
        _con(sf_dir),
        MERGE_INTO_ORACLE,
        "s_snapshot_merge_into",
    )
