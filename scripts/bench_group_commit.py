"""Measure the round-11 storage additions' COST SHAPES (VERDICT r10
items 4+5): the grouped two-table commit vs sequential per-table
commits, and delete_where's stats prune vs an unprunable predicate.

Like scripts/bench_manifest_depth.py (historical: deleted after
commit 31617ee), the commit-protocol half is
pure-Python metadata (stdlib JSON + os.link — Spark never touches it),
so those numbers are exact; the delete half runs real Spark jobs and
reports the FILE COUNTS the prune opened (the scale-relevant quantity)
alongside wall time (toy-scale, drift-banded).

What to expect, and what the numbers pin:

- group commit = 1 txn-record fsync+link + N member manifest
  fsyncs+links. Sequential appends = N manifest fsyncs+links + N
  pointer writes. Similar I/O COUNT — the win is ATOMICITY (no
  bands-ahead-of-sigs window) and the retired read armor (two
  dropDuplicates exchanges per wave), not raw latency; this script
  keeps the protocol honest by showing latency parity.
- delete_where with a parseable range predicate must OPEN only the
  files whose footer stats overlap — at a 3-slice layout, one third
  of the files; with an unparseable (string) predicate it must open
  everything and still rewrite only matched buckets.

Run: python scripts/bench_group_commit.py [rows_per_wave] [waves]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    rows = int(sys.argv[1]) if len(sys.argv) > 1 else 2000
    waves = int(sys.argv[2]) if len(sys.argv) > 2 else 6

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from turnover_odata_etl_spark.storage import SnapshotGroup, SnapshotTable

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    base = tempfile.mkdtemp(prefix="grp_bench_")
    out: dict = {"rows_per_wave": rows, "waves": waves}

    def mk(tag):
        a = SnapshotTable(
            spark, os.path.join(base, tag, "a"),
            key_cols=["k"], order_col="ver", n_buckets=8,
        )
        b = SnapshotTable(
            spark, os.path.join(base, tag, "b"),
            key_cols=["k"], order_col="ver", n_buckets=8,
        )
        return a, b

    def batch(w):
        return spark.range(w * rows, (w + 1) * rows).select(
            F.col("id").alias("k"), F.lit(w).alias("ver")
        )

    # warm-up: pay JIT/codegen/parquet-writer init OUTSIDE the timed
    # sections so ordering doesn't bias the comparison
    wa, wb = mk("warm")
    wa.append(batch(0))
    wb.append(batch(0))

    # -- sequential per-table appends (the round-10 shape) ------------
    a, b = mk("seq")
    t0 = time.perf_counter()
    for w in range(waves):
        df = batch(w)
        a.append(df)
        b.append(df)
    seq_s = time.perf_counter() - t0

    # -- grouped commits (round 11) -----------------------------------
    a2, b2 = mk("grp")
    g = SnapshotGroup({"a": a2, "b": b2}, os.path.join(base, "grp"))
    t0 = time.perf_counter()
    for w in range(waves):
        df = batch(w)
        g.append_all({"a": df, "b": df})
    grp_s = time.perf_counter() - t0
    out["sequential_appends_s"] = round(seq_s, 3)
    out["grouped_appends_s"] = round(grp_s, 3)
    out["commits_seq"] = 2 * waves
    out["commits_grp_txn"] = waves

    # -- delete_where prune shape --------------------------------------
    # Each delete shape measures against its OWN fresh table: deletes
    # rewrite the layout, so chaining them would measure each shape
    # against a different file population (round-12 fix — the first
    # string-prune run measured 0 files because the preceding range
    # delete had already removed exactly those rows).
    n = rows * 3

    def del_table(name):
        t = SnapshotTable(
            spark, os.path.join(base, name),
            key_cols=["k"], order_col="ver", n_buckets=8,
        )
        for tag, (lo, hi) in zip(
            "abc", ((0, n // 3), (n // 3, 2 * n // 3), (2 * n // 3, n))
        ):
            t.append(
                spark.range(lo, hi).select(
                    F.col("id").alias("k"),
                    F.col("id").alias("ver"),
                    (F.col("id") % 97).cast("double").alias("val"),
                    # constant per append slice -> tight string stats
                    F.lit(f"source-{tag}").alias("src"),
                )
            )
        return t

    shapes = [
        # (key, predicate) — range prunes by numeric bounds; string
        # (round 12, truncation-aware stats) prunes by string bounds
        # (was 16/16 full candidates in the round-11 SCALE.md
        # measurement); the unparseable modulus reads full candidates
        ("range", f"ver BETWEEN {n // 3} AND {2 * n // 3 - 1}"),
        ("string", "src = 'source-b'"),
        ("unparsed", "k % 1000 = 7"),
    ]
    opened: list = []
    real_parquet = type(spark.read).parquet

    def spy(reader, *paths):
        opened.extend(paths)
        return real_parquet(reader, *paths)

    type(spark.read).parquet = spy
    try:
        for key, pred in shapes:
            t = del_table(f"del_{key}")
            out["delete_table_files"] = len(
                t._manifest(t.current_id())["files"]
            )
            opened.clear()
            t0 = time.perf_counter()
            t.delete_where(pred)
            out[f"delete_{key}_s"] = round(time.perf_counter() - t0, 3)
            out[f"delete_{key}_files_opened"] = len(
                [p for p in opened if p.endswith(".parquet")]
            )
    finally:
        type(spark.read).parquet = real_parquet

    shutil.rmtree(base, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
