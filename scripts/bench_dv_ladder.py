"""DV read-tax scale ladder (round 15 — VERDICT r14 item 7).

A merge-on-read read drops deleted positions in one of two regimes
(``SnapshotTable._read_entries``): at or under ``DV_DRIVER_MAX``
un-compacted positions the driver reads the sidecars and the scan
applies one InSet filter; above it Spark reads the sidecars and the
scan anti-joins them (broadcast up to ``DV_BROADCAST_MAX`` = 2x10^6,
AQE's choice past it). This script measures full-scan aggregate wall
against UN-COMPACTED position counts of 0 / 10^3 / 3x10^3 / 5x10^3 /
10^4 / 3x10^4 / 10^5 / 10^6 / 2.2x10^6 in the default regime and, up to
10^5, with each regime forced — the crossover that sets
``DV_DRIVER_MAX`` — plus the per-rung MOR delete wall + dv sidecar
bytes and the post-``compact`` recovery wall.

Corpus: events at $SPARK_GRAFT_SF_DIR replicated 50x with shifted ids
(5M rows at sf0.1) — big enough that the rung deltas are join tax,
not noise. One JSON line per rung; paste the table into SCALE.md.

Run: cd /tmp && python /root/repo/scripts/bench_dv_ladder.py
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from turnover_odata_etl_spark.session import get_spark  # noqa: E402
from turnover_odata_etl_spark.storage import SnapshotTable  # noqa: E402
from turnover_odata_etl_spark.storage import snapshot  # noqa: E402
from turnover_odata_etl_spark.tables import load_table  # noqa: E402

REPLICAS = 50
RUNGS = [  # cumulative positions
    1_000, 3_000, 5_000, 10_000, 30_000, 100_000, 1_000_000, 2_200_000
]
FORCED_MAX = 100_000  # both regimes forced up to here
REPS = 3


def read_wall(t: SnapshotTable, cap: int | None = None) -> float:
    """Min-of-REPS full-scan aggregate wall; ``cap`` overrides
    ``DV_DRIVER_MAX`` for the measurement (0 forces the Spark join,
    a cap above the positions forces the driver filter)."""
    default = snapshot.DV_DRIVER_MAX
    snapshot.DV_DRIVER_MAX = default if cap is None else cap
    try:
        best = float("inf")
        for _ in range(REPS):
            t0 = time.perf_counter()
            t.read().agg(
                F.count(F.lit(1)), F.sum("value")
            ).collect()
            best = min(best, time.perf_counter() - t0)
        return round(best, 3)
    finally:
        snapshot.DV_DRIVER_MAX = default


def dv_bytes(table_dir: str) -> int:
    total = 0
    data = os.path.join(table_dir, "data")
    for name in os.listdir(data):
        if "dv-" in name:
            total += os.path.getsize(os.path.join(data, name))
    return total


def main() -> None:
    sf_dir = os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    base = "/tmp/spark_graft_bench/dv_ladder"
    shutil.rmtree(base, ignore_errors=True)
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    ).filter(F.col("event_id").isNotNull())
    span = ev.agg(F.max("event_id")).first()[0] + 1
    big = (
        ev.crossJoin(
            spark.range(REPLICAS).withColumnRenamed("id", "rep")
        )
        .select(
            (F.col("event_id") + F.col("rep") * F.lit(span)).alias(
                "event_id"
            ),
            "event_type",
            "value",
        )
        .withColumn("__ver", F.lit(1).cast("long"))
    )
    table_dir = os.path.join(base, "events")
    t = SnapshotTable(
        spark, table_dir,
        key_cols=["event_id"], order_col="__ver", n_buckets=16,
    )
    t.append(big)
    n = t.read().count()
    print(json.dumps({"rows": n, "replicas": REPLICAS}), flush=True)

    out = [{"positions": 0, "read_s": read_wall(t), "delete_s": None,
            "dv_bytes": 0}]
    print(json.dumps(out[-1]), flush=True)

    done = 0
    for target in RUNGS:
        if target > n:
            break
        k = target - done
        # a contiguous id slab not yet deleted: [done, done + k)
        keys = spark.range(done, done + k).select(
            F.col("id").alias("event_id")
        )
        b0 = dv_bytes(table_dir)
        t0 = time.perf_counter()
        t.delete_keys(keys, mode="mor")
        d = round(time.perf_counter() - t0, 3)
        done = target
        rung = {
            "positions": done,
            "read_s": read_wall(t),
            "delete_s": d,
            "dv_bytes": dv_bytes(table_dir) - b0,
            "regime": (
                "driver" if done <= snapshot.DV_DRIVER_MAX
                else "broadcast" if done <= snapshot.DV_BROADCAST_MAX
                else "aqe"
            ),
        }
        if done <= FORCED_MAX:
            rung["read_driver_s"] = read_wall(t, cap=done)
            rung["read_join_s"] = read_wall(t, cap=0)
        out.append(rung)
        print(json.dumps(rung), flush=True)

    t0 = time.perf_counter()
    t.compact(min_files=999)  # fold every dv into data files
    c = round(time.perf_counter() - t0, 3)
    rung = {
        "positions": "post-compact",
        "read_s": read_wall(t),
        "compact_s": c,
    }
    out.append(rung)
    print(json.dumps(rung), flush=True)
    print(json.dumps({"ladder": out}), flush=True)
    shutil.rmtree(base, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
