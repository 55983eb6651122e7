#!/usr/bin/env python
"""Per-job time breakdown for one registered (or staged) query.

Multi-action lifecycle queries (snapshot commits, iterative fits)
spend their wall-clock across MANY Spark jobs; a single explain of
the returned frame says nothing about where the time went. This
runs the query once under the Spark UI's REST API and prints every
job with its duration and description, slowest first — the
guide-§1 "which stage is slow" loop for driver-sequenced queries —
and each repetition's Janino compile count and compile time (from
Spark's ``CodegenMetrics`` and ``CodeGenerator.compileTime``).

Usage: python scripts/profile_query.py <name> [sf_dir] [reps]
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)


def main() -> None:
    name = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 1

    from pyspark.sql import SparkSession

    from turnover_odata_etl_spark.session import CODEGEN_CACHE_ENTRIES

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.appName(f"profile-{name}")
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # keep planner parity with session.get_spark (review r16: a
        # profile under a different planner config misattributes time)
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.ui.enabled", "true")
        .config("spark.ui.port", "4099")
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark_graft_warehouse"),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from turnover_odata_etl_spark.plans import registry
    from turnover_odata_etl_spark.plans.roundsixteen import STAGED

    specs = dict(registry.all_specs())
    specs.update(STAGED)
    spec = specs[name]

    # warm-up (JVM/codegen/python-worker pool), untimed
    registry.all_specs()["flagship_turnover"].fn(spark, sf_dir).write.format(
        "noop"
    ).mode("overwrite").save()
    spark.range(1000).mapInPandas(lambda it: it, "id long").write.format(
        "noop"
    ).mode("overwrite").save()

    # Resolve the UI address Spark actually bound (review r16: 4099
    # may be taken and Spark silently retries upward — a hardcoded
    # port would then query a DIFFERENT process's UI and 404).
    ui = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId
    url = f"{ui}/api/v1/applications/{app_id}/jobs"
    # jobs before this id are warm-up — exclude them from the
    # breakdown (review r16)
    first_job = len(json.load(urllib.request.urlopen(url)))

    # Janino compiles (count, and total compile nanoseconds) so far in
    # this JVM: a repeated query that still compiles has a plan shape
    # the generated-class cache cannot reuse
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    codegen = spark._jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    best = float("inf")
    for rep in range(reps):
        spark.catalog.clearCache()
        n0 = compiles.getCount()
        ns0 = codegen.compileTime()
        t0 = time.perf_counter()
        spec.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        best = min(best, wall)
        n = compiles.getCount() - n0
        ms = (codegen.compileTime() - ns0) / 1e6
        print(f"rep {rep}: {wall:.3f}s, {n} compiles, {ms:.0f} ms compiling", flush=True)
    print(f"TOTAL {name}: {best:.3f}s (min of {reps})", flush=True)
    if reps > 1:
        print(
            f"note: job breakdown below aggregates ALL {reps} reps "
            "(sum-of-jobs ≈ reps × one run)",
            flush=True,
        )

    jobs = [
        j
        for j in json.load(urllib.request.urlopen(url))
        if j["jobId"] >= first_job
    ]
    rows = []
    for j in jobs:
        try:
            t_sub = time.strptime(j["submissionTime"][:19], "%Y-%m-%dT%H:%M:%S")
            t_end = time.strptime(j["completionTime"][:19], "%Y-%m-%dT%H:%M:%S")
            frac = (
                float(j["completionTime"][20:23]) - float(j["submissionTime"][20:23])
            ) / 1000.0
            dur = time.mktime(t_end) - time.mktime(t_sub) + frac
        except Exception:  # noqa: BLE001
            dur = -1.0
        rows.append((dur, j["jobId"], j.get("name", "")[:150], j["numTasks"]))
    rows.sort(reverse=True)
    print(f"{len(rows)} jobs; slowest first:")
    for dur, jid, desc, ntasks in rows[:60]:
        print(f"  {dur:7.3f}s  job {jid:4d}  tasks={ntasks:4d}  {desc}")
    total_job = sum(r[0] for r in rows if r[0] > 0)
    print(f"sum of job durations: {total_job:.3f}s (gaps = driver-side time)")


if __name__ == "__main__":
    main()
