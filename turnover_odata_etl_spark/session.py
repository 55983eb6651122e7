"""SparkSession factory.

One place to set the scale-posture defaults: AQE on (runtime re-plan,
skew-join splitting, partition coalescing), Arrow on (fast
pandas/Python interchange for the few Pandas-UDF operators), UTC
session timezone (determinism vs. the DuckDB oracle), shuffle
partitions sized to the local core count rather than the 200 default.

Spark caches the classes its whole-stage code generator compiles,
keyed by the generated source, but by default it keeps only 100 of
them (``spark.sql.codegen.cache.maxEntries``). The engine's working
set is larger: one pass of every ``SnapshotTable``/``SnapshotGroup``
verb, pruned, time-travel and change-feed read and one IVM
micro-batch compiles about 260 distinct classes. Under the default
cap a repeated plan shape finds its class evicted and compiles it
again (about 195 compiles in a timed pass that follows a warm-up of
every verb, about 80 with the cap raised), so the cap is sized well
above that working set.

On a real cluster these same settings hold; only ``master`` and the
memory knobs change (they come from spark-submit, not from here).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = os.environ.get("SPARK_GRAFT_CPUS", "32")
# ~4x the ~260 distinct classes one pass over every storage verb
# compiles, so repeated plan shapes are never evicted between uses; an
# entry is one loaded class, a few KB to tens of KB of metaspace
CODEGEN_CACHE_ENTRIES = 1000


def get_spark(
    app_name: str = "turnover_odata_etl_spark",
    master: str | None = None,
    shuffle_partitions: str | int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Extend AQE partition coalescing to CACHED plans (off by
        # default for partitioning-reuse compatibility; round 16,
        # guide §2.2): the incremental index operators persist
        # probe/signature frames whose exchanges otherwise keep the
        # static shuffle-partition count, so every downstream job
        # schedules that many tasks over a few MB of cache. With the
        # conf on, AQE sizes cached exchanges by advisory bytes —
        # small caches collapse to a few partitions, corpus-sized
        # caches keep theirs (measured: s_bm25_incremental −19% at
        # sf0.1, no regression elsewhere; explicit repartition(n, k)
        # calls remain un-coalesced by AQE's contract).
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        .config("spark.sql.session.timeZone", "UTC")
        # Generated-class cache, sized in the module docstring (a
        # static conf: read once, when the JVM's code generator starts).
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Fixture-encoding armor: earlier fixture generations stored
        # events.ts as TIMESTAMP(NANOS), which Spark's vectorized reader
        # rejects outright; with this conf it arrives as epoch-nanos
        # bigint and the loader edge (tables.normalize_event_ts) converts.
        # Harmless for the current timestamp[us] NTZ encoding.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Python Data Source filter pushdown (the OData connector's
        # pushFilters → $filter translation) is gated off by default.
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.ui.enabled", "false")
        # Bucketed-table support (operators/sinks.py): the in-memory
        # catalog's saveAsTable needs a warehouse dir; keep it out of
        # the repo tree.
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get("SPARK_GRAFT_WAREHOUSE", "/tmp/spark_graft_warehouse"),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
