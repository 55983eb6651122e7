"""The reference pipeline, end-to-end, on the Spark engine.

Library surface mirroring the reference's ``run_etl()`` entry
(src/etl.py:185-210): extract an OData analytics entity partitioned by
a structure-like key, rename/reshape, decode wire dates, dedup, sort,
and (optionally) sink to CSV. The whole thing is one declarative
DataFrame plan — the serial per-key loop, manual pagination, and
in-memory dedup all disappear into the connector's partitioned scan
and Catalyst's hash aggregate.

Config is explicit (a dataclass), not environment-implicit; wire it to
env vars at the call site if desired (the reference reads .env —
src/etl.py:12-38).
"""

from __future__ import annotations

import weakref
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from .functions.odata import odata_date_decode
from .operators.relational import (
    dedup_rows,
    not_null_non_empty,
    rename_columns,
    reorder_columns,
    stringify_nested,
)
from .sources.odata_source import ODataDataSource


@dataclass
class ETLConfig:
    """Where the entity lives and how its rows are reshaped.

    The scan is one Spark task per core, not one per structure value:
    ``extract`` packs the discovered values into at most
    ``defaultParallelism`` input partitions, balanced by their row
    counts. Every Python data-source task pays a fixed worker set-up
    before its first request (about 0.25 CPU-s under pyspark 4.1.2 on
    Python 3.11, measured on a 4-vCPU VM), so 12 values on 4 cores cost
    3 waves of that set-up where 4 packed tasks cost one.
    ``skip_bad_partitions`` still isolates each structure value.
    """

    base_url: str
    service_path: str = ""
    entity: str = ""
    codes_entity: str | None = None  # defaults to entity (as the reference)
    structure_candidates: tuple[str, ...] = ("COCHAR_STRUCTURE", "C0CHAR_STRUCTURE")
    rename_map: dict = field(
        default_factory=lambda: {
            "Employee": "TEMPLOYEE_UUID",
            "Employee ID": "CEMPLOYEE_UUID",
            "Date From": "C0DATEFROM",
            "Date To": "C0DATETO",
            "K Cleavers": "KCLEAVERS",
            # both structure spellings coalesce into ONE column (the
            # reference emits a duplicated header instead — SURVEY §1.3)
            "Structure": ("COCHAR_STRUCTURE", "C0CHAR_STRUCTURE"),
        }
    )
    date_columns: tuple[str, ...] = ("Date From", "Date To")
    decode_dates: bool = True  # False = raw /Date(ms)/ passthrough parity
    user: str | None = None
    password: str | None = None
    pause: float = 0.0
    top: int | None = None
    skip_bad_partitions: bool = False


# Sessions the odata source is registered with; registering again would
# replace it and log a warning on every ETL pass.
_REGISTERED: weakref.WeakSet[SparkSession] = weakref.WeakSet()


def extract(spark: SparkSession, cfg: ETLConfig) -> DataFrame:
    """Partitioned OData scan: the structure values, discovered via the
    candidate-field probe, packed into at most ``defaultParallelism``
    input partitions (set here because the source plans its partitions
    in a worker with no SparkContext)."""
    if spark not in _REGISTERED:
        spark.dataSource.register(ODataDataSource)
        _REGISTERED.add(spark)
    reader = (
        spark.read.format("odata")
        .option("url", cfg.base_url)
        .option("path", cfg.service_path)
        .option("entity", cfg.entity)
        .option("codesEntity", cfg.codes_entity or cfg.entity)
        .option("partitionField", cfg.structure_candidates[0])
        .option("probeFields", ",".join(cfg.structure_candidates))
        .option("numPartitions", str(spark.sparkContext.defaultParallelism))
    )
    if cfg.user:
        reader = reader.option("user", cfg.user).option("password", cfg.password or "")
    if cfg.pause:
        reader = reader.option("pause", str(cfg.pause))
    if cfg.top is not None:
        reader = reader.option("top", str(cfg.top))
    if cfg.skip_bad_partitions:
        reader = reader.option("skipBadPartitions", "true")
    return reader.load()


def transform(df: DataFrame, cfg: ETLConfig) -> DataFrame:
    """rename+coalesce → reorder → decode dates → not-null key filter →
    full-row dedup → sort (src/etl.py:201-209 reshaped)."""
    out = rename_columns(df, cfg.rename_map)
    out = reorder_columns(out, list(cfg.rename_map.keys()))
    if cfg.decode_dates:
        for c in cfg.date_columns:
            if c in out.columns:
                out = out.withColumn(c, odata_date_decode(c))
    if "Structure" in out.columns:
        out = not_null_non_empty(out, "Structure")
        out = dedup_rows(out).orderBy("Structure", *out.columns[:1])
    else:
        out = dedup_rows(out)
    return out


def run_etl(spark: SparkSession, cfg: ETLConfig) -> DataFrame:
    return transform(extract(spark, cfg), cfg)


def sink_csv(df: DataFrame, path: str, single_file: bool = True) -> None:
    """Idempotent overwrite CSV sink (src/etl.py:220-222 + the CI
    golden-snapshot mechanism, etl.yml:43-66). ``single_file``
    coalesces to one part for golden-file parity; leave False at scale."""
    out = stringify_nested(df)
    if single_file:
        out = out.coalesce(1)
    out.write.mode("overwrite").option("header", True).csv(path)
