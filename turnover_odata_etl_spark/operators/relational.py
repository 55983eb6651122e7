"""Reference-parity relational operators (SURVEY §2.2–2.7).

These re-express the reference pipeline's client-side pandas dataflow
(rename map, column reorder, stringify-unhashables, dedup, n-way
heterogeneous union, empty-input short-circuit — reference:
src/etl.py:180-209) as pure DataFrame compositions. Everything here is
a projection/aggregate Catalyst already knows how to optimize; nothing
shuffles except ``dedup_rows`` (hash aggregate over all columns, with
map-side partial aggregation — linear at 100 TB).
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def rename_columns(
    df: DataFrame, rename_map: Mapping[str, str | Sequence[str]]
) -> DataFrame:
    """Bulk rename with many-to-one coalescing.

    ``rename_map`` maps target name → source column(s). Multiple
    sources for one target are coalesced into a single output column
    (first non-null wins, in the order given) instead of reproducing
    the reference's duplicate-column output (its rename map sends both
    structure spellings to the same name — src/etl.py:53-61 — yielding
    a CSV with two ``Structure`` headers; SURVEY §1.3 documents the
    intentional divergence).
    """
    cols = set(df.columns)
    out = df
    for target, sources in rename_map.items():
        if isinstance(sources, str):
            sources = [sources]
        present = [s for s in sources if s in cols]
        if not present:
            continue
        if len(present) == 1:
            out = out.withColumnRenamed(present[0], target)
        else:
            out = out.withColumn(target, F.coalesce(*[F.col(s) for s in present]))
            out = out.drop(*present)
    return out


def reorder_columns(df: DataFrame, first: Sequence[str]) -> DataFrame:
    """Expected columns first, remaining columns in encounter order
    (reference: src/etl.py:204-207). Pure projection — free."""
    lead = [c for c in first if c in df.columns]
    rest = [c for c in df.columns if c not in lead]
    return df.select(*lead, *rest)


def stringify_nested(df: DataFrame) -> DataFrame:
    """Struct/Array/Map columns → JSON strings (reference stringifies
    every unhashable cell via str() — src/etl.py:180-183; ``to_json``
    is the typed, codegen'd equivalent and is what a CSV sink needs).
    """
    out = df
    for f in df.schema.fields:
        if isinstance(f.dataType, (T.StructType, T.ArrayType, T.MapType)):
            out = out.withColumn(f.name, F.to_json(F.col(f.name)))
    return out


def dedup_rows(df: DataFrame) -> DataFrame:
    """Full-row dedup (reference: drop_duplicates, src/etl.py:209).

    ``dropDuplicates`` compiles to a hash aggregate over all columns
    with partial (map-side) aggregation, so at 100 TB it is one
    shuffle of the *distinct* rows, not the raw rows.
    """
    return df.dropDuplicates()


def union_by_name(dfs: Sequence[DataFrame]) -> DataFrame:
    """N-way schema-merging union (reference accumulates rows from
    per-structure fetches with heterogeneous keys — src/etl.py:186-201).
    Missing columns become NULL, matching pandas from_records."""
    if not dfs:
        raise ValueError("union_by_name needs at least one DataFrame")
    return reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True),
        dfs,
    )


def not_null_non_empty(df: DataFrame, col: str) -> DataFrame:
    """The reference's truthiness filter on the partition key
    (src/etl.py:135): NULL and '' both drop."""
    return df.filter(F.col(col).isNotNull() & (F.col(col) != ""))
