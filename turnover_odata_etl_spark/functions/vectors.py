"""Vector math over ArrayType(Float/Double) columns — no UDFs.

``F.zip_with`` + ``F.aggregate`` keep the arithmetic JVM-side; the
evaluation order (sequential left fold) matches DuckDB's list_sum over
the same zip, which keeps the oracle comparison bit-stable enough to
round at 6 dp.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def _as_double(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


def dot(a: Column | str, b: Column | str) -> Column:
    prod = F.zip_with(_as_double(a), _as_double(b), lambda x, y: x * y)
    return F.aggregate(prod, F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column | str) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column | str, b: Column | str) -> Column:
    return dot(a, b) / (norm(a) * norm(b))
