"""Morton (Z-order) encoding as pure Catalyst column expressions
(round 12, SURVEY E114) — the multi-dimensional clustering key behind
``SnapshotTable.rewrite_zorder``.

A range-sorted layout makes file-level stats selective on ONE column;
interleaving the bits of several rank-normalized columns makes every
participating column's per-file [min, max] box tight at once — the
public Delta/Iceberg ``OPTIMIZE ZORDER BY`` idea. Everything here is
a fold of shifts/ands/ors over built-in functions: whole-stage
codegen, no UDF, no data movement beyond the final sort.

The pieces, in production order:

- :func:`quantize_by_boundaries` — THE quantizer ``rewrite_zorder``
  ships: rank (equi-depth) bucketing against per-column approximate
  quantiles. Rank is load-bearing on real data — a linear min-max
  grid collapses a long-tailed column into its lowest cells and the
  interleave degenerates to the other columns (measured on the
  events fixture, SCALE.md round 12: linear = zero prune).
- :func:`morton_code` — interleave n quantized columns bit by bit,
  bit j of column i landing at position ``j*n + i``. The generic
  construction is bits·n shift terms folded into one expression
  tree; codegen emits straight-line longs (verified in the plan —
  no Python eval node). Consumers must materialize each quantized
  input ONCE before feeding it here (a Generate boundary — see
  ``SnapshotTable.rewrite_zorder``): morton references every input
  ``bits`` times and HOF folds are CodegenFallback, so inlining
  re-evaluates them.
- :func:`quantize` — the linear min-max grid, kept for
  uniformly-distributed data where the bounds are already known and
  the quantile pass would be pure overhead. Do NOT reach for it
  first; rank is the default for a reason (above).

NULL and degenerate inputs land at cell 0 everywhere — a clustering
choice only: pruning correctness never depends on the z-value, files
keep exact per-column footer stats.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def quantize(col, lo, hi, bits: int = 16) -> Column:
    """``col`` mapped onto the integer grid [0, 2^bits): linear in
    the supplied global [lo, hi], clamped, NULL → 0. Doubles all the
    way down — exactness is irrelevant here (the z-value only decides
    CLUSTERING; per-file pruning stats stay exact column values)."""
    c = F.col(col) if isinstance(col, str) else col
    top = (1 << bits) - 1
    lo_f, hi_f = float(lo), float(hi)
    if not (hi_f > lo_f):
        return F.lit(0).cast("long")
    scaled = F.floor(
        (c.cast("double") - F.lit(lo_f))
        / F.lit(hi_f - lo_f)
        * F.lit(float(top))
    ).cast("long")
    # coalesce BEFORE clamping: Spark's least/greatest IGNORE nulls,
    # so a NULL input would otherwise clamp to `top`, not 0
    filled = F.coalesce(scaled, F.lit(0).cast("long"))
    return F.greatest(
        F.lit(0).cast("long"),
        F.least(F.lit(top).cast("long"), filled),
    )


def quantize_by_boundaries(col, boundaries: list[float]) -> Column:
    """``col`` mapped to its RANK bucket: the count of ``boundaries``
    ≤ value (a fold over a constant literal array — JVM-side, no
    UDF), NULL → 0. With boundaries = the column's quantiles this is
    rank (equi-DEPTH) quantization — what actually makes z-order
    work on skewed data: linear min-max grids collapse a long-tailed
    column into its lowest cells and the interleave degenerates to
    the other columns (measured on the events fixture, SCALE.md
    round 12). Approximate quantiles are fine — the z-value only
    decides clustering, never pruning correctness."""
    c = F.col(col) if isinstance(col, str) else col
    if not boundaries:
        return F.lit(0).cast("long")
    arr = F.array(*[F.lit(float(b)) for b in boundaries])
    idx = F.aggregate(
        arr,
        F.lit(0).cast("long"),
        lambda acc, b: acc
        + F.when(b <= c.cast("double"), F.lit(1)).otherwise(F.lit(0)),
    )
    return F.coalesce(idx, F.lit(0).cast("long"))


def morton_code(qcols: list[Column], bits: int = 16) -> Column:
    """Interleave already-quantized long columns (each in
    [0, 2^bits)) into one Morton code: bit ``j`` of column ``i`` →
    bit ``j*n + i`` of the result. ``n*bits`` must fit a long
    (≤ 63)."""
    n = len(qcols)
    if n == 0:
        raise ValueError("morton_code needs at least one column")
    if n * bits > 63:
        raise ValueError(
            f"morton_code: {n} cols x {bits} bits overflows a long"
        )
    z = F.lit(0).cast("long")
    for i, q in enumerate(qcols):
        for j in range(bits):
            bit = F.shiftright(q, j).bitwiseAND(F.lit(1).cast("long"))
            z = z.bitwiseOR(F.shiftleft(bit, j * n + i))
    return z
