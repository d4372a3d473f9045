"""Z-order (Morton-curve) clustering for multi-dimensional data skipping.

Partition pruning (streaming/sinks.with_date_partitions) prunes on ONE
dimension; real workloads filter on two (symbol AND time, user AND day).
Writing the table in Z-order interleaves the bits of both dimensions'
rank buckets, so a rectangle predicate touches O(perimeter) files
instead of O(table) — the same layout trick Delta/Iceberg expose as
``OPTIMIZE ZORDER BY``, here as a first-class operator over plain
parquet: compute the code (exact integer arithmetic — min/max scaling
with integer division, bit interleave); a writer that range-repartitions
and sorts by it gives every output file a compact Z-curve segment, so
parquet footer min/max stats on BOTH columns become selective.

Everything is exact integer math — bucketing uses integer division on
BIGINTs, interleaving uses shifts/masks — so the code column carries a
full DuckDB differential oracle, and the layout is reproducible
bit-for-bit on any engine.

Scale shape: the min/max bounds are one tiny agg (broadcast); the code
is a map-only expression. No UDFs, no driver data.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def interleave_bits(bx: Column, by: Column, *, bits: int) -> Column:
    """Morton interleave of two ``bits``-wide non-negative ints:
    x occupies even bit positions, y odd. Static expression tree of
    shifts and masks — stays in whole-stage codegen."""
    parts = []
    for i in range(bits):
        parts.append(
            F.shiftleft(F.shiftright(bx, i).bitwiseAND(F.lit(1)), 2 * i)
        )
        parts.append(
            F.shiftleft(F.shiftright(by, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return reduce(lambda a, b: a.bitwiseOR(b), parts)


def sql_interleave_bits(bx: str, by: str, *, bits: int) -> str:
    terms = []
    for i in range(bits):
        terms.append(f"((({bx}) >> {i}) & 1) << {2 * i}")
        terms.append(f"((({by}) >> {i}) & 1) << {2 * i + 1}")
    return " | ".join(f"({t})" for t in terms)


def sql_rank_bucket(x: str, lo: str, hi: str, *, bits: int) -> str:
    """DuckDB twin of the bucketing expression in :func:`zorder_codes`:
    ((x − lo) · 2^bits) // (hi − lo + 1) — pure BIGINT arithmetic (a
    double division would lose exactness past 2^53, e.g. epoch-micro
    spans times 2^16)."""
    return f"(({x} - {lo}) * {1 << bits}) // ({hi} - {lo} + 1)"


def zorder_codes(
    df: DataFrame,
    *,
    col_x: str,
    col_y: str,
    bits: int = 16,
) -> DataFrame:
    """Attach ``zcode``: the Morton code of the two columns' integer
    rank buckets. Both inputs must be BIGINT-coercible; bounds come from
    one broadcast min/max agg over the input. Bucketing is BIGINT
    ``div`` — never a double division, which would silently lose
    exactness once (range · 2^bits) exceeds 2^53 (any epoch-micro
    column does)."""
    x = F.col(col_x).cast("long")
    y = F.col(col_y).cast("long")
    bounds = df.agg(
        F.min(x).alias("xlo"),
        F.max(x).alias("xhi"),
        F.min(y).alias("ylo"),
        F.max(y).alias("yhi"),
    )
    with_b = df.crossJoin(F.broadcast(bounds))
    bx = F.expr(
        f"(CAST({col_x} AS BIGINT) - xlo) * {1 << bits} div (xhi - xlo + 1)"
    )
    by = F.expr(
        f"(CAST({col_y} AS BIGINT) - ylo) * {1 << bits} div (yhi - ylo + 1)"
    )
    return with_b.withColumn(
        "zcode", interleave_bits(bx, by, bits=bits)
    ).drop("xlo", "xhi", "ylo", "yhi")

