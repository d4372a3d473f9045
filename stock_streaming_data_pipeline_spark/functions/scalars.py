"""Scalar functions (SURVEY.md §2.9 C1-C10), engine-neutral forms.

Timestamps surface in oracle-facing outputs as epoch integers
(micros for row-level identity, seconds for window bounds) so the
DuckDB comparison is representation-independent.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def epoch_us(col: Column | str) -> Column:
    """Lossless timestamp → epoch microseconds (C1 inverse).

    Casts through TIMESTAMP so TIMESTAMP_NTZ columns (parquet millis with
    isAdjustedToUTC=false) work too; the session is pinned to UTC, so the
    NTZ wall-clock is interpreted as the stored instant.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.unix_micros(c.cast("timestamp"))


def json_double(col: Column | str, path: str) -> Column:
    """Extract a JSON field as double (C5; consumer-side json.loads,
    BtcPrediction/kafka.py:37-38)."""
    return F.get_json_object(F.col(col) if isinstance(col, str) else col, path).cast(
        "double"
    )


def money(col: Column) -> Column:
    """Cast to the engine's exact money type before summing.

    Double summation order differs between engines/partitionings; DECIMAL
    arithmetic is exact, so aggregates over it are bit-reproducible at any
    parallelism — this is also the right call at 100 TB (no silent drift
    between retried/recomputed partitions).
    """
    return col.cast("decimal(18,4)")


def round6(col: Column) -> Column:
    """Engine-neutral rounding for ratio-magnitude doubles."""
    return F.round(col, 6)


def _scaled(c: Column, scale: int) -> Column:
    # No multiply at scale 0: Catalyst does not fold ``x * 1``, so the
    # plan would change.
    return c * 10**scale if scale else c


def half_up(col: Column | str, scale: int) -> Column:
    """x * 10^scale snapped half-up to BIGINT: ``floor(x * 10^scale + 0.5)``,
    the same text in DuckDB, so both engines land on one integer unit.
    The scale is an int literal, so a double stays double and a decimal
    multiplies exactly before the double ``+ 0.5``."""
    c = F.col(col) if isinstance(col, str) else col
    return F.floor(_scaled(c, scale) + F.lit(0.5)).cast("long")


def half_away(col: Column | str, scale: int) -> Column:
    """x * 10^scale rounded half-away-from-zero to BIGINT — the SQL
    ``round()`` rule, replayed with signum/floor so Spark's banker's-
    rounding ``bround`` never enters the picture."""
    c = F.col(col) if isinstance(col, str) else col
    return (F.signum(c) * F.floor(_scaled(F.abs(c), scale) + F.lit(0.5))).cast("long")


def dec38(col: Column) -> Column:
    """Cast to DECIMAL(38,0), the exact type integer-unit sums and
    products accumulate in (38 digits cannot overflow at any row count a
    scaled BIGINT sum reaches)."""
    return col.cast("decimal(38,0)")

