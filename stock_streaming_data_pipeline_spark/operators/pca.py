"""Distributed PCA: exact integer Gram accumulation + power iteration.

The determinism architecture (the catalog's parity rules applied to linear
algebra): float sums across rows are order-dependent, so NOTHING here ever
adds two doubles that came from different rows. Embedding components are
micro-quantized to exact BIGINTs once; the (centered, n-scaled) covariance
is accumulated in DECIMAL(38,0) (order-free integer addition); each power-
iteration matvec is an integer join+groupBy; and re-normalization is ONE
deterministic int->double cast + divide per component per round (no
cross-row float addition). The DuckDB oracle replays every round in
HUGEINT bit-for-bit.

Integer headroom: covariance entries are bounded by n^2 * (1e6*|x|)^2 —
~1e24 at a trillion rows for unit-normed embeddings, far inside the
38-digit budget; the Rayleigh numerator v'Cv adds a d^2 * 1e12 factor,
which still clears 38 digits up to ~1e11 rows. Past that, pre-scale the
covariance by a power of two (exact in binary floating point) before
iterating — the docstring contract, not needed at any tested SF.

Scale shape: the Gram pass is generator-only (two chained posexplodes,
NO self-join — rows never shuffle until the d^2-row partial aggregate),
so the only corpus-sized shuffle in the whole operator is the map-combined
groupBy onto d^2 = 4096 keys; every subsequent step touches <= d^2 rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from stock_streaming_data_pipeline_spark.functions.scalars import dec38, half_up
from stock_streaming_data_pipeline_spark.operators.checkpoint import materialize

MICRO = 1_000_000


def quantized_components(df: DataFrame, *, id_col: str, vec_col: str) -> DataFrame:
    """(id, i, xi) rows with xi = floor(x * 1e6 + 0.5) exact BIGINT."""
    return df.select(
        F.col(id_col).alias("vid"),
        F.posexplode(
            F.transform(
                F.col(vec_col),
                lambda x: half_up(x.cast("double"), 6),
            )
        ).alias("i", "xi"),
    )


def covariance_rows(df: DataFrame, *, id_col: str, vec_col: str) -> DataFrame:
    """Centered n-scaled covariance C_ij = n*sum(xi*xj) - sx_i*sx_j as
    d^2 exact DECIMAL(38,0) rows (i, j, c)."""
    xq = df.select(
        F.transform(
            F.col(vec_col),
            lambda x: half_up(x.cast("double"), 6),
        ).alias("xq")
    )
    # Two chained generators: n -> n*d -> n*d^2 rows, all map-local;
    # partial aggregation collapses to <= d^2 rows per task pre-shuffle.
    prods = xq.select(
        "xq", F.posexplode("xq").alias("i", "xi")
    ).select("i", "xi", F.posexplode("xq").alias("j", "xj"))
    # Multiply in BIGINT, cast ONCE per row for the decimal SUM
    # (optimization round 11): the per-row product is exactly
    # representable in 64 bits (|xi*xj| <= 1e12 for micro-quantized
    # unit-normed components) — only the cross-row SUM needs the
    # 38-digit budget. A long multiply + one cast is far cheaper in the
    # n*d^2-row hot loop than a BigDecimal multiply; the summed values
    # are identical exact integers either way.
    gram = prods.groupBy("i", "j").agg(
        F.sum(dec38(F.col("xi") * F.col("xj"))).alias("sxx")
    )
    sums = (
        xq.select(F.posexplode("xq").alias("i", "xi"))
        .groupBy("i")
        .agg(F.sum(dec38(F.col("xi"))).alias("sx"))
    )
    n = df.agg(F.count(F.lit(1)).cast("long").alias("n"))
    return (
        gram.join(F.broadcast(sums.withColumnsRenamed({"i": "j", "sx": "sy"})), "j")
        .join(F.broadcast(sums), "i")
        .crossJoin(F.broadcast(n))
        .select(
            "i",
            "j",
            (dec38(F.col("n")) * F.col("sxx") - F.col("sx") * F.col("sy")).alias(
                "c"
            ),
        )
    )


def power_iteration(cov: DataFrame, *, rounds: int = 8) -> DataFrame:
    """Top eigenvector of the d^2-row covariance relation by ``rounds``
    integer-renormalized matvecs from the all-ones start. Returns
    (i, v) with v the micro-scaled (L-inf-normalized) loading,
    |v| <= 1e6 exact BIGINT."""
    v = (
        cov.groupBy(F.col("i").alias("j"))
        .agg(F.count(F.lit(1)).alias("_d"))
        .select("j", F.lit(MICRO).cast("long").alias("v"))
    )
    for _ in range(rounds):
        raw = (
            cov.join(v, "j")
            .groupBy("i")
            .agg(F.sum(F.col("c") * dec38(F.col("v"))).alias("raw"))
        )
        m = raw.agg(F.max(F.abs(F.col("raw"))).alias("m"))
        v = materialize(
            raw.crossJoin(F.broadcast(m))
            .select(
                F.col("i").alias("j"),
                half_up(
                    F.col("raw").cast("double") / F.col("m").cast("double"), 6
                ).alias("v"),
            ),
            eager=False,
        )
    return v.select(F.col("j").alias("i"), "v")
