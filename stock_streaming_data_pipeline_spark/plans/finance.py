"""Market-analytics catalog queries over the trade-shaped ``events`` table.

The natural next tier above the reference's OHLC/cumulative-volume surface
(ProcessStockStream.py:143-161): VWAP bars, rolling inter-key correlation,
max drawdown, robust (median/MAD) outliers. Every query carries an exact
DuckDB oracle; the integer-moment discipline in operators/finance.py is
what makes the hashes portable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from stock_streaming_data_pipeline_spark.functions.scalars import (
    dec38,
    half_away,
    half_up,
)
from stock_streaming_data_pipeline_spark.operators import finance, subseq
from stock_streaming_data_pipeline_spark.operators.checkpoint import materialize
from stock_streaming_data_pipeline_spark.plans.catalog import register
from stock_streaming_data_pipeline_spark.plans.stock import SQL_TRADES, trades_view

# DuckDB half-away integer snap (DuckDB round() is already half-away, but
# spelling it out keeps the rule identical to the Spark side's signum/floor).
_CENTS = "CAST(round(value * 100, 0) AS BIGINT)"
_QMICRO = "CAST(round(volume * 1000000, 0) AS BIGINT)"


@register(
    "vwap_hourly",
    tags=("A1", "C1", "C8"),
    oracle=f"""
WITH trades AS ({SQL_TRADES}),
scaled AS (
  SELECT event_type AS key, date_trunc('hour', ts) AS bucket_ts,
         {_CENTS} AS p, {_QMICRO} AS q
  FROM trades WHERE value IS NOT NULL AND volume IS NOT NULL
),
agg AS (
  SELECT key, bucket_ts,
         sum(CAST(p * q AS DECIMAL(38,0))) AS s_pq,
         sum(CAST(q AS DECIMAL(38,0))) AS s_q,
         count(*) AS n_trades
  FROM scaled GROUP BY 1, 2
)
SELECT key, epoch(bucket_ts)::BIGINT AS bucket_s,
       round(s_pq::DOUBLE / s_q::DOUBLE / 100.0, 6) AS vwap,
       n_trades
FROM agg WHERE s_q > 0
""",
)
def vwap_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly VWAP per symbol — sum(price×qty)/sum(qty) with DECIMAL(38,0)
    inner products (exact at any scale; one partial-aggregated shuffle)."""
    return finance.vwap_bars(trades_view(spark, sf_dir))


@register(
    "rolling_corr_click_view",
    tags=("A1", "W2"),
    oracle=f"""
WITH trades AS ({SQL_TRADES}),
means AS (
  SELECT event_type AS key, date_trunc('hour', ts) AS bucket_ts,
         CAST(round(sum({_CENTS})::DOUBLE / count(*)::DOUBLE * 10, 0)
              AS BIGINT) AS mean_milli
  FROM trades WHERE value IS NOT NULL GROUP BY 1, 2
),
aligned AS (
  SELECT a.bucket_ts, a.mean_milli AS x, b.mean_milli AS y
  FROM means a JOIN means b USING (bucket_ts)
  WHERE a.key = 'click' AND b.key = 'view'
),
moments AS (
  SELECT bucket_ts,
         count(*) OVER w AS n,
         sum(x) OVER w AS sx, sum(y) OVER w AS sy,
         sum(x * y) OVER w AS sxy,
         sum(x * x) OVER w AS sxx, sum(y * y) OVER w AS syy
  FROM aligned
  WINDOW w AS (ORDER BY bucket_ts ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
)
SELECT epoch(bucket_ts)::BIGINT AS bucket_s,
       round((sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE / n::DOUBLE)
             / sqrt((sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE / n::DOUBLE)
                    * (syy::DOUBLE - sy::DOUBLE * sy::DOUBLE / n::DOUBLE)),
             6) AS corr
FROM moments WHERE n = 24
""",
)
def rolling_corr_click_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-24-bar Pearson correlation between the 'click' and 'view'
    hourly mean-price series. The milli-snapped integer grid makes every
    rolling moment an exact BIGINT sum — Spark's sliding frame and
    DuckDB's segment tree disagree on addition ORDER, which integer
    sums don't care about — so the correlation is hash-exact."""
    means = finance.hourly_means_milli(trades_view(spark, sf_dir))
    x = means.filter(F.col("key") == "click").select(
        "bucket_ts", F.col("mean_milli").alias("x_milli")
    )
    y = means.filter(F.col("key") == "view").select(
        "bucket_ts", F.col("mean_milli").alias("y_milli")
    )
    aligned = x.join(y, "bucket_ts")
    return finance.rolling_corr(aligned, frame=24)


@register(
    "max_drawdown_by_key",
    tags=("W1", "A5", "O2"),
    oracle=f"""
WITH trades AS ({SQL_TRADES}),
base AS (
  SELECT event_type AS key, ts, {_CENTS} AS cents
  FROM trades WHERE value IS NOT NULL
),
dd AS (
  SELECT key, ts, cents,
         max(cents) OVER (PARTITION BY key ORDER BY ts, cents
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS peak
  FROM base
),
scored AS (
  SELECT key, ts,
         round((peak - cents)::DOUBLE / peak::DOUBLE, 6) AS ddv
  FROM dd
),
per_key AS (SELECT key, max(ddv) AS max_drawdown FROM scored GROUP BY key)
SELECT s.key, p.max_drawdown, min(epoch_us(s.ts)) AS trough_us
FROM scored s JOIN per_key p ON s.key = p.key AND s.ddv = p.max_drawdown
GROUP BY s.key, p.max_drawdown
""",
)
def max_drawdown_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max peak-to-trough drawdown per symbol (integer running peak, one
    double division per tick), with the earliest trough tick as the
    deterministic report row."""
    return finance.max_drawdown(trades_view(spark, sf_dir))


@register(
    "mad_robust_outliers",
    tags=("A5", "F1", "J2"),
    oracle="""
WITH ev AS (
  SELECT event_id AS id, event_type AS key, value AS x
  FROM events WHERE value IS NOT NULL
),
med AS (
  SELECT key, round(quantile_cont(x, 0.5), 6) AS med FROM ev GROUP BY key
),
dev AS (
  SELECT ev.id, ev.key, ev.x, med.med, abs(ev.x - med.med) AS adev
  FROM ev JOIN med USING (key)
),
mad AS (
  SELECT key, round(quantile_cont(adev, 0.5), 6) AS mad FROM dev GROUP BY key
  HAVING round(quantile_cont(adev, 0.5), 6) > 0
)
SELECT d.id, d.key, round(d.x, 6) AS x,
       round(0.6745 * (d.x - d.med) / m.mad, 6) AS robust_z
FROM dev d JOIN mad m USING (key)
WHERE abs(round(0.6745 * (d.x - d.med) / m.mad, 6)) > 3.5
""",
)
def mad_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median/MAD modified z-score outliers per key — the robust
    alternative to the z-score pass; two tiny per-key percentile aggs
    broadcast back, facts never shuffle."""
    return finance.mad_outliers(trades_view(spark, sf_dir))


@register(
    "rolling_corr_all_pairs",
    tags=("A1", "W2"),
    oracle=f"""
WITH trades AS ({SQL_TRADES}),
means AS (
  SELECT event_type AS key, date_trunc('hour', ts) AS bucket_ts,
         CAST(round(sum({_CENTS})::DOUBLE / count(*)::DOUBLE * 10, 0)
              AS BIGINT) AS mean_milli
  FROM trades WHERE value IS NOT NULL GROUP BY 1, 2
),
aligned AS (
  SELECT a.key || '|' || b.key AS pair, a.bucket_ts,
         a.mean_milli AS x, b.mean_milli AS y
  FROM means a JOIN means b USING (bucket_ts)
  WHERE a.key < b.key
),
moments AS (
  SELECT pair, bucket_ts,
         count(*) OVER w AS n,
         sum(x) OVER w AS sx, sum(y) OVER w AS sy,
         sum(x * y) OVER w AS sxy,
         sum(x * x) OVER w AS sxx, sum(y * y) OVER w AS syy
  FROM aligned
  WINDOW w AS (PARTITION BY pair ORDER BY bucket_ts
               ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
)
SELECT pair, epoch(bucket_ts)::BIGINT AS bucket_s,
       round((sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE / n::DOUBLE)
             / sqrt((sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE / n::DOUBLE)
                    * (syy::DOUBLE - sy::DOUBLE * sy::DOUBLE / n::DOUBLE)),
             6) AS corr
FROM moments WHERE n = 24
""",
)
def rolling_corr_all_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scale form of rolling correlation: ALL symbol pairs at once,
    windows partitioned by pair id — the operator distributes across
    however many pairs exist (the pair count, not the grid length, is
    the scale dimension). Same exact-integer moment discipline as the
    single-pair query."""
    means = finance.hourly_means_milli(trades_view(spark, sf_dir))
    a = means.select(
        F.col("key").alias("key_a"), "bucket_ts", F.col("mean_milli").alias("x_milli")
    )
    b = means.select(
        F.col("key").alias("key_b"), "bucket_ts", F.col("mean_milli").alias("y_milli")
    )
    aligned = (
        a.join(b, "bucket_ts")
        .filter(F.col("key_a") < F.col("key_b"))
        .withColumn("pair", F.concat_ws("|", "key_a", "key_b"))
        .select("pair", "bucket_ts", "x_milli", "y_milli")
    )
    return finance.rolling_corr(aligned, frame=24, pair_col="pair")


@register(
    "trend_slope_by_key",
    tags=("A1", "UD2"),
    oracle=f"""
WITH trades AS ({SQL_TRADES}),
base AS (
  SELECT event_type AS key,
         epoch_us(ts) // 1000000 - 1704067200 AS x,
         {_CENTS} AS y
  FROM trades WHERE value IS NOT NULL
),
m AS (
  SELECT key, count(*) AS n,
         sum(x) AS sx, sum(y) AS sy,
         sum(x * y) AS sxy, sum(x * x) AS sxx
  FROM base GROUP BY key
)
SELECT key, CAST(n AS BIGINT) AS n,
       round((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
             / (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE), 10)
         AS slope_cents_per_s,
       round((sy::DOUBLE - ((n::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
             / (n::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)) * sx::DOUBLE)
             / n::DOUBLE, 6) AS intercept_cents
FROM m
""",
)
def trend_slope_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-form OLS price trend per symbol: slope/intercept from the
    five exact integer moments (x = whole seconds since the epoch floor,
    y = cents) — per-key 'model training' as one partial-aggregated pass,
    no UDF, no iteration, and a full oracle because the normal-equation
    arithmetic replays on identical integers. (The UD-tier pandas path
    stays for models that genuinely need Python — this is the
    expression-tier fast path.)

    BIGINT overflow check at 100 TB: x is bounded by the time span (a
    year ≈ 3·10⁷), so Σx² per key stays < 10¹⁸ for ~10⁹ rows/key; larger
    keys re-center x per key first."""
    ev = trades_view(spark, sf_dir).filter(F.col("value").isNotNull())
    x = (F.unix_micros("ts") / F.lit(1_000_000)).cast("long") - F.lit(1_704_067_200)
    y = half_away("value", 2)
    base = ev.select(F.col("event_type").alias("key"), x.alias("x"), y.alias("y"))
    m = base.groupBy("key").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    n_d = F.col("n").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    slope = (n_d * sxy - sx * sy) / (n_d * sxx - sx * sx)
    return m.select(
        "key",
        F.col("n").cast("long").alias("n"),
        F.round(slope, 10).alias("slope_cents_per_s"),
        F.round((sy - slope * sx) / n_d, 6).alias("intercept_cents"),
    )


@register(
    "sma_crossover_signals",
    tags=("W2", "W4"),
    oracle=f"""
WITH trades AS ({SQL_TRADES}),
means AS (
  SELECT event_type AS key, date_trunc('hour', ts) AS bucket_ts,
         CAST(round(sum({_CENTS})::DOUBLE / count(*)::DOUBLE * 10, 0)
              AS BIGINT) AS mean_milli
  FROM trades WHERE value IS NOT NULL GROUP BY 1, 2
),
sma AS (
  SELECT key, bucket_ts,
         count(*) OVER wf AS nf, sum(mean_milli) OVER wf AS sf,
         count(*) OVER ws AS ns, sum(mean_milli) OVER ws AS ss
  FROM means
  WINDOW wf AS (PARTITION BY key ORDER BY bucket_ts
                ROWS BETWEEN 5 PRECEDING AND CURRENT ROW),
         ws AS (PARTITION BY key ORDER BY bucket_ts
                ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
),
state AS (
  SELECT key, bucket_ts,
         CASE WHEN sf * ns > ss * nf THEN 1 ELSE -1 END AS side
  FROM sma WHERE ns = 24
),
sig AS (
  SELECT key, bucket_ts, side,
         lag(side) OVER (PARTITION BY key ORDER BY bucket_ts) AS prev
  FROM state
)
SELECT key, epoch(bucket_ts)::BIGINT AS bucket_s,
       CASE WHEN side = 1 THEN 'golden_cross' ELSE 'death_cross' END AS signal
FROM sig WHERE prev IS NOT NULL AND side != prev
""",
)
def sma_crossover_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moving-average crossover signals (fast SMA-6 vs slow SMA-24 on the
    hourly grid): emit golden/death crosses where the fast side flips.
    The comparison is INTEGER cross-multiplication (sf·ns vs ss·nf) — no
    division, no rounding, so the flip decisions replay exactly. Two
    frames in one keyed window pass + one lag."""
    means = finance.hourly_means_milli(trades_view(spark, sf_dir))
    wf = (
        Window.partitionBy("key").orderBy("bucket_ts").rowsBetween(-5, 0)
    )
    ws = (
        Window.partitionBy("key").orderBy("bucket_ts").rowsBetween(-23, 0)
    )
    sma = (
        means.withColumn("nf", F.count(F.lit(1)).over(wf))
        .withColumn("sf", F.sum("mean_milli").over(wf))
        .withColumn("ns", F.count(F.lit(1)).over(ws))
        .withColumn("ss", F.sum("mean_milli").over(ws))
        .filter(F.col("ns") == 24)
    )
    state = sma.select(
        "key",
        "bucket_ts",
        F.when(
            F.col("sf") * F.col("ns") > F.col("ss") * F.col("nf"), F.lit(1)
        )
        .otherwise(F.lit(-1))
        .alias("side"),
    )
    wl = Window.partitionBy("key").orderBy("bucket_ts")
    sig = state.withColumn("prev", F.lag("side").over(wl))
    return sig.filter(
        F.col("prev").isNotNull() & (F.col("side") != F.col("prev"))
    ).select(
        "key",
        F.unix_timestamp("bucket_ts").alias("bucket_s"),
        F.when(F.col("side") == 1, F.lit("golden_cross"))
        .otherwise(F.lit("death_cross"))
        .alias("signal"),
    )


@register(
    "moments_by_group",
    tags=("A4", "A5", "LLM-profile"),
    oracle=f"""
WITH trades AS ({SQL_TRADES}),
c AS (
  SELECT event_type, {_CENTS} AS p FROM trades WHERE value IS NOT NULL
),
s AS (
  SELECT event_type, count(*)::BIGINT AS n,
         sum(CAST(p AS DECIMAL(38,0))) AS s1,
         sum(CAST(p AS DECIMAL(38,0)) * p) AS s2,
         sum(CAST(p AS DECIMAL(38,0)) * p * p) AS s3,
         sum(CAST(p AS DECIMAL(38,0)) * p * p * p) AS s4
  FROM c GROUP BY event_type
),
m AS (
  SELECT event_type, n,
         s1::DOUBLE / n AS m1,
         s2::DOUBLE / n AS m2,
         s3::DOUBLE / n AS m3,
         s4::DOUBLE / n AS m4
  FROM s
)
SELECT event_type, n,
       round(m1 / 100, 6) AS mean_value,
       round((m2 - (m1 * m1)) / 10000, 6) AS variance,
       round((m3 - ((3 * m1) * m2) + ((2 * m1) * (m1 * m1)))
             / pow(m2 - (m1 * m1), 1.5), 6) AS skewness,
       round((m4 - ((4 * m1) * m3) + (((6 * m1) * m1) * m2)
              - ((3 * m1) * ((m1 * m1) * m1)))
             / pow(m2 - (m1 * m1), 2.0) - 3, 6) AS kurtosis_excess
FROM m
""",
)
def moments_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-moment distribution profile per key: mean, population
    variance, skewness, and excess kurtosis — the shape statistics a
    feature-QA pass computes before trusting a column. The integer-
    moment discipline extends to the 4th power: values snap to exact
    cents (BIGINT), the four power sums accumulate in DECIMAL(38,0)
    (EXACT, order-independent — cents^4 × corpus fits 38 digits to
    ~10^13 rows per group), and only the final closed-form ratios run in
    doubles (identically parenthesized in the oracle, round-6). One
    partial-aggregated groupBy; map-only + rollup at any scale."""
    t = trades_view(spark, sf_dir).filter(F.col("value").isNotNull())
    p = half_away("value", 2)
    d = dec38(F.lit(1))
    s = t.select(F.col("event_type"), p.alias("p")).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("p") * d).alias("s1"),
        F.sum(F.col("p") * d * F.col("p")).alias("s2"),
        F.sum(F.col("p") * d * F.col("p") * F.col("p")).alias("s3"),
        F.sum(F.col("p") * d * F.col("p") * F.col("p") * F.col("p")).alias("s4"),
    )
    m1 = F.col("s1").cast("double") / F.col("n")
    m2 = F.col("s2").cast("double") / F.col("n")
    m3 = F.col("s3").cast("double") / F.col("n")
    m4 = F.col("s4").cast("double") / F.col("n")
    var_c = m2 - (m1 * m1)
    return s.select(
        "event_type",
        "n",
        F.round(m1 / 100, 6).alias("mean_value"),
        F.round(var_c / 10000, 6).alias("variance"),
        F.round(
            (m3 - ((F.lit(3) * m1) * m2) + ((F.lit(2) * m1) * (m1 * m1)))
            / F.pow(var_c, F.lit(1.5)),
            6,
        ).alias("skewness"),
        F.round(
            (
                m4
                - ((F.lit(4) * m1) * m3)
                + (((F.lit(6) * m1) * m1) * m2)
                - ((F.lit(3) * m1) * ((m1 * m1) * m1))
            )
            / F.pow(var_c, F.lit(2.0))
            - 3,
            6,
        ).alias("kurtosis_excess"),
    )


@register(
    "seasonal_decomposition",
    tags=("A1", "W2", "C2"),
    oracle=f"""
WITH trades AS ({SQL_TRADES}),
hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS bucket_ts,
         sum({_CENTS})::BIGINT AS v_c
  FROM trades WHERE value IS NOT NULL
  GROUP BY 1, 2
),
tr AS (
  SELECT event_type, bucket_ts, v_c,
         sum(v_c) OVER w AS w_sum,
         count(*) OVER w AS w_n
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY bucket_ts
               ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
),
det AS (
  SELECT event_type, bucket_ts, v_c,
         round(w_sum / 25.0, 6) AS trend_c,
         round(v_c - round(w_sum / 25.0, 6), 6) AS detr_c,
         CAST(hour(bucket_ts) AS BIGINT) AS hod
  FROM tr WHERE w_n = 25
),
seas AS (
  SELECT event_type, hod, round(avg(detr_c), 6) AS seasonal_c
  FROM det GROUP BY 1, 2
)
SELECT d.event_type, epoch(d.bucket_ts)::BIGINT AS bucket_s,
       round(d.v_c / 100.0, 6) AS value,
       round(d.trend_c / 100.0, 6) AS trend,
       round(s.seasonal_c / 100.0, 6) AS seasonal,
       round((d.detr_c - s.seasonal_c) / 100.0, 6) AS residual
FROM det d JOIN seas s ON s.event_type = d.event_type AND s.hod = d.hod
""",
)
def seasonal_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive seasonal-trend decomposition of the hourly
    value series per key: trend = 25-point centered moving average
    (rows with a full window only), seasonal = mean detrended value per
    hour-of-day, residual = remainder — the moving-average STL
    simplification that needs nothing beyond one keyed window pass and
    one bounded-domain rollup. All arithmetic rides exact cent sums;
    the window/rollup ratios are round-6 on both sides. Scale: the
    hourly rollup is the only fact-sized shuffle; the window runs per
    key over the (bounded) bucket series."""
    t = trades_view(spark, sf_dir).filter(F.col("value").isNotNull())
    hourly = (
        t.select(
            "event_type",
            F.date_trunc("hour", "ts").alias("bucket_ts"),
            half_away("value", 2).alias("p"),
        )
        .groupBy("event_type", "bucket_ts")
        .agg(F.sum("p").cast("long").alias("v_c"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("bucket_ts")
        .rowsBetween(-12, 12)
    )
    tr = hourly.select(
        "event_type",
        "bucket_ts",
        "v_c",
        F.sum("v_c").over(w).alias("w_sum"),
        F.count(F.lit(1)).over(w).alias("w_n"),
    ).filter(F.col("w_n") == 25)
    det = tr.select(
        "event_type",
        "bucket_ts",
        "v_c",
        F.round(F.col("w_sum") / 25.0, 6).alias("trend_c"),
        F.round(
            F.col("v_c") - F.round(F.col("w_sum") / 25.0, 6), 6
        ).alias("detr_c"),
        F.hour("bucket_ts").cast("long").alias("hod"),
    )
    seas = det.groupBy("event_type", "hod").agg(
        F.round(F.avg("detr_c"), 6).alias("seasonal_c")
    )
    return det.join(F.broadcast(seas), ["event_type", "hod"]).select(
        "event_type",
        F.unix_seconds("bucket_ts").alias("bucket_s"),
        F.round(F.col("v_c") / 100.0, 6).alias("value"),
        F.round(F.col("trend_c") / 100.0, 6).alias("trend"),
        F.round(F.col("seasonal_c") / 100.0, 6).alias("seasonal"),
        F.round((F.col("detr_c") - F.col("seasonal_c")) / 100.0, 6).alias(
            "residual"
        ),
    )


_SHAPE_PATTERN = [0.0, 0.0, 1.0, 3.0, 1.0, 0.0, 0.0, 0.0]  # a spike


@register(
    "ts_shape_search",
    tags=("W2", "O2", "LLM-sim"),
    oracle=subseq.sql_subsequence_topk(
        _SHAPE_PATTERN,
        trades_sql=(
            "SELECT event_type, ts, event_id, value FROM events "
            "WHERE value IS NOT NULL"
        ),
        k=20,
    ),
)
def ts_shape_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series SHAPE search (the UCR-suite primitive): find the 20
    per-key sliding windows whose z-normalized profile best matches a
    literal spike pattern — amplitude- and offset-invariant, so it finds
    the shape wherever and at whatever scale it occurs. One partitioned
    window pass builds the subsequences (no series self-join), distances
    are map-side array arithmetic, and the top-k is a
    TakeOrderedAndProject; round-6 distances + full id tie-breaks make
    the DuckDB replay exact."""
    from stock_streaming_data_pipeline_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    return subseq.subsequence_topk(ev, _SHAPE_PATTERN, k=20)


@register(
    "ts_sax_symbols",
    tags=("W2", "A4", "LLM-sim"),
    oracle=subseq.sql_sax_words(
        trades_sql=(
            "SELECT event_type, ts, event_id, value FROM events "
            "WHERE value IS NOT NULL"
        ),
        m=8,
        segments=4,
    ),
)
def ts_sax_symbols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX symbolization of every per-key sliding window (z-norm → PAA
    into 4 segments → Gaussian-quartile alphabet): the bucket histogram
    a symbol-indexed shape store builds on — same-word windows are
    shape-similar candidates, so lookups touch one bucket instead of
    scanning the series. The scale twin of ts_shape_search the way LSH
    is the scale twin of brute-force cosine."""
    from stock_streaming_data_pipeline_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    return subseq.sax_words(ev, m=8, segments=4)


@register(
    "ts_motif_discovery",
    tags=("W2", "O2", "LLM-sim"),
    oracle=subseq.sql_motif_pairs(
        trades_sql=(
            "SELECT event_type, ts, event_id, value FROM events "
            "WHERE value IS NOT NULL"
        ),
        m=8,
        segments=4,
        k=10,
    ),
)
def ts_motif_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Motif discovery — the 10 closest recurring shapes per series,
    found the scalable way: candidate pairs come only from windows
    sharing a SAX bucket (LSH-style pruning instead of the O(n²)
    all-pairs matrix profile), exact-verified with the z-normalized
    distance, with overlapping (trivial-match) windows excluded by the
    UCR position rule. SAX indexing feeding exact verification — the
    same candidates-then-verify architecture as the MinHash and ANN
    tiers, applied to time series."""
    from stock_streaming_data_pipeline_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    return subseq.motif_pairs(ev, m=8, segments=4, k=10)


@register(
    "candlestick_patterns",
    tags=("A2", "W4", "F1"),
    oracle=f"""
WITH trades AS ({SQL_TRADES}),
bars AS (
  SELECT event_type, date_trunc('day', ts) AS day,
         CAST(round(arg_min(value, ts) * 100, 0) AS BIGINT) AS o,
         CAST(round(max(value) * 100, 0) AS BIGINT) AS h,
         CAST(round(min(value) * 100, 0) AS BIGINT) AS l,
         CAST(round(arg_max(value, ts) * 100, 0) AS BIGINT) AS c
  FROM trades WHERE value IS NOT NULL
  GROUP BY 1, 2
),
lagged AS (
  SELECT *, lag(o) OVER w AS po, lag(c) OVER w AS pc
  FROM bars
  WINDOW w AS (PARTITION BY event_type ORDER BY day)
),
feats AS (
  SELECT event_type, day, o, h, l, c, po, pc,
         abs(c - o) AS body, h - l AS rng,
         h - greatest(o, c) AS upper, least(o, c) - l AS lower
  FROM lagged
),
flags AS (
  SELECT event_type, epoch(day)::BIGINT AS day_s,
         (rng > 0 AND 10 * body <= rng) AS doji,
         (body > 0 AND lower >= 2 * body AND upper <= body) AS hammer,
         (body > 0 AND upper >= 2 * body AND lower <= body)
           AS shooting_star,
         (pc IS NOT NULL AND c > o AND pc < po AND o <= pc AND c >= po
          AND (c - o) > (po - pc)) AS bullish_engulfing,
         (pc IS NOT NULL AND c < o AND pc > po AND o >= pc AND c <= po
          AND (o - c) > (pc - po)) AS bearish_engulfing
  FROM feats
)
SELECT event_type, day_s, pattern FROM (
  SELECT event_type, day_s, 'doji' AS pattern FROM flags WHERE doji
  UNION ALL
  SELECT event_type, day_s, 'hammer' FROM flags WHERE hammer
  UNION ALL
  SELECT event_type, day_s, 'shooting_star' FROM flags WHERE shooting_star
  UNION ALL
  SELECT event_type, day_s, 'bullish_engulfing' FROM flags
  WHERE bullish_engulfing
  UNION ALL
  SELECT event_type, day_s, 'bearish_engulfing' FROM flags
  WHERE bearish_engulfing
)
""",
)
def candlestick_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candlestick pattern detection over daily OHLC bars — the
    chart-analysis queries the reference pipeline's stock users run next
    (doji, hammer, shooting star, bullish/bearish engulfing). Bars snap
    to integer cents so every pattern predicate is pure integer
    arithmetic (shadow/body multiples, engulfing containment) — exact
    across engines; the previous bar arrives via one partitioned lag
    window. One fact scan → one grouped aggregate → bounded bar-level
    window work."""
    ev = trades_view(spark, sf_dir).filter(F.col("value").isNotNull())
    cents = half_away("value", 2)
    bars = (
        ev.select(
            "event_type",
            F.date_trunc("day", "ts").alias("day"),
            "ts",
            cents.alias("cents"),
        )
        .groupBy("event_type", "day")
        .agg(
            F.expr("min_by(cents, ts)").alias("o"),
            F.max("cents").alias("h"),
            F.min("cents").alias("l"),
            F.expr("max_by(cents, ts)").alias("c"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("day")
    feats = (
        bars.withColumn("po", F.lag("o").over(w))
        .withColumn("pc", F.lag("c").over(w))
        .withColumn("body", F.abs(F.col("c") - F.col("o")))
        .withColumn("rng", F.col("h") - F.col("l"))
        .withColumn("upper", F.col("h") - F.greatest("o", "c"))
        .withColumn("lower", F.least("o", "c") - F.col("l"))
    )
    flags = feats.select(
        "event_type",
        F.unix_seconds("day").alias("day_s"),
        ((F.col("rng") > 0) & (10 * F.col("body") <= F.col("rng"))).alias(
            "doji"
        ),
        (
            (F.col("body") > 0)
            & (F.col("lower") >= 2 * F.col("body"))
            & (F.col("upper") <= F.col("body"))
        ).alias("hammer"),
        (
            (F.col("body") > 0)
            & (F.col("upper") >= 2 * F.col("body"))
            & (F.col("lower") <= F.col("body"))
        ).alias("shooting_star"),
        (
            F.col("pc").isNotNull()
            & (F.col("c") > F.col("o"))
            & (F.col("pc") < F.col("po"))
            & (F.col("o") <= F.col("pc"))
            & (F.col("c") >= F.col("po"))
            & ((F.col("c") - F.col("o")) > (F.col("po") - F.col("pc")))
        ).alias("bullish_engulfing"),
        (
            F.col("pc").isNotNull()
            & (F.col("c") < F.col("o"))
            & (F.col("pc") > F.col("po"))
            & (F.col("o") >= F.col("pc"))
            & (F.col("c") <= F.col("po"))
            & ((F.col("o") - F.col("c")) > (F.col("pc") - F.col("po")))
        ).alias("bearish_engulfing"),
    )
    out = None
    for name in (
        "doji",
        "hammer",
        "shooting_star",
        "bullish_engulfing",
        "bearish_engulfing",
    ):
        part = flags.filter(F.col(name)).select(
            "event_type", "day_s", F.lit(name).alias("pattern")
        )
        out = part if out is None else out.unionByName(part)
    return out


_DTW_PROFILES_SQL = f"""
  WITH trades AS ({SQL_TRADES}),
  day_means AS (
    SELECT event_type AS key, date_trunc('day', ts) AS day,
           CAST(round(sum({_CENTS})::DOUBLE / count(*)::DOUBLE * 10, 0)
                AS BIGINT) AS mean_milli
    FROM trades WHERE value IS NOT NULL GROUP BY 1, 2
  ),
  positioned AS (
    SELECT key, mean_milli,
           (row_number() OVER (PARTITION BY key ORDER BY day) - 1) // 3 + 1
             AS pos
    FROM day_means
  )
  SELECT key, pos, CAST(sum(mean_milli) AS BIGINT) AS v
  FROM positioned GROUP BY 1, 2
"""


@register(
    "ts_dtw_similarity",
    tags=("W2", "J1", "LLM-sim"),
    oracle=subseq.sql_dtw_pairwise(
        profiles_sql=_DTW_PROFILES_SQL, band=3, max_len=10
    ),
)
def ts_dtw_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Dynamic Time Warping between the symbols' 3-day PAA
    price profiles — elastic alignment that matches series shifted or
    stretched in time, where correlation/Euclidean see nothing. The
    Sakoe-Chiba banded DP runs as an anti-diagonal wavefront of
    relational steps over integer milli profiles (no rounding rule
    needed — the recurrence is pure integer min/plus), so the DuckDB
    oracle unrolls every diagonal into a materialized CTE. Profiles are
    aggregates: the all-pairs comparison touches keys² sketches, never
    raw series."""
    day_means = (
        trades_view(spark, sf_dir)
        .filter(F.col("value").isNotNull())
        .groupBy(
            F.col("event_type").alias("key"),
            F.date_trunc("day", "ts").alias("day"),
        )
        .agg(
            F.sum(half_away("value", 2)).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "key",
            "day",
            half_away(
                F.col("s").cast("double") / F.col("n").cast("double"), 1
            ).alias("mean_milli"),
        )
    )
    wpos = Window.partitionBy("key").orderBy("day")
    prof = (
        day_means.withColumn(
            "pos",
            ((F.row_number().over(wpos) - 1) / 3).cast("int") + 1,
        )
        .groupBy("key", "pos")
        .agg(F.sum("mean_milli").cast("long").alias("v"))
    )
    return subseq.dtw_pairwise(
        prof, key_col="key", pos_col="pos", val_col="v", band=3, max_len=10
    )


# k-medoids inputs: per-type daily EVENT-COUNT profiles, PAA-compressed
# 3 days -> 1 position. The day bucket is the TZ-free integer epoch-day
# (epoch micros DIV 86.4e9) so bucket membership cannot shift under a
# foreign session timezone; counts are exact integers, so the whole
# DTW + medoid algebra is integer min/plus end to end.
_KMED_PROFILES_SQL = """
  WITH dc AS (
    SELECT event_type AS key, epoch_us(ts) // 86400000000 AS day,
           CAST(count(*) AS BIGINT) AS x
    FROM events GROUP BY 1, 2
  ),
  positioned AS (
    SELECT key, x,
           (row_number() OVER (PARTITION BY key ORDER BY day) - 1) // 3 + 1
             AS pos
    FROM dc
  )
  SELECT key, pos, CAST(sum(x) AS BIGINT) AS v
  FROM positioned GROUP BY 1, 2
"""


@register(
    "ts_kmedoids_dtw",
    tags=("LLM-sim", "ML-stats", "W2"),
    oracle=f"""
WITH dists AS (
{subseq.sql_dtw_pairwise(profiles_sql=_KMED_PROFILES_SQL, band=3, max_len=10)}
),
keys AS (SELECT DISTINCT event_type AS key FROM events),
nk AS (SELECT CAST(count(*) AS BIGINT) AS n FROM keys),
sym AS (
  SELECT key_a AS x, key_b AS y, dtw FROM dists
  UNION ALL SELECT key_b, key_a, dtw FROM dists
  UNION ALL SELECT key, key, 0 FROM keys
),
mp AS (SELECT a.key AS m1, b.key AS m2 FROM keys a JOIN keys b ON a.key < b.key),
asg AS (
  SELECT mp.m1, mp.m2, k.key,
         least(d1.dtw, d2.dtw) AS dist,
         CASE WHEN d1.dtw < d2.dtw THEN mp.m1
              WHEN d2.dtw < d1.dtw THEN mp.m2
              ELSE least(mp.m1, mp.m2) END AS medoid
  FROM mp CROSS JOIN keys k
  JOIN sym d1 ON d1.x = mp.m1 AND d1.y = k.key
  JOIN sym d2 ON d2.x = mp.m2 AND d2.y = k.key
),
cost AS (
  SELECT m1, m2, CAST(sum(dist) AS BIGINT) AS total,
         CAST(count(*) AS BIGINT) AS n_assigned
  FROM asg GROUP BY 1, 2
),
eligible AS (SELECT c.* FROM cost c, nk WHERE c.n_assigned = nk.n),
best AS (
  SELECT min({{'c': total, 'm1': m1, 'm2': m2}}) AS b FROM eligible
)
SELECT a.key AS event_type, a.medoid,
       CAST(a.dist AS BIGINT) AS dtw_dist,
       e.total AS total_cost
FROM asg a
JOIN eligible e ON e.m1 = a.m1 AND e.m2 = a.m2
JOIN best ON a.m1 = best.b.m1 AND a.m2 = best.b.m2
""",
)
def ts_kmedoids_dtw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-medoids (k=2) clustering of the event types under the DTW
    metric over their PAA-compressed daily-count profiles — the
    prototype-based clustering that works where k-means cannot (DTW
    violates the triangle inequality and has no meaningful centroid, so
    the cluster representative must be an actual SERIES). With a
    bounded key domain the medoid election is exhaustive and exact:
    every candidate medoid pair is scored by the summed DTW of each key
    to its nearer medoid (integer min/plus throughout — no rounding
    rule anywhere), only pairs that cover every key are eligible
    (unreachable DTW cells drop out of the banded DP), and the winner
    is a deterministic min(struct) election with (cost, m1, m2)
    tie-breaks. Reports each type's assigned medoid and distance plus
    the winning total cost. Scale shape: profiles are aggregates
    (keys x <=10 positions); the DTW all-pairs touches keys^2 sketches
    inside one Catalyst expression (operators/subseq.py); everything
    downstream is keys^3-bounded relational algebra on integers."""
    from stock_streaming_data_pipeline_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    dc = ev.groupBy(
        F.col("event_type").alias("key"),
        (F.unix_micros("ts") / F.lit(86_400_000_000)).cast("long").alias("day"),
    ).agg(F.count(F.lit(1)).cast("long").alias("x"))
    wpos = Window.partitionBy("key").orderBy("day")
    prof = (
        dc.withColumn(
            "pos", ((F.row_number().over(wpos) - 1) / 3).cast("int") + 1
        )
        .groupBy("key", "pos")
        .agg(F.sum("x").cast("long").alias("v"))
    )
    d = materialize(
        subseq.dtw_pairwise(
            prof, key_col="key", pos_col="pos", val_col="v", band=3, max_len=10
        ),
        eager=False,
    )
    keys = ev.select(F.col("event_type").alias("key")).distinct()
    nk = keys.agg(F.count(F.lit(1)).cast("long").alias("n"))
    sym = (
        d.select(F.col("key_a").alias("x"), F.col("key_b").alias("y"), "dtw")
        .unionByName(
            d.select(F.col("key_b").alias("x"), F.col("key_a").alias("y"), "dtw")
        )
        .unionByName(
            keys.select(
                F.col("key").alias("x"),
                F.col("key").alias("y"),
                F.lit(0).cast("long").alias("dtw"),
            )
        )
    )
    mp = (
        keys.select(F.col("key").alias("m1"))
        .join(
            F.broadcast(keys.select(F.col("key").alias("m2"))),
            F.col("m1") < F.col("m2"),
        )
    )
    d1 = sym.select(
        F.col("x").alias("m1"), F.col("y").alias("key"), F.col("dtw").alias("dtw1")
    )
    d2 = sym.select(
        F.col("x").alias("m2"), F.col("y").alias("key"), F.col("dtw").alias("dtw2")
    )
    asg = materialize(
        mp.join(F.broadcast(keys), F.lit(True))
        .join(d1, ["m1", "key"])
        .join(d2, ["m2", "key"])
        .select(
            "m1",
            "m2",
            "key",
            F.least("dtw1", "dtw2").alias("dist"),
            F.when(F.col("dtw1") < F.col("dtw2"), F.col("m1"))
            .when(F.col("dtw2") < F.col("dtw1"), F.col("m2"))
            .otherwise(F.least("m1", "m2"))
            .alias("medoid"),
        ),
        eager=False,
    )
    cost = asg.groupBy("m1", "m2").agg(
        F.sum("dist").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("n_assigned"),
    )
    eligible = cost.crossJoin(F.broadcast(nk)).filter(
        F.col("n_assigned") == F.col("n")
    )
    best = eligible.agg(
        F.min(
            F.struct(
                F.col("total").alias("c"),
                F.col("m1").alias("m1"),
                F.col("m2").alias("m2"),
            )
        ).alias("b")
    )
    return (
        asg.join(
            F.broadcast(eligible.select("m1", "m2", "total")), ["m1", "m2"]
        )
        .join(F.broadcast(best), F.lit(True))
        .filter(
            (F.col("m1") == F.col("b.m1")) & (F.col("m2") == F.col("b.m2"))
        )
        .select(
            F.col("key").alias("event_type"),
            "medoid",
            F.col("dist").cast("long").alias("dtw_dist"),
            F.col("total").alias("total_cost"),
        )
    )


@register(
    "holt_linear_trend",
    tags=("W1", "A1", "T11"),
    oracle=f"""
WITH RECURSIVE trades AS ({SQL_TRADES}),
cents AS (
  SELECT event_type AS key, date_trunc('day', ts) AS day,
         {_CENTS} AS c
  FROM trades WHERE value IS NOT NULL
),
dm AS (
  SELECT key, epoch(day)::BIGINT AS day_s,
         sum(c)::DOUBLE / count(*)::DOUBLE AS x,
         row_number() OVER (PARTITION BY key ORDER BY day) AS rn
  FROM cents GROUP BY key, day
),
rec AS (
  SELECT key, rn, day_s, x, x AS l, 0.0::DOUBLE AS b FROM dm WHERE rn = 1
  UNION ALL
  SELECT key, rn, day_s, x, l,
         0.25::DOUBLE * (l - pl) + 0.75::DOUBLE * pb AS b
  FROM (
    SELECT d.key, d.rn, d.day_s, d.x,
           0.5::DOUBLE * d.x + 0.5::DOUBLE * (r.l + r.b) AS l,
           r.l AS pl, r.b AS pb
    FROM dm d JOIN rec r ON d.key = r.key AND d.rn = r.rn + 1
  )
)
SELECT key, day_s,
       CAST(floor(l * 1000000 + 0.5::DOUBLE) AS BIGINT) AS level_micro,
       CAST(floor(b * 1000000 + 0.5::DOUBLE) AS BIGINT) AS trend_micro,
       CAST(floor((l + 7 * b) * 1000000 + 0.5::DOUBLE) AS BIGINT) AS forecast7_micro
FROM rec
""",
)
def holt_linear_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double exponential smoothing (level alpha=0.5, trend
    beta=0.25) over each symbol's daily mean price, plus the 7-step
    linear forecast — the trend-aware successor of the EWMA feature.
    The per-key recursion runs INSIDE one Catalyst expression: the
    day series is bounded by the calendar window (30 days here, never
    by SF), so collect_list + F.aggregate folds it JVM-side with the
    EXACT IEEE operation sequence the DuckDB recursive CTE replays —
    bitwise equality before the micro-unit floor surface (the
    ewma_price discipline, plans/stock.py). One shuffle: the day-mean
    groupBy; the fold is map-side."""
    day_means = (
        trades_view(spark, sf_dir)
        .filter(F.col("value").isNotNull())
        .groupBy(
            F.col("event_type").alias("key"),
            F.date_trunc("day", "ts").alias("day"),
        )
        .agg(
            F.sum(half_away("value", 2)).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "key",
            F.unix_timestamp("day").cast("long").alias("day_s"),
            (F.col("s").cast("double") / F.col("n").cast("double")).alias("x"),
        )
    )
    series = day_means.groupBy("key").agg(
        F.array_sort(F.collect_list(F.struct("day_s", "x"))).alias("xs")
    )
    first = F.element_at(F.col("xs"), 1)
    init = F.struct(
        first["x"].alias("l"),
        F.lit(0.0).alias("b"),
        F.array(
            F.struct(
                first["day_s"].alias("day_s"),
                first["x"].alias("l"),
                F.lit(0.0).alias("b"),
            )
        ).alias("out"),
    )

    def step(acc, e):
        l_new = F.lit(0.5) * e["x"] + F.lit(0.5) * (acc["l"] + acc["b"])
        b_new = F.lit(0.25) * (l_new - acc["l"]) + F.lit(0.75) * acc["b"]
        return F.struct(
            l_new.alias("l"),
            b_new.alias("b"),
            F.concat(
                acc["out"],
                F.array(
                    F.struct(
                        e["day_s"].alias("day_s"),
                        l_new.alias("l"),
                        b_new.alias("b"),
                    )
                ),
            ).alias("out"),
        )

    folded = series.select(
        "key",
        F.aggregate(
            F.slice(F.col("xs"), 2, F.greatest(F.size("xs") - 1, F.lit(0))),
            init,
            step,
        )["out"].alias("out"),
    )
    row = folded.select("key", F.explode("out").alias("r"))
    return row.select(
        "key",
        F.col("r.day_s").alias("day_s"),
        half_up("r.l", 6).alias("level_micro"),
        half_up("r.b", 6).alias("trend_micro"),
        half_up(F.col("r.l") + F.lit(7) * F.col("r.b"), 6).alias("forecast7_micro"),
    )


# ---------------------------------------------------------------------------
# Round 6: classical seasonal decomposition (trend / seasonal / residual)
# ---------------------------------------------------------------------------


@register(
    "ts_seasonal_decompose",
    tags=("W2", "A1"),
    oracle=f"""
WITH trades AS ({SQL_TRADES}),
hourly AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS slot,
         CAST(sum({_CENTS}) AS BIGINT) AS v
  FROM trades WHERE value IS NOT NULL
  GROUP BY 1, 2
),
ma AS (
  SELECT event_type, slot, v,
         count(*) OVER w AS cnt,
         2 * sum(v) OVER w
           - first_value(v) OVER w - last_value(v) OVER w AS t2
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY slot
               ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
),
trended AS (
  SELECT event_type, slot, v,
         CASE WHEN cnt = 25 THEN
           CAST(sign(t2) AS BIGINT) * ((abs(t2) * 2000000 + 48) // 96)
         END AS trend_micro
  FROM ma
),
seas AS (
  SELECT event_type, slot % 24 AS hod,
         CAST(sign(sum(v * 1000000 - trend_micro)) AS BIGINT)
           * ((abs(sum(v * 1000000 - trend_micro)) * 2 + count(*))
              // (2 * count(*))) AS seasonal_micro
  FROM trended WHERE trend_micro IS NOT NULL
  GROUP BY 1, 2
)
SELECT t.event_type, t.slot, t.slot % 24 AS hod, t.v AS v_cents,
       t.trend_micro,
       CASE WHEN t.trend_micro IS NOT NULL THEN s.seasonal_micro END
         AS seasonal_micro,
       CASE WHEN t.trend_micro IS NOT NULL THEN
         t.v * 1000000 - t.trend_micro - s.seasonal_micro END AS residual_micro
FROM trended t LEFT JOIN seas s
  ON s.event_type = t.event_type AND s.hod = t.slot % 24
""",
)
def ts_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical seasonal decomposition of the hourly turnover series
    per key: trend = centered 2x24 moving average (the textbook
    even-period form: half-weight endpoints, full 25-row window),
    seasonal = per-hour-of-day mean of the detrended series, residual =
    value - trend - seasonal. Series edges without the full 25-row
    window carry NULL trend/seasonal/residual (no partial-window bias).

    Everything rides exact integers — hourly cents, then micro-unit
    half-away snaps of the two rational divisions (/48 for the MA, /n
    for the seasonal mean) — so both engines compute identical BIGINTs
    and the differential is bit-exact, the Holt/DTW tier's discipline.
    Scale shape: one corpus-scale hourly aggregate, then ONE partitioned
    ordered window pass (25-row frame) and one hour-of-day groupBy on
    the slot-grained relation (~720 rows/key/month — bounded, no
    self-join, no global sort)."""
    t = trades_view(spark, sf_dir).filter(F.col("value").isNotNull())
    cents = half_away("value", 2)
    hourly = (
        t.withColumn("slot", (F.unix_micros("ts") / F.lit(3_600_000_000)).cast("long"))
        .withColumn("c", cents)
        .groupBy("event_type", "slot")
        .agg(F.sum("c").alias("v"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("slot")
        .rowsBetween(-12, 12)
    )
    t2 = (
        F.lit(2) * F.sum("v").over(w)
        - F.first("v").over(w)
        - F.last("v").over(w)
    )
    # materialize t2 as a real column first so the integer snap can
    # reference it inside expr() text
    trended = (
        hourly.withColumn("cnt", F.count(F.lit(1)).over(w))
        .withColumn("t2", t2)
        .withColumn(
            "trend_micro",
            F.when(
                F.col("cnt") == 25,
                F.signum("t2").cast("long")
                * F.expr("(abs(t2) * 2000000 + 48) DIV 96"),
            ),
        )
        .select("event_type", "slot", "v", "trend_micro")
    )
    detr = F.col("v") * F.lit(1_000_000) - F.col("trend_micro")
    seas = (
        trended.filter(F.col("trend_micro").isNotNull())
        .withColumn("hod", F.col("slot") % 24)
        .withColumn("d", detr)
        .groupBy("event_type", "hod")
        .agg(F.sum("d").alias("sd"), F.count(F.lit(1)).alias("n"))
        .select(
            "event_type",
            "hod",
            (
                F.signum("sd").cast("long")
                * F.expr("(abs(sd) * 2 + n) DIV (2 * n)")
            ).alias("seasonal_micro"),
        )
    )
    out = trended.withColumn("hod", F.col("slot") % 24).join(
        seas, ["event_type", "hod"], "left"
    )
    has_trend = F.col("trend_micro").isNotNull()
    return out.select(
        "event_type",
        "slot",
        "hod",
        F.col("v").alias("v_cents"),
        "trend_micro",
        F.when(has_trend, F.col("seasonal_micro")).alias("seasonal_micro"),
        F.when(
            has_trend,
            F.col("v") * F.lit(1_000_000)
            - F.col("trend_micro")
            - F.col("seasonal_micro"),
        ).alias("residual_micro"),
    )


@register(
    "ts_cusum_changepoint",
    tags=("W1", "A4"),
    oracle=f"""
WITH trades AS ({SQL_TRADES}),
hourly AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS slot,
         CAST(sum({_CENTS}) AS BIGINT) AS v
  FROM trades WHERE value IS NOT NULL
  GROUP BY 1, 2
),
cum AS (
  SELECT event_type, slot, v,
         sum(v) OVER (PARTITION BY event_type ORDER BY slot) AS c,
         row_number() OVER (PARTITION BY event_type ORDER BY slot) AS t,
         sum(v) OVER (PARTITION BY event_type) AS total,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM hourly
),
dev AS (
  SELECT event_type, slot, n, total,
         abs(n * c - t * total) AS abs_d,
         row_number() OVER (
           PARTITION BY event_type
           ORDER BY abs(n * c - t * total) DESC, slot ASC) AS rn
  FROM cum
)
SELECT event_type, CAST(n AS BIGINT) AS n,
       CAST(total AS BIGINT) AS total_cents,
       slot AS cp_slot, CAST(abs_d AS BIGINT) AS max_abs_dev
FROM dev WHERE rn = 1
""",
)
def ts_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint location per key: the slot maximizing the
    mean-centered cumulative deviation |S_t| of the hourly turnover
    series — the classic single-changepoint estimator (Page's CUSUM /
    binary-segmentation first split). The deviation rides EXACT
    integers: scaling by n turns S_t = cum_t − t·mean into
    D_t = n·cum_t − t·total (pure BIGINT — no rational mean, no
    doubles), so both engines agree bit-for-bit; ties resolve to the
    earliest slot. Scale shape: one corpus-scale hourly aggregate, one
    partitioned ordered window pass for the running sum, and the argmax
    is ONE max(struct(...)) aggregate per key — never a ranking window
    over the raw facts."""
    t = trades_view(spark, sf_dir).filter(F.col("value").isNotNull())
    cents = half_away("value", 2)
    hourly = (
        t.withColumn("slot", (F.unix_micros("ts") / F.lit(3_600_000_000)).cast("long"))
        .withColumn("c", cents)
        .groupBy("event_type", "slot")
        .agg(F.sum("c").alias("v"))
    )
    wo = Window.partitionBy("event_type").orderBy("slot")
    wp = Window.partitionBy("event_type")
    dev = (
        hourly.withColumn("c", F.sum("v").over(wo.rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("t", F.row_number().over(wo))
        .withColumn("total", F.sum("v").over(wp))
        .withColumn("n", F.count(F.lit(1)).over(wp))
        .withColumn("abs_d", F.abs(F.col("n") * F.col("c") - F.col("t") * F.col("total")))
    )
    picked = dev.groupBy("event_type").agg(
        F.max(
            F.struct(
                F.col("abs_d"), (-F.col("slot")).alias("neg_slot"),
                F.col("n"), F.col("total"),
            )
        ).alias("m")
    )
    return picked.select(
        "event_type",
        F.col("m.n").cast("long").alias("n"),
        F.col("m.total").alias("total_cents"),
        (-F.col("m.neg_slot")).alias("cp_slot"),
        F.col("m.abs_d").alias("max_abs_dev"),
    )


@register(
    "holt_winters_seasonal",
    tags=("W1", "A1", "T11"),
    oracle=f"""
WITH RECURSIVE trades AS ({SQL_TRADES}),
cents AS (
  SELECT event_type AS key, date_trunc('day', ts) AS day,
         {_CENTS} AS c
  FROM trades WHERE value IS NOT NULL
),
dm AS (
  SELECT key, epoch(day)::BIGINT AS day_s,
         sum(c)::DOUBLE / count(*)::DOUBLE AS x,
         row_number() OVER (PARTITION BY key ORDER BY day) AS rn
  FROM cents GROUP BY key, day
),
rec AS (
  SELECT key, rn, day_s, x, x AS l, 0.0::DOUBLE AS b, 0.0::DOUBLE AS s,
         [0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]::DOUBLE[] AS q
  FROM dm WHERE rn = 1
  UNION ALL
  SELECT key, rn, day_s, x, l,
         0.25::DOUBLE * (l - pl) + 0.75::DOUBLE * pb AS b,
         0.25::DOUBLE * (x - l) + 0.75::DOUBLE * sp AS s,
         q[2:7] || [0.25::DOUBLE * (x - l) + 0.75::DOUBLE * sp] AS q
  FROM (
    SELECT d.key, d.rn, d.day_s, d.x,
           0.5::DOUBLE * (d.x - r.q[1]) + 0.5::DOUBLE * (r.l + r.b) AS l,
           r.l AS pl, r.b AS pb, r.q[1] AS sp, r.q AS q
    FROM dm d JOIN rec r ON d.key = r.key AND d.rn = r.rn + 1
  )
)
SELECT key, day_s,
       CAST(floor(l * 1000000 + 0.5::DOUBLE) AS BIGINT) AS level_micro,
       CAST(floor(b * 1000000 + 0.5::DOUBLE) AS BIGINT) AS trend_micro,
       CAST(floor(s * 1000000 + 0.5::DOUBLE) AS BIGINT) AS seasonal_micro,
       CAST(floor((l + 7 * b + s) * 1000000 + 0.5::DOUBLE) AS BIGINT)
         AS forecast7_micro
FROM rec
""",
)
def holt_winters_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt-Winters ADDITIVE triple exponential smoothing (level
    alpha=0.5, trend beta=0.25, seasonal gamma=0.25, weekly period m=7)
    over each symbol's daily mean price, with the 7-day-ahead forecast
    l + 7b + s_t — the seasonal successor of holt_linear_trend.
    Zero-seasonal initialization (s_j = 0 for the first cycle) is the
    documented deterministic variant. The seasonal state is the last-7
    queue carried INSIDE the same Catalyst fold as level/trend (an
    array column in the accumulator struct), so the per-key recursion
    stays one map-side F.aggregate over the calendar-bounded day series
    — one shuffle total (the day-mean groupBy); the DuckDB oracle
    carries the identical queue as a list column in its recursive CTE,
    replaying the EXACT IEEE operation sequence before the micro-unit
    floor surface."""
    day_means = (
        trades_view(spark, sf_dir)
        .filter(F.col("value").isNotNull())
        .groupBy(
            F.col("event_type").alias("key"),
            F.date_trunc("day", "ts").alias("day"),
        )
        .agg(
            F.sum(half_away("value", 2)).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "key",
            F.unix_timestamp("day").cast("long").alias("day_s"),
            (F.col("s").cast("double") / F.col("n").cast("double")).alias("x"),
        )
    )
    series = day_means.groupBy("key").agg(
        F.array_sort(F.collect_list(F.struct("day_s", "x"))).alias("xs")
    )
    zeros = F.array(*[F.lit(0.0) for _ in range(7)])
    first = F.element_at(F.col("xs"), 1)
    init = F.struct(
        first["x"].alias("l"),
        F.lit(0.0).alias("b"),
        zeros.alias("q"),
        F.array(
            F.struct(
                first["day_s"].alias("day_s"),
                first["x"].alias("l"),
                F.lit(0.0).alias("b"),
                F.lit(0.0).alias("s"),
            )
        ).alias("out"),
    )

    def step(acc, e):
        sp = F.element_at(acc["q"], 1)
        l_new = F.lit(0.5) * (e["x"] - sp) + F.lit(0.5) * (acc["l"] + acc["b"])
        b_new = F.lit(0.25) * (l_new - acc["l"]) + F.lit(0.75) * acc["b"]
        s_new = F.lit(0.25) * (e["x"] - l_new) + F.lit(0.75) * sp
        return F.struct(
            l_new.alias("l"),
            b_new.alias("b"),
            F.concat(F.slice(acc["q"], 2, 6), F.array(s_new)).alias("q"),
            F.concat(
                acc["out"],
                F.array(
                    F.struct(
                        e["day_s"].alias("day_s"),
                        l_new.alias("l"),
                        b_new.alias("b"),
                        s_new.alias("s"),
                    )
                ),
            ).alias("out"),
        )

    folded = series.select(
        "key",
        F.aggregate(
            F.slice(F.col("xs"), 2, F.greatest(F.size("xs") - 1, F.lit(0))),
            init,
            step,
        )["out"].alias("out"),
    )
    row = folded.select("key", F.explode("out").alias("r"))
    return row.select(
        "key",
        F.col("r.day_s").alias("day_s"),
        half_up("r.l", 6).alias("level_micro"),
        half_up("r.b", 6).alias("trend_micro"),
        half_up("r.s", 6).alias("seasonal_micro"),
        half_up(F.col("r.l") + F.lit(7) * F.col("r.b") + F.col("r.s"), 6).alias(
            "forecast7_micro"
        ),
    )


def _cusum_pick(hourly: DataFrame, seg_cols: list[str]) -> DataFrame:
    """Per (key, segment): the CUSUM argmax row plus segment bounds —
    the shared primitive of ts_cusum_changepoint and the binary
    segmentation. All-integer deviations (n·cum − t·total), ties to the
    earliest slot, ONE max(struct) aggregate per group."""
    wo = Window.partitionBy(*seg_cols).orderBy("slot")
    wp = Window.partitionBy(*seg_cols)
    dev = (
        hourly.withColumn(
            "c", F.sum("v").over(wo.rowsBetween(Window.unboundedPreceding, 0))
        )
        .withColumn("t", F.row_number().over(wo))
        .withColumn("total", F.sum("v").over(wp))
        .withColumn("n", F.count(F.lit(1)).over(wp))
        .withColumn(
            "abs_d",
            F.abs(F.col("n") * F.col("c") - F.col("t") * F.col("total")),
        )
    )
    return dev.groupBy(*seg_cols).agg(
        F.max(
            F.struct(
                F.col("abs_d"), (-F.col("slot")).alias("neg_slot"),
                F.col("n"), F.col("total"),
            )
        ).alias("m"),
        F.min("slot").alias("seg_lo"),
        F.max("slot").alias("seg_hi"),
    )


@register(
    "ts_binary_segmentation",
    tags=("W1", "A4"),
    oracle=f"""
WITH trades AS ({SQL_TRADES}),
hourly AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS slot,
         CAST(sum({_CENTS}) AS BIGINT) AS v
  FROM trades WHERE value IS NOT NULL
  GROUP BY 1, 2
),
dev0 AS (
  SELECT event_type, slot,
         abs(count(*) OVER w * sum(v) OVER (PARTITION BY event_type ORDER BY slot)
             - row_number() OVER (PARTITION BY event_type ORDER BY slot)
               * sum(v) OVER w) AS abs_d,
         count(*) OVER w AS n,
         min(slot) OVER w AS seg_lo, max(slot) OVER w AS seg_hi
  FROM hourly
  WINDOW w AS (PARTITION BY event_type)
),
cp0 AS (
  SELECT * FROM (
    SELECT event_type, slot, abs_d, n, seg_lo, seg_hi,
           row_number() OVER (PARTITION BY event_type
                              ORDER BY abs_d DESC, slot ASC) AS rn
    FROM dev0
  ) WHERE rn = 1
),
tagged AS (
  SELECT h.event_type, h.slot, h.v,
         CASE WHEN h.slot <= c.slot THEN 'L' ELSE 'R' END AS seg
  FROM hourly h JOIN cp0 c ON c.event_type = h.event_type
),
dev1 AS (
  SELECT event_type, seg, slot,
         abs(count(*) OVER w
             * sum(v) OVER (PARTITION BY event_type, seg ORDER BY slot)
             - row_number() OVER (PARTITION BY event_type, seg ORDER BY slot)
               * sum(v) OVER w) AS abs_d,
         count(*) OVER w AS n,
         min(slot) OVER w AS seg_lo, max(slot) OVER w AS seg_hi
  FROM tagged
  WINDOW w AS (PARTITION BY event_type, seg)
),
cp1 AS (
  SELECT * FROM (
    SELECT event_type, seg, slot, abs_d, n, seg_lo, seg_hi,
           row_number() OVER (PARTITION BY event_type, seg
                              ORDER BY abs_d DESC, slot ASC) AS rn
    FROM dev1
  ) WHERE rn = 1
)
SELECT event_type, 0 AS level, 'root' AS seg, seg_lo, seg_hi,
       slot AS cp_slot, CAST(abs_d AS BIGINT) AS max_abs_dev,
       CAST(n AS BIGINT) AS n_seg
FROM cp0
UNION ALL
SELECT event_type, 1 AS level, seg, seg_lo, seg_hi,
       slot AS cp_slot, CAST(abs_d AS BIGINT) AS max_abs_dev,
       CAST(n AS BIGINT) AS n_seg
FROM cp1
""",
)
def ts_binary_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level binary segmentation: the CUSUM argmax splits each
    key's hourly turnover series at the root, then recurses once into
    the left/right segments — the standard multi-changepoint estimator
    built from the ts_cusum_changepoint primitive (_cusum_pick). Each
    level is one partitioned window pass + one max(struct) aggregate on
    the slot-grained relation; the recursion depth is a STATIC plan
    parameter (2 levels → ≤3 changepoints/key), not data-dependent
    iteration, so lineage stays bounded and the oracle replays both
    levels as chained CTEs on exact integers."""
    t = trades_view(spark, sf_dir).filter(F.col("value").isNotNull())
    cents = half_away("value", 2)
    hourly = materialize(  # both levels scan it
        t.withColumn("slot", (F.unix_micros("ts") / F.lit(3_600_000_000)).cast("long"))
        .withColumn("c", cents)
        .groupBy("event_type", "slot")
        .agg(F.sum("c").alias("v")),
        eager=False,
    )
    cp0 = _cusum_pick(hourly, ["event_type"])
    root = cp0.select(
        "event_type",
        F.lit(0).alias("level"),
        F.lit("root").alias("seg"),
        "seg_lo",
        "seg_hi",
        (-F.col("m.neg_slot")).alias("cp_slot"),
        F.col("m.abs_d").alias("max_abs_dev"),
        F.col("m.n").cast("long").alias("n_seg"),
    )
    tagged = hourly.join(
        cp0.select("event_type", (-F.col("m.neg_slot")).alias("cp")),
        "event_type",
    ).withColumn(
        "seg", F.when(F.col("slot") <= F.col("cp"), F.lit("L")).otherwise(F.lit("R"))
    )
    cp1 = _cusum_pick(tagged, ["event_type", "seg"])
    level1 = cp1.select(
        "event_type",
        F.lit(1).alias("level"),
        "seg",
        "seg_lo",
        "seg_hi",
        (-F.col("m.neg_slot")).alias("cp_slot"),
        F.col("m.abs_d").alias("max_abs_dev"),
        F.col("m.n").cast("long").alias("n_seg"),
    )
    return root.unionByName(level1)


@register(
    "ts_residual_anomalies",
    tags=("W2", "A5", "F1"),
    oracle=f"""
WITH trades AS ({SQL_TRADES}),
hourly AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS slot,
         CAST(sum({_CENTS}) AS BIGINT) AS v
  FROM trades WHERE value IS NOT NULL
  GROUP BY 1, 2
),
ma AS (
  SELECT event_type, slot, v,
         count(*) OVER w AS cnt,
         2 * sum(v) OVER w
           - first_value(v) OVER w - last_value(v) OVER w AS t2
  FROM hourly
  WINDOW w AS (PARTITION BY event_type ORDER BY slot
               ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
),
trended AS (
  SELECT event_type, slot, v,
         CASE WHEN cnt = 25 THEN
           CAST(sign(t2) AS BIGINT) * ((abs(t2) * 2000000 + 48) // 96)
         END AS trend_micro
  FROM ma
),
seas AS (
  SELECT event_type, slot % 24 AS hod,
         CAST(sign(sum(v * 1000000 - trend_micro)) AS BIGINT)
           * ((abs(sum(v * 1000000 - trend_micro)) * 2 + count(*))
              // (2 * count(*))) AS seasonal_micro
  FROM trended WHERE trend_micro IS NOT NULL
  GROUP BY 1, 2
),
resid AS (
  SELECT t.event_type, t.slot,
         t.v * 1000000 - t.trend_micro - s.seasonal_micro AS residual_micro
  FROM trended t JOIN seas s
    ON s.event_type = t.event_type AND s.hod = t.slot % 24
  WHERE t.trend_micro IS NOT NULL
),
med AS (
  SELECT event_type,
         round(quantile_cont(residual_micro, 0.5), 6) AS med
  FROM resid GROUP BY 1
),
dev AS (
  SELECT r.event_type, r.slot, r.residual_micro, m.med,
         abs(r.residual_micro - m.med) AS adev
  FROM resid r JOIN med m USING (event_type)
),
mad AS (
  SELECT event_type, round(quantile_cont(adev, 0.5), 6) AS mad
  FROM dev GROUP BY 1
  HAVING round(quantile_cont(adev, 0.5), 6) > 0
)
SELECT d.event_type, d.slot,
       CAST(d.residual_micro AS BIGINT) AS residual_micro,
       round(0.6745 * (d.residual_micro - d.med) / m.mad, 6) AS robust_z
FROM dev d JOIN mad m USING (event_type)
WHERE abs(round(0.6745 * (d.residual_micro - d.med) / m.mad, 6)) > 3.5
""",
)
def ts_residual_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anomaly flags on the DECOMPOSED series: slots whose seasonal-
    decomposition residual (ts_seasonal_decompose's trend + hour-of-day
    seasonal removed) has a modified z-score |0.6745·(r−med)/MAD| > 3.5
    — the STL-style detector that catches spikes a raw-value z-score
    drowns under daily seasonality. Residuals are exact micro-unit
    integers; median and MAD reuse the percentile↔quantile_cont round-6
    parity the MAD outlier op established. Scale shape: the
    decomposition's one window pass + hour groupBy, then two tiny
    per-key percentile aggs broadcast back — the slot-grained relation
    never reshuffles."""
    decomposed = ts_seasonal_decompose(spark, sf_dir)
    resid = decomposed.filter(F.col("residual_micro").isNotNull()).select(
        "event_type", "slot", "residual_micro"
    )
    med = resid.groupBy("event_type").agg(
        F.round(F.expr("percentile(residual_micro, 0.5)"), 6).alias("med")
    )
    dev = resid.join(F.broadcast(med), "event_type").withColumn(
        "adev", F.abs(F.col("residual_micro") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.round(F.expr("percentile(adev, 0.5)"), 6).alias("mad")
    ).filter(F.col("mad") > 0)
    scored = dev.join(F.broadcast(mad), "event_type").withColumn(
        "robust_z",
        F.round(
            F.lit(0.6745) * (F.col("residual_micro") - F.col("med")) / F.col("mad"),
            6,
        ),
    )
    return scored.filter(F.abs(F.col("robust_z")) > 3.5).select(
        "event_type", "slot", "residual_micro", "robust_z"
    )


# ---------------------------------------------------------------------------
# Periodogram at fixed calendar periods (daily / weekly spectral power)
# ---------------------------------------------------------------------------

# Frozen integer micro-cos/sin tables, computed ONCE in Python and embedded
# as literals in BOTH engines — no transcendental evaluation happens inside
# either engine, so there is no libm-agreement question at all, and every
# per-row contribution is an exact integer (float sums are order-dependent;
# integer sums are order-free).
import math as _math  # noqa: E402

_PG_PERIODS = (24, 168)  # hours: daily, weekly
_PG_TABLE = [
    (
        P,
        p,
        int(_math.floor(_math.cos(2 * _math.pi * p / P) * 1e6 + 0.5)),
        int(_math.floor(_math.sin(2 * _math.pi * p / P) * 1e6 + 0.5)),
    )
    for P in _PG_PERIODS
    for p in range(P)
]
_PG_VALUES = ", ".join(f"({P}, {p}, {c}, {s})" for P, p, c, s in _PG_TABLE)

# Mean-removed projection power, all inputs exact integers cast to DOUBLE.
_PG_OUT = (
    "event_type",
    "period",
    "n_hours",
    "CAST(floor((cn * cn + sn * sn) / (1000000000000.0 * nn * vn) * 1000000"
    " + 0.5) AS BIGINT) AS power_rel_micro",
)


@register(
    "ts_periodogram_fixed",
    tags=("ML-stats", "A1"),
    oracle=f"""
WITH ht AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS h,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
),
tbl(period, phase, cq, sq) AS (VALUES {_PG_VALUES}),
j AS (
  SELECT event_type, period, x, cq, sq
  -- euclidean-mod to mirror Spark's F.pmod: DuckDB's % takes the sign of
  -- the dividend, which would silently drop pre-1970 (negative epoch-hour)
  -- rows on the oracle side only
  FROM ht JOIN tbl ON tbl.phase = ((ht.h % tbl.period) + tbl.period) % tbl.period
),
s AS (
  SELECT event_type, period,
         CAST(count(*) AS BIGINT) AS n_hours,
         CAST(sum(x) AS HUGEINT) AS sx,
         CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
         CAST(sum(CAST(x AS HUGEINT) * cq) AS HUGEINT) AS sxc,
         CAST(sum(CAST(x AS HUGEINT) * sq) AS HUGEINT) AS sxs,
         CAST(sum(CAST(cq AS HUGEINT)) AS HUGEINT) AS csum,
         CAST(sum(CAST(sq AS HUGEINT)) AS HUGEINT) AS ssum
  FROM j GROUP BY 1, 2
),
d AS (
  SELECT event_type, period, n_hours,
         CAST(n_hours AS DOUBLE) AS nn,
         CAST(n_hours * sxc - sx * csum AS DOUBLE) AS cn,
         CAST(n_hours * sxs - sx * ssum AS DOUBLE) AS sn,
         CAST(n_hours * sxx - sx * sx AS DOUBLE) AS vn
  FROM s
)
SELECT {", ".join(_PG_OUT)}
FROM d
""",
)
def ts_periodogram_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Periodogram of the hourly event-volume series at the two calendar
    frequencies that matter operationally — daily (24 h) and weekly
    (168 h) — per event type. Reports the mean-removed projection power
    ``|<x - mean, e^{-iwt}>|^2 / (n * sum((x - mean)^2))``: the squared
    fraction of the series' variance explained by the sinusoid pair at
    that frequency, ~0 for white noise and ->1 for a pure tone. The
    engine-portability design: the cos/sin values are FROZEN integer
    micro-tables (period 24 + 168 = 192 rows) computed once in Python
    and embedded as literals in both plans — neither engine evaluates a
    transcendental, every per-row contribution is an exact integer, and
    mean removal is folded in exactly via the n-scaled identity
    ``n*C - sx*sum(cos)`` in HUGEINT/DECIMAL(38,0) before the single
    cast to double. Scale shape: one hourly groupBy over the fact table
    (map-combined), a broadcast join against the 192-row phase table,
    then ONE aggregate to |event_types| x 2 rows; the DFT never
    materializes per-frequency series copies beyond the 2x phase fan."""
    from stock_streaming_data_pipeline_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    ht = ev.groupBy(
        "event_type",
        (F.unix_micros("ts") / F.lit(3_600_000_000))
        .cast("long")
        .alias("h"),
    ).agg(F.count(F.lit(1)).cast("long").alias("x"))
    tbl = spark.createDataFrame(
        _PG_TABLE, schema="period INT, phase INT, cq BIGINT, sq BIGINT"
    )
    j = ht.join(
        F.broadcast(tbl),
        F.pmod(F.col("h"), F.col("period")) == F.col("phase"),
    ).select("event_type", "period", "x", "cq", "sq")
    s = j.groupBy("event_type", "period").agg(
        F.count(F.lit(1)).cast("long").alias("n_hours"),
        F.sum(dec38(F.col("x"))).alias("sx"),
        F.sum(dec38(F.col("x")) * dec38(F.col("x"))).alias("sxx"),
        F.sum(dec38(F.col("x")) * dec38(F.col("cq"))).alias("sxc"),
        F.sum(dec38(F.col("x")) * dec38(F.col("sq"))).alias("sxs"),
        F.sum(dec38(F.col("cq"))).alias("csum"),
        F.sum(dec38(F.col("sq"))).alias("ssum"),
    )
    d = s.select(
        "event_type",
        "period",
        "n_hours",
        F.col("n_hours").cast("double").alias("nn"),
        (dec38(F.col("n_hours")) * F.col("sxc") - F.col("sx") * F.col("csum"))
        .cast("double")
        .alias("cn"),
        (dec38(F.col("n_hours")) * F.col("sxs") - F.col("sx") * F.col("ssum"))
        .cast("double")
        .alias("sn"),
        (dec38(F.col("n_hours")) * F.col("sxx") - F.col("sx") * F.col("sx"))
        .cast("double")
        .alias("vn"),
    )
    return d.selectExpr(*_PG_OUT)


# ---------------------------------------------------------------------------
# Dominant-cycle detection: periodogram argmax over periods 2..48 h
# ---------------------------------------------------------------------------

_DP_PERIODS = tuple(range(2, 49))
_DP_TABLE = [
    (
        P,
        p,
        int(_math.floor(_math.cos(2 * _math.pi * p / P) * 1e6 + 0.5)),
        int(_math.floor(_math.sin(2 * _math.pi * p / P) * 1e6 + 0.5)),
    )
    for P in _DP_PERIODS
    for p in range(P)
]
_DP_VALUES = ", ".join(f"({P}, {p}, {c}, {s})" for P, p, c, s in _DP_TABLE)
_DP_REL = (
    "CAST(floor((cn * cn + sn * sn) / (1000000000000.0 * nn * vn) * 1000000"
    " + 0.5) AS BIGINT) AS rel_micro"
)


@register(
    "ts_dominant_period",
    tags=("ML-stats", "A1"),
    oracle=f"""
WITH ht AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS h,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
),
tbl(period, phase, cq, sq) AS (VALUES {_DP_VALUES}),
j AS (
  SELECT event_type, period, x, cq, sq
  -- euclidean-mod to mirror Spark's F.pmod: DuckDB's % takes the sign of
  -- the dividend, which would silently drop pre-1970 (negative epoch-hour)
  -- rows on the oracle side only
  FROM ht JOIN tbl ON tbl.phase = ((ht.h % tbl.period) + tbl.period) % tbl.period
),
s AS (
  SELECT event_type, period,
         CAST(count(*) AS BIGINT) AS n_hours,
         CAST(sum(x) AS HUGEINT) AS sx,
         CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
         CAST(sum(CAST(x AS HUGEINT) * cq) AS HUGEINT) AS sxc,
         CAST(sum(CAST(x AS HUGEINT) * sq) AS HUGEINT) AS sxs,
         CAST(sum(CAST(cq AS HUGEINT)) AS HUGEINT) AS csum,
         CAST(sum(CAST(sq AS HUGEINT)) AS HUGEINT) AS ssum
  FROM j GROUP BY 1, 2
),
d AS (
  SELECT event_type, period,
         CAST(n_hours AS DOUBLE) AS nn,
         CAST(n_hours * sxc - sx * csum AS DOUBLE) AS cn,
         CAST(n_hours * sxs - sx * ssum AS DOUBLE) AS sn,
         CAST(n_hours * sxx - sx * sx AS DOUBLE) AS vn
  FROM s
),
scored AS (SELECT event_type, period, {_DP_REL} FROM d),
best AS (
  SELECT event_type,
         (min({{'nr': -rel_micro, 'period': period}})) AS b
  FROM scored GROUP BY 1
)
SELECT s.event_type, s.period AS dominant_period, s.rel_micro
FROM scored s JOIN best
  ON best.event_type = s.event_type
 AND s.period = best.b.period AND s.rel_micro = -best.b.nr
""",
)
def ts_dominant_period(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dominant-cycle detection per event type: the full periodogram
    sweep over every candidate period from 2 to 48 hours (the
    ts_periodogram_fixed machinery generalized from 2 frozen frequencies
    to 47), electing the period with the highest mean-removed projection
    power by one min(struct) argmax with deterministic micro-int
    tie-breaks. Every cos/sin is a frozen integer literal (1175-row
    phase table, computed once in Python — no in-engine
    transcendentals); all accumulators are exact integers. Scale shape:
    one hourly groupBy, a 1175-row broadcast theta-join fan (bounded
    fan-out of 47 rows per hour bucket), one aggregate to
    |event_types| x 47, and a 47-row election per type."""
    from stock_streaming_data_pipeline_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    ht = ev.groupBy(
        "event_type",
        (F.unix_micros("ts") / F.lit(3_600_000_000)).cast("long").alias("h"),
    ).agg(F.count(F.lit(1)).cast("long").alias("x"))
    tbl = spark.createDataFrame(
        _DP_TABLE, schema="period INT, phase INT, cq BIGINT, sq BIGINT"
    )
    j = ht.join(
        F.broadcast(tbl),
        F.pmod(F.col("h"), F.col("period")) == F.col("phase"),
    ).select("event_type", "period", "x", "cq", "sq")
    s = j.groupBy("event_type", "period").agg(
        F.count(F.lit(1)).cast("long").alias("n_hours"),
        F.sum(dec38(F.col("x"))).alias("sx"),
        F.sum(dec38(F.col("x")) * dec38(F.col("x"))).alias("sxx"),
        F.sum(dec38(F.col("x")) * dec38(F.col("cq"))).alias("sxc"),
        F.sum(dec38(F.col("x")) * dec38(F.col("sq"))).alias("sxs"),
        F.sum(dec38(F.col("cq"))).alias("csum"),
        F.sum(dec38(F.col("sq"))).alias("ssum"),
    )
    d = s.select(
        "event_type",
        "period",
        F.col("n_hours").cast("double").alias("nn"),
        (dec38(F.col("n_hours")) * F.col("sxc") - F.col("sx") * F.col("csum"))
        .cast("double")
        .alias("cn"),
        (dec38(F.col("n_hours")) * F.col("sxs") - F.col("sx") * F.col("ssum"))
        .cast("double")
        .alias("sn"),
        (dec38(F.col("n_hours")) * F.col("sxx") - F.col("sx") * F.col("sx"))
        .cast("double")
        .alias("vn"),
    )
    scored = d.selectExpr("event_type", "period", _DP_REL)
    best = scored.groupBy("event_type").agg(
        F.min(
            F.struct(
                (-F.col("rel_micro")).alias("nr"),
                F.col("period").alias("period"),
            )
        ).alias("b")
    )
    return (
        scored.join(best, "event_type")
        .filter(
            (F.col("period") == F.col("b.period"))
            & (F.col("rel_micro") == -F.col("b.nr"))
        )
        .select(
            "event_type",
            F.col("period").alias("dominant_period"),
            "rel_micro",
        )
    )


# ---------------------------------------------------------------------------
# Goertzel harmonic sweep: diurnal band-power shares at fixed target periods
# ---------------------------------------------------------------------------

# The Goertzel idea — evaluate spectral power at a HANDFUL of target
# frequencies instead of a full FFT — relationally: the recurrence form is
# order-dependent, but its output equals the direct projection onto
# cos/sin at the target frequency, which is a plain SUM (commutative,
# exact with frozen integer trig). Target set: the diurnal harmonics.
_GZ_PERIODS = (24, 12, 8, 6)
_GZ_TABLE = [
    (
        P,
        p,
        int(_math.floor(_math.cos(2 * _math.pi * p / P) * 1e6 + 0.5)),
        int(_math.floor(_math.sin(2 * _math.pi * p / P) * 1e6 + 0.5)),
    )
    for P in _GZ_PERIODS
    for p in range(P)
]
_GZ_VALUES = ", ".join(f"({P}, {p}, {c}, {s})" for P, p, c, s in _GZ_TABLE)
# mean-removed projection power as ONE double expression over exact ints
_GZ_POW = (
    "(CAST(nn * sxc - sx * csum AS DOUBLE) * CAST(nn * sxc - sx * csum AS DOUBLE)"
    " + CAST(nn * sxs - sx * ssum AS DOUBLE) * CAST(nn * sxs - sx * ssum AS DOUBLE))"
)


@register(
    "ts_goertzel_harmonics",
    tags=("ML-stats", "A1"),
    oracle=f"""
WITH trades AS ({SQL_TRADES}),
ht AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS h,
         CAST(sum({_CENTS}) AS BIGINT) AS x
  FROM trades WHERE value IS NOT NULL GROUP BY 1, 2
),
tbl(period, phase, cq, sq) AS (VALUES {_GZ_VALUES}),
j AS (
  SELECT event_type, period, x, cq, sq
  -- euclidean-mod to mirror Spark's F.pmod: DuckDB's % takes the sign of
  -- the dividend, which would silently drop pre-1970 (negative epoch-hour)
  -- rows on the oracle side only
  FROM ht JOIN tbl ON tbl.phase = ((ht.h % tbl.period) + tbl.period) % tbl.period
),
s AS (
  SELECT event_type, period,
         CAST(count(*) AS HUGEINT) AS nn,
         CAST(sum(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
         CAST(sum(CAST(x AS HUGEINT) * cq) AS HUGEINT) AS sxc,
         CAST(sum(CAST(x AS HUGEINT) * sq) AS HUGEINT) AS sxs,
         CAST(sum(CAST(cq AS HUGEINT)) AS HUGEINT) AS csum,
         CAST(sum(CAST(sq AS HUGEINT)) AS HUGEINT) AS ssum
  FROM j GROUP BY 1, 2
),
p AS (SELECT event_type, period, {_GZ_POW} AS pw FROM s),
wide AS (
  SELECT event_type,
         max(CASE WHEN period = 24 THEN pw END) AS p24,
         max(CASE WHEN period = 12 THEN pw END) AS p12,
         max(CASE WHEN period = 8 THEN pw END) AS p8,
         max(CASE WHEN period = 6 THEN pw END) AS p6
  FROM p GROUP BY 1
)
SELECT event_type,
       CAST(floor(p24 / (((p24 + p12) + p8) + p6) * 1000000 + 0.5) AS BIGINT)
         AS share24_micro,
       CAST(floor(p12 / (((p24 + p12) + p8) + p6) * 1000000 + 0.5) AS BIGINT)
         AS share12_micro,
       CAST(floor(p8 / (((p24 + p12) + p8) + p6) * 1000000 + 0.5) AS BIGINT)
         AS share8_micro,
       CAST(floor(p6 / (((p24 + p12) + p8) + p6) * 1000000 + 0.5) AS BIGINT)
         AS share6_micro
FROM wide
WHERE ((p24 + p12) + p8) + p6 > 0
""",
)
def ts_goertzel_harmonics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goertzel-style harmonic sweep per event type: mean-removed
    spectral power of the hourly traded-value (cents) series at the
    four diurnal harmonics (24/12/8/6 h), reported as band-power SHARES
    — where ts_dominant_period hunts the argmax over all periods, this
    is the targeted few-frequency evaluation Goertzel exists for (a
    seasonality fingerprint: how much of the periodic energy sits at
    the daily cycle vs its harmonics). The order-dependent Goertzel
    recurrence is replaced by its mathematical equal, the direct
    projection onto frozen integer cos/sin tables (a commutative SUM);
    accumulators are exact integers and the 4-term share denominator is
    ONE fixed-association double expression, so both engines compute
    the identical IEEE tree. Scale shape: one hourly groupBy, a 50-row
    (24+12+8+6 phases)
    broadcast phase-table theta-join (bounded 4-rows-per-hour fan-out),
    one aggregate to |event_types| x 4, and a 4-way pivot."""
    ev = trades_view(spark, sf_dir).filter(F.col("value").isNotNull())
    ht = ev.groupBy(
        "event_type",
        (F.unix_micros("ts") / F.lit(3_600_000_000)).cast("long").alias("h"),
    ).agg(F.sum(half_away("value", 2)).cast("long").alias("x"))
    tbl = spark.createDataFrame(
        _GZ_TABLE, schema="period INT, phase INT, cq BIGINT, sq BIGINT"
    )
    j = ht.join(
        F.broadcast(tbl),
        F.pmod(F.col("h"), F.col("period")) == F.col("phase"),
    ).select("event_type", "period", "x", "cq", "sq")
    s = j.groupBy("event_type", "period").agg(
        dec38(F.count(F.lit(1))).alias("nn"),
        F.sum(dec38(F.col("x"))).alias("sx"),
        F.sum(dec38(F.col("x")) * dec38(F.col("cq"))).alias("sxc"),
        F.sum(dec38(F.col("x")) * dec38(F.col("sq"))).alias("sxs"),
        F.sum(dec38(F.col("cq"))).alias("csum"),
        F.sum(dec38(F.col("sq"))).alias("ssum"),
    )
    p = s.selectExpr("event_type", "period", f"{_GZ_POW} AS pw")
    wide = p.groupBy("event_type").agg(
        *[
            F.max(F.when(F.col("period") == P, F.col("pw"))).alias(f"p{P}")
            for P in _GZ_PERIODS
        ]
    )
    tot = "(((p24 + p12) + p8) + p6)"
    return wide.filter(F.expr(f"{tot} > 0")).selectExpr(
        "event_type",
        *[
            f"CAST(floor(p{P} / {tot} * 1000000 + 0.5) AS BIGINT)"
            f" AS share{P}_micro"
            for P in _GZ_PERIODS
        ],
    )


# ---------------------------------------------------------------------------
# TWAP: time-weighted average price per key and day
# ---------------------------------------------------------------------------


@register(
    "twap_daily",
    tags=("A1", "W4", "C1"),
    oracle=f"""
WITH trades AS ({SQL_TRADES}),
px AS (
  SELECT event_type AS key,
         epoch_us(ts) // 86400000000 AS day,
         epoch_us(ts) AS t_us,
         {_CENTS} AS cents
  FROM trades WHERE value IS NOT NULL
),
held AS (
  SELECT key, day, cents,
         lead(t_us) OVER (PARTITION BY key, day ORDER BY t_us, cents)
           - t_us AS hold_us
  FROM px
),
agg AS (
  SELECT key, day,
         CAST(sum(CAST(cents AS HUGEINT) * hold_us) AS HUGEINT) AS pw,
         CAST(sum(hold_us) AS BIGINT) AS w,
         CAST(count(*) AS BIGINT) AS n_ticks
  FROM held WHERE hold_us IS NOT NULL GROUP BY 1, 2
)
SELECT key, day, n_ticks,
       CAST(floor(CAST(pw AS DOUBLE) / w * 10000 + 0.5) AS BIGINT)
         AS twap_microdollar
FROM agg WHERE w > 0
""",
)
def twap_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWAP — time-weighted average price per key and day, the
    duration-weighted twin of vwap_hourly: each tick's price is held
    until the NEXT tick (one lead() pass partitioned by key+day gives
    the holding interval), and the average weights prices by holding
    micros instead of traded volume — the benchmark execution desks
    compare fills against when volume data is unreliable. The final
    day's last tick has no successor and drops (standard open-interval
    TWAP; identical in both engines). All weights are exact integer
    micros, prices exact cents; one shared double division ends it.
    Scale shape: one partitioned window pass + one map-combined
    groupBy; ties at identical timestamps break on price for a
    deterministic interval assignment."""
    t = trades_view(spark, sf_dir).filter(F.col("value").isNotNull())
    px = t.select(
        F.col("event_type").alias("key"),
        (F.unix_micros("ts") / F.lit(86_400_000_000)).cast("long").alias("day"),
        F.unix_micros("ts").alias("t_us"),
        half_away("value", 2).alias("cents"),
    )
    w = Window.partitionBy("key", "day").orderBy("t_us", "cents")
    held = px.select(
        "key",
        "day",
        "cents",
        (F.lead("t_us").over(w) - F.col("t_us")).alias("hold_us"),
    )
    agg = (
        held.filter(F.col("hold_us").isNotNull())
        .groupBy("key", "day")
        .agg(
            F.sum(dec38(F.col("cents")) * dec38(F.col("hold_us"))).alias("pw"),
            F.sum("hold_us").cast("long").alias("w"),
            F.count(F.lit(1)).cast("long").alias("n_ticks"),
        )
    )
    return agg.filter(F.col("w") > 0).selectExpr(
        "key",
        "day",
        "n_ticks",
        "CAST(floor(CAST(pw AS DOUBLE) / w * 10000 + 0.5) AS BIGINT)"
        " AS twap_microdollar",
    )


# ---------------------------------------------------------------------------
# Seasonal-naive forecast evaluation (MASE)
# ---------------------------------------------------------------------------

_MASE = (
    "CAST(floor(CAST(sae_model AS DOUBLE) / n_model"
    " / (CAST(sae_naive AS DOUBLE) / n_naive) * 1000000 + 0.5)"
    " AS BIGINT) AS mase_micro"
)


@register(
    "ts_seasonal_naive_mase",
    tags=("ML-stats", "W4"),
    oracle=f"""
WITH ht AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS slot,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
),
lagd AS (
  SELECT event_type, slot, x,
         lag(x, 24) OVER w AS x24,
         lag(x, 1) OVER w AS x1
  FROM ht WINDOW w AS (PARTITION BY event_type ORDER BY slot)
),
s AS (
  SELECT event_type,
         CAST(sum(CASE WHEN x24 IS NOT NULL THEN abs(x - x24) END) AS BIGINT)
           AS sae_model,
         CAST(count(x24) AS BIGINT) AS n_model,
         CAST(sum(CASE WHEN x1 IS NOT NULL THEN abs(x - x1) END) AS BIGINT)
           AS sae_naive,
         CAST(count(x1) AS BIGINT) AS n_naive
  FROM lagd GROUP BY 1
)
SELECT event_type, n_model, sae_model, sae_naive, {_MASE}
FROM s WHERE sae_naive > 0
""",
)
def ts_seasonal_naive_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast evaluation: predict each hour's event
    volume as the SAME HOUR YESTERDAY (lag 24) and score it with MASE —
    mean absolute error scaled by the one-step random-walk error, the
    scale-free forecast metric (< 1e6 micro = beats the naive walk,
    i.e. the series HAS exploitable daily structure; the companion
    number to ts_periodogram_fixed's spectral view). Both error sums
    are exact integer sums from one two-lag window pass over the
    bounded hourly series (positions misaligned across engines are
    impossible: slot order is total), and the ratio is one shared
    double template. Scale shape: one hourly groupBy + one partitioned
    window + one aggregate to |event_types| rows."""
    from stock_streaming_data_pipeline_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    ht = ev.groupBy(
        "event_type",
        (F.unix_micros("ts") / F.lit(3_600_000_000)).cast("long").alias("slot"),
    ).agg(F.count(F.lit(1)).cast("long").alias("x"))
    w = Window.partitionBy("event_type").orderBy("slot")
    lagd = ht.select(
        "event_type",
        "x",
        F.lag("x", 24).over(w).alias("x24"),
        F.lag("x", 1).over(w).alias("x1"),
    )
    s = lagd.groupBy("event_type").agg(
        F.sum(
            F.when(F.col("x24").isNotNull(), F.abs(F.col("x") - F.col("x24")))
        )
        .cast("long")
        .alias("sae_model"),
        F.count("x24").cast("long").alias("n_model"),
        F.sum(
            F.when(F.col("x1").isNotNull(), F.abs(F.col("x") - F.col("x1")))
        )
        .cast("long")
        .alias("sae_naive"),
        F.count("x1").cast("long").alias("n_naive"),
    )
    return s.filter(F.col("sae_naive") > 0).selectExpr(
        "event_type", "n_model", "sae_model", "sae_naive", _MASE
    )


# ---------------------------------------------------------------------------
# RSI (relative strength index, SMA-14 form) over hourly closes
# ---------------------------------------------------------------------------

_RSI = (
    "CAST(floor(CAST(1000000 AS DOUBLE) * sg / (sg + sl) + 0.5)"
    " AS BIGINT) AS rsi_micro"
)


@register(
    "rsi_hourly",
    tags=("W2", "W4", "A1"),
    oracle=f"""
WITH trades AS ({SQL_TRADES}),
hourly AS (
  SELECT event_type AS key, epoch_us(ts) // 3600000000 AS slot,
         (max({{'t': epoch_us(ts), 'c': {_CENTS}}})).c AS close
  FROM trades WHERE value IS NOT NULL
  GROUP BY 1, 2
),
diffs AS (
  SELECT key, slot,
         close - lag(close) OVER w AS d,
         row_number() OVER w AS rn
  FROM hourly WINDOW w AS (PARTITION BY key ORDER BY slot)
),
sums AS (
  SELECT key, slot, rn,
         CAST(sum(CASE WHEN d > 0 THEN d ELSE 0 END)
              OVER f AS BIGINT) AS sg,
         CAST(sum(CASE WHEN d < 0 THEN -d ELSE 0 END)
              OVER f AS BIGINT) AS sl
  FROM diffs
  WINDOW f AS (PARTITION BY key ORDER BY slot
               ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
)
SELECT key, slot, sg, sl, {_RSI}
FROM sums WHERE rn >= 15 AND sg + sl > 0
""",
)
def rsi_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RSI(14) over hourly closes per key — the classic momentum
    oscillator in its SMA form (Cutler's RSI: simple 14-period sums of
    gains and losses rather than Wilder's recursive smoothing, which
    keeps every accumulator an EXACT integer window sum over cents;
    rsi = 1e6 * gains / (gains + losses), the algebraically identical
    form of 100 - 100/(1+RS) that needs one division instead of two).
    Emitted only where the 14-diff frame is full (rn >= 15) and moves
    exist. The hourly close is a deterministic arg_max on
    (ts, cents). Scale shape: one hourly groupBy over the fact table,
    two partitioned window passes over the bounded hourly series, no
    joins."""
    t = trades_view(spark, sf_dir).filter(F.col("value").isNotNull())
    hourly = t.groupBy(
        F.col("event_type").alias("key"),
        (F.unix_micros("ts") / F.lit(3_600_000_000)).cast("long").alias("slot"),
    ).agg(
        F.max(
            F.struct(
                F.unix_micros("ts").alias("t"),
                half_away("value", 2).alias("c"),
            )
        )["c"].alias("close")
    )
    w = Window.partitionBy("key").orderBy("slot")
    diffs = hourly.select(
        "key",
        "slot",
        (F.col("close") - F.lag("close").over(w)).alias("d"),
        F.row_number().over(w).alias("rn"),
    )
    f = Window.partitionBy("key").orderBy("slot").rowsBetween(-13, 0)
    sums = diffs.select(
        "key",
        "slot",
        "rn",
        F.sum(F.when(F.col("d") > 0, F.col("d")).otherwise(F.lit(0)))
        .over(f)
        .cast("long")
        .alias("sg"),
        F.sum(F.when(F.col("d") < 0, -F.col("d")).otherwise(F.lit(0)))
        .over(f)
        .cast("long")
        .alias("sl"),
    )
    return sums.filter(
        (F.col("rn") >= 15) & (F.col("sg") + F.col("sl") > 0)
    ).selectExpr("key", "slot", "sg", "sl", _RSI)


# ---------------------------------------------------------------------------
# EWMA control chart over hourly notional (breach detection)
# ---------------------------------------------------------------------------

# Steady-state EWMA control limit: L * sigma * sqrt(alpha / (2 - alpha))
# with L = 3 and alpha = 1/2 -> 3 * sigma * sqrt(1/3) = sigma * sqrt(3).
_EWMA_CHART = (
    "CAST(sum(CASE WHEN abs(ew - CAST(sx AS DOUBLE) / n)"
    " > sqrt((CAST(sxx AS DOUBLE) * n - CAST(sx AS DOUBLE) * sx)"
    "        / n / n * CAST(3 AS DOUBLE))"
    " THEN 1 ELSE 0 END) AS BIGINT) AS n_breach"
)


@register(
    "ewma_control_chart",
    tags=("W1", "T11", "ML-stats"),
    oracle=f"""
WITH RECURSIVE trades AS ({SQL_TRADES}),
hourly AS (
  SELECT event_type AS key, epoch_us(ts) // 3600000000 AS slot,
         CAST(sum({_CENTS}) AS BIGINT) AS x
  FROM trades WHERE value IS NOT NULL GROUP BY 1, 2
),
ordered AS (
  SELECT key, slot, x,
         row_number() OVER (PARTITION BY key ORDER BY slot) AS rn
  FROM hourly
),
rec AS (
  SELECT key, slot, rn, CAST(x AS DOUBLE) AS ew FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.key, o.slot, o.rn, 0.5 * o.x + 0.5 * r.ew
  FROM ordered o JOIN rec r ON o.key = r.key AND o.rn = r.rn + 1
),
stats AS (
  SELECT key, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS HUGEINT) AS sx,
         CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
  FROM hourly GROUP BY 1
)
SELECT r.key, s.n AS n_hours, {_EWMA_CHART}
FROM rec r JOIN stats s ON s.key = r.key
GROUP BY 1, 2
""",
)
def ewma_control_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA control chart (the SPC workhorse for detecting small
    sustained shifts a Shewhart chart misses): the hourly notional per
    key smoothed by the bitwise-reproducible EWMA fold
    (operators/running.py — alpha = 1/2, so every smoothed value is a
    dyadic rational and both engines' IEEE sequences agree exactly),
    then counted against the steady-state 3-sigma EWMA limit
    sigma*sqrt(3) derived from exact integer moments. Reports breach
    counts per key — the alert volume a monitoring rollout is sized
    by. Scale shape: one hourly groupBy over the fact table, the
    per-key applyInPandas fold over the bounded hourly series, one
    moment aggregate; the oracle unrolls the recursion as a recursive
    CTE."""
    from stock_streaming_data_pipeline_spark.operators import running

    t = trades_view(spark, sf_dir).filter(F.col("value").isNotNull())
    hourly = t.groupBy(
        F.col("event_type").alias("key"),
        (F.unix_micros("ts") / F.lit(3_600_000_000)).cast("long").alias("slot"),
    ).agg(F.sum(half_away("value", 2)).cast("long").alias("x"))
    ew = running.ewma(
        hourly, key="key", order=("slot",), value_col="x", alpha=0.5
    ).withColumnRenamed("ewma_raw", "ew")
    stats = hourly.groupBy("key").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(dec38(F.col("x"))).alias("sx"),
        F.sum(dec38(F.col("x")) * dec38(F.col("x"))).alias("sxx"),
    )
    return (
        ew.join(F.broadcast(stats), "key")
        .groupBy("key", F.col("n").alias("n_hours"))
        .agg(F.expr(_EWMA_CHART.replace(" AS n_breach", "")).alias("n_breach"))
        .select("key", "n_hours", "n_breach")
    )


# ---------------------------------------------------------------------------
# Crossover strategy PnL backtest
# ---------------------------------------------------------------------------


@register(
    "sma_crossover_pnl",
    tags=("W2", "W4", "A1"),
    oracle=f"""
WITH trades AS ({SQL_TRADES}),
means AS (
  SELECT event_type AS key, date_trunc('hour', ts) AS bucket_ts,
         CAST(round(sum({_CENTS})::DOUBLE / count(*)::DOUBLE * 10, 0)
              AS BIGINT) AS mean_milli
  FROM trades WHERE value IS NOT NULL GROUP BY 1, 2
),
sma AS (
  SELECT key, bucket_ts, mean_milli,
         count(*) OVER wf AS nf, sum(mean_milli) OVER wf AS sf,
         count(*) OVER ws AS ns, sum(mean_milli) OVER ws AS ss
  FROM means
  WINDOW wf AS (PARTITION BY key ORDER BY bucket_ts
                ROWS BETWEEN 5 PRECEDING AND CURRENT ROW),
         ws AS (PARTITION BY key ORDER BY bucket_ts
                ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
),
state AS (
  SELECT key, bucket_ts, mean_milli,
         CASE WHEN sf * ns > ss * nf THEN 1 ELSE -1 END AS side
  FROM sma WHERE ns = 24
),
pnl AS (
  SELECT key,
         CAST(lag(side) OVER w
              * (mean_milli - lag(mean_milli) OVER w) AS BIGINT) AS step
  FROM state WINDOW w AS (PARTITION BY key ORDER BY bucket_ts)
)
SELECT key,
       CAST(count(step) AS BIGINT) AS n_periods,
       CAST(sum(step) AS BIGINT) AS pnl_milli,
       CAST(sum(CASE WHEN step > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_winning
FROM pnl GROUP BY 1
""",
)
def sma_crossover_pnl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backtest PnL of the SMA-crossover strategy: hold the PREVIOUS
    hour's signal side (long after a golden state, short after a death
    state — position lags signal by one bar, the no-lookahead
    discipline every honest backtest needs) and accrue side *
    price-change each hour. All accounting is exact integer
    milli-cents (the same milli-mean series sma_crossover_signals
    derives its states from), so total PnL, period count and hit rate
    are bit-portable. Scale shape: the signals plan plus one more
    lag window over the bounded hourly series and one aggregate to
    |keys| rows."""
    t = trades_view(spark, sf_dir).filter(F.col("value").isNotNull())
    means = t.groupBy(
        F.col("event_type").alias("key"),
        F.date_trunc("hour", F.col("ts")).alias("bucket_ts"),
    ).agg(
        F.round(
            F.sum(half_away("value", 2)).cast("double")
            / F.count(F.lit(1)).cast("double")
            * 10,
            0,
        )
        .cast("long")
        .alias("mean_milli")
    )
    wf = Window.partitionBy("key").orderBy("bucket_ts").rowsBetween(-5, 0)
    ws = Window.partitionBy("key").orderBy("bucket_ts").rowsBetween(-23, 0)
    sma = means.select(
        "key",
        "bucket_ts",
        "mean_milli",
        F.count(F.lit(1)).over(wf).alias("nf"),
        F.sum("mean_milli").over(wf).alias("sf"),
        F.count(F.lit(1)).over(ws).alias("ns"),
        F.sum("mean_milli").over(ws).alias("ss"),
    )
    state = sma.filter(F.col("ns") == 24).select(
        "key",
        "bucket_ts",
        "mean_milli",
        F.when(
            F.col("sf") * F.col("ns") > F.col("ss") * F.col("nf"), F.lit(1)
        )
        .otherwise(F.lit(-1))
        .alias("side"),
    )
    w = Window.partitionBy("key").orderBy("bucket_ts")
    pnl = state.select(
        "key",
        (
            F.lag("side").over(w)
            * (F.col("mean_milli") - F.lag("mean_milli").over(w))
        )
        .cast("long")
        .alias("step"),
    )
    return pnl.groupBy("key").agg(
        F.count("step").cast("long").alias("n_periods"),
        F.sum("step").cast("long").alias("pnl_milli"),
        F.sum(F.when(F.col("step") > 0, 1).otherwise(0))
        .cast("long")
        .alias("n_winning"),
    )


# ---------------------------------------------------------------------------
# Underwater analysis: longest drawdown duration per key
# ---------------------------------------------------------------------------


@register(
    "drawdown_duration",
    tags=("W1", "W4", "A1"),
    oracle=f"""
WITH trades AS ({SQL_TRADES}),
px AS (
  SELECT event_type AS key, epoch_us(ts) AS t_us, {_CENTS} AS cents
  FROM trades WHERE value IS NOT NULL
),
runmax AS (
  SELECT key, t_us, cents,
         max(cents) OVER (PARTITION BY key ORDER BY t_us, cents
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS peak,
         row_number() OVER (PARTITION BY key ORDER BY t_us, cents) AS rn
  FROM px
),
uw AS (
  SELECT key, rn,
         rn - row_number() OVER (PARTITION BY key ORDER BY rn) AS island
  FROM runmax WHERE cents < peak
),
runs AS (
  SELECT key, island, CAST(count(*) AS BIGINT) AS run_len
  FROM uw GROUP BY 1, 2
)
SELECT key,
       CAST(count(*) AS BIGINT) AS n_underwater_runs,
       CAST(max(run_len) AS BIGINT) AS longest_run_ticks,
       CAST(sum(run_len) AS BIGINT) AS total_underwater_ticks
FROM runs GROUP BY 1
""",
)
def drawdown_duration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Underwater-duration analysis — the TIME dimension of drawdown
    that max_drawdown's depth number misses (a shallow but months-long
    underwater stretch is a different risk than a deep flash dip):
    ticks strictly below the running peak form islands via the classic
    rn - row_number() trick, and the report counts runs, the longest
    run, and total ticks underwater per key. The running peak is an
    integer MAX window (exact); island arithmetic is pure integers;
    deterministic (ts, cents) ordering. Scale shape: two partitioned
    window passes + two map-combined groupBys, no joins."""
    t = trades_view(spark, sf_dir).filter(F.col("value").isNotNull())
    px = t.select(
        F.col("event_type").alias("key"),
        F.unix_micros("ts").alias("t_us"),
        half_away("value", 2).alias("cents"),
    )
    w = Window.partitionBy("key").orderBy("t_us", "cents")
    runmax = px.select(
        "key",
        "cents",
        F.max("cents")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("peak"),
        F.row_number().over(w).alias("rn"),
    )
    wi = Window.partitionBy("key").orderBy("rn")
    uw = runmax.filter(F.col("cents") < F.col("peak")).select(
        "key", (F.col("rn") - F.row_number().over(wi)).alias("island")
    )
    runs = uw.groupBy("key", "island").agg(
        F.count(F.lit(1)).cast("long").alias("run_len")
    )
    return runs.groupBy("key").agg(
        F.count(F.lit(1)).cast("long").alias("n_underwater_runs"),
        F.max("run_len").cast("long").alias("longest_run_ticks"),
        F.sum("run_len").cast("long").alias("total_underwater_ticks"),
    )


# ---------------------------------------------------------------------------
# Wald-Wolfowitz runs test on price-move signs
# ---------------------------------------------------------------------------

_RUNS_Z = (
    "CAST(floor((r - (CAST(2 AS DOUBLE) * np * nm / (np + nm) + 1))"
    " / sqrt(CAST(2 AS DOUBLE) * np * nm"
    "        * (CAST(2 AS DOUBLE) * np * nm - np - nm)"
    "        / ((np + nm) * (np + nm) * (np + nm - 1)))"
    " * 1000 + 0.5) AS BIGINT) AS z_milli"
)


@register(
    "runs_test_price_moves",
    tags=("ML-stats", "W4"),
    oracle=f"""
WITH trades AS ({SQL_TRADES}),
px AS (
  SELECT event_type AS key, epoch_us(ts) AS t_us, {_CENTS} AS cents
  FROM trades WHERE value IS NOT NULL
),
mv AS (
  SELECT key,
         CASE WHEN cents > lag(cents) OVER w THEN 1
              WHEN cents < lag(cents) OVER w THEN -1 END AS s,
         row_number() OVER w AS rn
  FROM px WINDOW w AS (PARTITION BY key ORDER BY t_us, cents)
),
signs AS (
  SELECT key, s,
         lag(s) OVER (PARTITION BY key ORDER BY rn) AS prev
  FROM (SELECT key, s, rn FROM mv WHERE s IS NOT NULL)
       t (key, s, rn)
),
s AS (
  SELECT key,
         CAST(sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS np,
         CAST(sum(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS BIGINT) AS nm,
         CAST(1 + sum(CASE WHEN prev IS NOT NULL AND s != prev
                           THEN 1 ELSE 0 END) AS BIGINT) AS r
  FROM signs GROUP BY 1
)
SELECT key, np, nm, r, {_RUNS_Z}
FROM s WHERE np > 0 AND nm > 0 AND np + nm > 1
""",
)
def runs_test_price_moves(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test on the SIGNS of tick-to-tick price
    moves per key: too few runs of consecutive ups/downs means
    momentum (trending), too many means mean-reversion, and z ~ 0 is
    the random-walk null every market-microstructure analysis starts
    from. Signs from one lag window (ties dropped — no sign), the run
    count from a second lag pass (sign changes + 1), np/nm/r exact
    integers into the standard normal approximation via one shared
    double-led template (CAST(2 AS DOUBLE) guards the Spark
    DECIMAL-literal trap). Scale shape: two partitioned window passes
    over per-key tick order, one aggregate to |keys| rows."""
    t = trades_view(spark, sf_dir).filter(F.col("value").isNotNull())
    px = t.select(
        F.col("event_type").alias("key"),
        F.unix_micros("ts").alias("t_us"),
        half_away("value", 2).alias("cents"),
    )
    w = Window.partitionBy("key").orderBy("t_us", "cents")
    mv = px.select(
        "key",
        F.when(F.col("cents") > F.lag("cents").over(w), F.lit(1))
        .when(F.col("cents") < F.lag("cents").over(w), F.lit(-1))
        .alias("s"),
        F.row_number().over(w).alias("rn"),
    ).filter(F.col("s").isNotNull())
    w2 = Window.partitionBy("key").orderBy("rn")
    signs = mv.select("key", "s", F.lag("s").over(w2).alias("prev"))
    s = signs.groupBy("key").agg(
        F.sum(F.when(F.col("s") == 1, 1).otherwise(0))
        .cast("long")
        .alias("np"),
        F.sum(F.when(F.col("s") == -1, 1).otherwise(0))
        .cast("long")
        .alias("nm"),
        (
            F.lit(1)
            + F.sum(
                F.when(
                    F.col("prev").isNotNull()
                    & (F.col("s") != F.col("prev")),
                    1,
                ).otherwise(0)
            )
        )
        .cast("long")
        .alias("r"),
    )
    return s.filter(
        (F.col("np") > 0) & (F.col("nm") > 0) & (F.col("np") + F.col("nm") > 1)
    ).selectExpr("key", "np", "nm", "r", _RUNS_Z)


# ---------------------------------------------------------------------------
# Amihud illiquidity: |return| per unit notional
# ---------------------------------------------------------------------------

# Per-tick ratio micro-quantized BEFORE the cross-tick mean (order-free
# discipline); the ratio itself is exact-int inputs -> one double divide.
_AMIHUD_TICK = (
    "CAST(floor(CAST(abs(dc) AS DOUBLE) / cents / (CAST(q AS DOUBLE)"
    " / 1000000.0) * 1000000000 + 0.5) AS BIGINT)"
)


@register(
    "amihud_illiquidity",
    tags=("ML-stats", "W4"),
    oracle=f"""
WITH trades AS ({SQL_TRADES}),
px AS (
  SELECT event_type AS key, epoch_us(ts) AS t_us,
         {_CENTS} AS cents, {_QMICRO} AS q
  FROM trades WHERE value IS NOT NULL AND volume IS NOT NULL
),
mv AS (
  SELECT key, cents, q,
         cents - lag(cents) OVER (PARTITION BY key ORDER BY t_us, cents)
           AS dc
  FROM px
),
ticks AS (
  SELECT key, {_AMIHUD_TICK} AS illiq_nano
  FROM mv WHERE dc IS NOT NULL AND q > 0 AND cents > 0
)
SELECT key,
       CAST(count(*) AS BIGINT) AS n_ticks,
       CAST(floor(CAST(sum(CAST(illiq_nano AS HUGEINT)) AS DOUBLE)
            / count(*) + 0.5) AS BIGINT) AS amihud_nano
FROM ticks GROUP BY 1
""",
)
def amihud_illiquidity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Amihud illiquidity per key: the mean of |relative price move| per
    unit traded quantity across ticks — the standard price-impact proxy
    (high = thin book, a unit of flow moves the price a lot; the
    cross-sectional liquidity ranking risk teams size positions with).
    Each tick's ratio is built from exact integers (cent move, cent
    level, micro quantity) and nano-quantized BEFORE the cross-tick
    mean, so no float crosses rows; the mean is one integer sum + one
    deterministic division. Scale shape: one lag window per key, one
    map-combined aggregate."""
    t = trades_view(spark, sf_dir).filter(
        F.col("value").isNotNull() & F.col("volume").isNotNull()
    )
    px = t.select(
        F.col("event_type").alias("key"),
        F.unix_micros("ts").alias("t_us"),
        half_away("value", 2).alias("cents"),
        half_away("volume", 6).alias("q"),
    )
    w = Window.partitionBy("key").orderBy("t_us", "cents")
    mv = px.select(
        "key",
        "cents",
        "q",
        (F.col("cents") - F.lag("cents").over(w)).alias("dc"),
    )
    # cents > 0: a zero price level makes the impact ratio undefined
    # (ANSI divide-by-zero — surfaced by a zero-price tick at sf0.1)
    ticks = mv.filter(
        F.col("dc").isNotNull() & (F.col("q") > 0) & (F.col("cents") > 0)
    ).selectExpr("key", f"{_AMIHUD_TICK} AS illiq_nano")
    return ticks.groupBy("key").agg(
        F.count(F.lit(1)).cast("long").alias("n_ticks"),
        half_up(
            F.sum(dec38(F.col("illiq_nano"))).cast("double") / F.count(F.lit(1)), 0
        ).alias("amihud_nano"),
    )


# ---------------------------------------------------------------------------
# Expected shortfall (CVaR) of hourly returns
# ---------------------------------------------------------------------------


@register(
    "expected_shortfall",
    tags=("ML-stats", "W4", "A1"),
    oracle=f"""
WITH trades AS ({SQL_TRADES}),
hourly AS (
  SELECT event_type AS key, epoch_us(ts) // 3600000000 AS slot,
         (max({{'t': epoch_us(ts), 'c': {_CENTS}}})).c AS close
  FROM trades WHERE value IS NOT NULL GROUP BY 1, 2
),
rets AS (
  SELECT key, close - lag(close) OVER (PARTITION BY key ORDER BY slot)
           AS r
  FROM hourly
),
ranked AS (
  SELECT key, r,
         row_number() OVER (PARTITION BY key ORDER BY r) AS rn,
         count(*) OVER (PARTITION BY key) AS n
  FROM rets WHERE r IS NOT NULL
),
var_t AS (
  SELECT key, r AS var_cents, n FROM ranked
  WHERE rn = (n * 5 + 99) // 100
),
tail AS (
  SELECT rk.key, v.var_cents, v.n,
         CAST(count(*) AS BIGINT) AS n_tail,
         CAST(sum(rk.r) AS BIGINT) AS tail_sum
  FROM ranked rk JOIN var_t v ON v.key = rk.key
  WHERE rk.r <= v.var_cents
  GROUP BY 1, 2, 3
)
SELECT key, CAST(n AS BIGINT) AS n_returns, var_cents, n_tail,
       CAST(floor(CAST(tail_sum AS DOUBLE) / n_tail * 1000 + 0.5)
            AS BIGINT) AS es_milli
FROM tail
""",
)
def expected_shortfall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected shortfall (CVaR-95) of hourly price changes per key:
    the 5th-percentile loss threshold (a type-1 element quantile, so
    both engines pick the same tick) and the MEAN of everything at or
    below it — the coherent tail-risk measure Basel moved to because
    VaR alone ignores how bad the tail is. The threshold comes from the
    brute ranked definition here (the hourly return series is
    calendar-bounded; the two-scan operator is the unbounded-data
    path); the tail mean is an exact integer sum over the <=5% slice
    with one deterministic division. Scale shape: hourly rollup, one
    lag pass, per-key rank over the bounded return series, one
    filtered aggregate."""
    t = trades_view(spark, sf_dir).filter(F.col("value").isNotNull())
    hourly = t.groupBy(
        F.col("event_type").alias("key"),
        (F.unix_micros("ts") / F.lit(3_600_000_000)).cast("long").alias("slot"),
    ).agg(
        F.max(
            F.struct(
                F.unix_micros("ts").alias("t"),
                half_away("value", 2).alias("c"),
            )
        )["c"].alias("close")
    )
    w = Window.partitionBy("key").orderBy("slot")
    rets = hourly.select(
        "key", (F.col("close") - F.lag("close").over(w)).alias("r")
    ).filter(F.col("r").isNotNull())
    wr = Window.partitionBy("key").orderBy("r")
    ranked = rets.select(
        "key",
        "r",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy("key")).alias("n"),
    )
    # NB: Column `/` is DOUBLE division in Spark — the quantile index
    # needs integer DIV or the equality never matches.
    var_t = ranked.filter(
        F.expr("rn = (n * 5 + 99) DIV 100")
    ).select("key", F.col("r").alias("var_cents"), F.col("n").alias("n_ret"))
    tail = (
        ranked.select("key", "r").join(F.broadcast(var_t), "key")
        .filter(F.col("r") <= F.col("var_cents"))
        .groupBy("key", "var_cents", "n_ret")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tail"),
            F.sum("r").cast("long").alias("tail_sum"),
        )
    )
    return tail.selectExpr(
        "key",
        "CAST(n_ret AS BIGINT) AS n_returns",
        "var_cents",
        "n_tail",
        "CAST(floor(CAST(tail_sum AS DOUBLE) / n_tail * 1000 + 0.5)"
        " AS BIGINT) AS es_milli",
    )
