"""Reference-parity queries, batch form, over the ``events`` table.

``events(event_id, ts, user_id, event_type, value, props)`` is the batch
stand-in for the reference's decoded trade stream (FIXTURES.md §5):
event_type plays the symbol, ``ts`` the event time, ``value`` the price and
``props.k`` (JSON) the trade volume — the JSON hop deliberately exercises
the consumer-side JSON decode (C5, BtcPrediction/kafka.py:37-38).

Each query covers the SURVEY.md §2 ids in its ``tags`` and has a DuckDB
oracle with identical column names/semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from stock_streaming_data_pipeline_spark.functions.scalars import (
    epoch_us,
    half_away,
    half_up,
    json_double,
    round6,
)
from stock_streaming_data_pipeline_spark.operators import gapfill, ohlc, profile, running
from stock_streaming_data_pipeline_spark.operators.asof import (
    asof_join,
    asof_join_nearest,
)
from stock_streaming_data_pipeline_spark.operators.checkpoint import materialize
from stock_streaming_data_pipeline_spark.plans.catalog import register
from stock_streaming_data_pipeline_spark.tables import load_table

def _session_scratch(spark: SparkSession, name: str, sf_dir: str) -> str:
    """Deterministic scratch path for builders that must materialize a
    small sink table: keyed by Spark application id and scale factor, so
    repeated invocations within a session overwrite one directory instead
    of leaking a new tempdir per sweep, and parallel sessions never
    collide."""
    import os
    import tempfile

    app = spark.sparkContext.applicationId
    sf = os.path.basename(sf_dir.rstrip("/"))
    return os.path.join(tempfile.gettempdir(), f"sgraft_{app}", f"{name}_{sf}")


# DuckDB-side equivalent of the enriched trade view (volume decoded from the
# JSON props column).
SQL_TRADES = """
  SELECT event_id, ts, user_id, event_type, value,
         CAST(json_extract_string(props, '$.k') AS DOUBLE) AS volume
  FROM events
"""


def trades_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The decoded-trade projection pipeline (P1-P5, C5, C8):
    rename + JSON-field decode + derived usd_volume, mirroring
    ProcessStockStream.py:102-109."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        "ts",
        "user_id",
        "event_type",
        F.col("value"),
        json_double("props", "$.k").alias("volume"),
    )


# --------------------------------------------------------------------------
# Flagship: sliding OHLC bars (A2/T3 shape, ProcessStockStream.py:143-161)
# --------------------------------------------------------------------------

_OHLC_OFFSETS = ", ".join(str(o) for o in range(0, 3600, 600))


@register(
    "ohlc_sliding_bars",
    tags=("A2", "A4", "A5", "T3", "P5", "C10"),
    bench=True,
    oracle=f"""
WITH trades AS ({SQL_TRADES}),
exploded AS (
  SELECT event_type, ts, value, volume,
         (epoch_us(ts) // 600000000) * 600 - off AS window_start
  FROM trades, unnest([{_OHLC_OFFSETS}]) AS u(off)
)
SELECT event_type,
       window_start,
       window_start + 3600 AS window_end,
       round(sum(value * volume), 6) AS total_usd_volume,
       round(sum(volume), 6) AS total_volume,
       max(value) AS high,
       min(value) AS low,
       arg_min(value, ts) AS open,
       arg_max(value, ts) AS close,
       count(*) AS num_trades
FROM exploded
GROUP BY 1, 2, 3
""",
)
def ohlc_sliding_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour windows sliding every 10 minutes, per event_type: the
    reference's centerpiece sliding aggregation with event-time-pinned
    open/close (max_by/min_by instead of nondeterministic last())."""
    bars = ohlc.sliding_bars(
        trades_view(spark, sf_dir),
        key="event_type",
        ts="ts",
        price="value",
        volume="volume",
        window="1 hour",
        slide="10 minutes",
    )
    return bars.select(
        "event_type",
        F.unix_seconds("window_start").alias("window_start"),
        F.unix_seconds("window_end").alias("window_end"),
        round6(F.col("total_usd_volume")).alias("total_usd_volume"),
        round6(F.col("total_volume")).alias("total_volume"),
        "high",
        "low",
        "open",
        "close",
        "num_trades",
    )


def tumbling_volume_oracle() -> str:
    """Shared with the streaming form of the same aggregation."""
    return f"""
WITH trades AS ({SQL_TRADES})
SELECT event_type,
       (epoch_us(ts) // 86400000000) * 86400 AS window_start,
       round(sum(volume), 6) AS total_volume,
       round(sum(value * volume), 6) AS total_usd_volume,
       count(*) AS num_trades
FROM trades
GROUP BY 1, 2
"""


@register(
    "tumbling_volume_daily",
    tags=("A1", "T2"),
    bench=True,
    oracle=tumbling_volume_oracle(),
)
def tumbling_volume_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-day volume aggregation per key (the reference's 1-minute
    tumbling agg, ProcessStockStream.py:115-123, at a day grain that suits
    the testdata's event cadence)."""
    t = trades_view(spark, sf_dir).withColumn(
        "usd_volume", F.col("value") * F.col("volume")
    )
    out = ohlc.tumbling_volume(
        t, key="event_type", ts="ts", volume="volume",
        usd_volume="usd_volume", window="1 day",
    )
    return out.select(
        "event_type",
        F.unix_seconds("window_start").alias("window_start"),
        round6(F.col("total_volume")).alias("total_volume"),
        round6(F.col("total_usd_volume")).alias("total_usd_volume"),
        "num_trades",
    )


@register(
    "trade_ticks",
    tags=("P1", "P3", "P4", "P5", "F1", "F2", "F3", "C5", "C8"),
    oracle=f"""
WITH trades AS ({SQL_TRADES})
SELECT event_id,
       user_id,
       epoch_us(ts) AS ts_us,
       value AS price,
       volume,
       round(value * volume, 6) AS usd_volume
FROM trades
WHERE event_type = 'click'
  AND value > 0
  AND ts >= TIMESTAMP '2024-01-10 00:00:00'
  AND ts < TIMESTAMP '2024-01-20 00:00:00'
""",
)
def trade_ticks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered, derived tick projection — the price_tracking feed
    (ProcessStockStream.py:132-133) plus the dashboard's key/value/time
    predicates (grafana/dashboard.json:114,434-475)."""
    from stock_streaming_data_pipeline_spark.tables import load_events_pruned

    # Time bounds via the raw-nanos pruned loader: the range predicate is
    # pushed to the parquet scan as long comparisons (see SCALE.md on the
    # TIMESTAMP(NANOS) limitation this works around).
    ev = load_events_pruned(
        spark, sf_dir, start="2024-01-10T00:00:00", end="2024-01-20T00:00:00"
    )
    t = ev.select(
        "event_id", "ts", "user_id", "event_type", F.col("value"),
        json_double("props", "$.k").alias("volume"),
    )
    return (
        t.filter((F.col("event_type") == "click") & (F.col("value") > 0))
        .select(
            "event_id",
            "user_id",
            epoch_us("ts").alias("ts_us"),
            F.col("value").alias("price"),
            "volume",
            round6(F.col("value") * F.col("volume")).alias("usd_volume"),
        )
    )


@register(
    "cumulative_volume",
    tags=("W1", "A3"),
    bench=True,
    oracle=f"""
WITH trades AS ({SQL_TRADES})
SELECT event_id, user_id, epoch_us(ts) AS ts_us,
       round(sum(volume) OVER (
         PARTITION BY user_id ORDER BY ts
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) AS cumulative_volume
FROM trades
""",
)
def cumulative_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key running cumulative volume — the producer-side dict state
    (FinnhubProducer.py:34-36) as a window function."""
    out = running.running_sum(
        trades_view(spark, sf_dir), key="user_id", ts="ts",
        value="volume", out="cumulative_volume",
    )
    return out.select(
        "event_id", "user_id", epoch_us("ts").alias("ts_us"),
        round6(F.col("cumulative_volume")).alias("cumulative_volume"),
    )


@register(
    "cumulative_volume_salted",
    tags=("W1", "A3"),
    oracle=f"""
WITH trades AS ({SQL_TRADES})
SELECT event_id, user_id, epoch_us(ts) AS ts_us,
       round(CAST(sum(CAST(volume AS DECIMAL(18,6))) OVER (
         PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 6)
         AS cumulative_volume
FROM trades
""",
)
def cumulative_volume_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same per-key running volume through the hot-key-safe two-phase
    prefix sum (running_sum_salted: contiguous day segments + offset
    join). DECIMAL accumulation makes the reassociated sum exact, so the
    plain-window DuckDB oracle must match hash-for-hash — proving the
    salted physical strategy preserves the logical result."""
    tv = trades_view(spark, sf_dir).withColumn(
        "vol_dec", F.col("volume").cast("decimal(18,6)")
    )
    out = running.running_sum_salted(
        tv, key="user_id", ts="ts", value="vol_dec",
        out="cum", tiebreak=("event_id",),
    )
    return out.select(
        "event_id", "user_id", epoch_us("ts").alias("ts_us"),
        F.round(F.col("cum").cast("double"), 6).alias("cumulative_volume"),
    )


@register(
    "latest_event_per_key",
    tags=("W3", "O2"),
    oracle=f"""
WITH trades AS ({SQL_TRADES})
SELECT user_id, epoch_us(max(ts)) AS last_ts_us,
       arg_max(value, ts) AS last_price
FROM trades
GROUP BY user_id
""",
)
def latest_event_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest row per key (predict_btc.py:83,88) via max_by — a partial-
    aggregatable form that avoids a full sort at scale."""
    out = running.latest_per_key(
        trades_view(spark, sf_dir), key="user_id", ts="ts", values=["value"]
    )
    return out.select(
        "user_id",
        epoch_us("ts").alias("last_ts_us"),
        F.col("value").alias("last_price"),
    )


@register(
    "trailing_window_stats",
    tags=("W2",),
    oracle=f"""
WITH trades AS ({SQL_TRADES})
SELECT event_id, user_id, epoch_us(ts) AS ts_us,
       round(avg(value) OVER w, 6) AS trailing_avg,
       min(value) OVER w AS trailing_min,
       max(value) OVER w AS trailing_max,
       count(*) OVER w AS trailing_n
FROM trades
WINDOW w AS (PARTITION BY user_id ORDER BY ts
             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
""",
)
def trailing_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-row trailing lookback per key — the predictor's 100-row FIFO
    (BtcPrediction/kafka.py:51-57) generalized to trailing stats."""
    out = running.trailing_agg(
        trades_view(spark, sf_dir), key="user_id", ts="ts", value="value", rows=5
    )
    return out.select(
        "event_id", "user_id", epoch_us("ts").alias("ts_us"),
        round6(F.col("trailing_avg")).alias("trailing_avg"),
        F.col("trailing_min").alias("trailing_min"),
        F.col("trailing_max").alias("trailing_max"),
        F.col("trailing_n").alias("trailing_n"),
    )


@register(
    "asof_purchase_view",
    tags=("J1",),
    bench=True,
    oracle="""
SELECT l.event_id, l.user_id, epoch_us(l.ts) AS ts_us, l.value AS purchase_value,
       coalesce(epoch_us(r.ts), -1) AS asof_ts_us, r.value AS view_value
FROM (SELECT * FROM events WHERE event_type = 'purchase') l
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') r
  ON l.user_id = r.user_id AND l.ts >= r.ts
""",
)
def asof_purchase_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase aligned with the user's most recent prior
    view — the prediction-vs-actual alignment shape (predict_btc.py:64-91)
    as a scalable union+carry-forward operator."""
    ev = load_table(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    right = ev.filter(F.col("event_type") == "view").select("user_id", "ts", "value")
    out = asof_join(left, right, by="user_id", on="ts", right_values=["value"])
    return out.select(
        "event_id",
        "user_id",
        epoch_us("ts").alias("ts_us"),
        F.col("value").alias("purchase_value"),
        F.coalesce(epoch_us("asof_ts"), F.lit(-1).cast("long")).alias("asof_ts_us"),
        F.col("asof_value").alias("view_value"),
    )


@register(
    "hierarchical_bars",
    tags=("A1", "A2", "T2"),
    oracle="""
WITH minute AS (
  SELECT event_type, epoch_us(ts) // 60000000 AS slot,
         count(*) AS n_events,
         CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS total_cents,
         max(value) AS high, min(value) AS low
  FROM events WHERE value IS NOT NULL
  GROUP BY 1, 2
),
hour AS (
  SELECT event_type, slot // 60 AS slot,
         CAST(sum(n_events) AS BIGINT) AS n_events,
         CAST(sum(total_cents) AS BIGINT) AS total_cents,
         max(high) AS high, min(low) AS low
  FROM minute GROUP BY 1, 2
),
day AS (
  SELECT event_type, slot // 24 AS slot,
         CAST(sum(n_events) AS BIGINT) AS n_events,
         CAST(sum(total_cents) AS BIGINT) AS total_cents,
         max(high) AS high, min(low) AS low
  FROM hour GROUP BY 1, 2
)
SELECT 'minute' AS grain, * FROM minute
UNION ALL SELECT 'hour' AS grain, * FROM hour
UNION ALL SELECT 'day' AS grain, * FROM day
""",
)
def hierarchical_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical continuous aggregates (hypertable-rollup shape):
    minute bars from the facts, hour bars RE-AGGREGATED from the minute
    tier, day bars from the hour tier. At 100 TB this is the difference
    between three full fact scans and one scan + two tiny re-aggs (each
    tier is ~1/60 the rows of the one below); the same lineage is how a
    streaming job maintains coarse tiers from a fine-grained store
    without touching raw history. Sums ride exact integer cents so every
    tier's totals merge associatively and match the SQL oracle bit-for-bit.
    """
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    cents = half_away("value", 2)
    # Materialize the fine tier once: without this the three union
    # branches each re-derive `minute` from the fact scan (3 full
    # scans observed in the physical plan). With it, the facts are
    # read once and the coarser tiers re-aggregate the materialized
    # tier — the continuous-aggregate shape this query exists to show.
    minute = materialize(
        ev.withColumn("slot", (epoch_us("ts") / F.lit(60_000_000)).cast("long"))
        .withColumn("cents", cents)
        .groupBy("event_type", "slot")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("cents").alias("total_cents"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
        ),
        eager=False,
    )

    def _up(df: DataFrame, factor: int) -> DataFrame:
        return (
            df.withColumn("slot", (F.col("slot") / F.lit(factor)).cast("long"))
            .groupBy("event_type", "slot")
            .agg(
                F.sum("n_events").alias("n_events"),
                F.sum("total_cents").alias("total_cents"),
                F.max("high").alias("high"),
                F.min("low").alias("low"),
            )
        )

    hour = _up(minute, 60)
    day = _up(hour, 24)
    cols = ["grain", "event_type", "slot", "n_events", "total_cents", "high", "low"]
    return (
        minute.withColumn("grain", F.lit("minute")).select(cols)
        .unionByName(hour.withColumn("grain", F.lit("hour")).select(cols))
        .unionByName(day.withColumn("grain", F.lit("day")).select(cols))
    )


@register(
    "asof_nearest_view",
    tags=("J1",),
    oracle="""
WITH l AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'),
r AS (SELECT user_id, ts, value FROM events WHERE event_type = 'view'),
cand AS (
  SELECT l.event_id, epoch_us(r.ts) AS rts, r.value AS vv,
         abs(epoch_us(l.ts) - epoch_us(r.ts)) AS dist
  FROM l JOIN r USING (user_id)
  WHERE abs(epoch_us(l.ts) - epoch_us(r.ts)) <= 3600000000
),
best AS (
  SELECT event_id, rts, vv,
         row_number() OVER (PARTITION BY event_id ORDER BY dist, rts) AS rn
  FROM cand
)
SELECT l.event_id, l.user_id, epoch_us(l.ts) AS ts_us,
       l.value AS purchase_value,
       coalesce(b.rts, -1) AS nearest_ts_us, b.vv AS nearest_value
FROM l LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (event_id)
""",
)
def asof_nearest_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor as-of join with tolerance: each purchase aligned
    with the user's closest view event within +/-1h, ties to the earlier
    side — pandas merge_asof(direction='nearest') semantics, distributed.
    The oracle is the O(n*m)-per-user candidate join; the Spark plan is
    the linear two-pass window form (operators/asof.py), which is the one
    that survives hot keys at scale."""
    ev = load_table(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    right = ev.filter(F.col("event_type") == "view").select("user_id", "ts", "value")
    out = asof_join_nearest(
        left,
        right,
        by="user_id",
        on="ts",
        right_values=["value"],
        tolerance_micros=3_600_000_000,
    )
    return out.select(
        "event_id",
        "user_id",
        epoch_us("ts").alias("ts_us"),
        F.col("value").alias("purchase_value"),
        F.coalesce(epoch_us("nearest_ts"), F.lit(-1).cast("long")).alias(
            "nearest_ts_us"
        ),
        F.col("nearest_value").alias("nearest_value"),
    )


@register(
    "gap_fill_hourly",
    tags=("F5", "J3", "A7"),
    bench=True,
    oracle="""
WITH hourly AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS hour_num,
         count(*) AS n_events, sum(value) AS total, arg_max(value, ts) AS close
  FROM events GROUP BY 1, 2
),
bounds AS (SELECT event_type, min(hour_num) AS lo, max(hour_num) AS hi FROM hourly GROUP BY 1),
grid AS (SELECT event_type, unnest(generate_series(lo, hi)) AS hour_num FROM bounds),
j AS (
  SELECT g.event_type, g.hour_num, h.n_events, h.total, h.close
  FROM grid g LEFT JOIN hourly h USING (event_type, hour_num)
),
f AS (
  SELECT event_type, hour_num,
         coalesce(n_events, 0) AS n_events,
         last_value(close IGNORE NULLS) OVER w_prev AS close_ffill,
         total,
         last_value(total IGNORE NULLS) OVER w_prev AS prev_v,
         last_value(CASE WHEN total IS NOT NULL THEN hour_num END IGNORE NULLS) OVER w_prev AS prev_t,
         first_value(total IGNORE NULLS) OVER w_next AS next_v,
         first_value(CASE WHEN total IS NOT NULL THEN hour_num END IGNORE NULLS) OVER w_next AS next_t
  FROM j
  WINDOW
    w_prev AS (PARTITION BY event_type ORDER BY hour_num
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
    w_next AS (PARTITION BY event_type ORDER BY hour_num
               ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT event_type, hour_num, n_events, close_ffill,
       round(CASE WHEN total IS NOT NULL THEN total
                  WHEN prev_t IS NULL THEN next_v
                  WHEN next_t IS NULL THEN prev_v
                  ELSE prev_v + (next_v - prev_v) * (hour_num - prev_t) / (next_t - prev_t)
             END, 6) AS total_interp
FROM f
""",
)
def gap_fill_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly grid per key with 0-fill (counts), forward fill (close)
    and linear interpolation (totals) — the notebook's 10-second reindex +
    interpolate/ffill pipeline (clean_data.ipynb cells 5,8), distributed."""
    ev = load_table(spark, sf_dir, "events")
    hourly = (
        ev.withColumn("hour_num", (epoch_us("ts") / F.lit(3_600_000_000)).cast("long"))
        .groupBy("event_type", "hour_num")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total"),
            F.expr("max_by(value, ts)").alias("close"),
        )
    )
    filled = gapfill.gap_fill(
        hourly.withColumnRenamed("close", "close_ffill"),
        key="event_type",
        slot="hour_num",
        ffill_cols=["close_ffill"],
        interp_cols=["total"],
        zero_cols=["n_events"],
    )
    return filled.select(
        "event_type", "hour_num", "n_events", "close_ffill",
        round6(F.col("total")).alias("total_interp"),
    )


@register(
    "minmax_scaled",
    tags=("A8", "UD3"),
    oracle="""
SELECT event_id, event_type,
       round(CASE WHEN max(value) OVER w = min(value) OVER w THEN 0.0
                  ELSE (value - min(value) OVER w)
                       / (max(value) OVER w - min(value) OVER w) END, 6) AS value_scaled
FROM events
WINDOW w AS (PARTITION BY event_type)
""",
)
def minmax_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-max feature scaling per key (train_model.ipynb cell 3 /
    predict_btc.py:40,43) as pure column arithmetic — no UDF."""
    ev = load_table(spark, sf_dir, "events")
    out = profile.minmax_scale(ev, key="event_type", cols=["value"])
    return out.select(
        "event_id", "event_type", round6(F.col("value_scaled")).alias("value_scaled")
    )


@register(
    "users_with_events_semi",
    tags=("J2", "F4"),
    oracle="""
SELECT event_type, count(*) AS n_events
FROM events e
WHERE EXISTS (
  SELECT 1 FROM customer c
  WHERE c.c_custkey = e.user_id AND c.c_mktsegment = 'BUILDING'
)
GROUP BY event_type
""",
)
def users_with_events_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join against a dimension — the producer's symbol-validation
    lookup (common_function.py:12-17) done relationally. No hard broadcast
    hint: customer is SF-scaled, so stats-driven auto-broadcast handles the
    small-SF case and degrades to a shuffle semi-join at cluster scale."""
    ev = load_table(spark, sf_dir, "events")
    dim = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    return (
        ev.join(dim, ev.user_id == dim.c_custkey, "left_semi")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


@register(
    "users_without_dim_anti",
    tags=("J2",),
    oracle="""
SELECT event_type, count(*) AS n_events
FROM events e
WHERE NOT EXISTS (
  SELECT 1 FROM customer c
  WHERE c.c_custkey = e.user_id AND c.c_mktsegment = 'BUILDING'
)
GROUP BY event_type
""",
)
def users_without_dim_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (the complement membership check); join strategy
    left to stats/AQE for the same SF-scaling reason as the semi form."""
    ev = load_table(spark, sf_dir, "events")
    dim = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    return (
        ev.join(dim, ev.user_id == dim.c_custkey, "left_anti")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )


@register(
    "ordered_split_counts",
    tags=("O3",),
    oracle="""
WITH ranked AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type ORDER BY ts) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM events
)
SELECT event_type,
       CASE WHEN rn <= ceil(n * 0.8) THEN 'train' ELSE 'test' END AS split,
       count(*) AS n_rows,
       round(sum(value), 6) AS total_value
FROM ranked
GROUP BY 1, 2
""",
)
def ordered_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/20 time-ordered split per key (train_model.ipynb
    cell 4's positional split), summarized."""
    ev = load_table(spark, sf_dir, "events")
    out = running.ordered_split(ev, key="event_type", ts="ts", train_fraction=0.8)
    return out.groupBy("event_type", "split").agg(
        F.count(F.lit(1)).alias("n_rows"),
        round6(F.sum("value")).alias("total_value"),
    )


@register(
    "envelope_roundtrip",
    tags=("P2", "S2", "P1", "U1"),
    oracle="SELECT event_id, epoch_us(ts) AS ts_us, event_type, value FROM events",
)
def envelope_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack rows into the reference's Kafka/Avro message envelope
    ``{data: array<struct>, type}`` (trades.avsc:7-48) and decode them back
    via explode + struct projection (ProcessStockStream.py:102-109) — the
    roundtrip must be the identity."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type", "value"
    )
    envelopes = (
        ev.groupBy(F.window("ts", "1 day").alias("w"), F.col("event_type").alias("k"))
        .agg(F.collect_list(F.struct("event_id", "ts", "event_type", "value")).alias("data"))
        .select("data", F.lit("trade").alias("type"))
    )
    return (
        envelopes.filter(F.col("type") == "trade")
        .select(F.explode("data").alias("t"))
        .select(
            F.col("t.event_id").alias("event_id"),
            epoch_us(F.col("t.ts")).alias("ts_us"),
            F.col("t.event_type").alias("event_type"),
            F.col("t.value").alias("value"),
        )
    )


@register(
    "inference_scoring",
    tags=("UD1", "UD3", "W2"),
    oracle=f"""
WITH trades AS ({SQL_TRADES}),
feats AS (
  SELECT event_id, user_id, ts,
         avg(value) OVER w AS f_avg,
         min(value) OVER w AS f_min,
         max(value) OVER w AS f_max,
         value AS f_last
  FROM trades
  WINDOW w AS (PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
)
SELECT event_id, user_id, epoch_us(ts) AS ts_us,
       round({{score}}, 6) AS predict_price
FROM feats
""".format(score=__import__(
        "stock_streaming_data_pipeline_spark.operators.inference",
        fromlist=["sql_score"],
    ).sql_score(["f_avg", "f_min", "f_max", "f_last"])),
)
def inference_scoring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vectorized model scoring through an Arrow pandas_udf over trailing
    lookback features — the reference's predictor forward pass
    (predict_btc.py:37-44) as a distributed map; the deterministic linear
    model artifact makes the UDF path exactly oracle-checkable."""
    from stock_streaming_data_pipeline_spark.operators import inference

    feats = running.trailing_agg(
        trades_view(spark, sf_dir), key="user_id", ts="ts", value="value", rows=5
    ).select(
        "event_id", "user_id", "ts",
        F.col("trailing_avg").alias("f_avg"),
        F.col("trailing_min").alias("f_min"),
        F.col("trailing_max").alias("f_max"),
        F.col("value").alias("f_last"),
    )
    scored = inference.score(
        feats, feature_cols=["f_avg", "f_min", "f_max", "f_last"]
    )
    return scored.select(
        "event_id", "user_id", epoch_us("ts").alias("ts_us"),
        round6(F.col("predict_price")).alias("predict_price"),
    )


@register(
    "prediction_alignment",
    tags=("J1", "C7", "K6"),
    oracle=f"""
WITH trades AS ({SQL_TRADES}),
feats AS (
  SELECT user_id, ts,
         avg(value) OVER w AS f_avg, min(value) OVER w AS f_min,
         max(value) OVER w AS f_max, value AS f_last
  FROM trades
  WINDOW w AS (PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
),
predictions AS (
  SELECT user_id, epoch_us(ts + INTERVAL 10 SECOND) AS ts_us,
         round({{score}}, 6) AS predict_price
  FROM feats
),
actuals AS (SELECT user_id, epoch_us(ts) AS ts_us, value AS curr_price FROM trades)
SELECT coalesce(p.user_id, a.user_id) AS user_id,
       coalesce(p.ts_us, a.ts_us) AS ts_us,
       a.curr_price, p.predict_price
FROM predictions p
FULL OUTER JOIN actuals a ON p.user_id = a.user_id AND p.ts_us = a.ts_us
""".format(score=__import__(
        "stock_streaming_data_pipeline_spark.operators.inference",
        fromlist=["sql_score"],
    ).sql_score(["f_avg", "f_min", "f_max", "f_last"])),
)
def prediction_alignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The btc_predict table (ddl.cql:19-25): predictions written at
    t+10s full-outer aligned with actuals at t — the reference's two-phase
    INSERT/UPDATE (predict_btc.py:64-91) as one join; unmatched sides keep
    nulls exactly like the half-filled Cassandra rows."""
    from stock_streaming_data_pipeline_spark.operators import inference

    t = trades_view(spark, sf_dir)
    feats = running.trailing_agg(
        t, key="user_id", ts="ts", value="value", rows=5
    ).select(
        "user_id", "ts",
        F.col("trailing_avg").alias("f_avg"),
        F.col("trailing_min").alias("f_min"),
        F.col("trailing_max").alias("f_max"),
        F.col("value").alias("f_last"),
    )
    predictions = inference.score(
        feats, feature_cols=["f_avg", "f_min", "f_max", "f_last"]
    ).select(
        "user_id",
        epoch_us(F.col("ts") + F.expr("INTERVAL 10 SECONDS")).alias("ts_us"),
        round6(F.col("predict_price")).alias("predict_price"),
    )
    actuals = t.select(
        "user_id", epoch_us("ts").alias("ts_us"), F.col("value").alias("curr_price")
    )
    return (
        predictions.alias("p")
        .join(actuals.alias("a"), ["user_id", "ts_us"], "full_outer")
        .select("user_id", "ts_us", "curr_price", "predict_price")
    )


@register(
    "props_map_explode",
    tags=("C5", "P2"),
    oracle="""
SELECT event_id, 'k' AS prop_key,
       CAST(json_extract_string(props, '$.k') AS DOUBLE) AS prop_value
FROM events
""",
)
def props_map_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON properties decoded to a MAP column and exploded to (key, value)
    rows — the map-typed side of the C5 JSON surface."""
    ev = load_table(spark, sf_dir, "events")
    parsed = ev.select(
        "event_id",
        F.from_json("props", "map<string,double>").alias("m"),
    )
    return parsed.select(
        "event_id", F.explode("m").alias("prop_key", "prop_value")
    )


@register(
    "ewma_price",
    tags=("W1", "UD1", "T11"),
    oracle="""
WITH RECURSIVE ordered AS (
  SELECT user_id, event_id, epoch_us(ts) AS ts_us, value,
         row_number() OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
           AS rn
  FROM events WHERE value IS NOT NULL
), rec AS (
  SELECT user_id, event_id, ts_us, rn, value AS y
  FROM ordered WHERE rn = 1
  UNION ALL
  SELECT o.user_id, o.event_id, o.ts_us, o.rn, 0.5 * o.value + 0.5 * r.y
  FROM ordered o JOIN rec r ON o.user_id = r.user_id AND o.rn = r.rn + 1
)
SELECT user_id, event_id, ts_us,
       CAST(floor(y * 1000000 + 0.5) AS BIGINT) AS ewma_micro
FROM rec
""",
)
def ewma_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key EWMA (alpha = 0.5) of the event value — the classic
    streaming price feature whose recursion (each output feeds the next)
    no fixed-frame window expresses. Spark side: applyInPandas sequential
    float64 fold (operators/running.py:ewma); oracle side: a recursive
    CTE replaying the IDENTICAL IEEE operation sequence, so the match is
    bitwise even before the round-6 surface. The reference computes its
    EWMA-ish features in a pandas sidecar (BtcPrediction/kafka.py:51-57);
    in-engine this is one hash shuffle on the key."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select("user_id", "event_id", epoch_us("ts").alias("ts_us"), "value")
    )
    out = running.ewma(
        ev, key="user_id", order=("ts_us", "event_id"), value_col="value"
    )
    # Micro-unit surface via floor(y*1e6 + 0.5): the SAME IEEE double
    # sequence in both engines (F.round's exact-BigDecimal HALF_UP and
    # DuckDB's float-space round disagree on the exact dyadic halves an
    # alpha=0.5 recursion produces).
    return out.select(
        "user_id",
        "event_id",
        "ts_us",
        half_up("ewma_raw", 6).alias("ewma_micro"),
    )


@register(
    "outlier_zscore",
    tags=("A1", "A5", "J2", "F1"),
    oracle="""
WITH cents AS (
  SELECT event_id, event_type,
         CAST(round(value * 100, 0) AS BIGINT) AS value_cents
  FROM events WHERE value IS NOT NULL
), stats AS (
  SELECT event_type, count(*)::BIGINT AS n,
         sum(value_cents)::BIGINT AS s1,
         sum(value_cents * value_cents)::BIGINT AS s2
  FROM cents GROUP BY event_type
), scored AS (
  SELECT c.event_id, c.event_type, c.value_cents,
         (c.value_cents::DOUBLE - s.s1::DOUBLE / s.n::DOUBLE)
           / sqrt((s.s2::DOUBLE - s.s1::DOUBLE * s.s1::DOUBLE / s.n::DOUBLE)
                  / (s.n::DOUBLE - 1)) AS z
  FROM cents c JOIN stats s USING (event_type)
)
SELECT event_id, event_type, value_cents, round(z, 6) AS z
FROM scored WHERE abs(round(z, 6)) > 2.5
""",
)
def outlier_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-key z-score anomaly detection (the price-spike filter of a
    market feed, equally the numeric-outlier pass of a curation pipeline).
    Moments are accumulated as EXACT integer cents (half-away rounding,
    the SQL rule), so mean/variance derive from identical integers in both
    engines and the double expression tree is replayed verbatim — no
    summation-order sensitivity. Physical shape: tiny per-key stats agg
    broadcast back onto the fact scan; the facts never shuffle."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    cents = half_away("value", 2)
    c = ev.select("event_id", "event_type", cents.alias("value_cents"))
    stats = c.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("value_cents").alias("s1"),
        F.sum(F.col("value_cents") * F.col("value_cents")).alias("s2"),
    )
    j = c.join(F.broadcast(stats), "event_type")
    n_d = F.col("n").cast("double")
    s1_d = F.col("s1").cast("double")
    s2_d = F.col("s2").cast("double")
    z = (F.col("value_cents").cast("double") - s1_d / n_d) / F.sqrt(
        (s2_d - s1_d * s1_d / n_d) / (n_d - F.lit(1.0))
    )
    return (
        j.withColumn("z", round6(z))
        .filter(F.abs(F.col("z")) > 2.5)
        .select("event_id", "event_type", "value_cents", "z")
    )


@register(
    "winsorize_values",
    tags=("A5", "F1", "C2", "J2"),
    oracle="""
WITH bounds AS (
  SELECT event_type,
         round(quantile_cont(value, 0.05), 6) AS lo,
         round(quantile_cont(value, 0.95), 6) AS hi
  FROM events WHERE value IS NOT NULL GROUP BY event_type
)
SELECT e.event_id, e.event_type,
       round(CASE WHEN e.value < b.lo THEN b.lo
                  WHEN e.value > b.hi THEN b.hi
                  ELSE e.value END, 6) AS winsorized,
       CAST(e.value < b.lo OR e.value > b.hi AS BOOLEAN) AS clipped
FROM events e JOIN bounds b USING (event_type)
WHERE e.value IS NOT NULL
""",
)
def winsorize_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization (percentile clipping) per key — the numeric
    data-cleaning pass before feature scaling: clamp to the [p05, p95]
    band. Bounds are exact interpolated percentiles rounded to the
    engine-neutral 6 decimals BEFORE clamping (so the clamp compares
    identical doubles in both engines), computed in a tiny per-key agg
    and broadcast back onto the fact scan — facts never shuffle."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    bounds = ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.05)"), 6).alias("lo"),
        F.round(F.expr("percentile(value, 0.95)"), 6).alias("hi"),
    )
    j = ev.join(F.broadcast(bounds), "event_type")
    clipped = F.col("value") < F.col("lo")
    clipped_hi = F.col("value") > F.col("hi")
    wins = (
        F.when(clipped, F.col("lo"))
        .when(clipped_hi, F.col("hi"))
        .otherwise(F.col("value"))
    )
    return j.select(
        "event_id",
        "event_type",
        round6(wins).alias("winsorized"),
        (clipped | clipped_hi).alias("clipped"),
    )


# --------------------------------------------------------------------------
# Z-order layout codes (multi-dimensional data skipping)
# --------------------------------------------------------------------------

from stock_streaming_data_pipeline_spark.operators import zorder as _zorder  # noqa: E402

_Z_BITS = 16
_Z_ORACLE = f"""
WITH b AS (
  SELECT min(user_id) AS xlo, max(user_id) AS xhi,
         min(epoch_us(ts)) AS ylo, max(epoch_us(ts)) AS yhi
  FROM events
),
c AS (
  SELECT e.event_id,
         {_zorder.sql_rank_bucket('e.user_id', 'b.xlo', 'b.xhi', bits=_Z_BITS)} AS bx,
         {_zorder.sql_rank_bucket('epoch_us(e.ts)', 'b.ylo', 'b.yhi', bits=_Z_BITS)} AS by
  FROM events e CROSS JOIN b
)
SELECT event_id, {_zorder.sql_interleave_bits('bx', 'by', bits=_Z_BITS)} AS zcode
FROM c
"""


@register(
    "events_zorder_codes",
    tags=("O1", "K4"),
    oracle=_Z_ORACLE,
)
def events_zorder_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (Z-order) layout codes over (user_id, event-time): the sort
    key that makes parquet footer min/max stats selective on BOTH
    dimensions at once (the OPTIMIZE ZORDER BY layout for plain parquet).
    Pure BIGINT bucketing + bit interleave -- exact in any engine, hence
    a full oracle. Code locality is pinned in tests/test_zorder.py."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "ts_us", F.unix_micros(F.col("ts"))
    )
    return _zorder.zorder_codes(
        ev, col_x="user_id", col_y="ts_us", bits=_Z_BITS
    ).select("event_id", "zcode")


# --------------------------------------------------------------------------
# Change-data feed over the keyed upsert sink (K1/K2 read side)
# --------------------------------------------------------------------------

_CDC_CUT = 20


@register(
    "cdc_changes_since",
    tags=("K1", "K2", "K6"),
    oracle=f"""
WITH daily AS (
  SELECT user_id, day(ts) AS ep, max(value) AS day_value
  FROM events GROUP BY 1, 2
),
res AS (
  SELECT user_id,
         max_by(day_value, ep) AS day_value,
         max(ep) AS _commit_epoch,
         max(CASE WHEN ep <= {_CDC_CUT} THEN 1 ELSE 0 END) AS existed
  FROM daily GROUP BY user_id
)
SELECT user_id, day_value, CAST(_commit_epoch AS BIGINT) AS _commit_epoch,
       CASE WHEN existed = 1 THEN 'update' ELSE 'insert' END AS _change_type
FROM res WHERE _commit_epoch > {_CDC_CUT}
""",
)
def cdc_changes_since(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change-data-feed read of the LSM upsert sink (Delta CDF's
    changed-rows-since-version, on the epoch stamps the writer already
    lays down): materialize a daily-upsert table from events (epoch =
    day-of-month, one LWW row per user/day), then resolve which keys
    changed after the cut epoch, with insert/update classification. The
    oracle replays the epoch algebra relationally — the parquet sink
    round-trip is exactly LWW-over-epochs, which is what's being
    checked."""
    from stock_streaming_data_pipeline_spark.streaming import sinks

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.dayofmonth("ts").alias("_epoch")
    ).agg(F.max("value").alias("day_value"))
    # deterministic per-session scratch (overwritten, not leaked, on
    # repeated catalog/oracle/lint sweeps within one session)
    path = _session_scratch(spark, "cdc_sink", sf_dir)
    daily.write.mode("overwrite").parquet(path)
    out = sinks.read_changes(
        spark, path, ["user_id"], since_epoch=_CDC_CUT
    )
    return out.select(
        "user_id",
        "day_value",
        F.col("_commit_epoch").cast("long").alias("_commit_epoch"),
        "_change_type",
    )


# --------------------------------------------------------------------------
# KMV distinct sketch (the differential-testable approximate-distinct tier)
# --------------------------------------------------------------------------

from stock_streaming_data_pipeline_spark.operators import kmv as _kmv  # noqa: E402

_KMV_K = 64
_KMV_ORACLE = f"""
WITH {_kmv.sql_kmv_sketch(table="events", group_expr="event_type",
                          key_expr="user_id", k=_KMV_K)},
exact AS (
  SELECT event_type AS grp, count(DISTINCT user_id) AS exact_distinct
  FROM events GROUP BY 1
)
SELECT s.grp AS event_type,
       round({_kmv.sql_kmv_estimate('s.sketch', k=_KMV_K)}, 6) AS kmv_estimate,
       e.exact_distinct
FROM kmv_sk s JOIN exact e USING (grp)
"""


@register(
    "kmv_distinct_users",
    tags=("A4", "LLM-profile"),
    oracle=_KMV_ORACLE,
)
def kmv_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) distinct-user sketch per event_type, next
    to the exact count. Unlike HLL++ (whose internals differ per engine,
    so approx_distinct_profile is rows-only), the KMV sketch is built on
    the portable md5 hash -- deterministic, mergeable, and replayed
    bit-for-bit by the DuckDB oracle: a fully differential-checked
    APPROXIMATE operator. Error vs exact is bounded ~1/sqrt(k-2)."""
    ev = load_table(spark, sf_dir, "events")
    sk = _kmv.kmv_sketch(
        ev, group_col="event_type", key_col="user_id", k=_KMV_K
    )
    exact = ev.groupBy(F.col("event_type").alias("grp")).agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    return (
        sk.join(exact, "grp")
        .select(
            F.col("grp").alias("event_type"),
            F.round(_kmv.kmv_estimate(F.col("sketch"), k=_KMV_K), 6).alias(
                "kmv_estimate"
            ),
            "exact_distinct",
        )
    )


@register(
    "price_histogram_equidepth",
    tags=("A1", "A5", "O3"),
    oracle="""
WITH ranked AS (
  SELECT event_type, value,
         ntile(10) OVER (PARTITION BY event_type
                         ORDER BY value, event_id) AS bucket
  FROM events WHERE value IS NOT NULL
)
SELECT event_type, bucket,
       count(*) AS n,
       round(min(value), 6) AS lo,
       round(max(value), 6) AS hi
FROM ranked GROUP BY event_type, bucket
""",
)
def price_histogram_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-DEPTH histogram (decile buckets) per key — the profiling twin
    of the equi-width price_histogram: every bucket holds ~n/10 rows and
    the bucket edges trace the distribution. One window shuffle on the
    key; the (value, id) tie-break makes bucket assignment deterministic
    in any engine. Bucket edges double as a quantile summary."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return (
        ev.withColumn("bucket", F.ntile(10).over(w))
        .groupBy("event_type", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("value"), 6).alias("lo"),
            F.round(F.max("value"), 6).alias("hi"),
        )
    )


# --------------------------------------------------------------------------
# Custom Python DataSource (Spark 4): the trade feed as a real source
# --------------------------------------------------------------------------

from stock_streaming_data_pipeline_spark.sources import trade_source as _tsrc  # noqa: E402

_TSRC_N = 2000


@register(
    "custom_source_vwap",
    tags=("S3", "S1", "A1"),
    oracle=f"""
WITH {_tsrc.sql_trade_gen(_TSRC_N)},
scaled AS (
  SELECT symbol, date_trunc('hour', ts) AS bucket_ts,
         CAST(round(price * 100, 0) AS BIGINT) AS p,
         CAST(round(qty * 1000000, 0) AS BIGINT) AS q
  FROM trade_gen
),
agg AS (
  SELECT symbol AS key, bucket_ts,
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
def custom_source_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end through the CUSTOM Spark-4 Python DataSource: read the
    deterministic trade feed via spark.read.format('trade_gen') (the
    reference's websocket producer as a first-class source — partitions
    generate executor-side, the stream variant runs under checkpointed
    micro-batches), then hourly VWAP via the finance operator. The
    oracle regenerates the feed with the same portable-md5 arithmetic in
    DuckDB — the SOURCE itself is differential-checked, not just the
    aggregation."""
    from stock_streaming_data_pipeline_spark.operators import finance

    _tsrc.register(spark)
    feed = (
        spark.read.format("trade_gen")
        .option("n_rows", _TSRC_N)
        .option("n_partitions", 8)
        .load()
    )
    return finance.vwap_bars(
        feed, key_col="symbol", ts_col="ts", price_col="price", qty_col="qty"
    )


@register(
    "variant_props_profile",
    tags=("C5", "P6"),
    oracle="""
SELECT event_type,
       count(*) AS n,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT)
         AS sum_k,
       min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
       max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
FROM events
WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) IS NOT NULL
GROUP BY event_type
""",
)
def variant_props_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured ingestion via Spark 4's VARIANT type: props parses
    once into the binary variant encoding (parse_json), fields extract
    with variant_get — the schema-on-read path for heterogeneous JSON at
    scale (a variant column scans ~an order of magnitude faster than
    re-parsing JSON strings per access, and upgrades to shredded storage
    on parquet writers that support it). The oracle reads the same
    fields with DuckDB's JSON extraction — value parity across two
    completely different JSON representations."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_type", F.parse_json("props").alias("v")
    ).select(
        "event_type", F.variant_get("v", "$.k", "bigint").alias("k")
    )
    return (
        v.filter(F.col("k").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


@register(
    "snapshot_as_of_epoch",
    tags=("K1", "K2", "K6"),
    oracle=f"""
WITH daily AS (
  SELECT user_id, day(ts) AS ep, max(value) AS day_value
  FROM events GROUP BY 1, 2
)
SELECT user_id,
       max_by(day_value, ep) AS day_value,
       CAST(max(ep) AS BIGINT) AS as_of_epoch
FROM daily WHERE ep <= {_CDC_CUT}
GROUP BY user_id
""",
)
def snapshot_as_of_epoch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel on the keyed upsert sink (Delta's VERSION AS OF, for
    free from the epoch stamps): materialize the daily-upsert table,
    then read the state AS OF the cut epoch — resolution sees only rows
    stamped at or before it. Pairs with cdc_changes_since: snapshot(T) +
    changes-since(T) reconstructs the present."""
    from stock_streaming_data_pipeline_spark.streaming import sinks

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "user_id", F.dayofmonth("ts").alias("_epoch")
    ).agg(F.max("value").alias("day_value"))
    path = _session_scratch(spark, "snap_sink", sf_dir)
    daily.write.mode("overwrite").parquet(path)
    snap = sinks.read_upsert_table_as_of(
        spark, path, ["user_id"], as_of_epoch=_CDC_CUT
    )
    winning_epoch = (
        spark.read.parquet(path)
        .filter(F.col("_epoch") <= _CDC_CUT)
        .groupBy("user_id")
        .agg(F.max("_epoch").cast("long").alias("as_of_epoch"))
    )
    return snap.join(winning_epoch, "user_id").select(
        "user_id", "day_value", "as_of_epoch"
    )


# --------------------------------------------------------------------------
# Round-6 as-of cross-validation: the trickiest join semantics checked
# against DuckDB's NATIVE ASOF JOIN as a second, independently-derived
# oracle form (asof_nearest_view's oracle is a candidate join + ranking;
# these derive the same semantics from the engine's own as-of operator).
# --------------------------------------------------------------------------


@register(
    "asof_nearest_duck_oracle",
    tags=("J1",),
    oracle="""
WITH l AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'click'),
r AS (SELECT user_id, ts, value FROM events WHERE event_type = 'view'),
back AS (
  SELECT l.event_id, r.ts AS rts, r.value AS rv
  FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
),
fwd AS (
  SELECT l.event_id, r.ts AS rts, r.value AS rv
  FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts <= r.ts
),
arms AS (
  SELECT l.event_id, l.user_id, l.ts, l.value,
         b.rts AS brts, b.rv AS brv,
         f.rts AS frts, f.rv AS frv,
         epoch_us(l.ts) - epoch_us(b.rts) AS db,
         epoch_us(f.rts) - epoch_us(l.ts) AS df,
         b.rts IS NOT NULL AND epoch_us(l.ts) - epoch_us(b.rts) <= 1800000000 AS okb,
         f.rts IS NOT NULL AND epoch_us(f.rts) - epoch_us(l.ts) <= 1800000000 AS okf
  FROM l LEFT JOIN back b USING (event_id) LEFT JOIN fwd f USING (event_id)
)
SELECT event_id, user_id, epoch_us(ts) AS ts_us, value AS click_value,
       CASE WHEN okb AND (NOT okf OR db <= df) THEN epoch_us(brts)
            WHEN okf THEN epoch_us(frts) ELSE -1 END AS nearest_ts_us,
       CASE WHEN okb AND (NOT okf OR db <= df) THEN brv
            WHEN okf THEN frv ELSE NULL END AS nearest_value
FROM arms
""",
)
def asof_nearest_duck_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-as-of with tolerance (each click aligned to the closest
    view within +/-30 min, ties to the earlier side), cross-validated
    against an oracle built from TWO of DuckDB's native ASOF JOINs
    (backward ``l.ts >= r.ts`` + forward ``l.ts <= r.ts``) with the arm
    pick done in plain SQL — an independent derivation from both the
    Spark two-pass window plan (operators/asof.py:101) and the
    candidate-join oracle that checks asof_nearest_view."""
    ev = load_table(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts", "value"
    )
    right = ev.filter(F.col("event_type") == "view").select("user_id", "ts", "value")
    out = asof_join_nearest(
        left,
        right,
        by="user_id",
        on="ts",
        right_values=["value"],
        tolerance_micros=1_800_000_000,
    )
    return out.select(
        "event_id",
        "user_id",
        epoch_us("ts").alias("ts_us"),
        F.col("value").alias("click_value"),
        F.coalesce(epoch_us("nearest_ts"), F.lit(-1).cast("long")).alias(
            "nearest_ts_us"
        ),
        F.col("nearest_value").alias("nearest_value"),
    )


@register(
    "asof_forward_next_error",
    tags=("J1",),
    oracle="""
SELECT l.event_id, l.user_id, epoch_us(l.ts) AS ts_us,
       coalesce(epoch_us(r.ts), -1) AS next_error_ts_us,
       r.value AS error_value,
       CASE WHEN r.ts IS NULL THEN -1
            ELSE epoch_us(r.ts) - epoch_us(l.ts) END AS micros_to_error
FROM (SELECT * FROM events WHERE event_type = 'click') l
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') r
  ON l.user_id = r.user_id AND l.ts <= r.ts
""",
)
def asof_forward_next_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Forward as-of join — pandas ``merge_asof(direction='forward')``:
    each click aligned with the user's NEXT error event at-or-after it
    ("time to next failure"), checked against DuckDB's native forward
    ASOF JOIN (``l.ts <= r.ts``). Same linear union+window shape as the
    backward form (operators/asof.py:46) with the frame reversed: one
    hash shuffle on the key, no inequality-join explosion on hot users."""
    ev = load_table(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    right = ev.filter(F.col("event_type") == "error").select("user_id", "ts", "value")
    out = asof_join(
        left,
        right,
        by="user_id",
        on="ts",
        right_values=["value"],
        right_prefix="next_",
        direction="forward",
    )
    return out.select(
        "event_id",
        "user_id",
        epoch_us("ts").alias("ts_us"),
        F.coalesce(epoch_us("next_ts"), F.lit(-1).cast("long")).alias(
            "next_error_ts_us"
        ),
        F.col("next_value").alias("error_value"),
        F.coalesce(
            epoch_us("next_ts") - epoch_us("ts"), F.lit(-1).cast("long")
        ).alias("micros_to_error"),
    )


@register(
    "attribution_last_touch",
    tags=("J1",),
    oracle="""
WITH m AS (
  SELECT l.event_id, l.user_id, l.ts, l.value, r.ts AS rts, r.value AS rv
  FROM (SELECT * FROM events WHERE event_type = 'purchase') l
  ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') r
    ON l.user_id = r.user_id AND l.ts >= r.ts
)
SELECT event_id, user_id, epoch_us(ts) AS ts_us, value AS purchase_value,
       CASE WHEN rts IS NOT NULL AND epoch_us(ts) - epoch_us(rts) <= 604800000000
            THEN epoch_us(rts) ELSE -1 END AS touch_ts_us,
       CASE WHEN rts IS NOT NULL AND epoch_us(ts) - epoch_us(rts) <= 604800000000
            THEN rv ELSE NULL END AS touch_value
FROM m
""",
)
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch attribution: each purchase credited to the user's most
    recent click within a 7-day lookback — the as-of join with a
    tolerance cutoff (the interval-join family's "last touch" member,
    complementing attribution_linear's multi-touch interval join).
    Backward as-of + null-out-beyond-tolerance stays one shuffle + one
    window pass; the bounded-interval candidate join the oracle could
    have used would be O(purchases x clicks-in-window) per hot user at
    100 TB. Oracle: DuckDB native ASOF JOIN + the same cutoff in SQL."""
    ev = load_table(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    right = ev.filter(F.col("event_type") == "click").select("user_id", "ts", "value")
    out = asof_join(left, right, by="user_id", on="ts", right_values=["value"])
    within = (
        F.col("asof_ts").isNotNull()
        & ((epoch_us("ts") - epoch_us("asof_ts")) <= F.lit(604_800_000_000))
    )
    return out.select(
        "event_id",
        "user_id",
        epoch_us("ts").alias("ts_us"),
        F.col("value").alias("purchase_value"),
        F.when(within, epoch_us("asof_ts")).otherwise(F.lit(-1)).cast("long").alias(
            "touch_ts_us"
        ),
        F.when(within, F.col("asof_value")).alias("touch_value"),
    )


@register(
    "kmv_set_operations",
    tags=("A4", "U1", "LLM-profile"),
    oracle=f"""
WITH base AS (
  SELECT event_type, user_id FROM events
  WHERE event_type IN ('click', 'purchase')
),
{_kmv.sql_kmv_sketch(table="base", group_expr="event_type",
                     key_expr="user_id", k=_KMV_K)},
ab AS (
  SELECT a.sketch AS sa, b.sketch AS sb,
         list_sort(list_distinct(a.sketch || b.sketch))[1:{_KMV_K}] AS su
  FROM kmv_sk a, kmv_sk b
  WHERE a.grp = 'click' AND b.grp = 'purchase'
),
est AS (
  SELECT round({_kmv.sql_kmv_estimate('sa', k=_KMV_K)}, 6) AS est_a,
         round({_kmv.sql_kmv_estimate('sb', k=_KMV_K)}, 6) AS est_b,
         round({_kmv.sql_kmv_estimate('su', k=_KMV_K)}, 6) AS est_union
  FROM ab
),
exact AS (
  SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS exact_union,
         CAST((SELECT count(*) FROM (
            SELECT user_id FROM base WHERE event_type = 'click'
            INTERSECT
            SELECT user_id FROM base WHERE event_type = 'purchase'))
           AS BIGINT) AS exact_inter
  FROM base
)
SELECT est_a, est_b, est_union,
       round(est_a + est_b - est_union, 6) AS est_inter,
       exact_union, exact_inter
FROM est, exact
""",
)
def kmv_set_operations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV sketch SET ALGEBRA: union by lossless sketch merge (the k
    smallest of the combined hash sets — the property that makes KMV
    shard- and stream-mergeable), intersection by inclusion-exclusion —
    the approximate audience-overlap path that stays fixed-size when
    the exact bitmap form (bitmap_type_overlap) outgrows memory, audited
    against exact union/intersection counts. Every hash is the portable
    md5, so the DuckDB oracle replays sketches, merge and estimates
    bit-for-bit — approximate by design, deterministic in execution.
    Scale shape: one dedup + rank-bounded sketch pass per side; the set
    algebra runs on two k-length arrays."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    sk = _kmv.kmv_sketch(ev, group_col="event_type", key_col="user_id", k=_KMV_K)
    a = sk.filter(F.col("grp") == "click").select(F.col("sketch").alias("sa"))
    b = sk.filter(F.col("grp") == "purchase").select(
        F.col("sketch").alias("sb")
    )
    ab = a.crossJoin(F.broadcast(b)).withColumn(
        "su", _kmv.kmv_merge(F.col("sa"), F.col("sb"), k=_KMV_K)
    )
    est = ab.select(
        F.round(_kmv.kmv_estimate(F.col("sa"), k=_KMV_K), 6).alias("est_a"),
        F.round(_kmv.kmv_estimate(F.col("sb"), k=_KMV_K), 6).alias("est_b"),
        F.round(_kmv.kmv_estimate(F.col("su"), k=_KMV_K), 6).alias(
            "est_union"
        ),
    )
    clicks = ev.filter(F.col("event_type") == "click").select("user_id")
    purch = ev.filter(F.col("event_type") == "purchase").select("user_id")
    exact = (
        ev.agg(F.countDistinct("user_id").cast("long").alias("exact_union"))
        .crossJoin(
            F.broadcast(
                clicks.intersect(purch).agg(
                    F.count(F.lit(1)).cast("long").alias("exact_inter")
                )
            )
        )
    )
    return (
        est.crossJoin(F.broadcast(exact))
        .select(
            "est_a",
            "est_b",
            "est_union",
            F.round(
                F.col("est_a") + F.col("est_b") - F.col("est_union"), 6
            ).alias("est_inter"),
            "exact_union",
            "exact_inter",
        )
    )
