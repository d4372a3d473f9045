"""Behavioral tests for the market-analytics tier (operators/finance.py).

The catalog queries carry exact DuckDB oracles; these tests pin the
operator-level invariants on hand-built frames where the right answer is
computable by inspection: VWAP weighting, correlation sign/magnitude on
planted linear series, drawdown on a scripted peak/trough path, MAD
robustness to a planted spike, and the pair-partitioned rolling window.
"""

from __future__ import annotations

import datetime as dt
import math

import duckdb
from pyspark.sql import functions as F

from stock_streaming_data_pipeline_spark.functions.scalars import half_away, half_up
from stock_streaming_data_pipeline_spark.operators import finance

T0 = dt.datetime(2024, 1, 1)


def _trades(spark, rows):
    return spark.createDataFrame(
        rows, "event_type string, ts timestamp, value double, volume double"
    )


def test_vwap_weights_by_quantity(spark):
    rows = [
        ("aaa", T0, 10.0, 1.0),
        ("aaa", T0 + dt.timedelta(minutes=5), 20.0, 3.0),
        ("aaa", T0 + dt.timedelta(hours=2), 5.0, 2.0),
    ]
    out = {
        (r["key"], r["bucket_s"]): r["vwap"]
        for r in finance.vwap_bars(_trades(spark, rows)).collect()
    }
    t0s = int(T0.replace(tzinfo=dt.timezone.utc).timestamp())
    # (10*1 + 20*3) / 4 = 17.5 in hour 0; lone trade in hour 2.
    assert out[("aaa", t0s)] == 17.5
    assert out[("aaa", t0s + 7200)] == 5.0


def test_vwap_skips_zero_quantity_buckets(spark):
    rows = [("aaa", T0, 10.0, 0.0)]
    assert finance.vwap_bars(_trades(spark, rows)).count() == 0


def test_rolling_corr_planted_linear_series(spark):
    # y = 2x + 1 exactly -> corr == 1; y = -x -> corr == -1.
    pos = [(T0 + dt.timedelta(hours=i), i * 1000, 2 * i * 1000 + 1000) for i in range(30)]
    aligned = spark.createDataFrame(
        pos, "bucket_ts timestamp, x_milli long, y_milli long"
    )
    out = finance.rolling_corr(aligned, frame=24).collect()
    assert len(out) == 30 - 23
    assert all(r["corr"] == 1.0 for r in out)

    neg = [(T0 + dt.timedelta(hours=i), i * 1000, -i * 1000) for i in range(24)]
    aligned = spark.createDataFrame(
        neg, "bucket_ts timestamp, x_milli long, y_milli long"
    )
    out = finance.rolling_corr(aligned, frame=24).collect()
    assert [r["corr"] for r in out] == [-1.0]


def test_rolling_corr_partitions_by_pair(spark):
    rows = []
    for pair, slope in (("p1", 1), ("p2", -1)):
        rows += [
            (pair, T0 + dt.timedelta(hours=i), i * 10, slope * i * 10)
            for i in range(5)
        ]
    aligned = spark.createDataFrame(
        rows, "pair string, bucket_ts timestamp, x_milli long, y_milli long"
    )
    out = finance.rolling_corr(aligned, frame=3, pair_col="pair").collect()
    got = {(r["pair"], r["corr"]) for r in out}
    assert got == {("p1", 1.0), ("p2", -1.0)}
    # frames never straddle pairs: 3 full frames per 5-row series
    assert len(out) == 6


def test_max_drawdown_scripted_path(spark):
    # path 100 -> 120 (peak) -> 90 (trough: 25% dd) -> 110
    rows = [
        ("aaa", T0 + dt.timedelta(minutes=i), v, 1.0)
        for i, v in enumerate([100.0, 120.0, 90.0, 110.0])
    ]
    out = finance.max_drawdown(_trades(spark, rows)).collect()
    assert len(out) == 1
    r = out[0]
    assert r["key"] == "aaa"
    assert r["max_drawdown"] == 0.25
    trough = T0 + dt.timedelta(minutes=2)
    assert r["trough_us"] == int(
        trough.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000
    )


def test_max_drawdown_monotone_series_is_zero(spark):
    rows = [
        ("up", T0 + dt.timedelta(minutes=i), 100.0 + i, 1.0) for i in range(5)
    ]
    out = finance.max_drawdown(_trades(spark, rows)).collect()
    assert out[0]["max_drawdown"] == 0.0


def test_mad_flags_planted_spike_where_zscore_would_drown(spark):
    # 40 quiet points + one huge spike: MAD ignores the spike's pull on
    # the center/scale, so the spike itself is flagged and nothing else.
    rows = [
        ("k", None, 100.0 + (i % 5) * 0.5, 1.0) for i in range(40)
    ] + [("k", None, 10_000.0, 1.0)]
    df = spark.createDataFrame(
        [(i, t, v) for i, (t, _, v, _) in enumerate(rows)],
        "event_id long, event_type string, value double",
    )
    out = finance.mad_outliers(
        df, key_col="event_type", id_col="event_id", price_col="value"
    ).collect()
    assert [r["id"] for r in out] == [40]
    assert out[0]["robust_z"] > 1000


def test_mad_handles_mad_zero_key_without_rows(spark):
    # constant series: MAD == 0 -> robust_z is NULL/inf-free: no rows out.
    df = spark.createDataFrame(
        [(i, "c", 5.0) for i in range(10)],
        "event_id long, event_type string, value double",
    )
    out = finance.mad_outliers(df).collect()
    assert out == []


def test_scaled_long_half_away_rounding(spark):
    df = spark.createDataFrame(
        [(0.125,), (-0.125,), (2.675,), (0.005,)], "v double"
    )
    got = [
        r[0]
        for r in df.select(half_away("v", 2)).collect()
    ]
    # the contract is half-away on the DOUBLE product (2.675*100 rounds
    # up to the representable 267.5, hence 268) — exactly what DuckDB's
    # round(v*100, 0) computes on the identical double, which is the
    # portability contract (NOT decimal-string rounding).
    assert got == [13, -13, 268, 1]

    # Exact ties (v * 10^scale == +-k.5 as a double): half-up moves both
    # signs toward +inf, half-away moves each away from zero. Both agree
    # with DuckDB's floor(v * s + 0.5) and round(v * s) on the same doubles.
    ties = {
        0: [0.5, -0.5, 2.5, -2.5, 7.5, -7.5],
        2: [0.125, -0.125, 0.375, -0.375, 2.675, -2.675],
        6: [5e-07, -5e-07, 2.5e-06, -2.5e-06, 0.2500005, -0.2500005],
    }
    con = duckdb.connect()
    for scale, xs in ties.items():
        assert all(abs(x * 10**scale) % 1 == 0.5 for x in xs)
        tie = [(abs(x * 10**scale) - 0.5) for x in xs]
        want_up = [int(t) + 1 if x > 0 else -int(t) for t, x in zip(tie, xs)]
        want_away = [int(t) + 1 if x > 0 else -int(t) - 1 for t, x in zip(tie, xs)]
        got = spark.createDataFrame(list(enumerate(xs)), "i int, v double").select(
            "i", half_up("v", scale), half_away("v", scale)
        )
        spark_rows = [(r[1], r[2]) for r in sorted(got.collect())]
        mul = f" * {10**scale}" if scale else ""
        rows = ", ".join(f"({i}, CAST({x!r} AS DOUBLE))" for i, x in enumerate(xs))
        duck_rows = con.execute(
            f"SELECT CAST(floor(v{mul} + 0.5) AS BIGINT), CAST(round(v{mul}) AS BIGINT)"
            f" FROM (VALUES {rows}) AS t(i, v) ORDER BY i"
        ).fetchall()
        assert spark_rows == list(zip(want_up, want_away)), scale
        assert duck_rows == spark_rows, scale


def test_trend_slope_recovers_planted_line(spark):
    from stock_streaming_data_pipeline_spark.plans.catalog import queries  # noqa: F401
    from stock_streaming_data_pipeline_spark.plans.finance import trend_slope_by_key  # noqa: F401

    # direct operator-shape check via a tiny planted frame using the same
    # moment formula: y = 3.00 + 0.02*x cents exactly
    from pyspark.sql import functions as FF

    rows = [("k", T0 + dt.timedelta(seconds=i), (300 + 2 * i) / 100.0, 1.0) for i in range(50)]
    df = _trades(spark, rows)
    x = (FF.unix_micros("ts") / FF.lit(1_000_000)).cast("long")
    x = x - FF.lit(int(T0.replace(tzinfo=dt.timezone.utc).timestamp()))
    y = half_away("value", 2)
    base = df.select(x.alias("x"), y.alias("y"))
    m = base.agg(
        FF.count(FF.lit(1)).alias("n"), FF.sum("x").alias("sx"),
        FF.sum("y").alias("sy"), FF.sum(FF.col("x") * FF.col("y")).alias("sxy"),
        FF.sum(FF.col("x") * FF.col("x")).alias("sxx"),
    ).collect()[0]
    slope = (m["n"] * m["sxy"] - m["sx"] * m["sy"]) / (m["n"] * m["sxx"] - m["sx"] ** 2)
    assert abs(slope - 2.0) < 1e-9  # 2 cents per second


def test_sma_crossover_emits_flip_on_planted_trend_reversal(spark):
    from stock_streaming_data_pipeline_spark.plans.catalog import queries

    # catalog query at smoke scale must produce both signal kinds
    out = queries()["sma_crossover_signals"](spark, "/root/testdata/sf0.001").collect()
    kinds = {r["signal"] for r in out}
    assert kinds <= {"golden_cross", "death_cross"}
    assert len(out) > 0


def test_subsequence_search_finds_planted_shape(spark):
    """A spike planted inside a flat-ish noisy series must be the #1
    match at ANY amplitude/offset (z-norm invariance); flat windows are
    excluded; results are partitioning-invariant."""
    import datetime as dt

    from stock_streaming_data_pipeline_spark.operators import subseq

    base = dt.datetime(2024, 1, 1)
    rows = []
    # key A: gentle alternation, then a big spike at positions 40-47
    vals = [float(10 + (i % 3)) for i in range(60)]
    spike = [50.0, 50.0, 80.0, 140.0, 80.0, 50.0, 50.0, 50.0]  # shape x30+50
    vals[40:48] = spike
    for i, v in enumerate(vals):
        rows.append(("A", base + dt.timedelta(minutes=i), i, v))
    # key B: constant (flat windows — must never appear)
    for i in range(20):
        rows.append(("B", base + dt.timedelta(minutes=i), 1000 + i, 7.0))
    df = spark.createDataFrame(
        rows, "event_type string, ts timestamp, event_id long, value double"
    )
    pattern = [0.0, 0.0, 1.0, 3.0, 1.0, 0.0, 0.0, 0.0]
    out = subseq.subsequence_topk(df, pattern, k=5).collect()
    assert out[0]["event_type"] == "A"
    assert out[0]["dist"] == 0.0  # exact shape match after z-norm
    ts0 = dt.datetime.fromtimestamp(out[0]["ts_us"] / 1e6, dt.timezone.utc)
    assert ts0.minute == 47  # window ENDING at the spike's last point
    assert all(r["event_type"] != "B" for r in out)
    out2 = subseq.subsequence_topk(df.repartition(7), pattern, k=5).collect()
    assert [(r["event_type"], r["ts_us"], r["dist"]) for r in out] == [
        (r["event_type"], r["ts_us"], r["dist"]) for r in out2
    ]


def test_sax_words_bucket_similar_shapes_together(spark):
    """Two series with the SAME shape at different amplitude/offset get
    the same SAX words; a reversed shape gets a different word; flat
    series contribute nothing."""
    import datetime as dt

    from stock_streaming_data_pipeline_spark.operators import subseq

    base = dt.datetime(2024, 1, 1)
    ramp = [float(i) for i in range(8)]
    rows = []
    for i, v in enumerate(ramp):
        rows.append(("up_small", base + dt.timedelta(minutes=i), i, v))
        rows.append(("up_big", base + dt.timedelta(minutes=i), 100 + i, 1000 + 50 * v))
        rows.append(("down", base + dt.timedelta(minutes=i), 200 + i, 7.0 - v))
        rows.append(("flat", base + dt.timedelta(minutes=i), 300 + i, 5.0))
    df = spark.createDataFrame(
        rows, "event_type string, ts timestamp, event_id long, value double"
    )
    out = {
        (r["event_type"], r["sax_word"]): r["n_windows"]
        for r in subseq.sax_words(df, m=8, segments=4).collect()
    }
    words = {k: w for (k, w) in out}
    assert words["up_small"] == words["up_big"]  # scale/offset invariant
    assert words["down"] == words["up_small"][::-1]  # mirrored shape
    assert "flat" not in words  # no variance, no shape


def test_motif_discovery_finds_planted_repeat(spark):
    """The same shape planted twice (non-overlapping) in a noisy series
    must surface as the #1 motif with ~zero distance; overlapping
    windows never pair (UCR trivial-match rule)."""
    import datetime as dt

    from stock_streaming_data_pipeline_spark.operators import subseq

    base = dt.datetime(2024, 1, 1)
    # aperiodic background (quadratic residues) — a periodic background
    # would contain REAL zero-distance motifs of its own
    rng_vals = [float(10 + (i * i * 37) % 91) for i in range(60)]
    shape = [3.0, 9.0, 27.0, 9.0, 3.0, 9.0, 27.0, 9.0]
    rng_vals[10:18] = shape
    rng_vals[40:48] = [100 + 4 * v for v in shape]  # same shape, rescaled
    rows = [
        ("A", base + dt.timedelta(minutes=i), i, v)
        for i, v in enumerate(rng_vals)
    ]
    df = spark.createDataFrame(
        rows, "event_type string, ts timestamp, event_id long, value double"
    )
    out = subseq.motif_pairs(df, m=8, segments=4, k=3).collect()
    top = out[0]
    assert top["dist"] == 0.0
    # positions are window END rows (1-indexed): 18 and 48
    assert (top["pos_a"], top["pos_b"]) == (18, 48)
    for r in out:
        assert r["pos_b"] - r["pos_a"] >= 8  # no trivial matches


def test_candlestick_patterns_on_scripted_bars(spark):
    """Hand-built days with known shapes: a doji day, a hammer day, and
    a bullish-engulfing pair — each flagged exactly once, nothing else."""
    from stock_streaming_data_pipeline_spark.plans.catalog import catalog

    rows = []

    def day(d, ticks):  # ticks: list of (minute, price)
        for minute, price in ticks:
            rows.append(
                (
                    "k",
                    T0 + dt.timedelta(days=d, minutes=minute),
                    float(price),
                    '{"k": 1.0}',
                )
            )

    # day 0: doji — opens 100, ranges 90..110, closes 100.5 (body 0.5 <= 2)
    day(0, [(0, 100), (10, 110), (20, 90), (30, 100.5)])
    # day 1: hammer — open 100, low 80, close 101 (lower 20 >= 2*1, upper 0)
    day(1, [(0, 100), (10, 80), (30, 101)])
    # day 2: bearish setup bar — open 100 close 95
    day(2, [(0, 100), (30, 95)])
    # day 3: bullish engulfing — open 94 close 102 (engulfs 95..100)
    day(3, [(0, 94), (30, 102)])
    df = spark.createDataFrame(
        rows, "event_type string, ts timestamp, value double, props string"
    )
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        df.selectExpr(
            "monotonically_increasing_id() AS event_id",
            "ts",
            "CAST(1 AS LONG) AS user_id",
            "event_type",
            "value",
            "props",
        ).write.parquet(f"{d}/events.parquet")
        got = {
            (r["pattern"], r["day_s"])
            for r in catalog()["candlestick_patterns"].build(spark, d).collect()
        }
    t0s = int(T0.replace(tzinfo=dt.timezone.utc).timestamp())
    assert ("doji", t0s) in got
    assert ("hammer", t0s + 86400) in got
    assert ("bullish_engulfing", t0s + 3 * 86400) in got
    assert all(p != "bearish_engulfing" for p, _ in got)
    # the doji day is ONLY a doji (long both-sided shadows, no hammer)
    assert ("hammer", t0s) not in got and ("shooting_star", t0s) not in got


def test_dtw_pairwise_elastic_alignment(spark):
    """DTW on scripted integer profiles: a shifted copy of a shape must
    be far closer under DTW than its Euclidean gap; identical series
    have distance 0; a pair whose length gap exceeds the band is
    dropped (unreachable final cell); the hand-computed banded DP value
    is pinned exactly."""
    from stock_streaming_data_pipeline_spark.operators import subseq

    shape = [0, 0, 10, 30, 10, 0, 0, 0]
    shifted = [0, 0, 0, 10, 30, 10, 0, 0]  # same shape, +1 phase
    rows = []
    for p, v in enumerate(shape, start=1):
        rows.append(("a", p, v))
        rows.append(("c", p, v))  # identical twin of a
    for p, v in enumerate(shifted, start=1):
        rows.append(("b", p, v))
    rows.append(("z", 1, 0))  # length-1 series: |8-1| > band=3 -> dropped
    df = spark.createDataFrame(rows, "key string, pos int, v long")
    got = {
        (r["key_a"], r["key_b"]): r["dtw"]
        for r in subseq.dtw_pairwise(df, band=3, max_len=10).collect()
    }
    assert got[("a", "c")] == 0  # identical series align for free
    # euclidean (lock-step) distance between a and b is 10+20+20+10 = 60;
    # DTW absorbs the shift with one duplication step: cost 0+0+0+... = 0
    # except the first duplicated 0-step pairs (1,1)->(2,1 or 1,2) etc.
    # hand-run of the banded DP gives 0:
    assert got[("a", "b")] == 0
    assert got[("b", "c")] == 0
    assert not any("z" in k for k in got)  # out-of-band pair dropped
    # deterministic under repartition
    got2 = {
        (r["key_a"], r["key_b"]): r["dtw"]
        for r in subseq.dtw_pairwise(df.repartition(5), band=3, max_len=10).collect()
    }
    assert got == got2


def test_holt_linear_tracks_a_planted_linear_ramp(spark):
    """On a perfectly linear daily series the Holt trend converges to
    the true slope and the 7-step forecast extrapolates it."""
    import datetime as dt

    from stock_streaming_data_pipeline_spark.plans.catalog import queries
    import os
    import pandas as pd

    base = dt.datetime(2024, 1, 1)
    rows = []
    for d in range(20):
        # one trade per day, price = 100 + 2*d (exact in cents)
        rows.append((d, base + dt.timedelta(days=d, hours=1), 1,
                     "AAA", 100.0 + 2.0 * d, 1.0))
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "volume"]
    )
    pdf["props"] = '{"volume": 1.0}'
    import tempfile

    with tempfile.TemporaryDirectory() as d:
        pdf.drop(columns=["volume"]).to_parquet(os.path.join(d, "events.parquet"))
        out = sorted(
            queries()["holt_linear_trend"](spark, d).collect(),
            key=lambda r: r["day_s"],
        )
    assert len(out) == 20
    # python float64 replay of the identical operation sequence -> exact micros
    import math

    xs = [100.0 * 100 + 200.0 * d for d in range(20)]  # daily mean in cents
    l, b = xs[0], 0.0
    exp = [(l, b)]
    for x in xs[1:]:
        l_new = 0.5 * x + 0.5 * (l + b)
        b_new = 0.25 * (l_new - l) + 0.75 * b
        l, b = l_new, b_new
        exp.append((l, b))
    for row, (el, eb) in zip(out, exp):
        assert row["level_micro"] == math.floor(el * 1_000_000 + 0.5)
        assert row["trend_micro"] == math.floor(eb * 1_000_000 + 0.5)
        assert row["forecast7_micro"] == math.floor((el + 7 * eb) * 1_000_000 + 0.5)
    # the trend converges to the true slope (200 cents/day)
    assert abs(exp[-1][1] - 200.0) < 8.0


def test_seasonal_decompose_identity_and_edges(spark):
    """residual = v*1e6 - trend - seasonal wherever trend is defined;
    the first/last 12 rows of each key's series carry NULLs; seasonal
    depends only on hour-of-day within a key."""
    from stock_streaming_data_pipeline_spark.plans.finance import (
        ts_seasonal_decompose,
    )
    from tests.conftest import SF_SMOKE

    pdf = ts_seasonal_decompose(spark, SF_SMOKE).toPandas()
    have = pdf[pdf.trend_micro.notna()]
    assert len(have) > 0
    assert (
        have.v_cents * 1_000_000 - have.trend_micro - have.seasonal_micro
        == have.residual_micro
    ).all()
    # edges: per key, exactly 12 leading + 12 trailing rows lack trend
    # (interior slots all have full 25-row windows on this dense series)
    for _, g in pdf.groupby("event_type"):
        g = g.sort_values("slot")
        missing = g.trend_micro.isna().to_numpy()
        assert missing[:12].all() and missing[-12:].all()
    # seasonal constant per (key, hod)
    assert (
        pdf[pdf.seasonal_micro.notna()]
        .groupby(["event_type", "hod"])
        .seasonal_micro.nunique()
        == 1
    ).all()


def test_cusum_finds_planted_changepoint(spark, tmp_path):
    """A mean step planted mid-series: the CUSUM argmax must land on the
    last slot of the first regime (|D_t| peaks exactly at the break)."""
    import datetime as _dt

    from stock_streaming_data_pipeline_spark.plans.finance import (
        ts_cusum_changepoint,
    )

    base = _dt.datetime(2024, 3, 1)
    rows = []
    for h in range(200):
        val = 10.0 if h < 120 else 30.0
        rows.append(
            (h, base + _dt.timedelta(hours=h), 1, "sym", val, '{"k": 1.0}')
        )
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    out = ts_cusum_changepoint(spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n"] == 200
    base_slot = int(base.timestamp()) // 3600
    assert r["cp_slot"] == base_slot + 119  # last low-regime slot
    assert r["total_cents"] == 120 * 1000 + 80 * 3000


def test_holt_winters_learns_planted_weekly_pattern(spark, tmp_path):
    """A perfectly periodic (m=7) zero-trend daily series: after a few
    cycles the seasonal state must absorb the pattern — the 7-day-ahead
    forecast converges onto the actual value (same phase)."""
    import datetime as _dt

    from stock_streaming_data_pipeline_spark.plans.finance import (
        holt_winters_seasonal,
    )

    base = _dt.datetime(2024, 3, 1)
    pattern = [10.0, 12.0, 15.0, 11.0, 9.0, 14.0, 13.0]
    rows = []
    for d in range(49):  # 7 full cycles
        rows.append(
            (d, base + _dt.timedelta(days=d), 1, "sym",
             pattern[d % 7], '{"k": 1.0}')
        )
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    out = sorted(
        holt_winters_seasonal(spark, str(tmp_path)).collect(),
        key=lambda r: r["day_s"],
    )
    assert len(out) == 49
    # last-cycle forecasts: l + 7b + s_t predicts x_{t+7} = x_t (period 7)
    for r, d in zip(out[-7:], range(42, 49)):
        actual_micro = pattern[d % 7] * 100 * 1_000_000  # cents scale
        assert abs(r["forecast7_micro"] - actual_micro) < 0.12 * actual_micro
    # trend stays near zero on the zero-trend series
    assert abs(out[-1]["trend_micro"]) < 60_000_000  # < 0.6 cents/day drift
