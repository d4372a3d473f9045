"""Streaming semantics tests: fan-out, watermarks, output modes, sinks.

Covers SURVEY §2.10 T1-T8: the four-query topology, late-data drop past the
watermark, append-vs-update emission, keyed-upsert last-write-wins, and the
partitioned feature store layout.
"""

from __future__ import annotations

import json
import os
import threading
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

from stock_streaming_data_pipeline_spark.sources.streams import TRADES_SCHEMA, stream_trades
from stock_streaming_data_pipeline_spark.sources.trades import (
    explode_envelopes,
    synthetic_trades,
    to_envelopes,
    write_trades_dir,
)
from stock_streaming_data_pipeline_spark.streaming import sinks
from stock_streaming_data_pipeline_spark.streaming.jobs import (
    FEATURE_SCHEMA,
    derive_features,
    start_fanout,
)


@pytest.fixture(scope="module")
def trades_dir(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("trades"))
    write_trades_dir(spark, path, files=4, n_rows=6000)
    return path


def test_fanout_four_queries(spark, trades_dir, tmp_path):
    out = str(tmp_path / "fanout")
    trades = stream_trades(spark, trades_dir)
    fan = start_fanout(trades, out, available_now=True)
    try:
        fan.await_all()
    finally:
        fan.stop_all()

    n_src = spark.read.parquet(trades_dir).count()

    # q2: every tick lands in price_tracking; upsert keys resolve
    ticks = sinks.read_upsert_table(spark, fan.path("price_tracking"), ["symbol", "timestamp"])
    assert ticks.count() <= n_src
    assert ticks.groupBy("symbol", "timestamp").count().filter("count > 1").count() == 0

    # q1: volume per 1-min window; conservation vs source within emitted keys
    vol = sinks.read_upsert_table(spark, fan.path("volume_tracking"), ["symbol", "timestamp"])
    assert vol.count() > 0
    assert vol.filter(F.col("total_volume") <= 0).count() == 0

    # q3: kafka-shaped output parses back to the feature contract
    feats = spark.read.parquet(fan.path("btc_features"))
    assert set(feats.columns) == {"key", "value"}
    row = feats.limit(1).collect()[0]
    payload = json.loads(row["value"])
    assert {"symbol", "timestamp", "high", "low", "close", "num_trades"} <= set(payload)
    assert payload["low"] <= payload["close"] <= payload["high"]

    # q4: hive-partitioned store exists with year=/month=/day= dirs
    store_dir = fan.path("feature_store")
    years = [d for d in os.listdir(store_dir) if d.startswith("year=")]
    assert years
    store = spark.read.parquet(store_dir)
    bad = store.filter(
        (F.col("low") > F.col("close")) | (F.col("close") > F.col("high"))
    )
    assert bad.count() == 0


def test_watermark_drops_late_rows(spark, tmp_path):
    """A row arriving behind the watermark is dropped from an append-mode
    windowed agg (T1/T5) — driven across two real micro-batches."""
    src = str(tmp_path / "src")
    chk = str(tmp_path / "chk")
    os.makedirs(src)

    def write_file(rows, name):
        spark.createDataFrame(rows, TRADES_SCHEMA).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        time.sleep(0.1)

    import datetime as dt

    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def ts(s):
        return t0 + dt.timedelta(seconds=s)

    agg = (
        stream_trades(spark, src)
        .withWatermark("ts", "10 seconds")
        .groupBy(F.window("ts", "30 seconds").alias("w"), F.col("symbol"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName("wm_test")
        .option("checkpointLocation", chk)
        .start()
    )
    try:
        # batch 1: rows up to t+120 → watermark advances to t+110
        write_file(
            [("A", ts(1), 100.0, 1.0), ("A", ts(29), 101.0, 1.0), ("A", ts(120), 102.0, 1.0)],
            "f1",
        )
        q.processAllAvailable()
        # batch 2: a late row for the [0,30) window — behind watermark, dropped
        write_file([("A", ts(5), 999.0, 1.0)], "f2")
        q.processAllAvailable()
        # batch 3: advance time so [0,30) finalizes and emits
        write_file([("A", ts(200), 103.0, 1.0)], "f3")
        q.processAllAvailable()
    finally:
        q.stop()

    out = spark.sql("SELECT symbol, w.start AS ws, n FROM wm_test").collect()
    by_window = {r["ws"].second + r["ws"].minute * 60: r["n"] for r in out}
    # [0,30) emitted with 2 rows — the late 999.0 row was NOT counted
    assert by_window.get(0) == 2


def test_upsert_sink_last_write_wins(spark, tmp_path):
    path = str(tmp_path / "upsert")
    writer = sinks.upsert_writer(path, ["symbol", "timestamp"])
    import datetime as dt

    t = dt.datetime(2024, 1, 1)
    df1 = spark.createDataFrame(
        [("A", t, 1.0), ("B", t, 2.0)], "symbol string, timestamp timestamp, v double"
    )
    df2 = spark.createDataFrame(
        [("A", t, 10.0)], "symbol string, timestamp timestamp, v double"
    )
    writer(df1, 0)
    writer(df2, 1)
    got = {
        (r["symbol"]): r["v"]
        for r in sinks.read_upsert_table(spark, path, ["symbol", "timestamp"]).collect()
    }
    assert got == {"A": 10.0, "B": 2.0}


def test_envelope_roundtrip_identity(spark):
    trades = synthetic_trades(spark, n_rows=2000)
    back = explode_envelopes(to_envelopes(trades, batch_seconds=5))
    a = trades.orderBy("symbol", "ts", "price").collect()
    b = back.orderBy("symbol", "ts", "price").collect()
    assert a == b


def test_ohlc_invariants(spark):
    from stock_streaming_data_pipeline_spark.operators.ohlc import sliding_bars

    trades = synthetic_trades(spark, n_rows=5000)
    bars = sliding_bars(
        trades, key="symbol", ts="ts", price="price", volume="volume",
        window="30 seconds", slide="10 seconds",
    )
    bad = bars.filter(
        (F.col("low") > F.col("high"))
        | (F.col("close") > F.col("high")) | (F.col("close") < F.col("low"))
        | (F.col("open") > F.col("high")) | (F.col("open") < F.col("low"))
        | (F.col("num_trades") < 1)
    )
    assert bad.count() == 0
    # conservation: tumbling window volume sums equal total volume
    from stock_streaming_data_pipeline_spark.operators.ohlc import tumbling_volume

    tv = tumbling_volume(trades, key="symbol", ts="ts", volume="volume", window="1 minute")
    total_windows = tv.agg(F.sum("total_volume")).collect()[0][0]
    total_src = trades.agg(F.sum("volume")).collect()[0][0]
    assert abs(total_windows - total_src) < 1e-6


def test_checkpoint_resume_exactly_once(spark, tmp_path):
    """T8: a restarted query resumes from its checkpoint and processes
    ONLY files that arrived since the last run; the file sink's commit
    manifest keeps the output exactly-once across the restart."""
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    chk = str(tmp_path / "chk")
    synthetic_trades(spark, n_rows=2000, late_fraction=0.0).repartition(
        2
    ).write.mode("append").parquet(src)

    def run_once() -> None:
        s = stream_trades(spark, src)
        q = (
            s.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300), "drain timed out"
        q.stop()

    run_once()
    assert spark.read.parquet(out).count() == 2000

    # New files land between runs; restart with the SAME checkpoint.
    synthetic_trades(
        spark, n_rows=1500, start="2024-02-01 00:00:00", late_fraction=0.0
    ).repartition(2).write.mode("append").parquet(src)
    run_once()

    sink = spark.read.parquet(out)
    assert sink.count() == 3500  # old files not reprocessed
    # every generated row has a distinct ts -> any replay would dedupe here
    assert sink.select("ts").distinct().count() == 3500


def test_windowed_distinct_chains_two_stateful_operators(spark):
    """streaming_windowed_distinct = watermarked dropDuplicates feeding a
    windowed agg (the chained-stateful rewrite for streaming COUNT
    DISTINCT); every window it emits must equal the batch distinct count
    (the oracle also pins the watermark cutoff at sf0.01)."""
    from stock_streaming_data_pipeline_spark.plans.catalog import queries
    from stock_streaming_data_pipeline_spark.tables import load_table
    from tests.conftest import SF_SMOKE

    rows = queries()["streaming_windowed_distinct"](spark, SF_SMOKE).collect()
    assert len(rows) > 0
    batch = (
        load_table(spark, SF_SMOKE, "events")
        .selectExpr(
            "event_type",
            "unix_seconds(date_trunc('day', ts)) AS window_start",
            "user_id",
        )
        .groupBy("event_type", "window_start")
        .agg(F.countDistinct("user_id").alias("distinct_users"))
    )
    got = {(r["event_type"], r["window_start"]): r["distinct_users"] for r in rows}
    want = {
        (r["event_type"], r["window_start"]): r["distinct_users"]
        for r in batch.collect()
    }
    assert got and all(want[k] == v for k, v in got.items())


def test_progress_collector_captures_batches_and_watermark(spark, tmp_path):
    import datetime as dt

    from stock_streaming_data_pipeline_spark.streaming.monitor import (
        ProgressCollector,
    )

    col = ProgressCollector(capacity=50)
    spark.streams.addListener(col)
    try:
        rows = [
            (i % 3, dt.datetime(2024, 1, 1) + dt.timedelta(seconds=i), float(i))
            for i in range(200)
        ]
        src = str(tmp_path / "mon_rows")
        spark.createDataFrame(
            rows, "k long, ts timestamp, v double"
        ).repartition(3).write.mode("overwrite").parquet(src)
        sdf = (
            spark.readStream.schema("k long, ts timestamp, v double")
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        agg = (
            sdf.withWatermark("ts", "10 seconds")
            .groupBy(F.window("ts", "1 minute"), "k")
            .count()
        )
        q = (
            agg.writeStream.outputMode("update")
            .format("memory")
            .queryName("mon_q")
            .trigger(availableNow=True)
            .option("checkpointLocation", str(tmp_path / "mon_chk"))
            .start()
        )
        q.awaitTermination(120)
        q.stop()
        import time

        deadline = time.time() + 20
        while time.time() < deadline:
            snap = col.snapshot(spark).collect()
            if len(snap) >= 3 and any(r["watermark"] for r in snap):
                break
            time.sleep(0.5)
        assert len(snap) >= 3  # one progress event per file-trigger batch
        assert sum(r["num_input_rows"] for r in snap) == 200
        assert any(r["state_rows"] > 0 for r in snap)
        lag = col.watermark_lag_seconds()
        assert lag is not None and lag > 0  # 2024 data is far behind now
    finally:
        spark.streams.removeListener(col)


def test_settle_refuses_fact_grained_output(spark, monkeypatch):
    """settle() is a driver-side memory-sink drain and must stay bounded:
    a streaming query whose settled output is fact-grained (here: a raw
    per-event passthrough, with the cap pinched down to simulate corpus
    scale) must raise instead of silently collecting the corpus onto the
    driver. Aggregate-sized results still settle fine under the same cap."""
    from stock_streaming_data_pipeline_spark.plans import catalog as cat

    cat._load_all()  # plan modules register in dependency order
    from stock_streaming_data_pipeline_spark.plans import streaming_queries as sq
    from stock_streaming_data_pipeline_spark.sources.streams import stream_events
    from tests.conftest import SF_SMOKE

    # Pin BOTH cap sources: the module default AND the env override (a
    # leaked SPARK_GRAFT_SETTLE_MAX_ROWS from a prior harness run would
    # otherwise mask the guard).
    monkeypatch.setattr(sq, "SETTLE_MAX_ROWS", 10)
    monkeypatch.setenv("SPARK_GRAFT_SETTLE_MAX_ROWS", "10")
    passthrough = stream_events(spark, SF_SMOKE).select("event_id", "event_type")
    with pytest.raises(ValueError, match="SETTLE_MAX_ROWS"):
        sq.settle(passthrough, "append")

    agg = stream_events(spark, SF_SMOKE).groupBy("event_type").count()
    out = sq.settle(agg, "complete")
    assert 0 < out.count() <= 10


def test_upsert_fanout_query_leaves_no_output_directory(
    spark, duck, tmp_path, monkeypatch
):
    """streaming_upsert_fanout drains the fan-out into a temporary output
    directory. Once the query returns, that directory is gone, and the
    rows it returned still match the oracle without it."""
    import tempfile

    from check_oracle import compare

    from stock_streaming_data_pipeline_spark.plans.catalog import (
        catalog,
        resolve_oracle,
    )
    from tests.conftest import SF_SMOKE

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    q = catalog()["streaming_upsert_fanout"]
    out = q.build(spark, SF_SMOKE)
    assert not list(tmp_path.glob("fanout_*"))
    want = duck.execute(resolve_oracle(q, SF_SMOKE)).df()
    assert not compare(q.name, out.toPandas(), want)


def test_check_oracle_import_does_not_raise_settle_cap(monkeypatch):
    """Importing tools/check_oracle (the schema-gate and parity tests do,
    for its compare helper) must NOT export the raised
    SPARK_GRAFT_SETTLE_MAX_ROWS into the process: the r8 import-time
    setdefault silently disabled the production 100k settle() guard for
    the rest of any session that imported the module (VERDICT r8 'What's
    wrong' #3). The override now lives in check_oracle.main() only."""
    import importlib
    import os
    import sys
    from pathlib import Path

    monkeypatch.delenv("SPARK_GRAFT_SETTLE_MAX_ROWS", raising=False)
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    import check_oracle

    importlib.reload(check_oracle)
    assert "SPARK_GRAFT_SETTLE_MAX_ROWS" not in os.environ
    from stock_streaming_data_pipeline_spark.plans import streaming_queries as sq

    assert sq._settle_cap() == sq.SETTLE_MAX_ROWS == 100_000


def test_kafka_payload_cents_format_handles_negatives(spark):
    """The Kafka payload's fixed-two-decimal total_value must stay
    well-formed for NEGATIVE cent totals (refunds/adjustments): the old
    '%d.%02d' on raw cents emitted '-2.-5' for -205 and dropped the sign
    for -99..-1. Pins the production expressions (CENTS_FMT_SPARK /
    CENTS_FMT_DUCK) against a Python reference in both engines."""
    import duckdb

    from stock_streaming_data_pipeline_spark.plans import catalog as cat

    cat._load_all()
    from stock_streaming_data_pipeline_spark.plans.streaming_queries import (
        CENTS_FMT_DUCK,
        CENTS_FMT_SPARK,
    )

    cents = [-1002925921, -205, -100, -99, -10, -1, 0, 1, 9, 99, 100, 205, 1002925920]
    want = [("-" if c < 0 else "") + f"{abs(c) // 100}.{abs(c) % 100:02d}" for c in cents]
    assert want[1] == "-2.05" and want[3] == "-0.99" and want[5] == "-0.01"

    df = spark.createDataFrame(list(enumerate(cents)), "i LONG, c LONG")
    got_spark = [
        r["s"]
        for r in sorted(
            df.selectExpr("i", f"{CENTS_FMT_SPARK} AS s").collect(),
            key=lambda r: r["i"],
        )
    ]
    assert got_spark == want

    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT unnest(range(?))::BIGINT AS i, unnest(?::BIGINT[]) AS c",
        [len(cents), cents],
    )
    got_duck = [r[0] for r in con.sql(f"SELECT {CENTS_FMT_DUCK} FROM t ORDER BY i").fetchall()]
    assert got_duck == want


def test_fanout_crash_midbatch_recovers_exactly_once(spark, tmp_path, monkeypatch):
    """r10 fault injection (VERDICT r9 #4): kill a micro-batch of the
    4-query fan-out MID-WRITE — after the keyed-upsert sink appended its
    data files but BEFORE the manifest commit (the worst crash point:
    orphan files on disk, nothing published) — then restart the whole
    topology from its checkpoints and assert the recovered sink state is
    ROW-IDENTICAL to an uninterrupted run. Extends the r5 single-sink
    crash tests to the full reference topology
    (ProcessStockStream.py:124-196) and exercises the r8 manifest
    protocol under exactly the failure it was hardened for."""
    src = str(tmp_path / "src")
    write_trades_dir(spark, src, files=4, n_rows=4000)

    def run(out: str, paced: bool) -> None:
        stream = stream_trades(
            spark, src, max_files_per_trigger=1 if paced else None
        )
        fan = start_fanout(stream, out, available_now=True)
        try:
            fan.await_all()
        finally:
            fan.stop_all()

    # Uninterrupted reference run.
    base_out = str(tmp_path / "base")
    run(base_out, paced=True)
    keys = ["symbol", "timestamp"]
    expected = sorted(
        map(tuple, sinks.read_upsert_table(
            spark, os.path.join(base_out, "volume_tracking"), keys
        ).collect())
    )

    # Injected run: crash volume_tracking's SECOND micro-batch between
    # data append and manifest commit.
    out = str(tmp_path / "faulty")
    victim = os.path.join(out, "volume_tracking")
    real_commit = sinks._commit_after_append
    calls = {"n": 0}

    def exploding_commit(spark_, path, pre):
        if path == victim:
            calls["n"] += 1
            if calls["n"] == 2:
                raise RuntimeError("injected crash: mid-write, pre-commit")
        return real_commit(spark_, path, pre)

    monkeypatch.setattr(sinks, "_commit_after_append", exploding_commit)
    stream = stream_trades(spark, src, max_files_per_trigger=1)
    fan = start_fanout(stream, out, available_now=True)
    crashed = False
    try:
        fan.await_all()
    except Exception:
        crashed = True
    finally:
        fan.stop_all()
    assert crashed, "injection did not fire"
    assert calls["n"] >= 2

    # Crashed state: the victim's directory holds ORPHAN data files the
    # manifest does not list (the append landed, the commit did not).
    listed = set(sinks._latest_manifest(spark, victim)[1])
    on_disk = {
        f for f in os.listdir(victim)
        if f.endswith(".parquet") and not f.startswith(("_", "."))
    }
    assert listed < on_disk, "expected uncommitted orphan files"

    # Restart the whole topology from its checkpoints (injection off).
    monkeypatch.setattr(sinks, "_commit_after_append", real_commit)
    run(out, paced=True)

    recovered = sorted(
        map(tuple, sinks.read_upsert_table(spark, victim, keys).collect())
    )
    assert recovered == expected


# ---------------------------------------------------------------------------
# The chained feature store: q4 reads q3's committed output
# ---------------------------------------------------------------------------

FEATURE_COLUMNS = [
    "symbol", "timestamp", "window_end", "total_usd_volume", "total_btc_volume",
    "high", "low", "open", "close", "num_trades",
]


def _query(fan, name):
    return next(q for q in fan.queries if q.name == name)


def _feature_rows(df):
    """The ten feature columns, timestamps as epoch micros, sorted."""
    cols = [
        F.unix_micros(c).alias(c) if c in ("timestamp", "window_end") else F.col(c)
        for c in FEATURE_COLUMNS
    ]
    return sorted(map(tuple, df.select(*cols).collect()))


def _published_features(spark, out):
    return (
        spark.read.parquet(os.path.join(out, "btc_features"))
        .select(F.from_json("value", FEATURE_SCHEMA).alias("v"))
        .select("v.*")
    )


@pytest.fixture
def new_york(spark):
    """A non-UTC session time zone for one test (the session is shared)."""
    key = "spark.sql.session.timeZone"
    before = spark.conf.get(key)
    spark.conf.set(key, "America/New_York")
    try:
        yield
    finally:
        spark.conf.set(key, before)


def test_feature_store_is_btc_features_exactly(spark, tmp_path, new_york):
    """After an available_now drain, feature_store holds exactly the rows
    btc_features published, all ten feature columns row-exact through the
    JSON round trip, and they equal a batch derive_features over the same
    trades restricted to the windows q3's final watermark closed. Prices
    and volumes lie on a binary grid so every sum is exact in any order,
    which makes a row-exact comparison with the batch plan well-defined.
    Only q1 and q3 keep state."""
    src = str(tmp_path / "src")
    synthetic_trades(spark, n_rows=6000).select(
        "symbol",
        "ts",
        (F.floor(F.col("price") * 256) / 256).alias("price"),
        (F.greatest(F.floor(F.col("volume") * 2**20), F.lit(1)) / 2**20).alias("volume"),
    ).repartition(4).write.parquet(src)
    out = str(tmp_path / "out")
    fan = start_fanout(stream_trades(spark, src), out, available_now=True)
    try:
        for q in fan.queries:
            assert q.awaitTermination(300), q.name
    finally:
        fan.stop_all()

    stateful = {
        q.name for q in fan.queries for p in q.recentProgress if p["stateOperators"]
    }
    assert stateful == {"volume_tracking", "btc_features"}
    watermark = _query(fan, "btc_features").lastProgress["eventTime"]["watermark"]

    store = spark.read.parquet(fan.path("feature_store"))
    got = _feature_rows(store)
    assert got == _feature_rows(_published_features(spark, out))

    batch = derive_features(
        spark.read.schema(TRADES_SCHEMA).parquet(src),
        window="30 seconds", slide="10 seconds", watermark="10 seconds",
    )
    closed = batch.filter(F.col("window_end") <= F.lit(watermark).cast("timestamp"))
    want = _feature_rows(closed)
    assert 0 < len(want) < batch.count()
    assert got == want

    # the date partitions follow the session time zone, as before
    assert store.filter(
        (F.year("timestamp") != F.col("year"))
        | (F.month("timestamp") != F.col("month"))
        | (F.dayofmonth("timestamp") != F.col("day"))
        | (F.hour("timestamp") != F.col("hour"))
    ).count() == 0


def _write_stray(spark, tmp_path, dest: str, name: str) -> None:
    """One parquet file with a well-formed features payload that no
    btc_features batch committed (a crashed task's leftover)."""
    value = json.dumps({
        "symbol": "STRAY", "timestamp": "2024-01-01T00:00:00.000Z",
        "total_usd_volume": 1.0, "total_btc_volume": 1.0, "high": 1.0,
        "low": 1.0, "close": 1.0, "num_trades": 1, "open": 1.0,
        "window_end": "2024-01-01T00:00:30.000Z",
    })
    tmp = str(tmp_path / f"stray-{name}")
    spark.createDataFrame([("STRAY", value)], "key string, value string").coalesce(
        1
    ).write.parquet(tmp)
    part = next(f for f in os.listdir(tmp) if f.endswith(".parquet"))
    os.makedirs(dest, exist_ok=True)
    os.replace(os.path.join(tmp, part), os.path.join(dest, name))


def _await_trigger(query, timeout_s: float = 120.0) -> None:
    deadline = time.time() + timeout_s
    while not query.recentProgress or query.status["isTriggerActive"]:
        assert time.time() < deadline, f"{query.name} ran no trigger"
        time.sleep(0.1)


def test_feature_store_never_reads_uncommitted_files(spark, trades_dir, tmp_path):
    """With processing-time triggers q4 starts right after q3, and reads
    btc_features through its sink log: parquet files in the directory that
    no q3 batch committed (one there before q3's sink existed, one dropped
    while it runs) never reach feature_store. A restart's first q4
    trigger picks up everything q3 committed."""
    out = str(tmp_path / "out")
    feats = os.path.join(out, "btc_features")
    _write_stray(spark, tmp_path, feats, "part-00000-stray-before.snappy.parquet")

    fan = start_fanout(stream_trades(spark, trades_dir), out, available_now=False)
    try:
        _query(fan, "btc_features").processAllAvailable()
        _write_stray(spark, tmp_path, feats, "part-00000-stray-during.snappy.parquet")
        _await_trigger(_query(fan, "feature_store"))
    finally:
        fan.stop_all()

    fan = start_fanout(stream_trades(spark, trades_dir), out, available_now=False)
    try:
        _query(fan, "btc_features").processAllAvailable()
        _await_trigger(_query(fan, "feature_store"))
    finally:
        fan.stop_all()

    raw = spark.read.schema("key string, value string").parquet(
        *[os.path.join(feats, f) for f in os.listdir(feats) if f.endswith(".parquet")]
    )
    assert raw.filter(F.col("key") == "STRAY").count() == 2  # on disk
    published = _feature_rows(_published_features(spark, out))
    assert published and all(r[0] != "STRAY" for r in published)
    assert _feature_rows(spark.read.parquet(fan.path("feature_store"))) == published


def test_fanout_refuses_a_pre_chaining_store_checkpoint(spark, trades_dir, tmp_path):
    """An out_dir whose _chk/store holds the old stateful feature_store
    query would restart at batch 0 next to a store whose sink log already
    lists those batch ids, and lose rows silently. start_fanout raises
    naming the migration and starts nothing; after the migration the
    store is rebuilt from btc_features."""
    out = tmp_path / "out"
    old = sinks.with_date_partitions(
        derive_features(
            stream_trades(spark, trades_dir),
            window="30 seconds", slide="10 seconds", watermark="10 seconds",
        ),
        "timestamp",
    )
    q = (
        old.writeStream.outputMode("append")
        .trigger(availableNow=True)
        .format("parquet")
        .partitionBy("year", "month", "day")
        .option("path", str(out / "feature_store"))
        .option("checkpointLocation", str(out / "_chk" / "store"))
        .start()
    )
    assert q.awaitTermination(300)
    q.stop()

    with pytest.raises(RuntimeError, match=r"_chk/store.*Migrate by moving"):
        start_fanout(stream_trades(spark, trades_dir), str(out), available_now=True)
    assert [q.name for q in spark.streams.active] == []
    assert sorted(os.listdir(out / "_chk")) == ["store"]

    def rows():
        store = spark.read.parquet(str(out / "feature_store"))
        return sorted(map(tuple, store.select("symbol", "timestamp", "num_trades").collect()))

    before = rows()
    aside = tmp_path / "aside"
    aside.mkdir()
    os.replace(out / "feature_store", aside / "feature_store")
    os.replace(out / "_chk" / "store", aside / "store")
    fan = start_fanout(stream_trades(spark, trades_dir), str(out), available_now=True)
    try:
        fan.await_all()
    finally:
        fan.stop_all()
    assert rows() == before


def test_fanout_stops_started_queries_when_q3_fails(spark, trades_dir, tmp_path, monkeypatch):
    """start_fanout waits on q3 before starting q4 in available_now mode.
    q1 and q2 are held inside their first batch until q3 has failed and a
    second longer; start_fanout stops them and propagates q3's error,
    leaving no running query behind."""
    q3_failed = threading.Event()

    class FailureWatch(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            pass

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            if event.exception:
                q3_failed.set()

    real_kafka, real_upsert = sinks.kafka_shaped, sinks.upsert_writer

    def failing(df, **kwargs):
        out = real_kafka(df, **kwargs)
        return out.withColumn(
            "value",
            F.when(F.col("key").isNotNull(), F.raise_error(F.lit("injected q3 failure")))
            .otherwise(F.col("value")),
        )

    def held(path, key_cols):
        write = real_upsert(path, key_cols)

        def run(batch_df, epoch_id):
            assert q3_failed.wait(120), "q3 did not fail"
            time.sleep(1.0)
            write(batch_df, epoch_id)

        return run

    monkeypatch.setattr(sinks, "kafka_shaped", failing)
    monkeypatch.setattr(sinks, "upsert_writer", held)
    watch = FailureWatch()
    spark.streams.addListener(watch)
    out = tmp_path / "out"
    try:
        with pytest.raises(Exception, match="injected q3 failure"):
            start_fanout(stream_trades(spark, trades_dir), str(out), available_now=True)
        assert [q.name for q in spark.streams.active] == []
    finally:
        spark.streams.removeListener(watch)
        for q in spark.streams.active:
            q.stop()
    assert "feature_store" not in os.listdir(out / "_chk")
