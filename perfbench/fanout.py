"""The fanout workload: the paper's four-query topology, driven through
``streams.stream_trades`` and ``jobs.start_fanout``, in two phases on one
session.

1. Drain: the seeded generator writes a fixed backlog, drained with
   ``available_now=True`` (one batch per query), first cold in the fresh
   session, then in measured warm rounds into fresh outputs. Per-row
   throughput of decode -> watermark -> ``bar_aggs`` -> write, with per-batch
   costs nearly absent.
2. Paced: an open loop. One generator thread publishes a trade file every
   ``INTERVAL_S`` on a fixed schedule while the four queries run with the
   reference's processing-time triggers, and a dashboard resolves both
   upsert tables every ``REFRESH_S``. Per-batch fixed costs dominate.

A file's emit latency for a query is the time from the file's due time to
the commit of the first batch of that query that read it; the
file -> batch map comes from each query's source log and progress events
(``metrics.py``).
"""

from __future__ import annotations

import json
import os
import threading
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd

import metrics
import tradegen

QUERIES = ("volume_tracking", "price_tracking", "btc_features", "feature_store")
LOW_LATENCY = ("price_tracking", "btc_features")
STATEFUL = ("volume_tracking", "btc_features", "feature_store")
UPSERT = ("price_tracking", "volume_tracking")
KEYS = ["symbol", "timestamp"]

# Drain: a 100k-row backlog in 8 files, each covering 5 s of event time, so
# some 30 s sliding windows close before the final watermark. The backlog
# is drained cold, then (after the paced phase) WARMUP_ROUNDS times to warm
# up and MEASURED_ROUNDS times measured: the JIT keeps compiling, and the
# first three rounds after the paced phase each spend less CPU than the
# one before (about 10, 9 and 8 CPU seconds, then a flat 7, on a shared
# 4-core host).
DRAIN_SPEC = tradegen.TradeSpec(files=8, rows_per_file=12_500, file_span_s=5.0)
WARMUP_ROUNDS = 3
MEASURED_ROUNDS = 3

# Paced: 8k trades/s over 64 symbols, one file every 160 ms. At one file
# per 100 ms a batch read a dozen files and per-file costs stretched the
# batches, so latency swung with host speed; at 64 ms the backlog grew.
# The measured window of ``seconds`` after the warm-up gives
# 2 * seconds / INTERVAL_S (file, query) latency samples: 100 at 8 s, ten
# beyond the nearest-rank p90.
INTERVAL_S = 0.16
PACED_ROWS_PER_FILE = 1_280
WARMUP_S = 2.0
GRACE_S = 30.0
REFRESH_S = 5.0

FEATURE_JSON = (
    "symbol string, timestamp timestamp, total_usd_volume double, "
    "total_btc_volume double, high double, low double, close double, "
    "num_trades long"
)


# ---------------------------------------------------------------------------
# Engine-side reads
# ---------------------------------------------------------------------------


def progress_of(query) -> list[dict]:
    return [json.loads(p.json) for p in query.recentProgress]


def rows_read(query) -> int:
    return sum(int(p["numInputRows"]) for p in query.recentProgress)


def checkpoint_of(out_dir: str, query) -> str:
    """The checkpoint directory whose metadata names this query's id."""
    root = os.path.join(out_dir, "_chk")
    for name in os.listdir(root):
        meta = os.path.join(root, name, "metadata")
        if os.path.exists(meta):
            with open(meta) as fh:
                if json.loads(fh.readline()).get("id") == str(query.id):
                    return os.path.join(root, name)
    raise FileNotFoundError(f"no checkpoint for {query.name} under {root}")


@dataclass
class QueryRun:
    """One query's progress events and file -> commit map for one run."""

    name: str
    progress: list[dict]
    commits: list[float | None]  # per input file
    files_per_batch: list[int]

    def data_batches(self) -> list[dict]:
        return [p for p in self.progress if int(p["numInputRows"]) > 0]


def collect_runs(fan, files: list[str]) -> dict[str, QueryRun]:
    out = {}
    for q in fan.queries:
        prog = progress_of(q)
        log = metrics.read_source_log(checkpoint_of(fan.out_dir, q))
        ranges = metrics.batch_ranges(prog)
        out[q.name] = QueryRun(
            q.name,
            prog,
            metrics.file_commits(files, log, ranges),
            metrics.files_per_batch(log, ranges),
        )
    return out


class UpsertTimer:
    """Wraps ``sinks.upsert_writer`` from the benchmark side for the traced
    run: every foreachBatch call is timed with its fan-out directory, sink
    and epoch."""

    def __init__(self) -> None:
        self.calls: list[tuple[str, str, int, float, float]] = []
        self._lock = threading.Lock()
        self._orig = None

    def __enter__(self):
        from stock_streaming_data_pipeline_spark.streaming import sinks

        self._orig = orig = sinks.upsert_writer

        def upsert_writer(path, key_cols):
            write = orig(path, key_cols)
            out, name = os.path.split(path.rstrip("/"))

            def timed(batch_df, epoch_id):
                t0 = time.time()
                try:
                    write(batch_df, epoch_id)
                finally:
                    with self._lock:
                        self.calls.append((out, name, int(epoch_id), t0, time.time()))

            return timed

        sinks.upsert_writer = upsert_writer
        return self

    def __exit__(self, *exc):
        from stock_streaming_data_pipeline_spark.streaming import sinks

        sinks.upsert_writer = self._orig


def resolve(spark, path: str):
    from stock_streaming_data_pipeline_spark.streaming.sinks import read_upsert_table

    return read_upsert_table(spark, path, KEYS)


def resolve_forced(spark, path: str) -> None:
    resolve(spark, path).write.format("noop").mode("overwrite").save()


def sink_files(out_dir: str) -> tuple[int, int]:
    """(data files, manifests) across the two upsert sinks."""
    data = manifests = 0
    for name in UPSERT:
        d = os.path.join(out_dir, name)
        if os.path.isdir(d):
            data += sum(
                1 for f in os.listdir(d) if f.endswith(".parquet") and f[0] not in "._"
            )
        m = os.path.join(d, "_manifests")
        if os.path.isdir(m):
            manifests += sum(1 for f in os.listdir(m) if f.startswith("manifest-"))
    return data, manifests


# ---------------------------------------------------------------------------
# Expected outputs (pandas recomputation over the generated trades)
# ---------------------------------------------------------------------------

WINDOW_US = 60_000_000
FEATURE_US = 30_000_000
SLIDE_US = 10_000_000


def _bars(df: pd.DataFrame) -> pd.DataFrame:
    """OHLC bars per (symbol, window start) over rows tagged with their
    window's ``start``."""
    d = df.assign(usd=df["price"] * df["volume"]).sort_values("ts_us", kind="stable")
    g = d.groupby(["symbol", "start"], sort=False)
    return pd.DataFrame(
        {
            "total_volume": g["volume"].sum(),
            "total_usd_volume": g["usd"].sum(),
            "high": g["price"].max(),
            "low": g["price"].min(),
            "open": g["price"].first(),
            "close": g["price"].last(),
            "num_trades": g["price"].size().astype("int64"),
        }
    ).reset_index()


def expected_outputs(trades: pd.DataFrame) -> dict[str, pd.DataFrame]:
    """What the four queries must hold after draining ``trades`` in one
    batch: ticks by (symbol, ts), 1-minute volume, and 30 s / 10 s bars
    (a trade lies in the three windows starting at its 10 s slot and the
    two before)."""
    price = pd.DataFrame(
        {
            "symbol": trades["symbol"],
            "start": trades["ts_us"],
            "price": trades["price"],
            "usd_volume": trades["price"] * trades["volume"],
        }
    )
    volume = _bars(trades.assign(start=trades["ts_us"] // WINDOW_US * WINDOW_US))[
        ["symbol", "start", "total_volume", "total_usd_volume"]
    ]
    slot = trades["ts_us"] // SLIDE_US * SLIDE_US
    feats = _bars(
        pd.concat(
            [trades.assign(start=slot - j * SLIDE_US) for j in range(FEATURE_US // SLIDE_US)],
            ignore_index=True,
        )
    )
    return {"price_tracking": price, "volume_tracking": volume, "features": feats}


def _diff(name: str, want: pd.DataFrame, got: pd.DataFrame, exact, approx) -> str | None:
    """None when the frames hold the same keys and values."""
    if got.duplicated(["symbol", "start"]).any():
        return f"{name}: duplicate keys"
    m = want.merge(got, on=["symbol", "start"], how="outer", suffixes=("_w", "_g"), indicator=True)
    missing = int((m["_merge"] == "left_only").sum())
    extra = int((m["_merge"] == "right_only").sum())
    if missing or extra:
        return f"{name}: {missing} missing / {extra} unexpected keys of {len(want)}"
    for c in exact:
        bad = int((m[f"{c}_w"] != m[f"{c}_g"]).sum())
        if bad:
            return f"{name}: {bad} rows differ in {c}"
    for c in approx:
        if not np.allclose(m[f"{c}_w"], m[f"{c}_g"], rtol=1e-9, atol=1e-9):
            return f"{name}: {c} differs beyond 1e-9"
    return None


def check_drain(spark, out_dir: str, want: dict[str, pd.DataFrame], watermark_us: int) -> list[str]:
    """Compare one drained round's four outputs with the recomputation.
    Append-mode windows are compared for those closed by the final
    watermark."""
    from pyspark.sql import functions as F

    def micros(c):
        return F.unix_micros(F.col(c)).alias("start")

    problems = []
    got = resolve(spark, os.path.join(out_dir, "price_tracking"))
    got = got.select("symbol", micros("timestamp"), "price", "usd_volume").toPandas()
    problems.append(_diff("price_tracking", want["price_tracking"], got, ["price", "usd_volume"], []))

    got = resolve(spark, os.path.join(out_dir, "volume_tracking"))
    got = got.select("symbol", micros("timestamp"), "total_volume", "total_usd_volume").toPandas()
    problems.append(
        _diff("volume_tracking", want["volume_tracking"], got, [], ["total_volume", "total_usd_volume"])
    )

    closed = want["features"]
    closed = closed[closed["start"] + FEATURE_US <= watermark_us]
    got = (
        spark.read.parquet(os.path.join(out_dir, "btc_features"))
        .select(F.from_json("value", FEATURE_JSON).alias("v"))
        .select("v.*")
        .select(
            "symbol", micros("timestamp"), F.col("total_btc_volume").alias("total_volume"),
            "total_usd_volume", "high", "low", "close", "num_trades",
        )
        .toPandas()
    )
    problems.append(
        _diff(
            "btc_features", closed.drop(columns=["open"]), got,
            ["high", "low", "close", "num_trades"], ["total_volume", "total_usd_volume"],
        )
    )

    got = (
        spark.read.parquet(os.path.join(out_dir, "feature_store"))
        .select(
            "symbol", micros("timestamp"), F.col("total_btc_volume").alias("total_volume"),
            "total_usd_volume", "high", "low", "open", "close", "num_trades",
        )
        .toPandas()
    )
    problems.append(
        _diff(
            "feature_store", closed, got,
            ["high", "low", "open", "close", "num_trades"], ["total_volume", "total_usd_volume"],
        )
    )
    return [p for p in problems if p]


def check_paced(spark, out_dir: str, trades: pd.DataFrame) -> str | None:
    """The resolved price_tracking holds exactly the distinct (symbol, ts)
    keys of the committed files."""
    from pyspark.sql import functions as F

    got = (
        resolve(spark, os.path.join(out_dir, "price_tracking"))
        .select("symbol", F.unix_micros("timestamp").alias("start"))
        .toPandas()
    )
    want = trades[["symbol", "ts_us"]].rename(columns={"ts_us": "start"}).drop_duplicates()
    return _diff("price_tracking", want, got, [], [])


# ---------------------------------------------------------------------------
# Per-layer figures
# ---------------------------------------------------------------------------


def _p50(values) -> float:
    values = list(values)
    return metrics.median(values) if values else 0.0


def layer_metrics(runs: dict[str, QueryRun], frames: list[pd.DataFrame]) -> dict[str, float]:
    out: dict[str, float] = {}
    for name in QUERIES:
        data = runs[name].data_batches()
        dur = [p["durationMs"] for p in data]
        out[f"jobs.{name}.batches"] = len(data)
        out[f"jobs.{name}.planning_ms_p50"] = _p50(d.get("queryPlanning", 0) for d in dur)
        out[f"jobs.{name}.add_batch_ms_p50"] = _p50(d.get("addBatch", 0) for d in dur)
        out[f"jobs.{name}.log_commit_ms_p50"] = _p50(
            d.get("walCommit", 0) + d.get("commitOffsets", 0) for d in dur
        )
    ops = [
        (name, p, op)
        for name in STATEFUL
        for p in runs[name].progress
        for op in p.get("stateOperators") or []
    ]
    last = {}
    for name in STATEFUL:
        prog = runs[name].progress
        last[name] = prog[-1].get("stateOperators") or [] if prog else []
    late_read = sum(
        int(frames[k]["late"].sum())
        for name in STATEFUL
        for k, c in enumerate(runs[name].commits)
        if c is not None
    )
    dropped = sum(int(op.get("numRowsDroppedByWatermark", 0)) for _, _, op in ops)
    commit_ms = {}
    for name, p, op in ops:
        if int(p["numInputRows"]) > 0:
            key = (name, p["batchId"])
            commit_ms[key] = commit_ms.get(key, 0) + int(op.get("commitTimeMs", 0))
    out["state.partitions"] = max(
        (int(op.get("numShufflePartitions", 0)) for _, _, op in ops), default=0
    )
    out["state.rows_end"] = sum(int(op.get("numRowsTotal", 0)) for ops_ in last.values() for op in ops_)
    out["state.memory_bytes_end"] = sum(
        int(op.get("memoryUsedBytes", 0)) for ops_ in last.values() for op in ops_
    )
    out["state.commit_ms_p50"] = _p50(commit_ms.values())
    out["state.rows_dropped_late"] = dropped
    out["state.late_kept_ratio"] = 1.0 - dropped / late_read if late_read else 1.0
    fpb = runs["price_tracking"].files_per_batch
    out["sources.files_per_batch_p50"] = _p50(fpb)
    return out


def trigger_ms_p50(collector_rows, name: str) -> float:
    """Batch duration from ``monitor.ProgressCollector`` (data batches)."""
    return _p50(
        r["batch_duration_ms"] for r in collector_rows
        if r["query_name"] == name and r["num_input_rows"] > 0
    )


def batch_spans(rec, runs: dict[str, QueryRun], upserts, out: str, request_prefix: str) -> None:
    """Rebuild each batch of the fan-out in ``out`` as a span from its
    progress event, with the timed upsert writes of that batch as
    children."""
    writes = {(name, epoch): (t0, t1) for o, name, epoch, t0, t1 in upserts if o == out}
    for name, run in runs.items():
        for p in run.progress:
            start = metrics.iso_epoch_s(p["timestamp"])
            end = start + p["durationMs"]["triggerExecution"] / 1000
            req = f"{request_prefix}{name}#{p['batchId']}"
            sid = rec.add(f"batch:{name}", start, end, req)
            w = writes.get((name, int(p["batchId"])))
            if w is not None:
                rec.add(f"upsert_write:{name}", w[0], w[1], req, parent=sid)


# ---------------------------------------------------------------------------
# Drain phase
# ---------------------------------------------------------------------------


@dataclass
class Round:
    out: str
    wall_s: float  # start_fanout to all four queries settled
    cpu_s: float  # CPU seconds over the same interval
    runs: dict[str, QueryRun]
    error: str | None = None


def drain_round(ctx, stream, names: list[str], out: str) -> Round:
    """Drain the whole backlog once into fresh outputs and checkpoints."""
    from stock_streaming_data_pipeline_spark.streaming.jobs import start_fanout

    c0, t0 = ctx.cpu(), time.time()
    with ctx.rec.span("drain_round", os.path.basename(out)):
        fan = start_fanout(stream, out, available_now=True)
        error = None
        try:
            for q in fan.queries:
                q.awaitTermination()
        except Exception as e:  # a failed query fails this round only
            error = f"{type(e).__name__}: {str(e)[:200]}"
        wall = time.time() - t0
        cpu = ctx.cpu() - c0
        fan.stop_all()
    runs = collect_runs(fan, names) if error is None else {}
    return Round(out, wall, cpu, runs, error)


def write_backlog(ctx, tag: str):
    """Generate and publish the drain backlog (untimed). Returns (trade
    frames, file names, streaming DataFrame over them)."""
    from stock_streaming_data_pipeline_spark.sources import streams

    frames = tradegen.generate(DRAIN_SPEC, ctx.seed)
    src = ctx.path(f"src-drain{tag}")
    os.makedirs(src)
    for k, f in enumerate(frames):
        tradegen.publish(tradegen.to_arrow(f), src, k)
    names = [tradegen.file_name(k) for k in range(len(frames))]
    return frames, names, streams.stream_trades(ctx.spark, src)


def drain_rounds(ctx, backlog, tag: str, first: int, count: int) -> list[Round]:
    """Drain the backlog ``count`` times, round ``first`` onwards. Round 0
    is the cold one: it must settle, or the run has no result."""
    _, names, stream = backlog
    rounds = [
        drain_round(ctx, stream, names, ctx.path(f"out-drain{tag}-{i}"))
        for i in range(first, first + count)
    ]
    if first == 0 and rounds[0].error is not None:
        raise RuntimeError(f"cold drain round failed: {rounds[0].error}")
    return rounds


def drain_rows_per_s(warm: list[Round]) -> float:
    """Backlog rows over the median wall of the warm rounds that settled."""
    walls = [r.wall_s for r in warm if r.error is None]
    if not walls:
        raise RuntimeError("every measured drain round failed")
    return DRAIN_SPEC.files * DRAIN_SPEC.rows_per_file / metrics.median(walls)


# ---------------------------------------------------------------------------
# Paced phase
# ---------------------------------------------------------------------------


@dataclass
class Paced:
    frames: list[pd.DataFrame]
    out: str
    schedule: metrics.Schedule
    published: list[float]
    runs: dict[str, QueryRun]
    refresh_ms: list[float]
    resolve_ms: list[float]
    start_fanout_s: float
    cpu_s: float  # the fan-out's CPU seconds, the generator's own excluded
    collector_rows: list[dict]


def paced(ctx) -> Paced:
    from stock_streaming_data_pipeline_spark.sources import streams
    from stock_streaming_data_pipeline_spark.streaming.jobs import start_fanout
    from stock_streaming_data_pipeline_spark.streaming.monitor import ProgressCollector

    spark, rec = ctx.spark, ctx.rec
    n_files = int(round((WARMUP_S + ctx.seconds) / INTERVAL_S))
    spec = tradegen.TradeSpec(files=n_files, rows_per_file=PACED_ROWS_PER_FILE, file_span_s=INTERVAL_S)
    frames = tradegen.generate(spec, ctx.seed)
    tables = [tradegen.to_arrow(f) for f in frames]
    names = [tradegen.file_name(k) for k in range(n_files)]
    src, out = ctx.path("src-paced"), ctx.path("out-paced")
    os.makedirs(src)

    collector = ProgressCollector()
    spark.streams.addListener(collector)
    stream = streams.stream_trades(spark, src)
    stop = threading.Event()
    published: list[float] = [0.0] * n_files
    refresh_ms: list[float] = []
    resolve_ms: list[float] = []
    gen_cpu_s = [0.0]

    def generator(schedule: metrics.Schedule) -> None:
        c0 = time.thread_time()
        try:
            for k, table in enumerate(tables):
                delay = schedule.due(k) - time.time()
                if delay > 0 and stop.wait(delay):
                    return
                tradegen.publish(table, src, k)
                published[k] = time.time()
        finally:
            gen_cpu_s[0] = time.thread_time() - c0

    def dashboard(t0: float) -> None:
        n = 1
        while not stop.wait(max(0.0, t0 + n * REFRESH_S - time.time())):
            with rec.span("dashboard_refresh", f"refresh#{n}") as parent:
                t = time.perf_counter()
                for name in UPSERT:
                    path = os.path.join(out, name)
                    if os.path.isdir(os.path.join(path, "_manifests")):
                        r = time.perf_counter()
                        with rec.span(f"resolve:{name}", f"refresh#{n}", parent):
                            resolve_forced(spark, path)
                        resolve_ms.append((time.perf_counter() - r) * 1000)
                refresh_ms.append((time.perf_counter() - t) * 1000)
            n += 1

    threads = []
    fan = None
    c0 = ctx.cpu()
    try:
        t0 = time.time()
        schedule = metrics.Schedule(t0, INTERVAL_S)
        threads.append(threading.Thread(target=generator, args=(schedule,), name="generator"))
        threads[0].start()
        with rec.span("start_fanout", "fanout"):
            fan = start_fanout(stream, out, available_now=False)
        start_fanout_s = time.time() - t0
        threads.append(threading.Thread(target=dashboard, args=(t0,), name="dashboard"))
        threads[1].start()
        threads[0].join()
        total = n_files * PACED_ROWS_PER_FILE
        low = [q for q in fan.queries if q.name in LOW_LATENCY]
        deadline = time.time() + GRACE_S
        while time.time() < deadline and any(rows_read(q) < total for q in low):
            time.sleep(0.25)
    finally:
        stop.set()
        for t in threads:
            t.join()
        if fan is not None:
            fan.stop_all()
        spark.streams.removeListener(collector)
    cpu = ctx.cpu() - c0 - gen_cpu_s[0]

    rows = [r.asDict() for r in collector.snapshot(spark).collect()] if rec.enabled else []
    return Paced(
        frames, out, schedule, published, collect_runs(fan, names), refresh_ms, resolve_ms,
        start_fanout_s, cpu, rows,
    )


# ---------------------------------------------------------------------------
# The workload
# ---------------------------------------------------------------------------


def run(ctx) -> dict:
    spark, rec = ctx.spark, ctx.rec
    upserts = UpsertTimer() if rec.enabled else None
    if upserts:
        upserts.__enter__()
    try:
        backlog = write_backlog(ctx, "")
        rounds = drain_rounds(ctx, backlog, "", 0, 1)
        # warm the sink's read path before the dashboard uses it
        for name in UPSERT:
            resolve_forced(spark, os.path.join(rounds[0].out, name))
        p = paced(ctx)
        rounds += drain_rounds(ctx, backlog, "", 1, WARMUP_ROUNDS + MEASURED_ROUNDS)
    finally:
        if upserts:
            upserts.__exit__(None, None, None)

    # Checks, outside the timed regions. Every drain round must settle;
    # all rounds drain the same backlog, and the last one's outputs are
    # compared with the recomputation.
    checks, failed = {}, 0
    for i, r in enumerate(rounds):
        if r.error is not None:
            checks[f"drain_round{i}"] = r.error
            failed += 1
    last = rounds[-1]
    read_ms = None
    if last.error is None:
        want = expected_outputs(pd.concat(backlog[0], ignore_index=True))
        wm = last.runs["btc_features"].progress[-1]["eventTime"].get("watermark")
        t = time.perf_counter()
        problems = check_drain(spark, last.out, want, int(metrics.iso_epoch_s(wm) * 1_000_000))
        read_ms = (time.perf_counter() - t) * 1000
        checks["drain_outputs"] = "; ".join(problems) or "ok"
        failed += bool(problems)

    n_files = len(p.frames)
    both = [
        None if any(p.runs[q].commits[k] is None for q in LOW_LATENCY)
        else max(p.runs[q].commits[k] for q in LOW_LATENCY)
        for k in range(n_files)
    ]
    price_done = [k for k, c in enumerate(p.runs["price_tracking"].commits) if c is not None]
    problem = check_paced(spark, p.out, pd.concat([p.frames[k] for k in price_done], ignore_index=True))
    checks["paced_price_tracking_keys"] = problem or "ok"
    failed += n_files if problem else sum(1 for c in both if c is None)

    first = int(round(WARMUP_S / INTERVAL_S))
    lat_ms = [
        (p.runs[q].commits[k] - p.schedule.due(k)) * 1000
        for q in LOW_LATENCY
        for k in range(first, n_files)
        if p.runs[q].commits[k] is not None
    ]
    warm = [r for r in rounds[1 + WARMUP_ROUNDS :] if r.error is None]
    # Per file, not per micro-batch: how many files a batch takes is the
    # engine's choice, and it follows the host's speed. Over ten runs on a
    # shared 4-core host, the paced CPU per file spread by 0.09, the CPU per
    # batch by 0.21.
    paced_batches = sum(len(p.runs[q].data_batches()) for q in QUERIES)
    e2e = {
        "cold_cpu_s": rounds[0].cpu_s,
        "warm_cpu_s": metrics.median(r.cpu_s for r in warm),
        "op_cpu_ms": p.cpu_s / n_files * 1000,
    }
    wall = {
        "cold_s": rounds[0].wall_s,
        "emit_p50_ms": metrics.nearest_rank(lat_ms, 0.5),
        "emit_p90_ms": metrics.nearest_rank(lat_ms, 0.9),
        "dashboard_refresh_p50_ms": _p50(p.refresh_ms),
        "drain_rows_per_s": drain_rows_per_s(warm),
    }
    late = metrics.lateness_s(p.schedule, p.published)
    detail = {
        "drain_rows": DRAIN_SPEC.files * DRAIN_SPEC.rows_per_file,
        "drain_round_walls_s": [r.wall_s for r in rounds],
        "drain_round_cpu_s": [r.cpu_s for r in rounds],
        "paced_files": n_files,
        "paced_rows_per_file": PACED_ROWS_PER_FILE,
        "paced_interval_s": INTERVAL_S,
        "paced_cpu_s": p.cpu_s,
        "paced_batches": paced_batches,
        "paced_cpu_per_batch_ms": p.cpu_s / paced_batches * 1000,
        "latency_samples": len(lat_ms),
        "samples_beyond_p90": metrics.samples_beyond(len(lat_ms), 0.9),
        "gen_late_ms_max": max(late) * 1000,
        "refresh_ms": p.refresh_ms,
    }
    layers: dict[str, float] = {}
    if rec.enabled:
        price = p.runs["price_tracking"]
        thirds = n_files // 3
        layers.update(layer_metrics(p.runs, p.frames))
        for name in QUERIES:
            layers[f"jobs.{name}.trigger_ms_p50"] = trigger_ms_p50(p.collector_rows, name)
        layers["jobs.start_fanout_s"] = p.start_fanout_s
        layers["jobs.drain_add_batch_ms_max"] = max(
            d["durationMs"].get("addBatch", 0) for q in QUERIES for d in last.runs[q].data_batches()
        )
        layers["sources.backlog_files_max"] = metrics.backlog_max(p.published, price.commits)
        layers["sources.gen_late_ms_max"] = max(late) * 1000
        data_files, manifests = sink_files(p.out)
        layers["sinks.upsert_write_ms_p50"] = _p50(
            (t1 - t0) * 1000 for out, _, _, t0, t1 in upserts.calls if out == p.out
        )
        layers["sinks.data_files_end"] = data_files
        layers["sinks.manifests_end"] = manifests
        layers["sinks.read_ms_p50"] = _p50(p.resolve_ms)
        detail["drain_check_ms"] = read_ms
        detail["backlog_first_third"] = metrics.backlog_max(p.published[:thirds], price.commits[:thirds])
        detail["backlog_last_third"] = metrics.backlog_max(p.published[-thirds:], price.commits[-thirds:])
        for i, r in enumerate(rounds):
            batch_spans(rec, r.runs, upserts.calls, r.out, f"drain#{i}:")
        batch_spans(rec, p.runs, upserts.calls, p.out, "paced:")
    return {
        "e2e": e2e,
        "wall": wall,
        "layers": layers,
        "attempted": len(rounds) + n_files,
        "failed": failed,
        "checks": checks,
        "detail": detail,
    }
