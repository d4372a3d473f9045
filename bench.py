"""Benchmark the headline catalog queries.

Runs every bench-tagged query at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {name: sec, ...}, "sf": <float>,
     "like_for_like": <sec over the FROZEN core set>,
     "like_for_like_queries": [...]}

`value` covers the full (growing) bench set; `like_for_like` totals only
the frozen 14-query core from round 2, so round-over-round comparisons
stay honest as queries are added to the set.

Each query is forced end-to-end with a noop-format write (full compute, no
driver collection) after a warm-up of the session on a trivial action.
"""

from __future__ import annotations

import json
import math
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


# Frozen round-2 core set: like-for-like round-over-round totals. Never
# grows — new bench queries count only toward the full total.
LIKE_FOR_LIKE = (
    "asof_purchase_view",
    "cumulative_volume",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "embedding_topk",
    "gap_fill_hourly",
    "ohlc_sliding_bars",
    "q10_returned_items",
    "q1_pricing_summary",
    "q3_top_unshipped_orders",
    "q5_region_revenue",
    "q9_profit_by_nation_year",
    "text_quality",
    "tumbling_volume_daily",
)


def _force(df) -> int:
    # noop sink: executes the whole plan, discards rows (no driver collect).
    df.write.format("noop").mode("overwrite").save()
    return 0


def _streaming_block(spark) -> dict:
    """Streaming engine numbers alongside the batch wall clocks: replay
    N synthetic trades through the four-query fan-out (decode → watermark
    → windowed agg → sink, per-query checkpoints) and report end-to-end
    rows/sec plus the p50 micro-batch latency read from the queries' own
    progress history (durationMs.triggerExecution). Runs AFTER the batch
    measurements so it never contends with them; generation is outside
    the measured window (the producer is transport, not engine)."""
    import shutil
    import tempfile

    from stock_streaming_data_pipeline_spark.sources import streams, trades
    from stock_streaming_data_pipeline_spark.streaming.jobs import start_fanout

    # 1M rows by default: the fan-out's fixed startup (4 streaming-query
    # initializations + checkpoint dirs, ~3s on this host) dominates a
    # 200k replay and under-reports steady-state throughput ~4x; at 1M
    # the number converges to the topology's drain rate (SCALE.md
    # "Measured throughput"). Costs ~4s more bench wall, once per run.
    rows = int(os.environ.get("SPARK_GRAFT_STREAM_ROWS", "1000000"))
    # the paced replay exists for the LATENCY DISTRIBUTION, not
    # throughput — smaller volume, many batches
    paced_rows = int(os.environ.get("SPARK_GRAFT_STREAM_PACED_ROWS", "300000"))
    work = tempfile.mkdtemp(prefix="bench_stream_")

    def replay(src: str, out: str, *, mfpt: int | None) -> dict:
        stream = streams.stream_trades(spark, src, max_files_per_trigger=mfpt)
        t0 = time.time()
        fan = start_fanout(stream, out, available_now=True)
        fan.await_all()
        wall = time.time() - t0
        batch_ms: list[int] = []
        for q in fan.queries:
            for p in q.recentProgress:
                prog = p if isinstance(p, dict) else json.loads(p)
                if int(prog.get("numInputRows", 0)) <= 0:
                    continue
                dur = prog.get("durationMs") or {}
                batch_ms.append(int(dur.get("triggerExecution", 0)))
        fan.stop_all()
        batch_ms.sort()
        return {"wall_s": round(wall, 3), "batch_ms": batch_ms}

    try:
        # Block 1 — DRAIN throughput: unpaced (one batch per query), the
        # round-over-round comparable rows/sec number (r5+ protocol).
        src = os.path.join(work, "src")
        trades.write_trades_dir(spark, src, files=8, n_rows=rows, cadence_ms=50)
        drain = replay(src, os.path.join(work, "out"), mfpt=None)
        # Block 2 — PACED latency: one source file per trigger, so q1-q3
        # each run 12 micro-batches; q4 reads q3's file sink once q3 has
        # terminated and runs about one more, so about 37 input batches
        # across the fan-out (37 in a measured run) and p95 is
        # distinguishable from max (r9 verdict #8). Throughput from this
        # block is NOT comparable to the drain number: it pays about 37
        # trigger roundtrips by design.
        src2 = os.path.join(work, "src_paced")
        trades.write_trades_dir(
            spark, src2, files=12, n_rows=paced_rows, cadence_ms=50
        )
        paced = replay(src2, os.path.join(work, "out_paced"), mfpt=1)
        bm = paced["batch_ms"]
        return {
            "rows": rows,
            "wall_s": drain["wall_s"],
            "rows_per_sec": round(rows / drain["wall_s"], 1),
            "concurrent_queries": 4,
            "batches": len(drain["batch_ms"]),
            "paced": {
                "rows": paced_rows,
                "wall_s": paced["wall_s"],
                "batches": len(bm),
                "p50_batch_ms": bm[len(bm) // 2] if bm else None,
                # nearest-rank p95 over per-batch trigger durations:
                # ceil(0.95*n)-1 (for 37 batches: rank 36, index 35)
                "p95_batch_ms": bm[math.ceil(0.95 * len(bm)) - 1] if bm else None,
            },
        }
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0

    from stock_streaming_data_pipeline_spark.plans import catalog
    from stock_streaming_data_pipeline_spark.session import get_spark

    spark = get_spark("bench")
    # Session warm-up, outside all measurements: JVM/codegen spin-up plus
    # one real parquet scan so reader initialization isn't billed to
    # whichever query happens to run first.
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    from stock_streaming_data_pipeline_spark.tables import load_table

    load_table(spark, sf_dir, "region").count()

    bench_set = sorted(catalog.bench_queries().items())

    # Warm-up iteration: run every bench query once at the smallest scale
    # factor before measuring. This warms the JVM JIT (C2) on the actual
    # hot paths — regex shingling, hashing, wide aggregates, joins —
    # which otherwise bills ~6s of one-time compiler warm-up to whichever
    # heavy query runs first (measured: minhash cold 8.9s vs 3.8s after a
    # tiny-sample pass, identical timings with codegen disabled, so this
    # is JIT, not Janino). Standard benchmark practice (JMH-style warm-up
    # iterations); the measured numbers below then reflect steady-state
    # engine throughput, which is what a long-lived 100 TB job sees.
    # Prefer sf0.01 for the warm-up: 50-doc sf0.001 inputs don't push the
    # hot loops past C2's compile thresholds (measured: minhash 3.9s vs
    # 3.4s at sf0.1 after sf0.001- vs sf0.01-warm-up).
    base = os.path.dirname(sf_dir.rstrip("/"))
    warm_dir = next(
        (
            d
            for d in (os.path.join(base, "sf0.01"), os.path.join(base, "sf0.001"))
            if os.path.isdir(d) and os.path.abspath(d) != os.path.abspath(sf_dir)
        ),
        "",
    )
    if warm_dir:
        for _, build in bench_set:
            try:
                _force(build(spark, warm_dir))
            except Exception:
                pass  # warm-up is best-effort; measurement decides
            spark.catalog.clearCache()

    # Two measured iterations per query, min taken: this VM sees bursty
    # host-level CPU steal (observed 10x wall-clock swings with identical
    # plans), and the minimum of two spaced runs is a far better estimate
    # of engine throughput than a single sample that may straddle a steal
    # window. Iteration order interleaves whole passes (q1..qN, q1..qN)
    # so the two samples of each query are maximally separated in time.
    samples: dict[str, list[float]] = {}
    for _pass in range(2):
        for name, build in bench_set:
            t0 = time.time()
            _force(build(spark, sf_dir))
            dt = round(time.time() - t0, 3)
            samples.setdefault(name, []).append(dt)
            print(f"# {name}[{_pass}]: {dt:.2f}s", file=sys.stderr)
            # Drop persisted intermediates (e.g. the LSH signature cache)
            # between queries so one query's cache pressure never bills
            # the next one's measurement.
            spark.catalog.clearCache()

    timings = {name: min(ts) for name, ts in samples.items()}
    total = round(sum(timings.values()), 3)
    lfl = round(sum(timings.get(q, 0.0) for q in LIKE_FOR_LIKE), 3)
    # Per-query relative spread between the two measured passes: on a
    # quiet host this sits well under 0.3 for every sub-second query;
    # a max_spread of 1.0+ means one pass straddled a steal window and
    # the per-query minima (not the totals of either pass) are the only
    # trustworthy numbers. Interpretation rule lives in SCALE.md.
    spread = {
        name: round((max(ts) - min(ts)) / max(min(ts), 1e-9), 3)
        for name, ts in samples.items()
    }

    # Streaming block last: outside the batch-timed region by design.
    try:
        streaming = _streaming_block(spark)
    except Exception as e:  # the batch contract must survive regardless
        streaming = {"error": f"{type(e).__name__}: {str(e)[:200]}"}

    print(
        json.dumps(
            {
                "metric": "catalog_bench_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                # Scaling legibility (round 12): echo the core count the
                # harness actually ran with, so a low-core probe can
                # verify the SPARK_GRAFT_CPUS knob took effect instead of
                # inferring it from wall-clock ratios (at sf0.1 most
                # bench queries are job-latency-bound, so 8-vs-32-core
                # ratios sit near 1 even though the knob works).
                "cpus": spark.sparkContext.defaultParallelism,
                "master": spark.sparkContext.master,
                "shuffle_partitions": int(
                    spark.conf.get("spark.sql.shuffle.partitions")
                ),
                "like_for_like": lfl,
                "like_for_like_queries": sorted(
                    q for q in LIKE_FOR_LIKE if q in timings
                ),
                # self-adjudication: both raw samples per query and their
                # relative spread
                "samples": samples,
                "spread": spread,
                "max_spread": max(spread.values(), default=0.0),
                "streaming": streaming,
            }
        )
    )


if __name__ == "__main__":
    main()
