"""Pipeline benchmark: one workload per run, one JSON result line.

    python3 perfbench/run.py --cpus 4 --workload fanout --seed 1 --seconds 8 --trace 0

Workloads (see README.md in this directory):

- ``fanout``        the four-query fan-out: a fixed backlog drained with
                    ``available_now=True`` (cold, and warm after the paced
                    phase) and open-loop trade files;
- ``catalog_batch`` the 10 relational and stock bench-tagged catalog
                    queries, cold then warm.

With ``--trace 0`` the result carries the end-to-end metrics; with
``--trace 1`` it carries the per-layer metrics, and the spans are written
to ``.perfbench_work/trace-<workload>-<seed>.json``. Every file the run
writes stays under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
from dataclasses import dataclass  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import metrics  # noqa: E402
from spans import Recorder  # noqa: E402

E2E = {
    "setup_s": "s",
    "cold_cpu_s": "s",
    "warm_cpu_s": "s",
    "op_cpu_ms": "ms",
}
# Wall-clock figures: printed by every run and reported per layer by the
# traced run, but not end-to-end metrics, because on a shared host they
# swing with the neighbours' load (see README.md).
WALL = {
    "cold_s": "s",
    "emit_p50_ms": "ms",
    "emit_p90_ms": "ms",
    "dashboard_refresh_p50_ms": "ms",
    "drain_rows_per_s": "rows/s",
    "catalog_relational_s": "s",
    "catalog_llm_s": "s",
}

STREAM_QUERIES = ("volume_tracking", "price_tracking", "btc_features", "feature_store")
CATALOG_QUERIES = (
    "asof_purchase_view", "dedup_minhash_lsh", "dedup_minhash_lsh_xxh64",
    "dedup_ngram_jaccard", "embedding_topk", "gap_fill_hourly",
    "multimodal_phash_neardup", "ohlc_sliding_bars", "q10_returned_items",
    "q1_pricing_summary", "q3_top_unshipped_orders", "q5_region_revenue",
    "q9_profit_by_nation_year", "quality_lr_classifier", "text_quality",
)  # the bench set minus catalog_batch.UNCOUNTED


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric a traced run reports, with its unit. A layer
    the workload does not exercise reads 0."""
    u = {
        "session.get_spark_s": "s",
        "session.jvm_peak_rss_mb": "MB",
        "session.driver_cpu_s": "s",
        "session.jvm_cpu_s": "s",
        "session.pyworker_cpu_s": "s",
        "sources.backlog_files_max": "count",
        "sources.files_per_batch_p50": "count",
        "sources.gen_late_ms_max": "ms",
    }
    for q in STREAM_QUERIES:
        u[f"jobs.{q}.batches"] = "count"
        for f in ("trigger", "planning", "add_batch", "log_commit"):
            u[f"jobs.{q}.{f}_ms_p50"] = "ms"
    u["jobs.start_fanout_s"] = "s"
    u["jobs.drain_add_batch_ms_max"] = "ms"
    u["jobs.drain_speedup_vs_1core"] = "x"
    u.update(
        {
            "state.partitions": "count",
            "state.rows_end": "count",
            "state.memory_bytes_end": "bytes",
            "state.commit_ms_p50": "ms",
            "state.rows_dropped_late": "count",
            "state.late_kept_ratio": "ratio",
            "sinks.upsert_write_ms_p50": "ms",
            "sinks.data_files_end": "count",
            "sinks.manifests_end": "count",
            "sinks.read_ms_p50": "ms",
        }
    )
    for q in CATALOG_QUERIES:
        u[f"catalog.{q}.wall_s"] = "s"
        u[f"catalog.{q}.build_s"] = "s"
        for f in ("jobs", "tasks", "single_task_stages"):
            u[f"catalog.{q}.{f}"] = "count"
    for name, unit in WALL.items():
        u[f"wall.{name}"] = unit
    for name, unit in E2E.items():
        u[f"traced.{name}"] = unit
    u["trace.overhead_ms"] = "ms"
    return u


@dataclass
class Ctx:
    spark: object
    seed: int
    seconds: float
    rec: Recorder
    work: str
    cpu: object  # host.CpuClock of the session

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)


WORKLOADS = ("fanout", "catalog_batch")


def workload(name: str):
    import catalog_batch
    import fanout

    return {"fanout": fanout.run, "catalog_batch": catalog_batch.run}[name]


def single_core_speedup(work: str, seed: int, rows_per_s: float) -> float:
    """The measured warm drain rate against the same drain on ``local[1]``
    (one cold and one warm round in a fresh session)."""
    import fanout
    import host

    os.environ["SPARK_GRAFT_CPUS"] = "1"
    spark, _ = host.launch(work, "perfbench-1core")
    try:
        ctx = Ctx(spark, seed, 0.0, Recorder(False), work, host.CpuClock())
        rounds = fanout.drain_rounds(ctx, fanout.write_backlog(ctx, "-1core"), "-1core", 0, 2)
    finally:
        host.shutdown(spark)
    return rows_per_s / fanout.drain_rows_per_s(rounds[1:])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cpus", type=int, default=4, help="local[N] cores (SPARK_GRAFT_CPUS)")
    args = ap.parse_args()

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {WORKLOADS}", file=sys.stderr)
        return 2
    try:
        import host
        import stock_streaming_data_pipeline_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    host.pin_env(ROOT, work, args.cpus)
    rec = Recorder(args.trace == 1)
    try:
        spark, get_spark_s = host.launch(work, "perfbench")
        setup_s = time.perf_counter() - T_START
        ctx = Ctx(spark, args.seed, args.seconds, rec, work, host.CpuClock())
        try:
            run_workload = workload(args.workload)  # imported after set-up
            cpu0 = ctx.cpu.split()
            result = run_workload(ctx)
            cpu = {k: v - cpu0[k] for k, v in ctx.cpu.split().items()}
            peak_rss_mb = host.peak_rss_mb(ctx.cpu.jvm)
        finally:
            host.shutdown(spark)
        e2e = {"setup_s": setup_s, **result["e2e"]}
        layers = dict(result["layers"])
        if rec.enabled:
            if args.workload == "fanout":
                layers["jobs.drain_speedup_vs_1core"] = single_core_speedup(
                    work, args.seed, result["wall"]["drain_rows_per_s"]
                )
            layers["session.get_spark_s"] = get_spark_s
            layers["session.jvm_peak_rss_mb"] = peak_rss_mb
            for k, v in cpu.items():
                layers[f"session.{k}_cpu_s"] = v
            for name, v in result["wall"].items():
                layers[f"wall.{name}"] = v
            for name, v in e2e.items():
                layers[f"traced.{name}"] = v
            layers["trace.overhead_ms"] = rec.overhead_s * 1000
    finally:
        shutil.rmtree(work, ignore_errors=True)

    units = per_layer_units() if rec.enabled else E2E
    values = {n: float(layers.get(n, 0.0)) for n in units} if rec.enabled else e2e
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "e2e": e2e,
        "wall": result["wall"],
        "checks": result["checks"],
        "detail": result["detail"],
    }
    os.makedirs(base, exist_ok=True)
    stem = os.path.join(base, f"{args.workload}-{args.seed}")
    with open(f"{stem}.result.json", "w") as fh:
        json.dump(report, fh, indent=1)
    if rec.enabled:
        rec.dump(os.path.join(base, f"trace-{args.workload}-{args.seed}.json"), report)

    print(f"workload {args.workload}  seed {args.seed}  trace {args.trace}")
    for name, v in values.items():
        print(f"  {name:<50} {v:>14.4f} {units[name]}")
    if not rec.enabled:
        for name, v in result["wall"].items():
            print(f"  {name + ' (wall clock)':<50} {v:>14.4f} {WALL[name]}")
    print(f"  failed / attempted: {result['failed']} / {result['attempted']}")
    for name, verdict in result["checks"].items():
        print(f"  check {name}: {verdict}")
    print(
        json.dumps(
            {
                "correct": result["failed"] == 0,
                "attempted": int(result["attempted"]),
                "failed": int(result["failed"]),
                "metrics": {n: {"value": v, "unit": units[n]} for n, v in values.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
