"""Interleaved perf adjudication: drain throughput and batch-query drift.

Round-10 left two open timing questions (VERDICT r10, "What's wrong"
#3/#4):

1. The in-bench streaming DRAIN swung 170.6k -> 108.6k rows/s between
   rounds with no code change on the streaming path, at RECORDED steal
   of only 0.11% — the first counterexample to "steal predicts drain".
   Candidate causes: the long batch block that precedes the drain in
   the same bench process (JVM old-gen / code-cache / status-store
   state), page-cache state, cgroup throttling invisible in steal
   ticks.
2. ``dedup_ngram_jaccard`` sat 26% above its r9 sample on agreeing
   low-spread runs.

This harness runs the A/B protocol the verdict asked for, in ONE
session window, alternating so host drift hits both arms equally:

* arm ``drain-fresh``     — subprocess: warm-up, then the 4-query
  fan-out drain alone.
* arm ``drain-preamble``  — subprocess: same, but first runs the
  bench batch block's heaviest queries twice (the bench.py process
  shape) in the SAME JVM, then the drain.
* arm ``ngram``           — subprocess: dedup_ngram_jaccard twice at
  sf0.1 (min taken), with q1_pricing_summary as an in-process control.

Each subprocess reports its own steal delta, spin calibration,
cgroup-v1 cpu.stat throttle deltas and page-cache size, so every
measurement carries every candidate predictor. Output: one JSON line
per measurement plus a summary block — paste into SCALE.md.

Usage: python tools/adjudicate_perf.py [--reps 3]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_CHILD = r"""
import json, os, sys, time
sys.path.insert(0, __REPO__)
from bench import _cpu_ticks, _spin_calibration, _force

def cgroup_throttle():
    try:
        with open("/sys/fs/cgroup/cpu/cpu.stat") as fh:
            d = dict(line.split() for line in fh)
        return int(d.get("nr_throttled", 0)), int(d.get("throttled_time", 0))
    except OSError:
        return 0, 0

def page_cache_kb():
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("Cached:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0

arm = __ARM__
from stock_streaming_data_pipeline_spark.session import get_spark
spark = get_spark("adjudicate-" + arm)
spark.range(1_000_000).selectExpr("sum(id)").collect()

preamble_s = 0.0
if arm in ("drain-preamble", "ngram"):
    from stock_streaming_data_pipeline_spark.plans import catalog
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cat = catalog.catalog()
    names = (
        ["quality_lr_classifier", "multimodal_phash_neardup",
         "dedup_minhash_lsh_xxh64", "dedup_minhash_lsh", "q9_profit_by_nation_year"]
        if arm == "drain-preamble" else []
    )
    t0 = time.time()
    for nm in names:
        for _ in range(2):
            _force(cat[nm].build(spark, sf_dir))
            spark.catalog.clearCache()
    preamble_s = round(time.time() - t0, 2)

st0, tt0 = _cpu_ticks(); th0 = cgroup_throttle(); pc0 = page_cache_kb()
spin0 = _spin_calibration()

out = {"arm": arm, "preamble_s": preamble_s}
if arm.startswith("drain"):
    import shutil, tempfile
    from stock_streaming_data_pipeline_spark.sources import streams, trades
    from stock_streaming_data_pipeline_spark.streaming.jobs import start_fanout
    rows = int(os.environ.get("ADJ_ROWS", "1000000"))
    work = tempfile.mkdtemp(prefix="adj_drain_")
    try:
        src = os.path.join(work, "src")
        trades.write_trades_dir(spark, src, files=8, n_rows=rows, cadence_ms=50)
        stream = streams.stream_trades(spark, src)
        t0 = time.time()
        fan = start_fanout(stream, os.path.join(work, "out"), available_now=True)
        fan.await_all()
        wall = time.time() - t0
        fan.stop_all()
        out.update(rows=rows, wall_s=round(wall, 3),
                   rows_per_sec=round(rows / wall, 1))
    finally:
        shutil.rmtree(work, ignore_errors=True)
else:
    from stock_streaming_data_pipeline_spark.plans import catalog
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cat = catalog.catalog()
    # warm both plans once (JIT), then measure two spaced passes
    for nm in ("dedup_ngram_jaccard", "q1_pricing_summary"):
        _force(cat[nm].build(spark, "/root/testdata/sf0.01"))
        spark.catalog.clearCache()
    samp = {}
    for _pass in range(2):
        for nm in ("dedup_ngram_jaccard", "q1_pricing_summary"):
            t0 = time.time()
            _force(cat[nm].build(spark, sf_dir))
            samp.setdefault(nm, []).append(round(time.time() - t0, 3))
            spark.catalog.clearCache()
    out.update(samples=samp,
               ngram_min=min(samp["dedup_ngram_jaccard"]),
               control_min=min(samp["q1_pricing_summary"]))

spin1 = _spin_calibration()
st1, tt1 = _cpu_ticks(); th1 = cgroup_throttle(); pc1 = page_cache_kb()
out.update(
    steal_pct=round(100.0 * (st1 - st0) / max(tt1 - tt0, 1), 3),
    spin_before=spin0, spin_after=spin1,
    nr_throttled_delta=th1[0] - th0[0],
    throttled_time_delta=th1[1] - th0[1],
    page_cache_gb=round(pc1 / 1048576, 2),
)
print("ADJ " + json.dumps(out), flush=True)
"""


def run_arm(arm: str) -> dict | None:
    code = _CHILD.replace("__REPO__", repr(REPO)).replace("__ARM__", repr(arm))
    r = subprocess.run(
        [sys.executable, "-c", code], capture_output=True, text=True,
        cwd=REPO, timeout=1800,
    )
    for line in r.stdout.splitlines():
        if line.startswith("ADJ "):
            return json.loads(line[4:])
    sys.stderr.write(r.stdout[-2000:] + r.stderr[-2000:])
    return None


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--arms", nargs="*",
                    default=["drain-fresh", "drain-preamble", "ngram"])
    args = ap.parse_args()
    results: list[dict] = []
    for rep in range(args.reps):
        for arm in args.arms:
            t0 = time.time()
            res = run_arm(arm)
            if res is None:
                print(f"# rep {rep} arm {arm}: FAILED", flush=True)
                continue
            res["rep"] = rep
            res["arm_wall_s"] = round(time.time() - t0, 1)
            results.append(res)
            print(json.dumps(res), flush=True)
    summary: dict[str, dict] = {}
    for arm in args.arms:
        rs = [r for r in results if r["arm"] == arm]
        if not rs:
            continue
        key = "rows_per_sec" if arm.startswith("drain") else "ngram_min"
        vals = [r[key] for r in rs]
        summary[arm] = {
            "n": len(rs), key: vals,
            "best": max(vals) if arm.startswith("drain") else min(vals),
            "steal_pct": [r["steal_pct"] for r in rs],
            "spin": [r["spin_before"] for r in rs],
        }
    print("SUMMARY " + json.dumps(summary), flush=True)


if __name__ == "__main__":
    main()
