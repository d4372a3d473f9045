"""Run one workload over several seeds and report each end-to-end metric's
median and run-to-run spread, (Q3 - Q1) / median with the quartiles of
``statistics.quantiles(n=4)``, against the bound in BENCHMARK.json.

    python3 perfbench/spread.py --workload fanout --seeds 1-10

A spread at or above a third of its bound is flagged (``setup_s`` is only
reported: its bound applies to the median between sets of runs).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

import metrics

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec: str) -> list[int]:
    if "-" in spec:
        lo, hi = spec.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",")]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    values: dict[str, list[float]] = {m["name"]: [] for m in bench["end_to_end"]}
    for seed in seeds(args.seeds):
        cmd = [*bench["command"], "--workload", args.workload, "--seed", str(seed),
               "--seconds", str(bench["run_seconds"]), "--trace", "0"]
        t0 = time.time()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=180)
        wall = time.time() - t0
        if proc.returncode != 0:
            print(proc.stderr[-3000:], file=sys.stderr)
            print(f"seed {seed}: exit {proc.returncode}")
            return 1
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        for name in values:
            values[name].append(result["metrics"][name]["value"])
        row = "  ".join(f"{n}={values[n][-1]:.4g}" for n in values)
        print(f"seed {seed}: {wall:.0f}s correct={result['correct']} "
              f"failed={result['failed']}/{result['attempted']}  {row}", flush=True)
    for m in bench["end_to_end"]:
        v = values[m["name"]]
        spread = metrics.quartile_spread(v) if len(v) >= 2 else float("nan")
        flag = "" if m["name"] == "setup_s" or spread < m["bound"] / 3 else "  <-- over bound/3"
        print(f"{m['name']:<18} median {metrics.median(v):>12.4f} {m['unit']:<4} "
              f"spread {spread:.4f} (bound {m['bound']}){flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
