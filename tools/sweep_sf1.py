"""Repeatable full-catalog differential sweep at the generated sf1 tier.

The round-7 sf1 sweep (SCALE.md) was the round's highest-value act — it
caught four real data-dependent bugs that sf0.1 plus the full pytest
suite missed (ANSI divide-by-zero, Jackson scientific-notation JSON,
DECIMAL(38) overflow, the directory-layout silent-empty streaming
replay) — but it lived in ad-hoc tmux commands. This script makes it a
one-command per-round artifact:

    python tools/gen_scale_tier.py                 # once; ~240 MB
    python tools/sweep_sf1.py --out CORRECTNESS_SF1_r8.json

Mechanics folded in from the round-7 operational notes:
- CHUNKED subprocesses (default 20 names per check_oracle run): one
  long-lived process accumulated DuckDB temp/memory across hundreds of
  oracles and was OOM-killed twice in round 7; per-chunk processes bound
  the blast radius, and --merge accumulates one artifact.
- name-filtered oracle resolution (oracle_sql(names=...)): eager
  literal-VALUES oracles (OPQ, xxh64, and the round-8 pagerank/IVF
  replacements) run real data-dependent computation at resolve time.
- DuckDB's own memory limit (80% of RAM; tables.duck_connection keeps
  it): a runaway oracle fails on its own row with a DuckDB out-of-memory
  error instead of SIGKILLing the sweep.
- machine-readable skip reasons: check_oracle --skip-oos records the
  documented ORACLE_OUT_OF_SCOPE rows (Spark side still runs) and
  rows-only queries record err="no_oracle" — the artifact enumerates
  every non-compared row and why, replacing round 7's prose list.
- full chunk logs under .sweeps/ (progress-bar \r segments hid failure
  detail in round 7's tail-filtered background runs).

Resumable: an interrupted sweep reruns only chunks whose names are not
yet all present in the artifact (--resume).
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dir", default=".scaletier/sf1")
    ap.add_argument("--out", default="CORRECTNESS_SF1.json")
    ap.add_argument("--chunk", type=int, default=20)
    ap.add_argument(
        "--resume",
        action="store_true",
        help="skip chunks whose names already all have rows in --out",
    )
    ap.add_argument("names", nargs="*", help="subset (default: full catalog)")
    args = ap.parse_args()

    if not os.path.isdir(args.dir):
        print(
            f"tier directory {args.dir!r} missing — generate it first: "
            "python tools/gen_scale_tier.py",
            file=sys.stderr,
        )
        return 2

    from stock_streaming_data_pipeline_spark.plans.catalog import queries

    names = args.names or list(queries())
    done: set[str] = set()
    if args.resume and os.path.exists(args.out):
        with open(args.out) as fh:
            done = set(json.load(fh))

    os.makedirs(".sweeps", exist_ok=True)
    chunks = [names[i : i + args.chunk] for i in range(0, len(names), args.chunk)]
    t0 = time.time()
    rc_any = 0
    for ci, chunk in enumerate(chunks):
        todo = [n for n in chunk if n not in done]
        if not todo:
            print(f"chunk {ci + 1}/{len(chunks)}: already in artifact, skipping")
            continue
        log = f".sweeps/sf1_chunk_{ci:02d}.log"
        cmd = [
            sys.executable,
            "tools/check_oracle.py",
            "--dir",
            args.dir,
            "--skip-oos",
            "--json",
            args.out,
            "--merge",
            *todo,
        ]
        print(
            f"chunk {ci + 1}/{len(chunks)} ({len(todo)} names) -> {log} "
            f"[t+{time.time() - t0:.0f}s]",
            flush=True,
        )
        with open(log, "w") as fh:
            rc = subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT).returncode
        if rc != 0:
            rc_any = 1
            print(f"  chunk {ci + 1} rc={rc} — see {log}", flush=True)

    with open(args.out) as fh:
        report = json.load(fh)
    green = [
        n
        for n, r in report.items()
        if r.get("rows_match") and r.get("schema_match") and r.get("hash_match")
    ]
    oos = {n: r["err"] for n, r in report.items() if str(r.get("err", "")).startswith("oracle_oos")}
    rows_only = [n for n, r in report.items() if r.get("err") == "no_oracle"]
    red = [
        n
        for n, r in report.items()
        if n not in green and n not in oos and n not in rows_only
    ]
    print(
        f"\nsweep: {len(green)} green, {len(oos)} oracle-out-of-scope, "
        f"{len(rows_only)} rows-only, {len(red)} RED of {len(report)} "
        f"({time.time() - t0:.0f}s)"
    )
    for n in red:
        print(f"  RED {n}: {report[n]}")
    for n, why in oos.items():
        print(f"  OOS {n}: {why[:100]}")
    return 1 if (red or rc_any) else 0


if __name__ == "__main__":
    raise SystemExit(main())
