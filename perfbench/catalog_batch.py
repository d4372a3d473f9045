"""The catalog_batch workload: the 10 bench-tagged catalog queries of the
relational and stock plan modules (``catalog.bench_queries``) over the
tables in ``perfbench/data/sf0.001``.

They run once in the fresh session (the cold pass, in an order the seed
sets), once more to warm up, then in measured passes for the run's
``seconds``, at least two. The 7 LLM-data bench
queries would triple a run's length, so they run only in the traced run,
once after the measured passes, for their per-layer counters. Each query
is forced by collecting its result, and every collected result is compared
with the query's DuckDB oracle (``catalog.oracle_sql``) outside the timed
region.
"""

from __future__ import annotations

import os
import random
import time

import numpy as np
import pandas as pd

import metrics

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.001")
LLM_MODULE = "stock_streaming_data_pipeline_spark.plans.llmdata"
# The cheapest relational queries, whose per-query counters are left out
# to keep the per-layer list within 128 metrics.
UNCOUNTED = ("cumulative_volume", "tumbling_volume_daily")


def oracle_frames(sf_dir: str, names: list[str]) -> dict[str, pd.DataFrame]:
    import duckdb

    from stock_streaming_data_pipeline_spark.plans.catalog import oracle_sql
    from stock_streaming_data_pipeline_spark.tables import TABLES, duck_glob

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{duck_glob(sf_dir, t)}')")
        return {n: con.execute(sql).df() for n, sql in oracle_sql(sf_dir, names=names).items()}
    finally:
        con.close()


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        kind = df[c].dtype.kind
        if kind in "iu":
            df[c] = df[c].astype("int64")
        elif kind == "f":
            df[c] = df[c].astype("float64")
        else:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)


def compare(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """Row count, columns and order-insensitive values; None when equal."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    g, w = _normalize(got), _normalize(want)
    for c in g.columns:
        a, b = g[c].to_numpy(), w[c].to_numpy()
        same = np.array_equal(a, b, equal_nan=True) if a.dtype.kind == "f" else (a == b).all()
        if not same:
            return f"values differ in {c}"
    return None


class JobCounter:
    """Spark jobs, tasks and single-task stages of one job group, read
    from the status tracker (traced run only)."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()

    def count(self, group: str) -> dict[str, int]:
        jobs = self.tracker.getJobIdsForGroup(group)
        stages = []
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            stages += list(info.stageIds) if info else []
        tasks = []
        for s in stages:
            info = self.tracker.getStageInfo(s)
            if info is not None:
                tasks.append(info.numTasks)
        return {
            "jobs": len(jobs),
            "tasks": sum(tasks),
            "single_task_stages": sum(1 for t in tasks if t == 1),
        }


def run(ctx) -> dict:
    from stock_streaming_data_pipeline_spark.plans.catalog import bench_queries

    spark, rec = ctx.spark, ctx.rec
    builders = bench_queries()
    order = sorted(builders)
    random.Random(ctx.seed).shuffle(order)
    measured = [n for n in order if builders[n].__module__ != LLM_MODULE]
    llm = [n for n in order if n not in measured]
    counter = JobCounter(spark) if rec.enabled else None

    passes: list[dict[str, dict]] = []
    pass_cpu_s: list[float] = []
    results: list[tuple[int, str, object]] = []  # (pass, query, frame or error)

    def one_pass(p: int, names: list[str]) -> None:
        rows = {}
        c0 = ctx.cpu()
        for name in names:
            req = f"{name}#pass{p}"
            group = f"perfbench-{p}-{name}"
            if counter:
                spark.sparkContext.setJobGroup(group, req)
            t0 = time.perf_counter()
            with rec.span("query", req) as parent:
                try:
                    with rec.span("build", req, parent):
                        df = builders[name](spark, DATA)
                    t1 = time.perf_counter()
                    with rec.span("collect", req, parent):
                        out = df.toPandas()
                except Exception as e:  # a failing query is a failed operation
                    out = f"{type(e).__name__}: {str(e)[:200]}"
                    t1 = t0
            rows[name] = {"wall_s": time.perf_counter() - t0, "build_s": t1 - t0}
            if counter:
                rows[name].update(counter.count(group))
            results.append((p, name, out))
        pass_cpu_s.append(ctx.cpu() - c0)
        if counter:
            spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        passes.append(rows)

    t_cold = time.perf_counter()
    one_pass(0, measured)
    cold_s = time.perf_counter() - t_cold
    # The first warm pass still spends about a tenth more CPU than the next
    # (JIT compilation), so it is an unmeasured warm-up.
    one_pass(1, measured)
    warm_t0 = time.perf_counter()
    while len(passes) < 4 or time.perf_counter() - warm_t0 < ctx.seconds:
        one_pass(len(passes), measured)
    warm_s = time.perf_counter() - warm_t0
    warm = passes[2:]
    if rec.enabled:  # the LLM-data queries, once, for their per-layer counters
        t_llm = time.perf_counter()
        one_pass(len(passes), llm)
        llm_s = time.perf_counter() - t_llm

    # checks, outside the timed region
    ran = list(dict.fromkeys(name for _, name, _ in results))
    oracles = oracle_frames(DATA, ran)
    checks: dict[str, str] = {}
    failed = 0
    for p, name, out in results:
        if isinstance(out, str):
            problem = out
        elif name in oracles:
            problem = compare(out, oracles[name])
        else:
            problem = None if len(out) else "no oracle and no rows"
        if problem:
            failed += 1
            checks[f"{name}#pass{p}"] = problem
    for name in ran:
        checks.setdefault(name, "ok" if name in oracles else "ok (rows only, no oracle)")

    warm_cpu = pass_cpu_s[2 : 2 + len(warm)]
    executions = len(warm) * len(measured)
    e2e = {
        "cold_cpu_s": pass_cpu_s[0],
        "warm_cpu_s": metrics.median(warm_cpu),
        "op_cpu_ms": sum(warm_cpu) / executions * 1000,
    }
    wall = {
        "cold_s": cold_s,
        "catalog_relational_s": metrics.median(sum(v["wall_s"] for v in r.values()) for r in warm),
    }
    detail = {
        "passes": len(passes),
        "order": measured,
        "pass_cpu_s": pass_cpu_s,
        "warm_pass_s": [sum(v["wall_s"] for v in r.values()) for r in warm],
        "warm_queries_per_s": executions / warm_s,
    }
    layers: dict[str, float] = {}
    if rec.enabled:
        wall["catalog_llm_s"] = llm_s
        for name in sorted(builders):
            if name in UNCOUNTED:
                continue
            runs = [r[name] for r in passes[2:] if name in r]
            for field in ("wall_s", "build_s"):
                layers[f"catalog.{name}.{field}"] = metrics.median(r[field] for r in runs)
            for field in ("jobs", "tasks", "single_task_stages"):
                layers[f"catalog.{name}.{field}"] = runs[-1][field]
        own = metrics.self_times(rec.spans())
        gaps = []
        for s in rec.spans():
            if s.name == "query":
                kids = [k for k in rec.spans() if k.parent == s.id or k.id == s.id]
                gaps.append(abs(sum(own[k.id] for k in kids) - (s.end - s.start)) / (s.end - s.start))
        detail["selftime_gap_max"] = max(gaps)
    return {
        "e2e": e2e,
        "wall": wall,
        "layers": layers,
        "attempted": len(results),
        "failed": failed,
        "checks": checks,
        "detail": detail,
    }
