"""Empirical hot-key skew probe (round-6 verdict item #3).

Every salted operator in the repo claims "hot keys salt like any skewed
join", but the scale tiers' keys are uniform, so the claim was design-
only. This probe MEASURES it on a zipfian tier it generates itself:
N key-shifted copies of the sf0.1 events table with 80% of rows
remapped onto ONE user_id (deterministic — remap by event_id modulus,
per-copy microsecond jitter keeps timestamps distinct; no RNG).

Probes, each min-of-two passes after a warm-up:

1. WINDOW SKEW — `running_sum` (Window.partitionBy(user_id): the hot
   key's rows all pass through one task; AQE cannot split a window) vs
   `running_sum_salted` (two-phase segmented prefix sum: local cumsum
   per (key, day) + offset join). The measured delta is the serialized
   hot task vs the spread form.

2. JOIN SKEW — zipf events sort-merge-joined to a per-user dim (synthetic
   payload; broadcast disabled so the shuffle join actually happens) with
   `spark.sql.adaptive.skewJoin.enabled` on vs off. The skew thresholds
   are lowered so the hot partition qualifies at this probe's size (the
   mechanism under test is the split, not the 256 MB default constant,
   which only matters at production scale); the AQE final plan is
   scanned for the `skew=true` marker to prove the split actually
   happened — wall-clock on local[32] understates the win because every
   "straggler" still runs on the same box.

Round-7 additions (verdict item #6 — the join-shaped operators that
claim hot-key safety in their docstrings):

3. INTERVAL-JOIN SKEW — the attribution_linear shape (equi on the hot
   key + time-range residual inside the sort-merge join), AQE skew
   split on vs off, `skew=true` marker required in the final plan.

Writes one JSON object (skew_probe key) suitable for merging into
SCALING_r{N}.json; numbers are quoted in SCALE.md.

Usage: python tools/skew_probe.py [--out SKEW_r7.json] [--copies 60]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, ".")

SRC = "/root/testdata/sf0.1/events.parquet"
ZIPF_DIR = ".scaletier/zipf_events"
HOT_FRACTION = 8  # event_id % 10 < 8 -> 80% of rows on the hot key


def gen_zipf(copies: int) -> None:
    import duckdb

    os.makedirs(ZIPF_DIR, exist_ok=True)
    con = duckdb.connect()
    for i in range(copies):
        # 80% of rows land on user_id 0; the rest keep per-copy shifted
        # keys. Per-copy +i microsecond jitter keeps (user_id, ts) unique
        # across copies so window order stays deterministic.
        con.execute(
            f"""
            COPY (
              SELECT event_id + {i * 100_000} AS event_id,
                     ts + to_microseconds({i}) AS ts,
                     CASE WHEN event_id % 10 < {HOT_FRACTION} THEN 0
                          ELSE user_id + {i * 1_500} END AS user_id,
                     event_type, value, props
              FROM read_parquet('{SRC}')
            ) TO '{ZIPF_DIR}/part-{i:02d}.parquet'
            (FORMAT parquet, ROW_GROUP_SIZE 32768)
            """
        )


def main() -> int:
    out_path = "SKEW_r7.json"
    copies = 60  # 6M rows, 4.8M on the hot key: the single hot window
    # task must dominate the job (at 20 copies the scan+shuffle overhead
    # hid it and plain-vs-salted measured even)
    args = sys.argv[1:]
    while args:
        if args[0] == "--out":
            out_path = args[1]
            args = args[2:]
        elif args[0] == "--copies":
            copies = int(args[1])
            args = args[2:]
        else:
            raise SystemExit(f"unknown arg {args[0]}")

    if not os.path.isdir(ZIPF_DIR) or len(os.listdir(ZIPF_DIR)) != copies:
        import shutil

        shutil.rmtree(ZIPF_DIR, ignore_errors=True)
        gen_zipf(copies)

    from pyspark.sql import functions as F

    from stock_streaming_data_pipeline_spark.operators.running import (
        running_sum,
        running_sum_salted,
    )
    from stock_streaming_data_pipeline_spark.session import get_spark

    spark = get_spark("skew_probe")
    ev = spark.read.parquet(ZIPF_DIR).select("event_id", "ts", "user_id", "value")
    n = ev.count()
    hot = ev.filter(F.col("user_id") == 0).count()
    report: dict = {
        "rows": n,
        "hot_key_rows": hot,
        "hot_fraction": round(hot / n, 3),
        "copies": copies,
    }

    def timed(build, passes: int = 2) -> float:
        best = float("inf")
        for _ in range(passes):
            t0 = time.time()
            build().write.format("noop").mode("overwrite").save()
            best = min(best, time.time() - t0)
        return round(best, 3)

    # ---- window skew: plain vs salted running sum --------------------
    def plain():
        return running_sum(ev, key="user_id", ts="ts", value="value", out="cum")

    def salted():
        return running_sum_salted(ev, key="user_id", ts="ts", value="value", out="cum")

    timed(plain, passes=1)  # warm-up (JIT) — discarded
    report["window_plain_sec"] = timed(plain)
    report["window_salted_sec"] = timed(salted)
    report["window_speedup"] = round(
        report["window_plain_sec"] / max(report["window_salted_sec"], 1e-9), 2
    )

    # ---- join skew: AQE skew-split on vs off -------------------------
    dim = (
        ev.select("user_id")
        .distinct()
        .withColumn("segment", F.col("user_id") % 7)
    )
    dim.write.mode("overwrite").parquet(".scaletier/zipf_dim.parquet")
    dimr = spark.read.parquet(".scaletier/zipf_dim.parquet")

    def skew_join():
        return ev.join(dimr, "user_id").groupBy("segment").agg(
            F.count(F.lit(1)).alias("n"), F.sum("value").alias("sv")
        )

    def run_join(skew_enabled: bool) -> tuple[float, bool]:
        conf = spark.conf
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set("spark.sql.adaptive.skewJoin.enabled", str(skew_enabled).lower())
        # qualify the hot partition at probe size (mechanism under test is
        # the split; the production default 256 MB only matters at 100 TB)
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "4m")
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "2m")
        conf.set(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m"
        )
        try:
            best, saw_skew = float("inf"), False
            for _ in range(2):
                df = skew_join()
                t0 = time.time()
                # collect, not noop-write: the result is 7 aggregate rows
                # (driver-safe), and collect runs on THIS DataFrame's own
                # query execution, so executedPlan() below is the AQE
                # final plan that actually ran (a write action builds a
                # separate execution whose plan never finalizes —
                # inspecting it always shows isFinalPlan=false, no skew
                # markers).
                df.collect()
                best = min(best, time.time() - t0)
                plan = df._jdf.queryExecution().executedPlan().toString()
                saw_skew = saw_skew or ("skew=true" in plan)
            return round(best, 3), saw_skew
        finally:
            conf.unset("spark.sql.autoBroadcastJoinThreshold")
            conf.unset("spark.sql.adaptive.skewJoin.enabled")
            conf.unset(
                "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"
            )
            conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
            conf.unset("spark.sql.adaptive.coalescePartitions.minPartitionSize")

    run_join(False)  # warm-up
    report["join_skew_off_sec"], _ = run_join(False)
    report["join_skew_on_sec"], report["join_skew_split_in_plan"] = run_join(True)
    report["join_speedup"] = round(
        report["join_skew_off_sec"] / max(report["join_skew_on_sec"], 1e-9), 2
    )

    # ---- interval-join skew: the attribution_linear shape ------------
    # equi on the zipf key + time-range residual inside the sort-merge
    # join; AQE skew split on/off. Purchases are a sampled slice so the
    # probe measures the HOT TOUCH side's shuffle partition, not an
    # unbounded pair explosion (a 4.8M-touch user against 1h windows).
    purch = ev.filter(F.col("event_id") % 6000 == 0).select(
        F.col("event_id").alias("pid"),
        F.col("user_id").alias("puser"),
        # zipf tier parquet surfaces ts as TIMESTAMP_NTZ — cast before
        # unix_micros (Spark 4 rejects NTZ input)
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_p"),
    )
    purch.write.mode("overwrite").parquet(".scaletier/zipf_purch.parquet")
    purchr = spark.read.parquet(".scaletier/zipf_purch.parquet")
    touches = ev.select(
        F.col("user_id").alias("tuser"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("ts_t"),
    )
    hour_us = 3_600_000_000

    def interval_join():
        return (
            touches.join(
                purchr,
                (F.col("tuser") == F.col("puser"))
                & (F.col("ts_t") < F.col("ts_p"))
                & (F.col("ts_t") >= F.col("ts_p") - F.lit(hour_us)),
            )
            .groupBy("pid")
            .agg(F.count(F.lit(1)).alias("n"))
            .groupBy()
            .agg(F.count(F.lit(1)).alias("np"), F.sum("n").alias("pairs"))
        )

    def run_interval(skew_enabled: bool) -> tuple[float, bool]:
        conf = spark.conf
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set("spark.sql.adaptive.skewJoin.enabled", str(skew_enabled).lower())
        conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "4m")
        conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "2m")
        conf.set("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1m")
        try:
            best, saw_skew = float("inf"), False
            for _ in range(2):
                df = interval_join()
                t0 = time.time()
                df.collect()
                best = min(best, time.time() - t0)
                plan = df._jdf.queryExecution().executedPlan().toString()
                saw_skew = saw_skew or ("skew=true" in plan)
            return round(best, 3), saw_skew
        finally:
            conf.unset("spark.sql.autoBroadcastJoinThreshold")
            conf.unset("spark.sql.adaptive.skewJoin.enabled")
            conf.unset("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes")
            conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
            conf.unset("spark.sql.adaptive.coalescePartitions.minPartitionSize")

    run_interval(False)  # warm-up
    report["interval_skew_off_sec"], _ = run_interval(False)
    report["interval_skew_on_sec"], report["interval_skew_split_in_plan"] = run_interval(True)
    report["interval_speedup"] = round(
        report["interval_skew_off_sec"] / max(report["interval_skew_on_sec"], 1e-9), 2
    )

    # correctness guard: salted == plain on this skewed data (exact ints)
    cents = (F.col("value") * 100).cast("long")
    a = running_sum(
        ev.withColumn("c", cents), key="user_id", ts="ts", value="c", out="cum"
    )
    b = running_sum_salted(
        ev.withColumn("c", cents), key="user_id", ts="ts", value="c", out="cum"
    )
    diff = (
        a.select("event_id", "cum")
        .join(b.select("event_id", F.col("cum").alias("cum2")), "event_id")
        .filter(F.col("cum") != F.col("cum2"))
        .count()
    )
    report["salted_equals_plain"] = diff == 0

    with open(out_path, "w") as fh:
        json.dump({"skew_probe": report}, fh, indent=2)
    print(json.dumps({"skew_probe": report}))
    return 0 if report["salted_equals_plain"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
