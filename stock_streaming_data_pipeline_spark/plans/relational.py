"""General relational engine surface over the TPC-H-ish tables.

The reference's Spark job has zero joins (SURVEY.md §2.4) — this module is
the engine surface the driver's oracle harness exercises instead: equi /
broadcast / semi / anti joins, multi-way join trees, grouped and windowed
aggregation, rollup, pivot, set ops, sessionization.

Determinism conventions (see plans/catalog.py): money sums run through
DECIMAL(18,4) casts (exact, partitioning-independent) and surface as DOUBLE;
averages are exact-sum / count divisions; timestamps surface as epoch ints.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from stock_streaming_data_pipeline_spark.functions.scalars import (
    dec38,
    epoch_us,
    half_away,
    half_up,
    money,
)
from stock_streaming_data_pipeline_spark.operators import profile
from stock_streaming_data_pipeline_spark.plans.catalog import register
from stock_streaming_data_pipeline_spark.tables import duck_connection, load_table, values_sql


def _dsum(col) -> F.Column:
    """Exact decimal sum surfaced as double, bit-reproducible in both
    engines: the sum is reduced to DECIMAL(18,4) first so the scaled
    integer fits in 53 bits — the final double cast then rounds the same
    rational in both engines (a high-scale decimal cast straight to double
    rounds twice in DuckDB and once in the JVM, diverging by an ulp)."""
    return F.sum(money(col)).cast("decimal(18,4)").cast("double")


def _dsum_expr(expr: F.Column) -> F.Column:
    """Same double-surfacing rule for an arbitrary exact-decimal product."""
    return F.sum(expr).cast("decimal(18,4)").cast("double")


# SQL fragment mirroring _dsum for the DuckDB side.
def _sql_dsum(expr: str) -> str:
    return f"CAST(round(sum(CAST({expr} AS DECIMAL(18,4))), 4) AS DOUBLE)"


_REVENUE = "CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1 - l_discount AS DECIMAL(18,4))"


@register(
    "q1_pricing_summary",
    tags=("A1", "A4", "A5", "P4", "C10"),
    bench=True,
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       {_sql_dsum('l_quantity')} AS sum_qty,
       {_sql_dsum('l_extendedprice')} AS sum_base_price,
       CAST(round(sum({_REVENUE}), 4) AS DOUBLE) AS sum_disc_price,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                * CAST((1 - l_discount) * (1 + l_tax) AS DECIMAL(18,8))), 4) AS DOUBLE) AS sum_charge,
       {_sql_dsum('l_quantity')} / count(*) AS avg_qty,
       {_sql_dsum('l_extendedprice')} / count(*) AS avg_price,
       {_sql_dsum('l_discount')} / count(*) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
""",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary: the canonical grouped-agg scan.
    Catalyst plans partial+final HashAggregate; the shipdate filter is
    pushed to the parquet scan."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp")
    )
    disc_price = money(F.col("l_extendedprice")) * money(1 - F.col("l_discount"))
    # (1-d)*(1+t) has <= 4 decimals exactly; one DECIMAL(18,8) cast keeps the
    # three-factor product inside precision 38 (no silent scale truncation).
    charge = money(F.col("l_extendedprice")) * (
        (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
    ).cast("decimal(18,8)")
    qty_sum = F.sum(money(F.col("l_quantity"))).cast("double")
    price_sum = F.sum(money(F.col("l_extendedprice"))).cast("double")
    disc_sum = F.sum(money(F.col("l_discount"))).cast("double")
    n = F.count(F.lit(1))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        qty_sum.alias("sum_qty"),
        price_sum.alias("sum_base_price"),
        _dsum_expr(disc_price).alias("sum_disc_price"),
        _dsum_expr(charge).alias("sum_charge"),
        (qty_sum / n).alias("avg_qty"),
        (price_sum / n).alias("avg_price"),
        (disc_sum / n).alias("avg_disc"),
        n.alias("count_order"),
    )


@register(
    "q3_top_unshipped_orders",
    tags=("J1", "A1", "O2"),
    bench=True,
    oracle=f"""
SELECT l_orderkey,
       CAST(round(sum({_REVENUE}), 4) AS DOUBLE) AS revenue,
       epoch_us(o_orderdate) AS o_orderdate_us,
       o_orderpriority
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
  AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
""",
)
def q3_top_unshipped_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped 3-way join + grouped agg + deterministic top-k.
    lineitem⋈orders is the one real shuffle. customer carries NO broadcast
    hint: it is SF-scaled (150k×SF rows), and an explicit hint is honored
    by Catalyst regardless of size — at cluster scale it would OOM the
    driver. Stats-driven auto-broadcast (AQE +
    autoBroadcastJoinThreshold) picks broadcast when the filtered side is
    actually small and degrades to shuffle join when it is not."""
    cutoff = F.lit("1998-03-15 00:00:00").cast("timestamp")
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_orderdate") < cutoff)
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > cutoff)
    revenue = money(F.col("l_extendedprice")) * money(1 - F.col("l_discount"))
    return (
        li.join(
            orders.join(
                cust, orders.o_custkey == cust.c_custkey, "inner"
            ).select("o_orderkey", "o_orderdate", "o_orderpriority"),
            li.l_orderkey == F.col("o_orderkey"),
            "inner",
        )
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(_dsum_expr(revenue).alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            epoch_us("o_orderdate").alias("o_orderdate_us"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@register(
    "q5_region_revenue",
    tags=("J1", "J2", "A1"),
    bench=True,
    oracle=f"""
SELECT n_name, CAST(round(sum({_REVENUE}), 4) AS DOUBLE) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
GROUP BY n_name
""",
)
def q5_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped 6-way join: fact-fact shuffle join on orderkey.
    Only the genuinely bounded dimensions (nation: 25 rows, region: 5)
    carry broadcast hints. customer/supplier are SF-scaled, so their join
    strategy is left to stats-driven auto-broadcast/AQE — an explicit
    hint would be honored unconditionally and OOM the driver at cluster
    scale."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    revenue = money(F.col("l_extendedprice")) * money(1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            supp,
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(_dsum_expr(revenue).alias("revenue"))
    )


@register(
    "top_parts_per_brand",
    tags=("W3", "O1", "O2"),
    oracle="""
SELECT p_brand, p_partkey, p_retailprice, rn
FROM (
  SELECT p_brand, p_partkey, p_retailprice,
         row_number() OVER (PARTITION BY p_brand
                            ORDER BY p_retailprice DESC, p_partkey) AS rn
  FROM part
)
WHERE rn <= 3
""",
)
def top_parts_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group via ranked window — deterministic tie-break on the
    key column."""
    part = load_table(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(
        F.desc("p_retailprice"), F.asc("p_partkey")
    )
    return (
        part.withColumn("rn", F.row_number().over(w).cast("long"))
        .filter(F.col("rn") <= 3)
        .select("p_brand", "p_partkey", "p_retailprice", "rn")
    )


@register(
    "null_profile_left_join",
    tags=("A6", "J1"),
    oracle="""
SELECT count(*) AS n_rows,
       CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_o_orderkey,
       CAST(sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS nulls_c_custkey
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
""",
)
def null_profile_left_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-count data-quality profile (clean_data.ipynb cells 1,6,10) over
    a left join that genuinely produces nulls."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    joined = cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
    return profile.null_profile(joined, cols=["o_orderkey", "c_custkey"])


@register(
    "union_distinct_keys",
    tags=("U1",),
    oracle="""
SELECT DISTINCT key FROM (
  SELECT user_id AS key FROM events
  UNION ALL
  SELECT c_custkey AS key FROM customer
)
""",
)
def union_distinct_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union + distinct (the consumer's pd.concat accumulation, kafka.py:40,
    as a set operation)."""
    ev = load_table(spark, sf_dir, "events").select(F.col("user_id").alias("key"))
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("key")
    )
    return ev.unionByName(cust).distinct()


@register(
    "pivot_order_status",
    tags=("A1",),
    oracle="""
SELECT o_orderpriority,
       count(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
       count(*) FILTER (WHERE o_orderstatus = 'F') AS n_filled,
       count(*) FILTER (WHERE o_orderstatus = 'P') AS n_partial
FROM orders
GROUP BY o_orderpriority
""",
)
def pivot_order_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (wide counts per status) — single-pass conditional aggregation
    after Catalyst rewrites the pivot."""
    orders = load_table(spark, sf_dir, "orders")
    out = (
        orders.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["O", "F", "P"])
        .count()
    )
    return out.select(
        "o_orderpriority",
        F.coalesce(F.col("O"), F.lit(0)).alias("n_open"),
        F.coalesce(F.col("F"), F.lit(0)).alias("n_filled"),
        F.coalesce(F.col("P"), F.lit(0)).alias("n_partial"),
    )


@register(
    "rollup_returns",
    tags=("A1", "A4"),
    oracle=f"""
SELECT l_returnflag, l_linestatus,
       count(*) AS n_items,
       {_sql_dsum('l_quantity')} AS sum_qty
FROM lineitem
GROUP BY ROLLUP(l_returnflag, l_linestatus)
""",
)
def rollup_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup totals (subtotal + grand-total rows)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n_items"), _dsum(F.col("l_quantity")).alias("sum_qty")
    )


@register(
    "distinct_counts",
    tags=("A4",),
    oracle="""
SELECT count(*) AS n_rows,
       count(DISTINCT l_partkey) AS n_parts,
       count(DISTINCT l_suppkey) AS n_suppliers,
       count(DISTINCT l_orderkey) AS n_orders
FROM lineitem
""",
)
def distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact multi-column distinct aggregation (Catalyst expands to a
    single-pass partial-distinct plan)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.countDistinct("l_orderkey").alias("n_orders"),
    )


@register(
    "grouping_sets_returns",
    tags=("A1", "A4"),
    oracle=f"""
SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
       coalesce(l_linestatus, 'ALL') AS l_linestatus,
       count(*) AS n_items,
       {_sql_dsum('l_quantity')} AS sum_qty
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
""",
)
def grouping_sets_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form behind rollup/cube): the
    two single-column marginals plus the grand total in ONE pass over the
    fact table — at 100 TB this replaces three separate scans+aggs with
    one scan feeding an expand+partial-agg pipeline."""
    li = load_table(spark, sf_dir, "lineitem")
    out = li.groupingSets(
        [["l_returnflag"], ["l_linestatus"], []], "l_returnflag", "l_linestatus"
    ).agg(
        F.count(F.lit(1)).alias("n_items"),
        _dsum(F.col("l_quantity")).alias("sum_qty"),
    )
    return out.select(
        F.coalesce(F.col("l_returnflag"), F.lit("ALL")).alias("l_returnflag"),
        F.coalesce(F.col("l_linestatus"), F.lit("ALL")).alias("l_linestatus"),
        "n_items",
        "sum_qty",
    )


def _sql_approx_distinct_profile_expected(sf_dir: str) -> str:
    """Literal-VALUES oracle for ``approx_distinct_profile``. HLL++
    register merge is MAX (commutative/associative), so Spark's estimate
    is a pure function of each group's value SET — partitioning-
    independent, hence replayable: recompute the registers and Spark's
    estimator in numpy (functions/hllpp_ref.py, pinned bit-exact in
    tests/test_sketches.py) and freeze the expected counts. The exact
    ``n_rows`` rides along as plain arithmetic. Cost is one duckdb
    column scan + ~18M vectorized hashes at the sf1 sweep tier."""
    import numpy as np

    from stock_streaming_data_pipeline_spark.functions.hllpp_ref import (
        approx_count_distinct_long,
    )

    con = duck_connection(sf_dir)
    tbl = con.execute(
        "SELECT l_returnflag, l_partkey, l_suppkey, l_orderkey FROM lineitem"
    ).fetchnumpy()
    con.close()
    flags = np.asarray(tbl["l_returnflag"], dtype=object)
    rows = []
    for flag in sorted(set(flags.tolist())):
        sel = flags == flag
        nds = [
            approx_count_distinct_long(
                np.asarray(tbl[c], dtype=np.int64)[sel], rsd=0.01
            )
            for c in ("l_partkey", "l_suppkey", "l_orderkey")
        ]
        rows.append((flag, *nds, int(sel.sum())))
    return values_sql(
        "l_returnflag VARCHAR, nd_parts BIGINT, nd_suppliers BIGINT,"
        " nd_orders BIGINT, n_rows BIGINT",
        rows,
    )


@register(
    "approx_distinct_profile",
    tags=("A4",),
    # Oracle: HLL++ merge is MAX (order-independent), so the estimate is
    # replayable off-engine — a numpy replica of Spark's registers +
    # estimator (functions/hllpp_ref.py, bit-exact-pinned) freezes the
    # expected counts as VALUES. tests/test_sketches.py additionally
    # bounds the relative error against the exact distinct counts.
    oracle_fn=_sql_approx_distinct_profile_expected,
)
def approx_distinct_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-tier distinct counts: HyperLogLog++ per group. The 100 TB
    path for cardinality profiling — exact COUNT(DISTINCT) shuffles every
    distinct value; the sketch is a fixed-size register array that merges
    map-side, so the shuffle carries kilobytes per group regardless of
    input size. The exact twin is ``distinct_counts``."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", rsd=0.01).alias("nd_parts"),
        F.approx_count_distinct("l_suppkey", rsd=0.01).alias("nd_suppliers"),
        F.approx_count_distinct("l_orderkey", rsd=0.01).alias("nd_orders"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@register(
    "approx_quantile_sketch",
    tags=("A1", "A5"),
    # No oracle — MEASURED, not assumed (round-8 investigation): the GK
    # summary's compression points depend on how rows were batched into
    # partials, so the returned element is a function of the PARTITIONING
    # above the raw domain (tests/test_sketches.py::
    # test_gk_quantile_sketch_is_order_dependent_hence_rows_only pins a
    # 32-vs-3-partition divergence), and the raw-exact boundary itself
    # shifts with partitioning, so no crisp validity guard exists either.
    # Contrast approx_distinct_profile, whose MAX register merge made an
    # exact replica oracle possible. Rank-error quality is bounded by
    # tests/test_sketches.py against the exact percentiles.
)
def approx_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-tier percentiles per key (Greenwald-Khanna style summary).
    Exact percentiles need a full sort (or percentile()'s value buffer) per
    group; the sketch keeps a bounded summary that merges map-side — the
    form that holds up on a 100 TB column. Exact twin:
    ``percentiles_by_group``."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.expr("approx_percentile(value, 0.25, 10000)").alias("p25"),
        F.expr("approx_percentile(value, 0.50, 10000)").alias("p50"),
        F.expr("approx_percentile(value, 0.75, 10000)").alias("p75"),
        F.expr("approx_percentile(value, 0.95, 10000)").alias("p95"),
    )


@register(
    "sessionize_users",
    tags=("W1", "W4", "A1"),
    oracle="""
WITH gaps AS (
  SELECT user_id, ts, epoch_us(ts) AS ts_us,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 3600000000
                OR lag(ts) OVER w IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
numbered AS (
  SELECT user_id, ts_us,
         CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us
                                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS session_num
  FROM gaps
)
SELECT user_id, session_num,
       min(ts_us) AS session_start_us,
       max(ts_us) AS session_end_us,
       count(*) AS n_events
FROM numbered
GROUP BY user_id, session_num
""",
)
def sessionize_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: lag-gap detection + running session counter +
    per-session rollup (lead/lag W4 surface) — one shuffle on the key."""
    ev = load_table(spark, sf_dir, "events").withColumn("ts_us", epoch_us("ts"))
    w = Window.partitionBy("user_id").orderBy("ts")
    run = Window.partitionBy("user_id").orderBy("ts_us").rowsBetween(
        Window.unboundedPreceding, 0
    )
    gap = F.col("ts_us") - F.lag("ts_us").over(w)
    new_session = (
        F.when(gap > 3_600_000_000, 1)
        .when(F.lag("ts_us").over(w).isNull(), 1)
        .otherwise(0)
    )
    return (
        ev.withColumn("new_session", new_session)
        .withColumn("session_num", F.sum("new_session").over(run))
        .groupBy("user_id", "session_num")
        .agg(
            F.min("ts_us").alias("session_start_us"),
            F.max("ts_us").alias("session_end_us"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@register(
    "scalar_showcase",
    tags=("C1", "C2", "C6", "C7", "C9", "P7"),
    oracle="""
SELECT event_id,
       year(ts) AS yr, month(ts) AS mo, day(ts) AS dy, hour(ts) AS hr,
       epoch_us(ts + INTERVAL 10 SECOND) AS ts_plus_10s_us,
       event_type || ':' || CAST(user_id AS VARCHAR) AS tag
FROM events
""",
)
def scalar_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar function surface: calendar parts (the partition-column
    derivations, ProcessStockStream.py:181-184), interval arithmetic
    (predict_btc.py:84) and string concat."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.year("ts").cast("long").alias("yr"),
        F.month("ts").cast("long").alias("mo"),
        F.dayofmonth("ts").cast("long").alias("dy"),
        F.hour("ts").cast("long").alias("hr"),
        epoch_us(F.col("ts") + F.expr("INTERVAL 10 SECONDS")).alias("ts_plus_10s_us"),
        F.concat_ws(":", F.col("event_type"), F.col("user_id")).alias("tag"),
    )


@register(
    "session_window_agg",
    tags=("T3", "A1", "W4"),
    oracle="""
WITH gaps AS (
  SELECT user_id, epoch_us(ts) AS ts_us,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w > 3600000000
                OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
numbered AS (
  SELECT user_id, ts_us,
         CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS snum
  FROM gaps
)
SELECT user_id,
       min(ts_us) AS session_start_us,
       max(ts_us) + 3600000000 AS session_end_us,
       count(*) AS n_events
FROM numbered GROUP BY user_id, snum
""",
)
def session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session windows (1-hour gap) — Spark's session_window merges
    chained events; must equal the lag-gap sessionization semantics."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "1 hour").alias("w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            epoch_us(F.col("w.start")).alias("session_start_us"),
            epoch_us(F.col("w.end")).alias("session_end_us"),
            "n_events",
        )
    )


@register(
    "percentiles_by_group",
    tags=("A1", "A5"),
    oracle="""
SELECT event_type,
       round(quantile_cont(value, 0.25), 6) AS p25,
       round(quantile_cont(value, 0.50), 6) AS p50,
       round(quantile_cont(value, 0.75), 6) AS p75,
       round(quantile_cont(value, 0.95), 6) AS p95
FROM events GROUP BY event_type
""",
)
def percentiles_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per key (both engines implement the
    classic (1-g)*a[k] + g*a[k+1] continuous quantile)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.25)"), 6).alias("p25"),
        F.round(F.expr("percentile(value, 0.50)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.75)"), 6).alias("p75"),
        F.round(F.expr("percentile(value, 0.95)"), 6).alias("p95"),
    )


@register(
    "cube_event_day",
    tags=("A1", "A4"),
    oracle="""
SELECT coalesce(event_type, 'ALL') AS event_type,
       coalesce(CAST(year(ts) AS BIGINT), -1) AS yr,
       count(*) AS n, round(sum(value), 6) AS total_value
FROM events GROUP BY CUBE(event_type, CAST(year(ts) AS BIGINT))
""",
)
def cube_event_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (event_type, year): all grouping-set combinations."""
    ev = load_table(spark, sf_dir, "events").withColumn(
        "yr", F.year("ts").cast("long")
    )
    out = ev.cube("event_type", "yr").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 6).alias("total_value"),
    )
    # Null grouping markers -> explicit sentinels: nullable-int columns decay
    # to float64 in pandas, which breaks strict dtype/schema comparison.
    return out.select(
        F.coalesce(F.col("event_type"), F.lit("ALL")).alias("event_type"),
        F.coalesce(F.col("yr"), F.lit(-1).cast("long")).alias("yr"),
        "n", "total_value",
    )


@register(
    "set_ops_membership",
    tags=("U1",),
    oracle="""
SELECT key, 'both' AS tag FROM (
  SELECT user_id AS key FROM events
  INTERSECT
  SELECT c_custkey FROM customer WHERE c_custkey >= 100
)
UNION ALL
SELECT key, 'events_only' AS tag FROM (
  SELECT user_id AS key FROM events
  EXCEPT
  SELECT c_custkey FROM customer WHERE c_custkey >= 100
)
""",
)
def set_ops_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT set operations, tagged and unioned."""
    ev = load_table(spark, sf_dir, "events").select(F.col("user_id").alias("key"))
    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") >= 100)  # so both set branches are non-empty
        .select(F.col("c_custkey").alias("key"))
    )
    both = ev.intersect(cust).withColumn("tag", F.lit("both"))
    only = ev.subtract(cust).withColumn("tag", F.lit("events_only"))
    return both.unionByName(only)


@register(
    "range_window_sum",
    tags=("W1", "W2", "F3"),
    oracle="""
SELECT event_id, user_id, epoch_us(ts) AS ts_us,
       round(sum(value) OVER (
         PARTITION BY user_id ORDER BY epoch_us(ts)
         RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW), 6)
         AS hour_sum
FROM events
""",
)
def range_window_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-range window frame: per-key trailing 1-hour sum (RANGE frame on
    the event-time axis, not row counts)."""
    ev = load_table(spark, sf_dir, "events").withColumn("ts_us", epoch_us("ts"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-3_600_000_000, 0)
    )
    return ev.select(
        "event_id", "user_id", F.col("ts_us"),
        F.round(F.sum("value").over(w), 6).alias("hour_sum"),
    )


@register(
    "ntile_quartiles",
    tags=("O3", "W3"),
    oracle="""
SELECT event_id, event_type,
       ntile(4) OVER (PARTITION BY event_type ORDER BY value, event_id) AS quartile
FROM events
""",
)
def ntile_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile bucketing per key (deterministic tie-break on event_id)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return ev.select(
        "event_id", "event_type", F.ntile(4).over(w).cast("long").alias("quartile")
    )


@register(
    "lead_targets",
    tags=("W4", "O3"),
    oracle="""
SELECT event_id, user_id, epoch_us(ts) AS ts_us, value,
       lead(value) OVER w AS next_value,
       round(lead(value) OVER w - value, 6) AS delta
FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
""",
)
def lead_targets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supervised-pair construction (train_model.ipynb cell 4): each row
    with its lead target and delta."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    nxt = F.lead("value").over(w)
    return ev.select(
        "event_id", "user_id", epoch_us("ts").alias("ts_us"), "value",
        nxt.alias("next_value"),
        F.round(nxt - F.col("value"), 6).alias("delta"),
    )


@register(
    "timestamp_parsing",
    tags=("C6", "C1", "P6", "UD4"),
    oracle="""
SELECT event_id, epoch_us(ts) AS ts_us,
       epoch_us(strptime(strftime(ts, '%Y-%m-%d %H:%M:%S.%f'),
                         '%Y-%m-%d %H:%M:%S.%f')) AS parsed_us
FROM events
""",
)
def timestamp_parsing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-timestamp roundtrip (the notebook's ISO parsing, UD4/C6) via
    the SQL-expression surface (selectExpr, P6): format → parse must be
    the identity at microsecond precision."""
    ev = load_table(spark, sf_dir, "events")
    return ev.selectExpr(
        "event_id",
        "unix_micros(ts) AS ts_us",
        "unix_micros(to_timestamp(date_format(ts, 'yyyy-MM-dd HH:mm:ss.SSSSSS'),"
        " 'yyyy-MM-dd HH:mm:ss.SSSSSS')) AS parsed_us",
    )


@register(
    "q4_late_orders",
    tags=("J2", "A1", "C7"),
    oracle="""
SELECT o_orderpriority, count(*) AS n_orders
FROM orders
WHERE EXISTS (
  SELECT 1 FROM lineitem
  WHERE l_orderkey = o_orderkey
    AND l_shipdate > o_orderdate + INTERVAL 60 DAY
)
GROUP BY o_orderpriority
""",
)
def q4_late_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS with a correlated range condition — orders
    having any lineitem shipped >60 days after the order date. Spark plans
    the semi-join with the inequality folded into the join condition."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cond = (li.l_orderkey == orders.o_orderkey) & (
        li.l_shipdate > orders.o_orderdate + F.expr("INTERVAL 60 DAYS")
    )
    return (
        orders.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


@register(
    "above_brand_avg",
    tags=("A1", "W3", "P6"),
    oracle="""
SELECT p_partkey, p_brand, p_retailprice,
       round((SELECT avg(p2.p_retailprice) FROM part p2
              WHERE p2.p_brand = p.p_brand), 6) AS brand_avg
FROM part p
WHERE p_retailprice > (SELECT avg(p2.p_retailprice) FROM part p2
                       WHERE p2.p_brand = p.p_brand)
""",
)
def above_brand_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery through the SQL surface — Catalyst
    decorrelates it into an aggregate + join; parts priced above their
    brand's average."""
    from stock_streaming_data_pipeline_spark.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT p_partkey, p_brand, p_retailprice,
               round((SELECT avg(p2.p_retailprice) FROM part p2
                      WHERE p2.p_brand = p.p_brand), 6) AS brand_avg
        FROM part p
        WHERE p_retailprice > (SELECT avg(p2.p_retailprice) FROM part p2
                               WHERE p2.p_brand = p.p_brand)
        """
    )


@register(
    "q7_nation_pairs",
    tags=("J1", "J2", "A1"),
    oracle=f"""
SELECT n1.n_name AS cust_nation, n2.n_name AS supp_nation,
       CAST(round(sum({_REVENUE}), 4) AS DOUBLE) AS revenue,
       count(*) AS n_items
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON c_nationkey = n1.n_nationkey
JOIN nation n2 ON s_nationkey = n2.n_nationkey
WHERE n1.n_name IN ('NATION_10', 'NATION_7')
  AND n2.n_name IN ('NATION_9', 'NATION_3')
GROUP BY 1, 2
""",
)
def q7_nation_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bidirectional nation-pair trade volume — the same
    dimension table joined twice under different roles."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("cust_nation")
    ).filter(F.col("cust_nation").isin("NATION_10", "NATION_7"))
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    ).filter(F.col("supp_nation").isin("NATION_9", "NATION_3"))
    revenue = money(F.col("l_extendedprice")) * money(1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), cust.c_nationkey == F.col("n1_key"))
        .join(F.broadcast(n2), supp.s_nationkey == F.col("n2_key"))
        .groupBy("cust_nation", "supp_nation")
        .agg(
            F.sum(revenue).cast("decimal(18,4)").cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "unpivot_daily_metrics",
    tags=("U1", "P5", "A1"),
    oracle="""
WITH daily AS (
  SELECT event_type, (epoch_us(ts) // 86400000000) AS day_num,
         round(sum(value), 6) AS total_value,
         CAST(count(*) AS DOUBLE) AS n_events
  FROM events GROUP BY 1, 2
)
SELECT event_type, day_num, 'total_value' AS metric, total_value AS metric_value FROM daily
UNION ALL
SELECT event_type, day_num, 'n_events' AS metric, n_events AS metric_value FROM daily
""",
)
def unpivot_daily_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt: wide daily metrics into long (metric, value) rows —
    `DataFrame.unpivot` (Spark's melt)."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.withColumn("day_num", (epoch_us("ts") / F.lit(86_400_000_000)).cast("long"))
        .groupBy("event_type", "day_num")
        .agg(
            F.round(F.sum("value"), 6).alias("total_value"),
            F.count(F.lit(1)).cast("double").alias("n_events"),
        )
    )
    return daily.unpivot(
        ids=["event_type", "day_num"],
        values=["total_value", "n_events"],
        variableColumnName="metric",
        valueColumnName="metric_value",
    )


@register(
    "daily_active_users",
    tags=("A4", "A1", "T2"),
    oracle="""
SELECT (epoch_us(ts) // 86400000000) AS day_num,
       count(DISTINCT user_id) AS dau,
       count(*) AS n_events
FROM events GROUP BY 1
""",
)
def daily_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed distinct count: distinct users per day (the canonical
    time-bucketed COUNT DISTINCT — expensive exact form; the approximate
    HLL form is tested separately)."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.withColumn("day_num", (epoch_us("ts") / F.lit(86_400_000_000)).cast("long"))
        .groupBy("day_num")
        .agg(
            F.countDistinct("user_id").alias("dau"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@register(
    "q10_returned_items",
    tags=("J1", "A1", "O2"),
    bench=True,
    oracle=f"""
SELECT c_custkey, c_name, n_name,
       CAST(round(sum({_REVENUE}), 4) AS DOUBLE) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top returned-item customers — join tree + grouped
    revenue + deterministic top-20."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = load_table(spark, sf_dir, "nation")
    revenue = money(F.col("l_extendedprice")) * money(1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(F.sum(revenue).cast("decimal(18,4)").cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@register(
    "q9_profit_by_nation_year",
    tags=("J1", "A1", "C2"),
    bench=True,
    oracle=f"""
SELECT n_name AS nation, CAST(year(o_orderdate) AS BIGINT) AS o_year,
       CAST(round(sum({_REVENUE}), 4) AS DOUBLE) AS profit,
       count(*) AS n_items
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN part ON l_partkey = p_partkey
WHERE p_type LIKE '%BRASS%' OR p_size > 40
GROUP BY 1, 2
""",
)
def q9_profit_by_nation_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit by supplier nation and order year over a
    part-filtered join tree (LIKE predicate on the part dimension).

    part carries NO broadcast hint: the filter keeps a constant ~20%
    FRACTION of an SF-scaled relation (billions of rows at 100 TB), so the
    join strategy is left to stats/AQE, which still picks broadcast at
    small SF where the filtered side fits. Only the fixed-25-row nation
    dim is hinted."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_type").like("%BRASS%") | (F.col("p_size") > 40)
    )
    revenue = money(F.col("l_extendedprice")) * money(1 - F.col("l_discount"))
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(part, li.l_partkey == part.p_partkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(
            F.sum(revenue).cast("decimal(18,4)").cast("double").alias("profit"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "salted_skew_join",
    tags=("J1", "J2"),
    oracle=f"""
SELECT n_name, CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,4))), 4) AS DOUBLE)
         AS total_price,
       count(*) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
""",
)
def salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-mitigated fact⋈dim join through the salting operator
    (operators/skew.py): identical results to the plain join — the salt
    only changes the shuffle key distribution."""
    from stock_streaming_data_pipeline_spark.operators.skew import salted_join

    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").join(
        F.broadcast(load_table(spark, sf_dir, "nation")),
        F.col("c_nationkey") == F.col("n_nationkey"),
    ).select("c_custkey", "n_name")
    # salt_cols: both columns the query already projects — deterministic
    # retry-safe salt assignment without widening the parquet ReadSchema.
    joined = salted_join(
        orders, cust, fact_key="o_custkey", dim_key="c_custkey", salts=8,
        salt_cols=("o_custkey", "o_totalprice"),
    )
    return joined.groupBy("n_name").agg(
        F.sum(money(F.col("o_totalprice"))).cast("decimal(18,4)").cast("double")
        .alias("total_price"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@register(
    "price_histogram",
    tags=("A1", "A2", "C2"),
    oracle="""
SELECT CAST(floor(l_extendedprice / 10000) AS BIGINT) AS bucket,
       count(*) AS n_items,
       CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,4))), 4) AS DOUBLE)
         AS sum_price
FROM lineitem
GROUP BY 1
""",
)
def price_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram profiling (the data-profiling pass a pipeline
    runs before choosing partition bounds): fixed $10k buckets over
    extended price. Bucketing is a map-side floor-division, so the whole
    operator is one partial-aggregated shuffle on ~a dozen bucket keys;
    the double division is IEEE-identical in both engines and the money
    sum goes through the exact DECIMAL path."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.withColumn(
            "bucket", F.floor(F.col("l_extendedprice") / F.lit(10000)).cast("long")
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            _dsum(F.col("l_extendedprice")).alias("sum_price"),
        )
    )


@register(
    "scd2_user_state",
    tags=("W1", "W4", "A1"),
    oracle="""
WITH ordered AS (
  SELECT user_id, event_type, epoch_us(ts) AS ts_us,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
           - row_number() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts, event_id) AS island
  FROM events
)
SELECT user_id, event_type,
       min(ts_us) AS valid_from_us,
       max(ts_us) AS valid_to_us,
       count(*) AS n_events
FROM ordered
GROUP BY user_id, event_type, island
""",
)
def scd2_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD-Type-2 dimension build via gaps-and-islands: collapse each
    user's consecutive same-state runs into validity intervals
    (rn - rn_per_state island id, then a per-island rollup). Both window
    ranks share the user_id shuffle; ties broken by event_id so the
    interval boundaries are deterministic."""
    ev = load_table(spark, sf_dir, "events").withColumn("ts_us", epoch_us("ts"))
    w_all = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_typ = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return (
        ev.withColumn(
            "island", F.row_number().over(w_all) - F.row_number().over(w_typ)
        )
        .groupBy("user_id", "event_type", "island")
        .agg(
            F.min("ts_us").alias("valid_from_us"),
            F.max("ts_us").alias("valid_to_us"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .drop("island")
    )


@register(
    "interval_join_order_periods",
    tags=("J1", "J3", "W4"),
    oracle="""
WITH periods AS (
  SELECT o_custkey, o_orderkey,
         o_orderdate AS period_start,
         coalesce(lead(o_orderdate) OVER (PARTITION BY o_custkey
                                          ORDER BY o_orderdate, o_orderkey),
                  TIMESTAMP '2002-01-01 00:00:00') AS period_end
  FROM orders
), lines AS (
  SELECT o.o_custkey, l.l_shipdate, l.l_extendedprice
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
)
SELECT p.o_custkey,
       p.o_orderkey AS period_order,
       count(*) AS n_lines,
       CAST(round(sum(CAST(ln.l_extendedprice AS DECIMAL(18,4))), 4) AS DOUBLE)
         AS shipped_value
FROM lines ln JOIN periods p
  ON ln.o_custkey = p.o_custkey
 AND ln.l_shipdate >= p.period_start
 AND ln.l_shipdate < p.period_end
GROUP BY p.o_custkey, p.o_orderkey
""",
)
def interval_join_order_periods(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal interval join: each customer's order history becomes
    validity periods [order_date, next_order_date) via lead(), and line
    shipments are matched to the period ACTIVE at ship time (not the
    order they belong to — shipping lag crosses periods). Catalyst plans
    the equi-key + range predicate as a hash/sort-merge join on the
    customer key with the interval filter as the join residual (broadcast
    at this scale, SMJ when the period side outgrows the threshold) — no
    nested-loop blowup; at 100 TB both sides hash-partition on the key."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    periods = orders.select(
        "o_custkey",
        "o_orderkey",
        F.col("o_orderdate").alias("period_start"),
        F.coalesce(
            F.lead("o_orderdate").over(w),
            F.lit("2002-01-01 00:00:00").cast("timestamp"),
        ).alias("period_end"),
    )
    lines = li.join(
        orders.select("o_orderkey", "o_custkey"),
        F.col("l_orderkey") == F.col("o_orderkey"),
    ).select("o_custkey", "l_shipdate", "l_extendedprice")
    joined = lines.alias("ln").join(
        periods.alias("p"),
        (F.col("ln.o_custkey") == F.col("p.o_custkey"))
        & (F.col("ln.l_shipdate") >= F.col("p.period_start"))
        & (F.col("ln.l_shipdate") < F.col("p.period_end")),
    )
    return joined.groupBy(
        F.col("p.o_custkey").alias("o_custkey"),
        F.col("p.o_orderkey").alias("period_order"),
    ).agg(
        F.count(F.lit(1)).alias("n_lines"),
        _dsum(F.col("ln.l_extendedprice")).alias("shipped_value"),
    )


@register(
    "quantile_hash_sampled",
    tags=("A1", "A5"),
    oracle=f"""
WITH s AS (
  SELECT event_type, value
  FROM events
  WHERE value IS NOT NULL
    AND ('0x' || substr(md5('qsample' || CAST(event_id AS VARCHAR)), 1, 15))::BIGINT
        % 100 < 25
)
SELECT event_type,
       count(*) AS n_sampled,
       round(quantile_cont(value, 0.50), 6) AS p50,
       round(quantile_cont(value, 0.95), 6) AS p95
FROM s GROUP BY event_type
""",
)
def quantile_hash_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The differential-testable approximate-quantile path: a DETERMINISTIC
    25% hash sample (portable md5 on the row id — the same rows in any
    engine, any partitioning, any run), then exact interpolated
    percentiles of the sample. Complements approx_quantile_sketch (whose
    GK summary is engine-specific, hence rows-only): here the
    approximation error comes from sampling alone, and the entire
    computation replays bit-for-bit in DuckDB. At 100 TB the sample
    predicate is map-side (no shuffle until the tiny per-key percentile
    agg) and the sampled fraction bounds the percentile buffer."""
    from stock_streaming_data_pipeline_spark.operators.dedup import portable_hash

    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    sampled = ev.filter(
        portable_hash(F.col("event_id").cast("string"), salt="qsample") % 100 < 25
    )
    return sampled.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.round(F.expr("percentile(value, 0.50)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.95)"), 6).alias("p95"),
    )


from stock_streaming_data_pipeline_spark.operators import fuzzy as _fuzzy  # noqa: E402


@register(
    "fuzzy_part_match",
    tags=("J2", "LLM-dedup"),
    oracle=_fuzzy.sql_fuzzy_pairs(
        table="part",
        id_col="p_partkey",
        text_col="p_name",
        block_cols=("p_type", "p_brand"),
        max_dist=2,
    ),
)
def fuzzy_part_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution over the part catalog: within-(type, brand)
    blocks, name pairs at Levenshtein <= 2 — exact-duplicate and typo'd
    listings. The length-difference bound prunes candidates inside the
    join condition before the edit-distance kernel runs; edit distance
    is an exact integer, so the operator is fully oracle-checked."""
    part = load_table(spark, sf_dir, "part")
    return _fuzzy.fuzzy_pairs(
        part,
        id_col="p_partkey",
        text_col="p_name",
        block_cols=("p_type", "p_brand"),
        max_dist=2,
    )


@register(
    "window_function_showcase",
    tags=("W1", "W2", "W3", "W4", "O3"),
    oracle="""
WITH base AS (
  SELECT event_id, event_type, value,
         epoch_us(ts) AS ts_us
  FROM events WHERE value IS NOT NULL AND event_type = 'purchase'
),
w AS (
  SELECT event_id, event_type, ts_us,
         round(value, 6) AS value,
         round(percent_rank() OVER o, 6) AS pr,
         round(cume_dist() OVER o, 6) AS cd,
         round(first_value(value) OVER t, 6) AS first_in_frame,
         round(last_value(value) OVER t, 6) AS last_in_frame,
         round(nth_value(value, 3) OVER t, 6) AS third_in_frame,
         lead(event_id, 2) OVER t AS lead2_id,
         lag(event_id) OVER t AS lag_id
  FROM base
  WINDOW o AS (PARTITION BY event_type ORDER BY value, event_id),
         t AS (PARTITION BY event_type ORDER BY ts_us, event_id
               ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
)
SELECT * FROM w WHERE event_id % 7 = 0
""",
)
def window_function_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The analytic-window function surface in one query: rank-family
    (percent_rank, cume_dist) over the value order and frame-family
    (first/last/nth_value, lead/lag) over a 5-row trailing time frame,
    with (value|ts, id) tie-breaks making every output deterministic.
    One shuffle per distinct partitioning (here both partition on the
    same key, so Catalyst plans a single exchange + two sorts)."""
    ev = (
        load_table(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull() & (F.col("event_type") == "purchase"))
        .select(
            "event_id",
            "event_type",
            F.unix_micros("ts").alias("ts_us"),
            F.col("value"),
        )
    )
    o = Window.partitionBy("event_type").orderBy("value", "event_id")
    t = (
        Window.partitionBy("event_type")
        .orderBy("ts_us", "event_id")
        .rowsBetween(-4, Window.currentRow)
    )
    out = ev.select(
        "event_id",
        "event_type",
        "ts_us",
        F.round("value", 6).alias("value"),
        F.round(F.percent_rank().over(o), 6).alias("pr"),
        F.round(F.cume_dist().over(o), 6).alias("cd"),
        F.round(F.first("value").over(t), 6).alias("first_in_frame"),
        F.round(F.last("value").over(t), 6).alias("last_in_frame"),
        F.round(F.nth_value("value", 3).over(t), 6).alias("third_in_frame"),
        F.lead("event_id", 2).over(
            Window.partitionBy("event_type").orderBy("ts_us", "event_id")
        ).alias("lead2_id"),
        F.lag("event_id").over(
            Window.partitionBy("event_type").orderBy("ts_us", "event_id")
        ).alias("lag_id"),
    )
    return out.filter(F.col("event_id") % 7 == 0)


@register(
    "incremental_agg_refresh",
    tags=("A1", "A4", "A5", "K6"),
    oracle="""
SELECT event_type,
       CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS f_sum_cents,
       count(value) AS f_count_cents,
       min(CAST(round(value * 100, 0) AS BIGINT)) AS f_min_cents,
       max(CAST(round(value * 100, 0) AS BIGINT)) AS f_max_cents,
       round(sum(CAST(round(value * 100, 0) AS BIGINT))::DOUBLE
             / count(value), 6) AS avg_cents
FROM (SELECT event_type, value, CAST(round(value * 100, 0) AS BIGINT) AS cents
      FROM events WHERE value IS NOT NULL)
GROUP BY event_type
""",
)
def incremental_agg_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view maintenance: the per-key rollup is built as
    BASE (days <= 20) merged with DELTA (days > 20) through the partial-
    state algebra (operators/incremental.py) — and the oracle recomputes
    the rollup from ALL facts in one pass. merged == recomputed is the
    correctness contract of incremental refresh; the merge join is
    aggregate-sized (groups, not facts), so refresh cost is independent
    of history length. Derived measures (avg) come off the merged state."""
    from stock_streaming_data_pipeline_spark.operators import incremental

    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    cents = half_away("value", 2)
    facts = ev.select("event_type", F.dayofmonth("ts").alias("d"), cents.alias("cents"))
    measures = {"cents": ["sum", "count", "min", "max"]}
    base = incremental.aggregate_state(
        facts.filter(F.col("d") <= 20), keys=["event_type"], measures=measures
    )
    delta = incremental.aggregate_state(
        facts.filter(F.col("d") > 20), keys=["event_type"], measures=measures
    )
    merged = incremental.merge_states(base, delta, keys=["event_type"])
    return merged.select(
        "event_type",
        F.col("f_sum_cents").cast("long").alias("f_sum_cents"),
        "f_count_cents",
        "f_min_cents",
        "f_max_cents",
        F.round(
            F.col("f_sum_cents").cast("double") / F.col("f_count_cents"), 6
        ).alias("avg_cents"),
    )


@register(
    "array_functions_showcase",
    tags=("C5", "C9", "P2", "A1"),
    oracle="""
WITH per_user AS (
  SELECT user_id,
         list(CAST(round(value * 100, 0) AS BIGINT) ORDER BY epoch_us(ts), event_id)
           AS cents
  FROM events WHERE value IS NOT NULL
  GROUP BY user_id
)
SELECT user_id,
       len(cents) AS n,
       CAST(to_json(list_sort(cents)[1:3]) AS VARCHAR) AS smallest3,
       list_reduce(list_prepend(0::BIGINT, cents), (a, x) -> a + x) AS total_cents,
       len(list_filter(cents, x -> x > 10000)) AS n_over_100,
       CAST(to_json(list_transform(list_sort(cents)[1:3], x -> x * 2))
            AS VARCHAR) AS doubled_smallest3,
       CAST(list_reduce(list_prepend(0::BIGINT,
              list_transform(range(1, len(cents)),
                i -> CASE WHEN cents[i + 1] > cents[i] THEN 1 ELSE 0 END)),
            (a, x) -> a + x) AS BIGINT) AS n_increases
FROM per_user
""",
)
def array_functions_showcase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The higher-order-function surface over per-user value arrays
    (collected in deterministic event order): sort/slice, order-fixed
    fold (sum), filter-count, transform, and a zip-with-next increase
    counter. Lambdas evaluate interpreted per element (documented in
    SCALE.md 'Codegen discipline'), so this is the ARRAY-ANALYTICS
    surface, not a hot-path recommendation — hot paths use the
    explode+aggregate forms the dedup tier demonstrates. Exact integers
    throughout; full oracle."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    cents = half_away("value", 2)
    per_user = (
        ev.select("user_id", F.unix_micros("ts").alias("us"), "event_id", cents.alias("c"))
        .groupBy("user_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("us", "event_id", "c"))),
                lambda s: s.c,
            ).alias("cents")
        )
    )
    arr = F.col("cents")
    smallest3 = F.slice(F.array_sort(arr), 1, 3)
    total = F.aggregate(arr, F.lit(0).cast("long"), lambda a, x: a + x)
    # sequence(1, 0) is DESCENDING in Spark ([1, 0]) — guard the n == 1
    # case so single-event users count zero increases like DuckDB's
    # empty range(1, 1)
    increases = F.aggregate(
        F.transform(
            F.when(F.size(arr) > 1, F.sequence(F.lit(1), F.size(arr) - 1))
            .otherwise(F.array().cast("array<int>")),
            lambda i: F.when(
                F.element_at(arr, (i + 1).cast("int"))
                > F.element_at(arr, i.cast("int")),
                F.lit(1),
            ).otherwise(F.lit(0)),
        ),
        F.lit(0).cast("long"),
        lambda a, x: a + x,
    )
    # Array results surface as canonical JSON strings, never raw ARRAY
    # finals — the driver's canonicalizer sorts raw object columns and
    # crashes on ndarray cells (r6 red row).
    return per_user.select(
        "user_id",
        F.size(arr).cast("long").alias("n"),
        F.to_json(smallest3).alias("smallest3"),
        total.alias("total_cents"),
        F.size(F.filter(arr, lambda x: x > 10000)).cast("long").alias("n_over_100"),
        F.to_json(F.transform(smallest3, lambda x: x * 2)).alias(
            "doubled_smallest3"
        ),
        increases.alias("n_increases"),
    )


@register(
    "funnel_conversion",
    tags=("A1", "W4", "F1"),
    oracle="""
WITH stages AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS t_view,
         min(CASE WHEN event_type = 'click' THEN epoch_us(ts) END) AS t_click,
         min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS t_buy
  FROM events GROUP BY user_id
),
flags AS (
  SELECT user_id,
         (t_view IS NOT NULL)::INT AS s1,
         (t_view IS NOT NULL AND t_click IS NOT NULL
          AND t_click > t_view)::INT AS s2,
         (t_view IS NOT NULL AND t_click IS NOT NULL AND t_buy IS NOT NULL
          AND t_click > t_view AND t_buy > t_click
          AND t_buy - t_view <= 7 * 86400000000)::INT AS s3
  FROM stages
)
SELECT CAST(sum(s1) AS BIGINT) AS n_viewed,
       CAST(sum(s2) AS BIGINT) AS n_clicked_after_view,
       CAST(sum(s3) AS BIGINT) AS n_converted_7d,
       round(sum(s3)::DOUBLE / sum(s1), 6) AS conversion_rate
FROM flags
""",
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (view → click → purchase within 7 days):
    first-touch times per stage via conditional MIN aggregation — ONE
    pass over the facts, no self-joins (the naive N-stage funnel is an
    N-way self-join; conditional aggregation is the scale form) — then
    the ordering/window constraints as pure integer comparisons."""
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros("ts")
    stages = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", us)).alias("t_view"),
        F.min(F.when(F.col("event_type") == "click", us)).alias("t_click"),
        F.min(F.when(F.col("event_type") == "purchase", us)).alias("t_buy"),
    )
    s1 = F.col("t_view").isNotNull()
    s2 = s1 & F.col("t_click").isNotNull() & (F.col("t_click") > F.col("t_view"))
    s3 = (
        s2
        & F.col("t_buy").isNotNull()
        & (F.col("t_buy") > F.col("t_click"))
        & (F.col("t_buy") - F.col("t_view") <= 7 * 86_400_000_000)
    )
    flags = stages.select(
        s1.cast("int").alias("s1"),
        s2.cast("int").alias("s2"),
        s3.cast("int").alias("s3"),
    )
    return flags.agg(
        F.sum("s1").cast("long").alias("n_viewed"),
        F.sum("s2").cast("long").alias("n_clicked_after_view"),
        F.sum("s3").cast("long").alias("n_converted_7d"),
        F.round(
            F.sum("s3").cast("double") / F.sum("s1"), 6
        ).alias("conversion_rate"),
    )


@register(
    "cohort_retention",
    tags=("A1", "C2", "J1"),
    oracle="""
WITH first_seen AS (
  SELECT user_id, min(date_trunc('week', ts)) AS cohort_week
  FROM events GROUP BY user_id
),
activity AS (
  SELECT DISTINCT e.user_id, f.cohort_week,
         CAST(date_diff('week', f.cohort_week, date_trunc('week', e.ts))
              AS BIGINT) AS week_n
  FROM events e JOIN first_seen f USING (user_id)
),
cohort_sizes AS (
  SELECT cohort_week, count(DISTINCT user_id) AS cohort_size
  FROM first_seen GROUP BY cohort_week
)
SELECT epoch(a.cohort_week)::BIGINT AS cohort_week_s, a.week_n,
       count(*) AS active_users, s.cohort_size,
       round(count(*)::DOUBLE / s.cohort_size, 6) AS retention
FROM activity a JOIN cohort_sizes s USING (cohort_week)
GROUP BY a.cohort_week, a.week_n, s.cohort_size
""",
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention matrix: users cohorted by first-seen week,
    activity bucketed by week offset, retention = active/cohort-size —
    the classic triangle. Shape: one first-touch agg, one distinct
    (user, week) dedup, a broadcast-size cohort join; no windows."""
    ev = load_table(spark, sf_dir, "events")
    wk = F.date_trunc("week", F.col("ts"))
    first_seen = ev.groupBy("user_id").agg(F.min(wk).alias("cohort_week"))
    activity = (
        ev.join(first_seen, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (
                F.floor(
                    (F.unix_date(F.to_date(wk)) - F.unix_date(F.to_date("cohort_week")))
                    / 7
                )
            ).cast("long").alias("week_n"),
        )
        .distinct()
    )
    sizes = first_seen.groupBy("cohort_week").agg(
        F.countDistinct("user_id").alias("cohort_size")
    )
    return (
        activity.join(F.broadcast(sizes), "cohort_week")
        .groupBy("cohort_week", "week_n", "cohort_size")
        .agg(F.count(F.lit(1)).alias("active_users"))
        .select(
            F.unix_seconds("cohort_week").alias("cohort_week_s"),
            "week_n",
            "active_users",
            "cohort_size",
            F.round(
                F.col("active_users").cast("double") / F.col("cohort_size"), 6
            ).alias("retention"),
        )
    )


@register(
    "event_cooccurrence_lift",
    tags=("A1", "J1", "A4"),
    oracle="""
WITH peru AS (
  SELECT DISTINCT user_id, event_type FROM events
),
n_users AS (SELECT count(DISTINCT user_id) AS n FROM events),
singles AS (
  SELECT event_type, count(*) AS n_a FROM peru GROUP BY event_type
),
pairs AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b, count(*) AS n_ab
  FROM peru a JOIN peru b
    ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
)
SELECT p.type_a, p.type_b, p.n_ab,
       round(p.n_ab::DOUBLE / nu.n, 6) AS support,
       round(p.n_ab::DOUBLE * nu.n / (sa.n_a * sb.n_a), 6) AS lift
FROM pairs p
JOIN singles sa ON sa.event_type = p.type_a
JOIN singles sb ON sb.event_type = p.type_b
CROSS JOIN n_users nu
""",
)
def event_cooccurrence_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association mining over user behavior: event-type co-occurrence
    with support and lift — the market-basket pass. The self-join runs
    on the (user, type) DISTINCT projection (bounded: users × five
    types), never the raw facts; singles/user-count are broadcast-sized."""
    ev = load_table(spark, sf_dir, "events")
    peru = ev.select("user_id", "event_type").distinct()
    n_users = ev.agg(F.countDistinct("user_id").alias("n"))
    singles = peru.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_a"))
    a = peru.select("user_id", F.col("event_type").alias("type_a"))
    b = peru.select("user_id", F.col("event_type").alias("type_b"))
    pairs = (
        a.join(b, "user_id")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    sa = singles.select(
        F.col("event_type").alias("type_a"), F.col("n_a").alias("na")
    )
    sb = singles.select(
        F.col("event_type").alias("type_b"), F.col("n_a").alias("nb")
    )
    return (
        pairs.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .crossJoin(F.broadcast(n_users))
        .select(
            "type_a",
            "type_b",
            "n_ab",
            F.round(F.col("n_ab").cast("double") / F.col("n"), 6).alias(
                "support"
            ),
            F.round(
                F.col("n_ab").cast("double") * F.col("n")
                / (F.col("na") * F.col("nb")),
                6,
            ).alias("lift"),
        )
    )


@register(
    "event_transition_matrix",
    tags=("W4", "A1"),
    oracle="""
WITH ordered AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (
           PARTITION BY user_id ORDER BY epoch_us(ts), event_id
         ) AS next_type
  FROM events
),
trans AS (
  SELECT event_type AS from_type, next_type AS to_type, count(*) AS n
  FROM ordered WHERE next_type IS NOT NULL GROUP BY 1, 2
),
outdeg AS (
  SELECT from_type, sum(n) AS total FROM trans GROUP BY from_type
)
SELECT t.from_type, t.to_type, CAST(t.n AS BIGINT) AS n,
       round(t.n::DOUBLE / o.total, 6) AS p
FROM trans t JOIN outdeg o USING (from_type)
""",
)
def event_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order event-sequence model: the next-event transition matrix
    per user journey (lead over (ts, id) — deterministic tie-breaks),
    row-normalized into transition probabilities. One keyed window + two
    tiny aggs; the Markov-chain view of user behavior."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.unix_micros("ts"), "event_id")
    ordered = ev.select(
        "user_id",
        "event_type",
        F.lead("event_type").over(w).alias("next_type"),
    )
    trans = (
        ordered.filter(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("from_type"),
            F.col("next_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    outdeg = trans.groupBy("from_type").agg(F.sum("n").alias("total"))
    return (
        trans.join(F.broadcast(outdeg), "from_type")
        .select(
            "from_type",
            "to_type",
            F.col("n").cast("long").alias("n"),
            F.round(F.col("n").cast("double") / F.col("total"), 6).alias("p"),
        )
    )


@register(
    "pareto_abc_parts",
    tags=("W1", "A1", "O2"),
    oracle="""
WITH rev AS (
  SELECT l_partkey,
         CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0)
                       AS BIGINT)) AS BIGINT) AS cents
  FROM lineitem GROUP BY l_partkey
),
tot AS (SELECT sum(cents) AS t FROM rev),
ranked AS (
  SELECT l_partkey, cents,
         sum(cents) OVER (ORDER BY cents DESC, l_partkey
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS run
  FROM rev
)
SELECT r.l_partkey, r.cents,
       CASE WHEN r.run * 100 <= t.t * 80 THEN 'A'
            WHEN r.run * 100 <= t.t * 95 THEN 'B'
            ELSE 'C' END AS abc_class
FROM ranked r CROSS JOIN tot t
""",
)
def pareto_abc_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto/ABC classification of parts by revenue: running revenue
    share (integer cents — the running sum and the 80/95% cuts are exact
    integer comparisons via cross-multiplication, no ratio rounding) over
    the revenue-desc order. The global window runs on the PART-level
    rollup (bounded: #parts, not #lineitems); the heavy work is the
    partial-aggregated rollup shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    cents = half_away(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2)
    rev = li.groupBy("l_partkey").agg(F.sum(cents).alias("cents"))
    tot = rev.agg(F.sum("cents").alias("t"))
    w = (
        Window.orderBy(F.desc("cents"), F.asc("l_partkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = rev.withColumn("run", F.sum("cents").over(w))
    return ranked.crossJoin(F.broadcast(tot)).select(
        "l_partkey",
        "cents",
        F.when(F.col("run") * 100 <= F.col("t") * 80, F.lit("A"))
        .when(F.col("run") * 100 <= F.col("t") * 95, F.lit("B"))
        .otherwise(F.lit("C"))
        .alias("abc_class"),
    )


@register(
    "revenue_gini_by_brand",
    tags=("A1", "W1"),
    oracle="""
WITH rev AS (
  SELECT p.p_brand, l.l_partkey,
         sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100, 0)
                  AS BIGINT)) AS cents
  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
  GROUP BY 1, 2
),
ranked AS (
  SELECT p_brand, cents,
         row_number() OVER (PARTITION BY p_brand
                            ORDER BY cents, l_partkey) AS i
  FROM rev
),
m AS (
  SELECT p_brand, count(*) AS n,
         sum(cents) AS s, sum(i * cents) AS si
  FROM ranked GROUP BY p_brand
)
SELECT p_brand, CAST(n AS BIGINT) AS n_parts,
       round(2.0 * si / (n * s) - (n + 1.0) / n, 6) AS gini
FROM m WHERE s > 0
""",
)
def revenue_gini_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration (Gini) per brand: the rank-weighted exact
    formula G = 2·Σi·x_i/(n·Σx) − (n+1)/n over cents-exact part
    revenues with (value, id) rank tie-breaks — every operand integer
    until the final two divisions. One rollup + one keyed window +
    per-brand agg."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    cents = half_away(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2)
    rev = (
        li.join(
            part.select(F.col("p_partkey").alias("l_partkey"), "p_brand"),
            "l_partkey",
        )
        .groupBy("p_brand", "l_partkey")
        .agg(F.sum(cents).alias("cents"))
    )
    w = Window.partitionBy("p_brand").orderBy("cents", "l_partkey")
    ranked = rev.withColumn("i", F.row_number().over(w))
    m = ranked.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("s"),
        F.sum(F.col("i") * F.col("cents")).alias("si"),
    )
    return m.filter(F.col("s") > 0).select(
        "p_brand",
        F.col("n").cast("long").alias("n_parts"),
        F.round(
            F.lit(2.0) * F.col("si") / (F.col("n") * F.col("s"))
            - (F.col("n") + F.lit(1.0)) / F.col("n"),
            6,
        ).alias("gini"),
    )


from stock_streaming_data_pipeline_spark.operators import bloom as _bloom  # noqa: E402


@register(
    "bloom_semi_join_orders",
    tags=("J2", "F4"),
    oracle="""
SELECT o_orderpriority,
       count(*) AS n_orders,
       CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS total_price_cents
FROM orders o
WHERE EXISTS (
  SELECT 1 FROM customer c
  WHERE c.c_custkey = o.o_custkey AND c.c_mktsegment = 'BUILDING'
)
GROUP BY o_orderpriority
""",
)
def bloom_semi_join_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join through a portable Bloom runtime filter: the BUILDING
    customer keys condense into a fixed 64 Kib bitmap (a parameter, not
    a data size) that prunes orders MAP-SIDE before the join's shuffle;
    the exact left-semi join then clears Bloom false positives, so the
    result — and the oracle — is the plain WHERE EXISTS semi-join. This
    is the explicit form of Spark's own stats-gated
    ``runtimeFilter.bloomFilter`` rule: at 100 TB the key set is far too
    big to broadcast (the lint forbids that hint on SF-scaled relations)
    and the bitmap cuts the fact shuffle to roughly the match rate plus
    the documented false-positive rate (~10 bits/key -> ~1%). The build
    pass collects <= m_bits/64 words — bounded by the parameter."""
    orders = load_table(spark, sf_dir, "orders")
    keys = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    joined = _bloom.bloom_semi_join(
        orders,
        keys,
        fact_key="o_custkey",
        dim_key="c_custkey",
        m_bits=1 << 16,
        k_hashes=4,
    )
    # Money totals as exact BIGINT cents (identical IEEE floor(x*100+0.5)
    # on both engines) — never DECIMAL in a final schema: the driver's
    # canonicalizer is repr-sensitive to Decimal trailing zeros.
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(half_up("o_totalprice", 2)).alias("total_price_cents"),
    )


from stock_streaming_data_pipeline_spark.operators import dq as _dq  # noqa: E402


@register(
    "data_quality_report",
    tags=("A4", "A6", "A7", "J2", "LLM-curate"),
    oracle="""
WITH o AS (
  SELECT 'orders.o_orderkey.unique' AS check_name,
         round(count(DISTINCT o_orderkey)::DOUBLE / count(*)::DOUBLE, 6) AS metric
  FROM orders
  UNION ALL
  SELECT 'orders.o_custkey.complete',
         round(count(o_custkey)::DOUBLE / count(*)::DOUBLE, 6)
  FROM orders
  UNION ALL
  SELECT 'orders.o_orderstatus.in_set',
         round(sum(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END)::DOUBLE, 6)
  FROM orders
  UNION ALL
  SELECT 'orders.o_totalprice.min', round(min(o_totalprice), 6) FROM orders
  UNION ALL
  SELECT 'lineitem.l_discount.max', round(max(l_discount), 6) FROM lineitem
  UNION ALL
  SELECT 'lineitem.l_quantity.positive',
         round(sum(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END)::DOUBLE, 6)
  FROM lineitem
  UNION ALL
  SELECT 'events.value.complete',
         round(count(value)::DOUBLE / count(*)::DOUBLE, 6)
  FROM events
  UNION ALL
  SELECT 'lineitem.l_orderkey.ref_integrity',
         round((SELECT count(*) FROM lineitem l
                WHERE NOT EXISTS (SELECT 1 FROM orders o
                                  WHERE o.o_orderkey = l.l_orderkey))::DOUBLE, 6)
  UNION ALL
  SELECT 'lineitem.ship_after_order',
         round((SELECT count(*) FROM lineitem l JOIN orders o
                ON o.o_orderkey = l.l_orderkey
                WHERE l.l_shipdate < o.o_orderdate)::DOUBLE, 6)
)
SELECT check_name, metric,
  CASE check_name
    WHEN 'orders.o_orderkey.unique' THEN metric = 1.0
    WHEN 'orders.o_custkey.complete' THEN metric >= 1.0
    WHEN 'orders.o_orderstatus.in_set' THEN metric = 0.0
    WHEN 'orders.o_totalprice.min' THEN metric > 0.0
    WHEN 'lineitem.l_discount.max' THEN metric <= 0.08
    WHEN 'lineitem.l_quantity.positive' THEN metric = 0.0
    WHEN 'events.value.complete' THEN metric >= 0.5
    WHEN 'lineitem.l_orderkey.ref_integrity' THEN metric = 0.0
    WHEN 'lineitem.ship_after_order' THEN metric = 0.0
  END AS passed
FROM o
""",
)
def data_quality_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style verification suite over the warehouse: per-table
    constraint packs run as ONE aggregate pass each (uniqueness,
    completeness, set membership, ranges), plus two relational checks —
    referential integrity (anti-join orphan count) and a cross-table
    invariant (line items shipped before their order date). Two checks
    FAIL on this corpus by design (max discount 0.10 > 0.08; the
    synthetic generator does not enforce ship-after-order), so both
    verdict branches are exercised end-to-end. Verdicts compare the
    round-6 metric, the engine-portable rule the oracle replays."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    events = load_table(spark, sf_dir, "events")
    rep_o = _dq.agg_report(
        orders,
        [
            _dq.AggCheck(
                "orders.o_orderkey.unique",
                _dq.uniqueness("o_orderkey"),
                lambda m: m == 1.0,
            ),
            _dq.AggCheck(
                "orders.o_custkey.complete",
                _dq.completeness("o_custkey"),
                lambda m: m >= 1.0,
            ),
            _dq.AggCheck(
                "orders.o_orderstatus.in_set",
                _dq.violations(~F.col("o_orderstatus").isin("O", "F", "P")),
                lambda m: m == 0.0,
            ),
            _dq.AggCheck(
                "orders.o_totalprice.min",
                F.min("o_totalprice"),
                lambda m: m > 0.0,
            ),
        ],
    )
    rep_l = _dq.agg_report(
        lineitem,
        [
            _dq.AggCheck(
                "lineitem.l_discount.max",
                F.max("l_discount"),
                lambda m: m <= 0.08,
            ),
            _dq.AggCheck(
                "lineitem.l_quantity.positive",
                _dq.violations(F.col("l_quantity") <= 0),
                lambda m: m == 0.0,
            ),
        ],
    )
    rep_e = _dq.agg_report(
        events,
        [
            _dq.AggCheck(
                "events.value.complete",
                _dq.completeness("value"),
                lambda m: m >= 0.5,
            ),
        ],
    )
    orphans = lineitem.join(
        orders, lineitem.l_orderkey == orders.o_orderkey, "left_anti"
    )
    rep_ri = _dq.count_report("lineitem.l_orderkey.ref_integrity", orphans)
    shipped_early = lineitem.join(
        orders, lineitem.l_orderkey == orders.o_orderkey
    ).filter(F.col("l_shipdate") < F.col("o_orderdate"))
    rep_ship = _dq.count_report("lineitem.ship_after_order", shipped_early)
    return rep_o.unionByName(rep_l).unionByName(rep_e).unionByName(rep_ri).unionByName(
        rep_ship
    )


_DIFF_CUT_US = 1705363200000000  # 2024-01-16T00:00:00Z in epoch micros


@register(
    "snapshot_table_diff",
    tags=("W3", "J2", "K6"),
    oracle=f"""
WITH a AS (
  SELECT user_id, event_type, count(*) AS n
  FROM events WHERE epoch_us(ts) < {_DIFF_CUT_US} GROUP BY 1, 2
),
b AS (
  SELECT user_id, event_type, count(*) AS n
  FROM events WHERE epoch_us(ts) >= {_DIFF_CUT_US} GROUP BY 1, 2
)
SELECT coalesce(a.user_id, b.user_id) AS user_id,
       coalesce(a.event_type, b.event_type) AS event_type,
       CASE
         WHEN a.user_id IS NULL THEN 'added'
         WHEN b.user_id IS NULL THEN 'removed'
         WHEN a.n <> b.n THEN 'changed'
         ELSE 'unchanged'
       END AS change_type,
       a.n AS n_a, b.n AS n_b
FROM a FULL OUTER JOIN b
  ON a.user_id = b.user_id AND a.event_type = b.event_type
""",
)
def snapshot_table_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot drift between two versions of an aggregate table — the
    added/removed/changed/unchanged classification a CDC audit, an
    incremental-materialized-view maintainer, or a table-format
    time-travel diff produces. Each snapshot is the per-(user, event
    type) activity count in its half of the timeline; ONE full outer
    join on the composite key classifies every entity (exact integer
    attributes, so 'unchanged' is a real equality, not a double
    accident). At 100 TB each snapshot is a partial+final aggregate and
    the join is the only wide edge; 'unchanged' rows are kept for
    auditability and would be filtered pre-shuffle in an incremental
    pipeline. All four classes are data-real: changed/unchanged at
    every SF, added/removed from sf0.1 up (pinned by the scripted unit
    test either way)."""
    ev = load_table(spark, sf_dir, "events")

    def snap(pred):
        return (
            ev.filter(pred)
            .groupBy("user_id", "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    cut = F.lit(_DIFF_CUT_US)
    a = snap(epoch_us(F.col("ts")) < cut).withColumnsRenamed(
        {"user_id": "user_a", "event_type": "type_a", "n": "n_a"}
    )
    b = snap(epoch_us(F.col("ts")) >= cut).withColumnsRenamed(
        {"user_id": "user_b", "event_type": "type_b", "n": "n_b"}
    )
    d = a.join(
        b,
        (a.user_a == b.user_b) & (a.type_a == b.type_b),
        "full_outer",
    )
    return d.select(
        F.coalesce("user_a", "user_b").alias("user_id"),
        F.coalesce("type_a", "type_b").alias("event_type"),
        F.when(F.col("user_a").isNull(), "added")
        .when(F.col("user_b").isNull(), "removed")
        .when(F.col("n_a") != F.col("n_b"), "changed")
        .otherwise("unchanged")
        .alias("change_type"),
        F.col("n_a"),
        F.col("n_b"),
    )


_ATTR_WINDOW_US = 3 * 86400 * 1000000  # 3-day lookback


@register(
    "attribution_linear",
    tags=("J1", "J3", "A4"),
    oracle=f"""
WITH purchases AS (
  SELECT event_id AS pid, user_id, epoch_us(ts) AS ts_p
  FROM events WHERE event_type = 'purchase'
),
touches AS (
  SELECT event_id AS tid, user_id, event_type AS touch_type,
         epoch_us(ts) AS ts_t
  FROM events WHERE event_type IN ('view', 'click')
),
contact AS (
  SELECT p.pid, t.touch_type
  FROM purchases p JOIN touches t
    ON t.user_id = p.user_id
   AND t.ts_t < p.ts_p
   AND t.ts_t >= p.ts_p - {_ATTR_WINDOW_US}
),
weighted AS (
  SELECT pid, touch_type,
         (2000000 + count(*) OVER (PARTITION BY pid))
           // (2 * count(*) OVER (PARTITION BY pid)) AS w_micros
  FROM contact
)
SELECT touch_type,
       count(*) AS n_touches,
       CAST(sum(w_micros) AS BIGINT) AS credit_micros
FROM weighted
GROUP BY touch_type
""",
)
def attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: every purchase splits one unit of
    credit equally across the view/click touchpoints in its 3-day
    lookback window. The contact set is an interval join (equi on the
    user key + range predicate — ONE shuffle on user_id; at 100 TB the
    range residual evaluates inside the sort-merge join, and a hot user
    salts like any skewed join); per-purchase touch counts come from a
    window over the purchase key, and the per-touch weight is an exact
    half-up BIGINT micro-unit ``(2e6 + cnt) DIV (2*cnt)`` (operands are
    positive, so half-up and half-away coincide here) summed as
    BIGINT, so cross-engine credit totals are integer-exact with no
    DECIMAL in the final schema (the driver's canonicalizer is
    repr-sensitive to Decimal trailing zeros — r6 red row)."""
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("pid"),
        F.col("user_id").alias("puser"),
        epoch_us("ts").alias("ts_p"),
    )
    touches = ev.filter(F.col("event_type").isin("view", "click")).select(
        F.col("event_id").alias("tid"),
        F.col("user_id").alias("tuser"),
        F.col("event_type").alias("touch_type"),
        epoch_us("ts").alias("ts_t"),
    )
    contact = purchases.join(
        touches,
        (F.col("tuser") == F.col("puser"))
        & (F.col("ts_t") < F.col("ts_p"))
        & (F.col("ts_t") >= F.col("ts_p") - F.lit(_ATTR_WINDOW_US)),
    ).select("pid", "touch_type")
    w_pid = Window.partitionBy("pid")
    weighted = contact.withColumn(
        "cnt", F.count(F.lit(1)).over(w_pid)
    ).withColumn("w_micros", F.expr("(2000000 + cnt) DIV (2 * cnt)"))
    return weighted.groupBy("touch_type").agg(
        F.count(F.lit(1)).alias("n_touches"),
        F.sum("w_micros").alias("credit_micros"),
    )


# ---------------------------------------------------------------------------
# Round 6: RFM customer segmentation
# ---------------------------------------------------------------------------

from stock_streaming_data_pipeline_spark.operators.running import global_rank as _grank  # noqa: E402


@register(
    "rfm_customer_segments",
    tags=("A4", "A5", "O1"),
    oracle="""
WITH base AS (
  SELECT o_custkey AS custkey,
         max(epoch_us(o_orderdate)) // 86400000000 AS last_day,
         count(*) AS frequency,
         CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT)
           AS monetary_cents
  FROM orders GROUP BY o_custkey
),
gmax AS (SELECT max(last_day) AS max_day FROM base),
m AS (
  SELECT custkey, (g.max_day - last_day) AS r_days, frequency, monetary_cents
  FROM base CROSS JOIN gmax g
),
ranked AS (
  SELECT m.*,
         row_number() OVER (ORDER BY r_days ASC, custkey ASC) AS rr,
         row_number() OVER (ORDER BY frequency DESC, custkey ASC) AS rf,
         row_number() OVER (ORDER BY monetary_cents DESC, custkey ASC) AS rm,
         count(*) OVER () AS n
  FROM m
)
SELECT custkey, r_days, CAST(frequency AS BIGINT) AS frequency,
       monetary_cents,
       5 - (5 * (rr - 1)) // n AS r_score,
       5 - (5 * (rf - 1)) // n AS f_score,
       5 - (5 * (rm - 1)) // n AS m_score,
       CAST(5 - (5 * (rr - 1)) // n AS VARCHAR) ||
       CAST(5 - (5 * (rf - 1)) // n AS VARCHAR) ||
       CAST(5 - (5 * (rm - 1)) // n AS VARCHAR) AS segment
FROM ranked
""",
)
def rfm_customer_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per customer, recency (days since last order,
    against the corpus max day), frequency (order count) and monetary
    (exact cents), each mapped to a 1–5 quintile score by GLOBAL rank
    with custkey tiebreak, concatenated into the classic 'RFM' segment
    code. Quintile boundaries are rank-arithmetic ((5·(rank−1)) div n —
    exact integers, no percentile interpolation to diverge across
    engines). The three global ranks use the range-partitioned two-phase
    global_rank (operators/running.py) — never a single-task
    unpartitioned window — over the customer-sized relation; the raw
    orders fact is touched once by the per-customer aggregate. The
    oracle's plain row_number windows are an independent single-node
    derivation of the same total orders."""
    orders = load_table(spark, sf_dir, "orders")
    cents = half_away("o_totalprice", 2)
    base = (
        orders.withColumn("cents", cents)
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            (F.max(F.unix_micros("o_orderdate")) / F.lit(86_400_000_000))
            .cast("long")
            .alias("last_day"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum("cents").alias("monetary_cents"),
        )
    )
    glob = base.agg(F.max("last_day").alias("max_day"))
    m = base.crossJoin(F.broadcast(glob)).select(
        "custkey",
        (F.col("max_day") - F.col("last_day")).alias("r_days"),
        "frequency",
        "monetary_cents",
    )
    m = m.withColumn("neg_f", -F.col("frequency")).withColumn(
        "neg_m", -F.col("monetary_cents")
    )
    m = _grank(m, order_col="r_days", id_col="custkey", out="rr")
    m = _grank(m, order_col="neg_f", id_col="custkey", out="rf")
    m = _grank(m, order_col="neg_m", id_col="custkey", out="rm")
    n = base.agg(F.count(F.lit(1)).alias("n"))
    m = m.crossJoin(F.broadcast(n))
    score = lambda r: F.lit(5) - F.expr(f"(5 * ({r} - 1)) DIV n")  # noqa: E731
    return m.select(
        "custkey",
        "r_days",
        "frequency",
        "monetary_cents",
        score("rr").alias("r_score"),
        score("rf").alias("f_score"),
        score("rm").alias("m_score"),
        F.concat(
            score("rr").cast("string"),
            score("rf").cast("string"),
            score("rm").cast("string"),
        ).alias("segment"),
    )


# Benford expected first-digit frequencies log10(1 + 1/d), micro-snapped
# half-away — frozen as literals so BOTH engines use the identical
# integers (computing log10 at query time risks a last-ulp libm
# difference right at a round boundary).
_BENFORD_MICRO = {
    1: 301030, 2: 176091, 3: 124939, 4: 96910, 5: 79181,
    6: 66947, 7: 57992, 8: 51153, 9: 45757,
}


@register(
    "dq_benford_first_digit",
    tags=("A4", "F1"),
    oracle=f"""
WITH cents AS (
  SELECT CAST(round(o_totalprice * 100, 0) AS BIGINT) AS c
  FROM orders WHERE o_totalprice > 0
),
digits AS (
  SELECT CAST(substr(CAST(c AS VARCHAR), 1, 1) AS INT) AS digit,
         count(*) AS n_obs
  FROM cents GROUP BY 1
),
tot AS (SELECT CAST(sum(n_obs) AS BIGINT) AS total FROM digits),
exp_tab(digit, expected_micro) AS (VALUES
  {", ".join(f"({d}, {m})" for d, m in sorted(_BENFORD_MICRO.items()))}
)
SELECT e.digit, coalesce(d.n_obs, 0) AS n_obs, t.total,
       (coalesce(d.n_obs, 0) * 2000000 + t.total) // (2 * t.total)
         AS observed_micro,
       e.expected_micro,
       abs((coalesce(d.n_obs, 0) * 2000000 + t.total) // (2 * t.total)
           - e.expected_micro) AS abs_dev_micro
FROM exp_tab e LEFT JOIN digits d ON d.digit = e.digit CROSS JOIN tot t
""",
)
def dq_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-significant-digit audit of order totals — the
    classic fabricated-data / unit-mixing detector for a DQ suite:
    observed vs expected (log10(1+1/d)) first-digit frequency per digit
    with the absolute deviation, everything in exact micro-unit
    integers (expected ratios frozen as literals, observed ratios via
    integer half-away division) so the differential is bit-exact.
    Scale shape: one map-side digit projection + a 9-row aggregate —
    the whole fact scan folds into 9 groups, the expected table is a
    9-row broadcast VALUES relation."""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    cents = half_up("o_totalprice", 2)
    digits = (
        orders.select(
            F.substring(cents.cast("string"), 1, 1).cast("int").alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n_obs"))
    )
    exp_tab = spark.createDataFrame(
        sorted(_BENFORD_MICRO.items()), "digit int, expected_micro long"
    )
    tot = digits.agg(F.sum("n_obs").alias("total"))
    out = (
        F.broadcast(exp_tab)
        .join(digits, "digit", "left")
        .crossJoin(F.broadcast(tot))
        .withColumn("n_obs", F.coalesce("n_obs", F.lit(0)))
    )
    obs_micro = F.expr("(n_obs * 2000000 + total) DIV (2 * total)")
    return out.select(
        "digit",
        "n_obs",
        "total",
        obs_micro.alias("observed_micro"),
        "expected_micro",
        F.abs(obs_micro - F.col("expected_micro")).alias("abs_dev_micro"),
    )


@register(
    "ab_test_two_proportion",
    tags=("A4", "F4"),
    oracle="""
WITH users AS (
  SELECT user_id, user_id % 2 AS variant,
         CASE WHEN max(CASE WHEN event_type = 'purchase' THEN value END) > 150
              THEN 1 ELSE 0 END AS converted
  FROM events GROUP BY user_id
),
arms AS (
  SELECT variant, count(*) AS n,
         CAST(sum(converted) AS BIGINT) AS conversions
  FROM users GROUP BY variant
),
wide AS (
  SELECT
    max(CASE WHEN variant = 0 THEN n END) AS n_a,
    max(CASE WHEN variant = 0 THEN conversions END) AS conv_a,
    max(CASE WHEN variant = 1 THEN n END) AS n_b,
    max(CASE WHEN variant = 1 THEN conversions END) AS conv_b
  FROM arms
)
SELECT CAST(n_a AS BIGINT) AS n_a, conv_a, CAST(n_b AS BIGINT) AS n_b, conv_b,
       round(conv_a::DOUBLE / n_a::DOUBLE, 6) AS p_a,
       round(conv_b::DOUBLE / n_b::DOUBLE, 6) AS p_b,
       round(
         (conv_a::DOUBLE / n_a::DOUBLE - conv_b::DOUBLE / n_b::DOUBLE)
         / sqrt(
             ((conv_a + conv_b)::DOUBLE / (n_a + n_b)::DOUBLE)
             * (1 - (conv_a + conv_b)::DOUBLE / (n_a + n_b)::DOUBLE)
             * (1.0 / n_a::DOUBLE + 1.0 / n_b::DOUBLE)
           ),
         6) AS z_score
FROM wide
""",
)
def ab_test_two_proportion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test between experiment arms (users split by the
    deterministic id parity; conversion = a purchase above a fixed
    value threshold — plain any-purchase converts every user of this
    dense corpus and collapses the pooled variance to zero): arm
    sizes, conversion counts, rates and the pooled-variance z statistic
    — the experiment-analysis primitive an analytics engine serves
    daily. Scale shape: one per-user max aggregate over the fact scan,
    then a 2-row arm relation pivoted and scored map-side; the z
    arithmetic runs the IDENTICAL IEEE expression tree in both engines
    before the round-6 surface."""
    ev = load_table(spark, sf_dir, "events")
    users = ev.groupBy("user_id").agg(
        F.when(
            F.max(F.when(F.col("event_type") == "purchase", F.col("value")))
            > 150,
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("converted")
    ).withColumn("variant", F.col("user_id") % 2)
    arms = users.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n"), F.sum("converted").alias("conversions")
    )
    wide = arms.agg(
        F.max(F.when(F.col("variant") == 0, F.col("n"))).alias("n_a"),
        F.max(F.when(F.col("variant") == 0, F.col("conversions"))).alias("conv_a"),
        F.max(F.when(F.col("variant") == 1, F.col("n"))).alias("n_b"),
        F.max(F.when(F.col("variant") == 1, F.col("conversions"))).alias("conv_b"),
    )
    na, ca = F.col("n_a").cast("double"), F.col("conv_a").cast("double")
    nb, cb = F.col("n_b").cast("double"), F.col("conv_b").cast("double")
    p_pool = (ca + cb) / (na + nb)
    z = (ca / na - cb / nb) / F.sqrt(
        p_pool * (F.lit(1) - p_pool) * (F.lit(1.0) / na + F.lit(1.0) / nb)
    )
    return wide.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("conv_a").alias("conv_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.col("conv_b").alias("conv_b"),
        F.round(ca / na, 6).alias("p_a"),
        F.round(cb / nb, 6).alias("p_b"),
        F.round(z, 6).alias("z_score"),
    )


# ---------------------------------------------------------------------------
# Open-order backlog by week (interval sweep via +1/-1 deltas)
# ---------------------------------------------------------------------------

_WEEK_US = 604_800_000_000


@register(
    "orders_backlog_weekly",
    tags=("A1", "W1"),
    oracle=f"""
WITH o AS (
  SELECT o_orderkey, epoch_us(o_orderdate) // {_WEEK_US} AS wk_open
  FROM orders
),
c AS (
  SELECT l_orderkey, epoch_us(max(l_shipdate)) // {_WEEK_US} AS wk_close
  FROM lineitem GROUP BY 1
),
j AS (
  SELECT wk_open, wk_close
  FROM o JOIN c ON c.l_orderkey = o.o_orderkey
),
deltas AS (
  SELECT wk_open AS week, 1 AS d, 1 AS is_open FROM j
  UNION ALL
  SELECT wk_close + 1 AS week, -1 AS d, 0 AS is_open FROM j
),
wk AS (
  SELECT week,
         CAST(sum(is_open) AS BIGINT) AS opened,
         CAST(sum(1 - is_open) AS BIGINT) AS closed,
         CAST(sum(d) AS BIGINT) AS delta
  FROM deltas GROUP BY 1
)
SELECT week, opened, closed,
       CAST(sum(delta) OVER (ORDER BY week) AS BIGINT) AS backlog
FROM wk
""",
)
def orders_backlog_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog per week — how many orders have been placed
    but not fully shipped at each point in time, the inventory-pressure
    series an operations dashboard tracks. Implemented as the classic
    interval SWEEP: each order contributes a +1 delta at its open week
    and a -1 the week after its last shipment (no per-week interval
    join, no week x orders expansion — an order alive for two years
    still costs exactly 2 rows), deltas collapse onto the calendar-week
    grid with ONE map-combined groupBy, and the running sum is a window
    over that grid. The grid is bounded by the CALENDAR SPAN (~345
    weeks for TPC-H dates), independent of SF — the unpartitioned
    cumulative window is over that fixed-size relation, never the fact
    table (allowlisted with this bound). Orders with no line items are
    excluded (they never ship; semantics documented)."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        (F.unix_micros("o_orderdate") / F.lit(_WEEK_US))
        .cast("long")
        .alias("wk_open"),
    )
    c = (
        load_table(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            (F.max(F.unix_micros("l_shipdate")) / F.lit(_WEEK_US))
            .cast("long")
            .alias("wk_close")
        )
    )
    j = o.join(c, o["o_orderkey"] == c["l_orderkey"]).select(
        "wk_open", "wk_close"
    )
    opens = j.select(
        F.col("wk_open").alias("week"),
        F.lit(1).alias("d"),
        F.lit(1).alias("is_open"),
    )
    closes = j.select(
        (F.col("wk_close") + 1).alias("week"),
        F.lit(-1).alias("d"),
        F.lit(0).alias("is_open"),
    )
    wk = (
        opens.unionByName(closes)
        .groupBy("week")
        .agg(
            F.sum("is_open").cast("long").alias("opened"),
            F.sum(1 - F.col("is_open")).cast("long").alias("closed"),
            F.sum("d").cast("long").alias("delta"),
        )
    )
    w = Window.orderBy("week").rowsBetween(Window.unboundedPreceding, 0)
    return wk.select(
        "week",
        "opened",
        "closed",
        F.sum("delta").over(w).cast("long").alias("backlog"),
    )


# ---------------------------------------------------------------------------
# ROLLUP subtotals: revenue by year x returnflag with subtotal/grand rows
# ---------------------------------------------------------------------------


@register(
    "revenue_rollup_year_flag",
    tags=("A1", "A4"),
    oracle="""
WITH base AS (
  SELECT CAST(year(l_shipdate) AS BIGINT) AS yr, l_returnflag AS flag,
         CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)
           AS cents
  FROM lineitem
)
SELECT coalesce(CAST(yr AS VARCHAR), 'ALL') AS year_label,
       coalesce(flag, 'ALL') AS flag_label,
       CAST(sum(cents) AS BIGINT) AS revenue_cents,
       CAST(count(*) AS BIGINT) AS n_items
FROM base GROUP BY ROLLUP (yr, flag)
""",
)
def revenue_rollup_year_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discounted revenue by (ship year, return flag) with ROLLUP
    subtotals — per-year rows, per-year-all-flags subtotals, and the
    grand total in ONE aggregation pass, the OLAP reporting shape every
    BI layer asks for. Spark's rollup() compiles to a single Expand +
    hash aggregate (each input row fans to its 3 grouping sets map-side
    and partial-aggregates before the shuffle — never 3 scans, never a
    union of 3 groupBys). Subtotal rows are labeled 'ALL' via coalesce
    so the labels — not engine-specific grouping-id bit orders — carry
    the semantics across engines. Revenue rides the catalog's exact
    cents convention."""
    li = load_table(spark, sf_dir, "lineitem")
    base = li.select(
        F.year("l_shipdate").cast("long").alias("yr"),
        F.col("l_returnflag").alias("flag"),
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0)
        .cast("long")
        .alias("cents"),
    )
    return (
        base.rollup("yr", "flag")
        .agg(
            F.sum("cents").cast("long").alias("revenue_cents"),
            F.count(F.lit(1)).cast("long").alias("n_items"),
        )
        .select(
            F.coalesce(F.col("yr").cast("string"), F.lit("ALL")).alias(
                "year_label"
            ),
            F.coalesce(F.col("flag"), F.lit("ALL")).alias("flag_label"),
            "revenue_cents",
            "n_items",
        )
    )


# ---------------------------------------------------------------------------
# Customer reorder-interval distribution
# ---------------------------------------------------------------------------


@register(
    "customer_reorder_intervals",
    tags=("W4", "A1"),
    oracle=f"""
WITH gaps AS (
  SELECT o_custkey,
         CAST((epoch_us(o_orderdate)
               - lag(epoch_us(o_orderdate)) OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_orderdate, o_orderkey))
              // {86_400_000_000} AS BIGINT) AS gap_days
  FROM orders
),
cust AS (
  SELECT o_custkey,
         CAST(count(*) AS BIGINT) AS n_gaps,
         CAST(sum(gap_days) AS BIGINT) AS total_days
  FROM gaps WHERE gap_days IS NOT NULL GROUP BY 1
),
bucketed AS (
  SELECT CAST(total_days // n_gaps // 30 AS BIGINT) AS mean_gap_months,
         n_gaps
  FROM cust
)
SELECT mean_gap_months,
       CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(n_gaps) AS BIGINT) AS n_intervals
FROM bucketed GROUP BY 1
""",
)
def customer_reorder_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reorder-cadence distribution: per customer, the gaps between
    consecutive orders (one lag() pass partitioned by customer), the
    integer mean gap bucketed into months, then the population histogram
    — the repeat-purchase rhythm segmentation that complements RFM's
    recency view. All arithmetic is exact integer division (epoch-day
    gaps, floor-divided means), so there is no rounding boundary at
    all. Scale shape: one partitioned window over the orders table, two
    map-combined groupBys, output bounded by the month-bucket domain."""
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = o.select(
        "o_custkey",
        F.expr(
            "CAST((unix_micros(o_orderdate)"
            " - lag(unix_micros(o_orderdate)) OVER ("
            "     PARTITION BY o_custkey"
            "     ORDER BY o_orderdate, o_orderkey))"
            f" DIV {86_400_000_000} AS BIGINT)"
        ).alias("gap_days"),
    )
    cust = (
        gaps.filter(F.col("gap_days").isNotNull())
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_gaps"),
            F.sum("gap_days").cast("long").alias("total_days"),
        )
    )
    bucketed = cust.selectExpr(
        "CAST(total_days DIV n_gaps DIV 30 AS BIGINT) AS mean_gap_months",
        "n_gaps",
    )
    return bucketed.groupBy("mean_gap_months").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("n_gaps").cast("long").alias("n_intervals"),
    )


# ---------------------------------------------------------------------------
# Market concentration: Herfindahl-Hirschman index per supplier nation
# ---------------------------------------------------------------------------


@register(
    "supplier_hhi_by_nation",
    tags=("A1", "J2"),
    oracle="""
WITH rev AS (
  SELECT s.s_nationkey AS nationkey, l.l_suppkey,
         CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0)
                       AS BIGINT)) AS BIGINT) AS cents
  FROM lineitem l JOIN supplier s ON s.s_suppkey = l.l_suppkey
  GROUP BY 1, 2
),
agg AS (
  SELECT nationkey,
         CAST(count(*) AS BIGINT) AS n_suppliers,
         CAST(sum(CAST(cents AS HUGEINT) * cents) AS DOUBLE) AS ss,
         CAST(sum(cents) AS DOUBLE) AS st
  FROM rev GROUP BY 1
)
SELECT n.n_name AS nation, a.n_suppliers,
       CAST(floor(ss / st / st * 1000000 + 0.5) AS BIGINT) AS hhi_micro
FROM agg a JOIN nation n ON n.n_nationkey = a.nationkey
""",
)
def supplier_hhi_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman market-concentration index of supplier
    revenue within each nation — the antitrust-style concentration
    statistic a marketplace health dashboard tracks (1e6 = monopoly,
    ->1/n = perfectly fragmented). The key identity makes it one
    aggregation tree: HHI = sum(share^2) = sum(rev^2) / total^2, so the
    per-supplier revenue groupBy feeds a per-nation aggregate of exact
    integer cents and squared cents (HUGEINT/DECIMAL), and the only
    floating-point op is the final shared-template division. The
    25-row nation dim joins broadcast. Scale shape: one fact-dim join,
    two map-combined groupBys, no windows."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    # no broadcast hint on supplier (SF-scaled) — stats/AQE decide
    rev = (
        li.join(s.select("s_suppkey", "s_nationkey"),
                li["l_suppkey"] == s["s_suppkey"])
        .groupBy(F.col("s_nationkey").alias("nationkey"), "l_suppkey")
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100,
                    0,
                ).cast("long")
            )
            .cast("long")
            .alias("cents")
        )
    )
    agg = rev.groupBy("nationkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_suppliers"),
        F.sum(dec38(F.col("cents")) * dec38(F.col("cents")))
        .cast("double")
        .alias("ss"),
        F.sum("cents").cast("double").alias("st"),
    )
    return (
        agg.join(
            F.broadcast(n.select("n_nationkey", "n_name")),
            agg["nationkey"] == n["n_nationkey"],
        )
        .selectExpr(
            "n_name AS nation",
            "n_suppliers",
            "CAST(floor(ss / st / st * 1000000 + 0.5) AS BIGINT) AS hhi_micro",
        )
    )


# ---------------------------------------------------------------------------
# Word-aligned bitmap intersection: users active in BOTH event types
# ---------------------------------------------------------------------------


@register(
    "bitmap_type_overlap",
    tags=("A4", "U1"),
    oracle="""
WITH ub AS (SELECT DISTINCT event_type, user_id FROM events)
SELECT a.event_type AS type_a, b.event_type AS type_b,
       CAST(count(*) AS BIGINT) AS n_both
FROM ub a JOIN ub b
  ON a.user_id = b.user_id AND a.event_type < b.event_type
GROUP BY 1, 2
""",
)
def bitmap_type_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap matrix — how many users are active in BOTH of
    each pair of event types — computed with WORD-ALIGNED BITMAPS (the
    roaring-bitmap idea as pure DataFrame ops) instead of a user-level
    self-join: each type's user set folds into 64-bit words keyed by
    user_id div 64 (one bit_or aggregate; the set shrinks 64x), pairs
    of types join on the WORD index, and the intersection size is a sum
    of bit_count(a & b) — the shuffle carries |users|/64 rows per type
    instead of |users|, and the same bitmaps answer any number of pair
    queries. The oracle counts the same overlap by plain distinct-join
    semantics (value-equal by definition). Deterministic: bit positions
    are exact integer arithmetic. Scale shape: one distinct + one
    bit_or groupBy per type, then a word-keyed equi-join over the
    compressed relation."""
    ev = load_table(spark, sf_dir, "events")
    ub = (
        ev.groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).alias("_n"))
        .selectExpr(
            "event_type",
            "CAST(user_id DIV 64 AS BIGINT) AS w",
            "shiftleft(CAST(1 AS BIGINT), CAST(user_id % 64 AS INT)) AS bit",
        )
    )
    bm = ub.groupBy("event_type", "w").agg(
        F.expr("bit_or(bit)").alias("bits")
    )
    a = bm.selectExpr("event_type AS type_a", "w", "bits AS ba")
    b = bm.selectExpr("event_type AS type_b", "w", "bits AS bb")
    return (
        a.join(b, "w")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(
            F.sum(F.expr("bit_count(ba & bb)")).cast("long").alias("n_both")
        )
    )


# ---------------------------------------------------------------------------
# Top-N with OTHERS rollup (the BI "top 5 + other" report shape)
# ---------------------------------------------------------------------------


@register(
    "top_sources_with_other",
    tags=("A1", "O2"),
    oracle="""
WITH per AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS chars
  FROM documents GROUP BY 1
),
ranked AS (
  SELECT *, row_number() OVER (ORDER BY chars DESC, source) AS rnk
  FROM per
)
SELECT CASE WHEN rnk <= 5 THEN source ELSE 'OTHER' END AS source_label,
       CAST(sum(n_docs) AS BIGINT) AS n_docs,
       CAST(sum(chars) AS BIGINT) AS total_chars,
       CAST(min(rnk) AS BIGINT) AS best_rank
FROM ranked GROUP BY 1
""",
)
def top_sources_with_other(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The BI staple 'top 5 plus OTHER' report: sources ranked by total
    characters, the head kept by name and the tail folded into one
    OTHER row — the legend-budget shape every dashboard needs and naive
    LIMIT queries get wrong (LIMIT drops the tail instead of
    aggregating it). The ranking window runs over the per-source
    ROLLUP (bounded by |sources|, never the fact table — that's the
    scale discipline; the fact scan ends at the first groupBy); the
    head/tail fold is a CASE relabel + re-aggregate, all exact
    integers. Deterministic (chars, source) tie-break."""
    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("chars"),
    )
    w = Window.orderBy(F.desc("chars"), F.asc("source"))
    ranked = per.withColumn("rnk", F.row_number().over(w))
    return (
        ranked.withColumn(
            "source_label",
            F.when(F.col("rnk") <= 5, F.col("source")).otherwise(
                F.lit("OTHER")
            ),
        )
        .groupBy("source_label")
        .agg(
            F.sum("n_docs").cast("long").alias("n_docs"),
            F.sum("chars").cast("long").alias("total_chars"),
            F.min("rnk").cast("long").alias("best_rank"),
        )
    )


# ---------------------------------------------------------------------------
# Order fulfillment mix: per-order finished-line share distribution
# ---------------------------------------------------------------------------


@register(
    "order_fill_mix",
    tags=("A1", "A4"),
    oracle="""
WITH per AS (
  SELECT l_orderkey,
         CAST(count(*) AS BIGINT) AS n_lines,
         CAST(sum(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_finished
  FROM lineitem GROUP BY 1
),
labeled AS (
  SELECT CASE WHEN n_finished = n_lines THEN 'complete'
              WHEN n_finished = 0 THEN 'open'
              ELSE 'partial' END AS fill_state,
         n_lines
  FROM per
)
SELECT fill_state,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(n_lines) AS BIGINT) AS n_lines,
       CAST(floor(CAST(sum(n_lines) AS DOUBLE) / count(*) * 1000000 + 0.5)
            AS BIGINT) AS avg_lines_micro
FROM labeled GROUP BY 1
""",
)
def order_fill_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fulfillment-mix report: each order classified complete / partial /
    open by comparing its finished-line count to its line count (one
    conditional-sum groupBy — the all-vs-any-vs-none classification
    every fulfillment dashboard leads with), then the population counts
    and average order width per state. Partial orders are the
    operationally expensive ones (split shipments); their share is the
    headline number. Exact integers throughout; one fact-table groupBy
    plus a 3-row rollup."""
    li = load_table(spark, sf_dir, "lineitem")
    per = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum(F.when(F.col("l_linestatus") == "F", 1).otherwise(0))
        .cast("long")
        .alias("n_finished"),
    )
    labeled = per.select(
        F.when(F.col("n_finished") == F.col("n_lines"), F.lit("complete"))
        .when(F.col("n_finished") == 0, F.lit("open"))
        .otherwise(F.lit("partial"))
        .alias("fill_state"),
        "n_lines",
    )
    return labeled.groupBy("fill_state").agg(
        F.count(F.lit(1)).cast("long").alias("n_orders"),
        F.sum("n_lines").cast("long").alias("n_lines"),
        half_up(F.sum("n_lines").cast("double") / F.count(F.lit(1)), 6)
        .alias("avg_lines_micro"),
    )


# ---------------------------------------------------------------------------
# Demand curve: quantity response across part price bands
# ---------------------------------------------------------------------------


@register(
    "demand_curve_price_bands",
    tags=("A1", "J2"),
    oracle="""
WITH pr AS (
  SELECT p_partkey,
         CAST(floor(p_retailprice / 10) AS BIGINT) AS price_band
  FROM part
),
j AS (
  SELECT pr.price_band,
         CAST(floor(l_quantity + 0.5) AS BIGINT) AS q,
         CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)
           AS cents
  FROM lineitem l JOIN pr ON pr.p_partkey = l.l_partkey
)
SELECT price_band,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(q) AS BIGINT) AS total_qty,
       CAST(floor(CAST(sum(q) AS DOUBLE) / count(*) * 1000000 + 0.5)
            AS BIGINT) AS avg_qty_micro,
       CAST(sum(cents) AS BIGINT) AS revenue_cents
FROM j GROUP BY 1
""",
)
def demand_curve_price_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Demand curve across part price bands: line-item quantity response
    as retail price rises in fixed $10 bands (the testdata's 900-1000 price span gives 10 bands) — the empirical
    price-sensitivity table a pricing team reads before a regression
    (flat avg quantity across bands = inelastic catalog; a falling
    staircase = real elasticity). The part dimension carries the band
    (integer floor division, no float bucketer), the fact table joins
    on partkey and aggregates once; the only double is the final
    per-band mean. Scale shape: one dim join + one map-combined
    groupBy to the bounded band domain."""
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part").selectExpr(
        "p_partkey", "CAST(floor(p_retailprice / 10) AS BIGINT) AS price_band"
    )
    j = li.join(p, li["l_partkey"] == p["p_partkey"]).selectExpr(
        "price_band",
        "CAST(floor(l_quantity + 0.5) AS BIGINT) AS q",
        "CAST(round(l_extendedprice * (1 - l_discount) * 100, 0) AS BIGINT)"
        " AS cents",
    )
    return j.groupBy("price_band").agg(
        F.count(F.lit(1)).cast("long").alias("n_lines"),
        F.sum("q").cast("long").alias("total_qty"),
        half_up(F.sum("q").cast("double") / F.count(F.lit(1)), 6)
        .alias("avg_qty_micro"),
        F.sum("cents").cast("long").alias("revenue_cents"),
    )


# ---------------------------------------------------------------------------
# Brand-diversity leaders: per-customer purchase entropy
# ---------------------------------------------------------------------------

_BRAND_H = (
    "CAST(floor((ln(nn) - CAST(sfl AS DOUBLE) / 1000000.0 / nn) * 1000000"
    " + 0.5) AS BIGINT) AS entropy_micro"
)


@register(
    "brand_diversity_leaders",
    tags=("A1", "O2", "J2"),
    oracle=f"""
WITH cb AS (
  SELECT o.o_custkey AS cust, p.p_brand AS brand,
         CAST(count(*) AS BIGINT) AS f
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN part p ON p.p_partkey = l.l_partkey
  GROUP BY 1, 2
),
s AS (
  SELECT cust,
         CAST(sum(f) AS BIGINT) AS nn,
         CAST(count(*) AS BIGINT) AS n_brands,
         CAST(sum(CAST(f AS HUGEINT)
              * CAST(floor(ln(f) * 1000000 + 0.5) AS BIGINT)) AS HUGEINT)
           AS sfl
  FROM cb GROUP BY 1
),
scored AS (SELECT cust, nn, n_brands, {_BRAND_H} FROM s WHERE nn >= 20)
SELECT cust, nn AS n_items, n_brands, entropy_micro
FROM scored
ORDER BY entropy_micro DESC, cust LIMIT 15
""",
)
def brand_diversity_leaders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 15 most brand-diverse heavy buyers: per-customer Shannon
    entropy of purchased-brand frequencies (the corpus_token_entropy
    micro-ln discipline applied to shopping behavior), restricted to
    customers with >= 20 line items so the entropy is estimated from
    real support — the seed list a cross-sell model trains its
    'explorer' segment on. Two dim joins + one (customer, brand)
    groupBy, per-customer exact-integer entropy, TakeOrderedAndProject
    head with deterministic tie-breaks."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    cb = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(p, li["l_partkey"] == p["p_partkey"])
        .groupBy(F.col("o_custkey").alias("cust"), F.col("p_brand").alias("brand"))
        .agg(F.count(F.lit(1)).cast("long").alias("f"))
    )
    s = cb.groupBy("cust").agg(
        F.sum("f").cast("long").alias("nn"),
        F.count(F.lit(1)).cast("long").alias("n_brands"),
        F.sum(
            dec38(F.col("f"))
            * dec38(half_up(F.log(F.col("f").cast("double")), 6))
        ).alias("sfl"),
    )
    scored = s.filter(F.col("nn") >= 20).selectExpr(
        "cust", "nn", "n_brands", _BRAND_H
    )
    return (
        scored.orderBy(F.desc("entropy_micro"), F.asc("cust"))
        .limit(15)
        .selectExpr("cust", "nn AS n_items", "n_brands", "entropy_micro")
    )


# ---------------------------------------------------------------------------
# Week-over-week top-20 stability (rank-set churn)
# ---------------------------------------------------------------------------


@register(
    "weekly_topk_stability",
    tags=("A1", "O2", "W4"),
    oracle="""
WITH wk AS (
  SELECT epoch_us(l_shipdate) // 604800000000 AS week, l_partkey,
         CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100, 0)
                       AS BIGINT)) AS BIGINT) AS cents
  FROM lineitem GROUP BY 1, 2
),
ranked AS (
  SELECT week, l_partkey,
         row_number() OVER (PARTITION BY week
                            ORDER BY cents DESC, l_partkey) AS rnk
  FROM wk
),
topk AS (SELECT week, l_partkey FROM ranked WHERE rnk <= 20),
ov AS (
  SELECT a.week AS week,
         CAST(count(b.l_partkey) AS BIGINT) AS n_kept
  FROM topk a
  LEFT JOIN topk b
    ON b.week = a.week - 1 AND b.l_partkey = a.l_partkey
  GROUP BY 1
)
SELECT week, n_kept,
       CAST(floor(CAST(n_kept AS DOUBLE) / (40 - n_kept) * 1000000 + 0.5)
            AS BIGINT) AS jaccard_micro
FROM ov WHERE week > (SELECT min(week) FROM topk)
""",
)
def weekly_topk_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week stability of the top-20 revenue parts: how many of
    this week's leaders were leaders LAST week, as a count and a
    set-Jaccard — the leaderboard-churn series that separates stable
    catalogs (merchandising can plan) from fashion-driven ones (it
    can't). Weekly revenue rollup, per-week rank window (partitioned by
    week over the part rollup), top-20 head, one self-join on
    (week-1, part) — Jaccard simplifies to kept/(40-kept) because both
    sets have exactly 20 members. Exact integers to one shared
    division. Scale: fact scan ends at the first groupBy; everything
    after is 20 rows per week."""
    li = load_table(spark, sf_dir, "lineitem")
    wk = li.groupBy(
        (F.unix_micros("l_shipdate") / F.lit(604_800_000_000))
        .cast("long")
        .alias("week"),
        "l_partkey",
    ).agg(
        F.sum(
            F.round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100, 0
            ).cast("long")
        )
        .cast("long")
        .alias("cents")
    )
    wr = Window.partitionBy("week").orderBy(F.desc("cents"), F.asc("l_partkey"))
    topk = (
        wk.withColumn("rnk", F.row_number().over(wr))
        .filter(F.col("rnk") <= 20)
        .select("week", "l_partkey")
    )
    prev = topk.selectExpr("week + 1 AS week", "l_partkey AS prev_part")
    ov = (
        topk.join(
            prev,
            (topk["week"] == prev["week"])
            & (topk["l_partkey"] == prev["prev_part"]),
            "left",
        )
        .select(topk["week"].alias("wk2"), "prev_part")
        .groupBy("wk2")
        .agg(F.count("prev_part").cast("long").alias("n_kept"))
    )
    first_week = topk.agg(F.min("week").alias("w0"))
    return (
        ov.crossJoin(F.broadcast(first_week))
        .filter(F.col("wk2") > F.col("w0"))
        .selectExpr(
            "wk2 AS week",
            "n_kept",
            "CAST(floor(CAST(n_kept AS DOUBLE) / (40 - n_kept) * 1000000"
            " + 0.5) AS BIGINT) AS jaccard_micro",
        )
    )


# ---------------------------------------------------------------------------
# Priority-mix drift: order-priority composition by quarter
# ---------------------------------------------------------------------------


@register(
    "priority_mix_by_quarter",
    tags=("A1", "A4"),
    oracle="""
WITH q AS (
  SELECT (year(o_orderdate) * 4 + (month(o_orderdate) - 1) // 3) AS quarter,
         o_orderpriority AS priority,
         CAST(count(*) AS BIGINT) AS n
  FROM orders GROUP BY 1, 2
),
tot AS (
  SELECT quarter, CAST(sum(n) AS BIGINT) AS total FROM q GROUP BY 1
)
SELECT q.quarter, q.priority, q.n,
       CAST(floor(CAST(q.n AS DOUBLE) / t.total * 1000000 + 0.5) AS BIGINT)
         AS share_micro
FROM q JOIN tot t ON t.quarter = q.quarter
""",
)
def priority_mix_by_quarter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-priority composition per quarter — the mix-shift monitor
    that catches upstream process changes (a sudden URGENT share jump
    usually means a client integration changed defaults, not real
    urgency). Integer quarter keys (year*4 + zero-based quarter — no
    date truncation semantics to disagree on), exact counts, one
    deterministic share division. One groupBy over the fact table plus
    a bounded rollup join."""
    o = load_table(spark, sf_dir, "orders")
    q = o.groupBy(
        (
            F.year("o_orderdate") * 4
            + F.expr("(month(o_orderdate) - 1) DIV 3")
        ).alias("quarter"),
        F.col("o_orderpriority").alias("priority"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    tot = q.groupBy("quarter").agg(F.sum("n").cast("long").alias("total"))
    return q.join(F.broadcast(tot), "quarter").selectExpr(
        "quarter",
        "priority",
        "n",
        "CAST(floor(CAST(n AS DOUBLE) / total * 1000000 + 0.5) AS BIGINT)"
        " AS share_micro",
    )


# ---------------------------------------------------------------------------
# Round 11: dominance analysis + temporal coverage
# ---------------------------------------------------------------------------

from stock_streaming_data_pipeline_spark.operators.skyline import skyline_2d  # noqa: E402


@register(
    "skyline_pareto_parts",
    tags=("LLM-curation",),
    oracle="""
WITH pp AS (
  SELECT p_partkey,
         CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT) AS price_cents,
         p_size
  FROM part
),
lv AS (SELECT price_cents, max(p_size) AS msize FROM pp GROUP BY 1),
lv2 AS (
  SELECT price_cents, msize,
         max(msize) OVER (ORDER BY price_cents
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS prev
  FROM lv
)
SELECT p.p_partkey AS partkey, p.price_cents,
       CAST(p.p_size AS BIGINT) AS size
FROM pp p JOIN lv2 l USING (price_cents)
WHERE p.p_size = l.msize AND (l.prev IS NULL OR l.prev < p.p_size)
""",
)
def skyline_pareto_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto frontier of parts under (minimize retail price, maximize
    size) — the dominance question behind cheapest-for-quality source
    selection. operators/skyline.py: collapse to price levels (map-side
    combinable, output bounded by the cents domain), ONE window over
    the level relation, join back — no quadratic dominance join, no
    UDF; the frontier has at most |size domain| = 50 rows by
    construction. Exact integer cents; both engines derive them with
    the same floor(x*100+0.5). Unit-pinned against an O(n^2)
    brute-force dominance witness on random point sets."""
    pp = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("partkey"),
        F.expr(
            "CAST(floor(p_retailprice * 100 + 0.5) AS BIGINT)"
        ).alias("price_cents"),
        F.col("p_size"),
    )
    return (
        skyline_2d(pp, min_col="price_cents", max_col="p_size")
        .select(
            "partkey",
            "price_cents",
            F.col("p_size").cast("long").alias("size"),
        )
        .orderBy("price_cents", "partkey")
    )


@register(
    "interval_union_coverage",
    tags=("A1", "W1"),
    oracle="""
WITH fulfill AS (
  SELECT l_orderkey AS o_orderkey,
         CAST(max(epoch_us(l_shipdate)) // 86400000000 AS BIGINT) AS e0
  FROM lineitem GROUP BY 1
),
iv AS (
  SELECT o.o_custkey AS custkey, o.o_orderkey,
         CAST(epoch_us(o.o_orderdate) // 86400000000 AS BIGINT) AS s,
         greatest(f.e0,
                  CAST(epoch_us(o.o_orderdate) // 86400000000 AS BIGINT)) AS e
  FROM orders o JOIN fulfill f USING (o_orderkey)
),
marked AS (
  SELECT custkey, s, e, o_orderkey,
         CASE WHEN max(e) OVER (PARTITION BY custkey
                                ORDER BY s, e, o_orderkey
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING) IS NULL
                   OR s > max(e) OVER (PARTITION BY custkey
                                       ORDER BY s, e, o_orderkey
                                       ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS is_new
  FROM iv
),
isl AS (
  SELECT custkey, s, e,
         sum(is_new) OVER (PARTITION BY custkey ORDER BY s, e, o_orderkey
                           ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS island
  FROM marked
),
grp AS (
  SELECT custkey, island, min(s) AS a, max(e) AS b,
         CAST(count(*) AS BIGINT) AS n
  FROM isl GROUP BY 1, 2
)
SELECT custkey,
       CAST(sum(b - a + 1) AS BIGINT) AS covered_days,
       CAST(count(*) AS BIGINT) AS n_islands,
       CAST(sum(n) AS BIGINT) AS n_orders
FROM grp GROUP BY 1
ORDER BY covered_days DESC, custkey
LIMIT 25
""",
)
def interval_union_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line interval-union coverage: per customer, the number of
    distinct days covered by the union of their order fulfillment
    windows [order date, last line-item ship date] — overlapping orders
    must not double-count, the classic sessionize-then-merge shape
    (uptime from overlapping incident windows, coverage of crawl
    snapshots). Pure window algebra: per-customer running max of
    interval end marks island starts (prefix-sum island ids), islands
    reduce to max(end)-min(start)+1, all exact integer epoch days —
    no UDF, one shuffle on the customer key, window state O(1) per row.
    Tie order is pinned (s, e, orderkey) so island numbering is
    deterministic in both engines; equal-start rows can never split an
    island because interval ends are >= starts. Top 25 by covered days
    (ties broken by custkey). Unit-pinned against a brute-force day-set
    union witness on random interval families."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    fulfill = li.groupBy(F.col("l_orderkey").alias("o_orderkey")).agg(
        F.expr(
            "CAST(max(unix_micros(CAST(l_shipdate AS TIMESTAMP)))"
            " DIV 86400000000 AS BIGINT)"
        ).alias("e0")
    )
    s_day = F.expr(
        "CAST(unix_micros(CAST(o_orderdate AS TIMESTAMP))"
        " DIV 86400000000 AS BIGINT)"
    )
    iv = (
        o.join(fulfill, "o_orderkey")
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderkey"),
            s_day.alias("s"),
            F.greatest(F.col("e0"), s_day).alias("e"),
        )
    )
    w_prev = (
        Window.partitionBy("custkey")
        .orderBy("s", "e", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("custkey")
        .orderBy("s", "e", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    prev_max = F.max("e").over(w_prev)
    marked = iv.select(
        "custkey",
        "s",
        "e",
        "o_orderkey",
        F.when(
            prev_max.isNull() | (F.col("s") > prev_max), F.lit(1)
        ).otherwise(F.lit(0)).alias("is_new"),
    )
    isl = marked.select(
        "custkey", "s", "e", F.sum("is_new").over(w_run).alias("island")
    )
    grp = isl.groupBy("custkey", "island").agg(
        F.min("s").alias("a"),
        F.max("e").alias("b"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    return (
        grp.groupBy("custkey")
        .agg(
            F.sum(F.col("b") - F.col("a") + 1).cast("long").alias(
                "covered_days"
            ),
            F.count(F.lit(1)).cast("long").alias("n_islands"),
            F.sum("n").cast("long").alias("n_orders"),
        )
        .orderBy(F.desc("covered_days"), "custkey")
        .limit(25)
    )
