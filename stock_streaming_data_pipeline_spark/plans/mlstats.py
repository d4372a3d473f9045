"""Statistics / ML-adjacent analytics tier over the ``events`` stream.

Survival analysis (Kaplan-Meier), data-drift monitoring (PSI, two-sample
Kolmogorov-Smirnov), robust trend estimation, calibration — the model- and
experiment-monitoring queries a production pipeline runs beside its
training-data curation. All follow the catalog parity rules: exact integer
arithmetic (micro-units via ``floor(x*1e6+0.5)``) wherever the math allows,
epoch-microsecond BIGINTs for time, and identical IEEE-deterministic double
paths (only ``+ - * /``, ``sqrt``, and guarded ``ln``/``exp``) where a ratio
is genuinely irrational.

Scale notes are per-query; the common shape is: one pass over the fact
table into a bounded aggregated relation (users, etype x bin grid,
etype x distinct-value), then windows only over those bounded relations —
except the KS ECDF, which reuses the two-phase distributed prefix sum
(operators/running.py:running_sum_salted) so no single task ever owns a
whole event-type's value domain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from stock_streaming_data_pipeline_spark.functions.scalars import dec38, half_up
from stock_streaming_data_pipeline_spark.operators import running
from stock_streaming_data_pipeline_spark.operators.checkpoint import materialize
from stock_streaming_data_pipeline_spark.plans.catalog import register
from stock_streaming_data_pipeline_spark.tables import (
    duck_connection,
    load_table,
    sql_double,
    values_sql,
)

_US_PER_DAY = 86_400_000_000  # epoch-microsecond day, exact integer


# ---------------------------------------------------------------------------
# Kaplan-Meier survival
# ---------------------------------------------------------------------------


@register(
    "survival_kaplan_meier",
    tags=("ML-stats",),
    oracle=f"""
WITH bounds AS (
  SELECT epoch_us(min(ts)) AS t0_us, epoch_us(max(ts)) AS t1_us FROM events
),
users AS (
  SELECT user_id, epoch_us(min(ts)) AS f_us,
         epoch_us(max(CASE WHEN event_type = 'purchase' THEN ts END)) AS l_us
  FROM events GROUP BY 1
  HAVING l_us IS NOT NULL
),
lives AS (
  SELECT
    CAST((f_us - t0_us) // (7 * {_US_PER_DAY}) AS BIGINT) AS cohort_week,
    CAST((l_us - f_us) // {_US_PER_DAY} AS BIGINT) AS t_days,
    (l_us >= t1_us - 7 * {_US_PER_DAY}) AS censored
  FROM users, bounds
),
grp AS (
  SELECT cohort_week, t_days,
         CAST(sum(CASE WHEN censored THEN 0 ELSE 1 END) AS BIGINT) AS d_events,
         CAST(sum(CASE WHEN censored THEN 1 ELSE 0 END) AS BIGINT) AS c_censored
  FROM lives GROUP BY 1, 2
),
risk AS (
  SELECT *,
         CAST(sum(d_events + c_censored) OVER (PARTITION BY cohort_week)
              - coalesce(sum(d_events + c_censored) OVER (
                  PARTITION BY cohort_week ORDER BY t_days
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS BIGINT) AS n_risk
  FROM grp
),
surv AS (
  SELECT *,
         max(CASE WHEN d_events > 0 AND d_events >= n_risk THEN 1 ELSE 0 END)
           OVER (PARTITION BY cohort_week ORDER BY t_days
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hit_zero,
         sum(CASE WHEN d_events > 0 AND d_events < n_risk
                  THEN ln(CAST(n_risk - d_events AS DOUBLE) / n_risk)
                  ELSE 0.0 END)
           OVER (PARTITION BY cohort_week ORDER BY t_days
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS log_s
  FROM risk
)
SELECT cohort_week, t_days, n_risk, d_events, c_censored,
       CAST(CASE WHEN hit_zero = 1 THEN 0
                 ELSE floor(exp(log_s) * 1000000 + 0.5) END AS BIGINT)
         AS survival_micro
FROM surv
""",
)
def survival_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curves per signup cohort: each purchasing
    user's lifetime runs first event -> last purchase (whole days, exact
    epoch-microsecond integer arithmetic) — time-to-churn-from-buying;
    users whose last purchase falls in the final 7 days of the
    observation window are right-censored (still buying). Per
    cohort week the estimator steps through distinct lifetimes t with
    the at-risk count n_t (users surviving >= t), observed churns d_t
    and censorings c_t, and S(t) = prod_{t'<=t}(1 - d/n) — computed as
    exp of an ordered ln-sum (the only irrational step; both engines
    walk the identical ordered frame), snapped to micro-units, with the
    n==d absorbing-zero guarded by a windowed flag because DuckDB's
    ln(0) raises. Scale shape: one groupBy(user) pass over the fact
    table; everything after runs on the users relation and then the
    (cohort, lifetime-days) relation, bounded by the observation span —
    windows partition by cohort over day-granularity rows, never over
    SF-scaled data. The 1-row bounds frame rides a broadcast crossJoin."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.unix_micros(F.min("ts")).alias("t0_us"),
        F.unix_micros(F.max("ts")).alias("t1_us"),
    )
    users = (
        ev.groupBy("user_id")
        .agg(
            F.unix_micros(F.min("ts")).alias("f_us"),
            F.unix_micros(
                F.max(F.when(F.col("event_type") == "purchase", F.col("ts")))
            ).alias("l_us"),
        )
        .filter(F.col("l_us").isNotNull())
    )
    lives = users.crossJoin(F.broadcast(bounds)).select(
        ((F.col("f_us") - F.col("t0_us")) / F.lit(7 * _US_PER_DAY))
        .cast("long")
        .alias("cohort_week"),
        ((F.col("l_us") - F.col("f_us")) / F.lit(_US_PER_DAY))
        .cast("long")
        .alias("t_days"),
        (F.col("l_us") >= F.col("t1_us") - F.lit(7 * _US_PER_DAY)).alias(
            "censored"
        ),
    )
    grp = lives.groupBy("cohort_week", "t_days").agg(
        F.sum(F.when(F.col("censored"), 0).otherwise(1)).alias("d_events"),
        F.sum(F.when(F.col("censored"), 1).otherwise(0)).alias("c_censored"),
    )
    w_all = Window.partitionBy("cohort_week")
    w_prev = (
        Window.partitionBy("cohort_week")
        .orderBy("t_days")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_le = (
        Window.partitionBy("cohort_week")
        .orderBy("t_days")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    removed = F.col("d_events") + F.col("c_censored")
    risk = grp.withColumn(
        "n_risk",
        F.sum(removed).over(w_all)
        - F.coalesce(F.sum(removed).over(w_prev), F.lit(0)),
    )
    surv = risk.withColumn(
        "hit_zero",
        F.max(
            F.when(
                (F.col("d_events") > 0) & (F.col("d_events") >= F.col("n_risk")),
                1,
            ).otherwise(0)
        ).over(w_le),
    ).withColumn(
        "log_s",
        F.sum(
            F.when(
                (F.col("d_events") > 0) & (F.col("d_events") < F.col("n_risk")),
                F.log(
                    (F.col("n_risk") - F.col("d_events")).cast("double")
                    / F.col("n_risk")
                ),
            ).otherwise(F.lit(0.0))
        ).over(w_le),
    )
    return surv.select(
        "cohort_week",
        "t_days",
        "n_risk",
        "d_events",
        "c_censored",
        F.when(F.col("hit_zero") == 1, F.lit(0))
        .otherwise(half_up(F.exp("log_s"), 6))
        .cast("long")
        .alias("survival_micro"),
    )


# ---------------------------------------------------------------------------
# Population Stability Index drift report
# ---------------------------------------------------------------------------

_PSI_BINS = 10
_PSI_SPLIT_DAYS = 15  # epoch A = first 15 days, epoch B = the rest


@register(
    "drift_psi_report",
    tags=("ML-stats",),
    oracle=f"""
WITH bounds AS (
  SELECT epoch_us(min(ts)) AS t0_us,
         min(value) AS vmin, max(value) AS vmax
  FROM events
),
binned AS (
  SELECT event_type,
         CASE WHEN vmax = vmin THEN 0
              ELSE least({_PSI_BINS - 1},
                         CAST(floor((value - vmin) * {_PSI_BINS}
                                    / (vmax - vmin)) AS INTEGER))
         END AS bin,
         (epoch_us(ts) < t0_us + {_PSI_SPLIT_DAYS} * {_US_PER_DAY}) AS in_a
  FROM events, bounds
),
grid AS (
  SELECT event_type, CAST(r.range AS INTEGER) AS bin
  FROM (SELECT DISTINCT event_type FROM events), range({_PSI_BINS}) r
),
counts AS (
  SELECT g.event_type, g.bin,
         CAST(coalesce(sum(CASE WHEN b.in_a THEN 1 END), 0) AS BIGINT) AS c_a,
         CAST(coalesce(sum(CASE WHEN NOT b.in_a THEN 1 END), 0) AS BIGINT) AS c_b
  FROM grid g LEFT JOIN binned b
    ON b.event_type = g.event_type AND b.bin = g.bin
  GROUP BY 1, 2
),
probs AS (
  SELECT *,
         sum(c_a) OVER (PARTITION BY event_type) AS n_a,
         sum(c_b) OVER (PARTITION BY event_type) AS n_b
  FROM counts
),
contribs AS (
  SELECT event_type, bin, c_a, c_b,
         CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
         (CAST(c_a + 1 AS DOUBLE) / (n_a + {_PSI_BINS})
          - CAST(c_b + 1 AS DOUBLE) / (n_b + {_PSI_BINS}))
         * ln((CAST(c_a + 1 AS DOUBLE) / (n_a + {_PSI_BINS}))
              / (CAST(c_b + 1 AS DOUBLE) / (n_b + {_PSI_BINS}))) AS contrib
  FROM probs
)
SELECT event_type, bin, c_a, c_b,
       CAST(floor(contrib * 1000000 + 0.5) AS BIGINT) AS contrib_micro,
       CAST(floor(sum(contrib) OVER (PARTITION BY event_type) * 1000000 + 0.5)
         AS BIGINT) AS psi_micro
FROM contribs
""",
)
def drift_psi_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index drift monitor: split the stream into
    epoch A (first 15 days) and epoch B (the rest), histogram ``value``
    into 10 equal-width bins over the GLOBAL range per event type, and
    score PSI = sum (pA - pB) * ln(pA / pB) with Laplace-smoothed bin
    probabilities (so empty bins contribute finitely and DuckDB's
    ln-of-zero never fires). The industry drift gate is psi > 0.2; the
    report emits per-bin contributions plus the per-type total, both in
    micro-units. Bin assignment uses only IEEE-exact ops (- * / floor),
    so both engines bin identically. Scale shape: ONE pass over the
    fact table into an etype x 10-bin grid (the grid is a distinct-etype
    relation crossed with a 10-row literal range — broadcast both ways);
    every window thereafter partitions over that bounded grid. The
    1-row bounds frame rides a broadcast crossJoin."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.unix_micros(F.min("ts")).alias("t0_us"),
        F.min("value").alias("vmin"),
        F.max("value").alias("vmax"),
    )
    binned = ev.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        F.when(F.col("vmax") == F.col("vmin"), F.lit(0))
        .otherwise(
            F.least(
                F.lit(_PSI_BINS - 1),
                F.floor(
                    (F.col("value") - F.col("vmin"))
                    * _PSI_BINS
                    / (F.col("vmax") - F.col("vmin"))
                ).cast("int"),
            )
        )
        .alias("bin"),
        (
            F.unix_micros("ts")
            < F.col("t0_us") + F.lit(_PSI_SPLIT_DAYS * _US_PER_DAY)
        ).alias("in_a"),
    )
    grid = (
        ev.select("event_type")
        .distinct()
        .crossJoin(
            F.broadcast(
                spark.range(_PSI_BINS).select(F.col("id").cast("int").alias("bin"))
            )
        )
    )
    counts = (
        grid.join(binned, ["event_type", "bin"], "left")
        .groupBy("event_type", "bin")
        .agg(
            F.coalesce(F.sum(F.when(F.col("in_a"), 1)), F.lit(0)).alias("c_a"),
            F.coalesce(F.sum(F.when(~F.col("in_a"), 1)), F.lit(0)).alias("c_b"),
        )
    )
    w_et = Window.partitionBy("event_type")
    probs = counts.withColumn("n_a", F.sum("c_a").over(w_et)).withColumn(
        "n_b", F.sum("c_b").over(w_et)
    )
    p_a = (F.col("c_a") + 1).cast("double") / (F.col("n_a") + _PSI_BINS)
    p_b = (F.col("c_b") + 1).cast("double") / (F.col("n_b") + _PSI_BINS)
    contribs = probs.withColumn("contrib", (p_a - p_b) * F.log(p_a / p_b))
    return contribs.select(
        "event_type",
        "bin",
        "c_a",
        "c_b",
        half_up("contrib", 6).alias("contrib_micro"),
        half_up(F.sum("contrib").over(w_et), 6).alias("psi_micro"),
    )


# ---------------------------------------------------------------------------
# Two-sample Kolmogorov-Smirnov drift test
# ---------------------------------------------------------------------------


@register(
    "drift_ks_two_sample",
    tags=("ML-stats",),
    oracle=f"""
WITH bounds AS (
  SELECT epoch_us(min(ts)) AS t0_us FROM events
),
tagged AS (
  SELECT event_type, value,
         (epoch_us(ts) < t0_us + {_PSI_SPLIT_DAYS} * {_US_PER_DAY}) AS in_a
  FROM events, bounds
),
pts AS (
  SELECT event_type, value,
         CAST(coalesce(sum(CASE WHEN in_a THEN 1 END), 0) AS BIGINT) AS ca,
         CAST(coalesce(sum(CASE WHEN NOT in_a THEN 1 END), 0) AS BIGINT) AS cb
  FROM tagged GROUP BY 1, 2
),
ecdf AS (
  SELECT event_type,
         sum(ca) OVER (PARTITION BY event_type ORDER BY value
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca_le,
         sum(cb) OVER (PARTITION BY event_type ORDER BY value
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb_le,
         sum(ca) OVER (PARTITION BY event_type) AS n_a,
         sum(cb) OVER (PARTITION BY event_type) AS n_b
  FROM pts
)
SELECT event_type,
       CAST(n_a AS BIGINT) AS n_a,
       CAST(n_b AS BIGINT) AS n_b,
       CAST((max(abs(ca_le * n_b - cb_le * n_a)) * 2000000 + n_a * n_b)
            // (2 * n_a * n_b) AS BIGINT) AS ks_micro,
       max(abs(ca_le * n_b - cb_le * n_a)) / (CAST(n_a AS DOUBLE) * n_b)
         > 1.358 * sqrt(CAST(n_a + n_b AS DOUBLE) / (n_a * n_b)) AS reject_05
FROM ecdf
GROUP BY 1, n_a, n_b
""",
)
def drift_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift test per event type: D =
    max_v |ECDF_A(v) - ECDF_B(v)| between epoch A (first 15 days) and
    epoch B, with the large-sample 5% rejection rule D > 1.358 *
    sqrt((nA+nB)/(nA*nB)). The supremum runs on EXACT integers —
    |ca_le*nB - cb_le*nA| over the distinct-value grid — so the
    statistic is a half-away-rounded micro-unit with no float in the
    max; the critical-value compare uses only IEEE-exact ops (/ * sqrt),
    identical cross-engine. Scale shape: one groupBy pass collapses the
    fact table to (etype, distinct value) counts; the ECDF prefix sums
    then run through the two-phase distributed prefix sum
    (running_sum_salted, segmented by value/50 buckets) so no single
    task ever owns an event-type's whole value domain — the plain
    per-key ordered window would serialize a hot etype at 100 TB. The
    BIGINT cross-products stay in range up to ~3e9 rows per etype; past
    that, lift ks_micro into DECIMAL(38,0)."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(F.unix_micros(F.min("ts")).alias("t0_us"))
    tagged = ev.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        "value",
        (
            F.unix_micros("ts")
            < F.col("t0_us") + F.lit(_PSI_SPLIT_DAYS * _US_PER_DAY)
        ).alias("in_a"),
    )
    pts = tagged.groupBy("event_type", "value").agg(
        F.coalesce(F.sum(F.when(F.col("in_a"), 1)), F.lit(0)).alias("ca"),
        F.coalesce(F.sum(F.when(~F.col("in_a"), 1)), F.lit(0)).alias("cb"),
    )
    seg = F.floor(F.col("value") / F.lit(50.0))
    cum_a = running.running_sum_salted(
        pts, key="event_type", ts="value", value="ca", out="ca_le", segment=seg
    )
    ecdf = running.running_sum_salted(
        cum_a, key="event_type", ts="value", value="cb", out="cb_le", segment=seg
    )
    totals = pts.groupBy("event_type").agg(
        F.sum("ca").alias("n_a"), F.sum("cb").alias("n_b")
    )
    joined = ecdf.join(totals, "event_type")
    diff = F.abs(
        F.col("ca_le") * F.col("n_b") - F.col("cb_le") * F.col("n_a")
    )
    agg = joined.groupBy("event_type", "n_a", "n_b").agg(
        F.max(diff).alias("max_diff")
    )
    den = F.col("n_a") * F.col("n_b")
    return agg.select(
        "event_type",
        "n_a",
        "n_b",
        F.expr("(max_diff * 2000000 + n_a * n_b) DIV (2 * n_a * n_b)").alias(
            "ks_micro"
        ),
        (
            F.col("max_diff") / (F.col("n_a").cast("double") * F.col("n_b"))
            > F.lit(1.358)
            * F.sqrt((F.col("n_a") + F.col("n_b")).cast("double") / den)
        ).alias("reject_05"),
    )


# ---------------------------------------------------------------------------
# Label-propagation communities on the co-purchase graph
# ---------------------------------------------------------------------------

from stock_streaming_data_pipeline_spark.operators import graph  # noqa: E402


def _lpa_oracle(rounds: int) -> str:
    # MATERIALIZED CTEs: each round references the previous one — DuckDB
    # would otherwise inline and re-derive the pair mining exponentially
    # (the kcore oracle's lesson).
    parts = [
        "items AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)",
        """prs AS MATERIALIZED (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
)""",
        """edges AS MATERIALIZED (
  SELECT u AS src, v AS dst FROM prs
  UNION ALL SELECT v, u FROM prs
)""",
        "l0 AS MATERIALIZED (SELECT DISTINCT src AS n, src AS lab FROM edges)",
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"""c{r} AS MATERIALIZED (
  SELECT e.src AS n, l.lab, CAST(count(*) AS BIGINT) AS c
  FROM edges e JOIN l{r - 1} l ON l.n = e.dst
  GROUP BY 1, 2
),
l{r} AS MATERIALIZED (
  SELECT n, (min({{'nc': -c, 'lab': lab}})).lab AS lab FROM c{r} GROUP BY 1
)"""
        )
    body = ",\n".join(parts)
    return (
        f"WITH {body},\n"
        f"sizes AS (SELECT lab, CAST(count(*) AS BIGINT) AS community_size "
        f"FROM l{rounds} GROUP BY 1)\n"
        f"SELECT l.n AS node, l.lab AS community, s.community_size\n"
        f"FROM l{rounds} l JOIN sizes s ON s.lab = l.lab"
    )


@register(
    "graph_label_propagation",
    tags=("ML-stats", "LLM-graph"),
    oracle=_lpa_oracle(rounds=4),
)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection on the part co-purchase graph by fixed-round
    synchronous label propagation (operators/graph.py:
    label_propagation, 4 rounds): every part adopts the plurality label
    of its co-purchase neighbors each round, ties toward the smallest
    label — the bundles LPA finds are the merchandising communities the
    k-core skeleton (graph_kcore_copurchase) strips down to. The
    election is one min(struct(-votes, label)) aggregate per node —
    map-side combinable, no ranking window, so a mega-degree hub never
    serializes a task. Community sizes come from a groupBy + join (not
    a window over the SF-scaled membership relation). The oracle
    unrolls all 4 rounds as MATERIALIZED CTEs with the identical
    struct-min election."""
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    pairs = (
        items.alias("a")
        .join(
            items.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("pa"), F.col("b.l_partkey").alias("pb")
        )
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= 2)
        .select("pa", "pb")
    )
    labels = graph.label_propagation(pairs, a_col="pa", b_col="pb", rounds=4)
    sizes = labels.groupBy("community").agg(
        F.count(F.lit(1)).alias("community_size")
    )
    return labels.join(sizes, "community").select(
        "node", "community", "community_size"
    )


# ---------------------------------------------------------------------------
# Item-item collaborative filtering (co-purchase cosine top-k)
# ---------------------------------------------------------------------------


@register(
    "item_item_cofilter",
    tags=("ML-stats",),
    oracle="""
WITH items AS MATERIALIZED (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
freq AS MATERIALIZED (
  SELECT l_partkey AS p, CAST(count(*) AS BIGINT) AS nb FROM items GROUP BY 1
),
prs AS MATERIALIZED (
  SELECT a.l_partkey AS pa, b.l_partkey AS pb, CAST(count(*) AS BIGINT) AS cooc
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
),
sym AS (
  SELECT pa AS item, pb AS nbr, cooc FROM prs
  UNION ALL SELECT pb, pa, cooc FROM prs
),
scored AS (
  SELECT s.item, s.nbr, s.cooc,
         (s.cooc * s.cooc * 2000000 + fi.nb * fj.nb) // (2 * fi.nb * fj.nb)
           AS sim2_micro
  FROM sym s JOIN freq fi ON fi.p = s.item JOIN freq fj ON fj.p = s.nbr
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY item ORDER BY sim2_micro DESC, cooc DESC, nbr ASC
  ) AS rank
  FROM scored
)
SELECT item, nbr, cooc, CAST(sim2_micro AS BIGINT) AS sim2_micro,
       CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 5
""",
)
def item_item_cofilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering: top-5 nearest neighbors per
    part by cosine similarity over order baskets — sim(i,j) =
    cooc(i,j)/sqrt(n_i*n_j), the classic Amazon-style item-to-item
    recommender primitive. Ranking happens on the SQUARED cosine in
    exact integer micro-units (cooc^2*1e6 div n_i*n_j) — monotone with
    cosine for the non-negative counts, so no sqrt enters the ordering
    — with (cooc desc, neighbor asc) as the deterministic tie-break.
    Scale shape: basket pair mining is one self-join shuffled on the
    order key with a min-support-2 prune; the top-k is a per-item
    ranking window bounded by the item's co-occurrence degree (the
    top_parts_per_brand pattern); frequency joins are AQE-sized, no
    hard hints."""
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    freq = items.groupBy(F.col("l_partkey").alias("p")).agg(
        F.count(F.lit(1)).alias("nb")
    )
    pairs = (
        items.alias("a")
        .join(
            items.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("pa"), F.col("b.l_partkey").alias("pb")
        )
        .agg(F.count(F.lit(1)).alias("cooc"))
        .filter(F.col("cooc") >= 2)
    )
    sym = pairs.select(
        F.col("pa").alias("item"), F.col("pb").alias("nbr"), "cooc"
    ).unionByName(
        pairs.select(
            F.col("pb").alias("item"), F.col("pa").alias("nbr"), "cooc"
        )
    )
    scored = (
        sym.join(freq.select(F.col("p").alias("item"), F.col("nb").alias("ni")), "item")
        .join(freq.select(F.col("p").alias("nbr"), F.col("nb").alias("nj")), "nbr")
        .withColumn(
            "sim2_micro",
            F.expr("(cooc * cooc * 2000000 + ni * nj) DIV (2 * ni * nj)"),
        )
    )
    w = Window.partitionBy("item").orderBy(
        F.col("sim2_micro").desc(), F.col("cooc").desc(), F.col("nbr").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 5)
        .select("item", "nbr", "cooc", "sim2_micro", "rank")
    )


# ---------------------------------------------------------------------------
# Theil-Sen robust trend per event type
# ---------------------------------------------------------------------------


@register(
    "trend_theil_sen",
    tags=("ML-stats",),
    oracle=f"""
WITH daily AS MATERIALIZED (
  SELECT event_type,
         CAST(epoch_us(ts) // {_US_PER_DAY} AS BIGINT) AS d,
         CAST(sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
           AS sum_micro,
         CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2
),
pts AS MATERIALIZED (
  SELECT event_type, d, (sum_micro * 2 + cnt) // (2 * cnt) AS y
  FROM daily
),
slopes AS (
  SELECT a.event_type, a.d AS d1, b.d AS d2,
         CASE WHEN b.y >= a.y
              THEN ((b.y - a.y) * 2 + (b.d - a.d)) // (2 * (b.d - a.d))
              ELSE -(((a.y - b.y) * 2 + (b.d - a.d)) // (2 * (b.d - a.d)))
         END AS slope_micro
  FROM pts a JOIN pts b ON a.event_type = b.event_type AND a.d < b.d
),
med AS (
  SELECT event_type, slope_micro,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY slope_micro, d1, d2) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n_pairs
  FROM slopes
),
ols AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(d) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(d * y) AS BIGINT) AS sxy, CAST(sum(d * d) AS BIGINT) AS sxx
  FROM pts GROUP BY 1
)
SELECT m.event_type,
       o.n AS n_days,
       CAST(m.n_pairs AS BIGINT) AS n_pairs,
       m.slope_micro AS theil_sen_micro,
       CAST(CASE WHEN (o.n * o.sxy - o.sx * o.sy) >= 0
            THEN ((o.n * o.sxy - o.sx * o.sy) * 2 + (o.n * o.sxx - o.sx * o.sx))
                 // (2 * (o.n * o.sxx - o.sx * o.sx))
            ELSE -(((o.sx * o.sy - o.n * o.sxy) * 2 + (o.n * o.sxx - o.sx * o.sx))
                 // (2 * (o.n * o.sxx - o.sx * o.sx)))
       END AS BIGINT) AS ols_micro
FROM med m JOIN ols o ON o.event_type = m.event_type
WHERE m.rn = (m.n_pairs + 1) // 2
""",
)
def trend_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend per event type: the median of all
    pairwise slopes between daily mean values — the estimator that
    shrugs off the outlier days that wreck OLS (emitted alongside for
    contrast). Every number is an exact integer: daily means snap to
    half-away micro-units, each pairwise slope is a sign-decomposed
    half-away integer division (both engines' integer division
    semantics only agree on non-negative operands — DuckDB's // floors,
    Spark's DIV truncates — so negatives never enter a DIV), and the
    median is the lower-middle element of a deterministic
    (slope, d1, d2) ordering. Scale shape: ONE pass collapses the fact
    table to (etype, day) — everything after runs on that bounded
    relation: the pairwise self-join is days^2 per etype (bounded by
    the observation span, independent of SF), as is the median window."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        (F.unix_micros("ts") / F.lit(_US_PER_DAY)).cast("long").alias("d"),
    ).agg(
        F.sum(half_up("value", 6)).alias("sum_micro"),
        F.count(F.lit(1)).alias("cnt"),
    )
    pts = daily.select(
        "event_type",
        "d",
        F.expr("(sum_micro * 2 + cnt) DIV (2 * cnt)").alias("y"),
    )
    a, b = pts.alias("a"), pts.alias("b")
    dy = F.col("b.y") - F.col("a.y")
    dx = F.col("b.d") - F.col("a.d")
    slopes = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & (F.col("a.d") < F.col("b.d")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        F.col("a.d").alias("d1"),
        F.col("b.d").alias("d2"),
        F.when(dy >= 0, (dy * 2 + dx))
        .otherwise(-((-dy) * 2 + dx))
        .alias("_num"),
        dx.alias("_dx"),
    ).select(
        "event_type",
        "d1",
        "d2",
        F.when(
            F.col("_num") >= 0,
            F.expr("_num DIV (2 * _dx)"),
        )
        .otherwise(-F.expr("(-_num) DIV (2 * _dx)"))
        .alias("slope_micro"),
    )
    w_rank = Window.partitionBy("event_type").orderBy("slope_micro", "d1", "d2")
    w_all = Window.partitionBy("event_type")
    med = (
        slopes.withColumn("rn", F.row_number().over(w_rank))
        .withColumn("n_pairs", F.count(F.lit(1)).over(w_all))
        .filter(F.col("rn") == F.expr("(n_pairs + 1) DIV 2"))
    )
    ols = pts.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("d").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("d") * F.col("y")).alias("sxy"),
        F.sum(F.col("d") * F.col("d")).alias("sxx"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    ols_scored = ols.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.when(num >= 0, F.expr("(n*sxy - sx*sy) * 2 + (n*sxx - sx*sx)"))
        .otherwise(F.expr("-((sx*sy - n*sxy) * 2 + (n*sxx - sx*sx))"))
        .alias("_onum"),
        den.alias("_oden"),
    ).select(
        "event_type",
        "n_days",
        F.when(
            F.col("_onum") >= 0, F.expr("_onum DIV (2 * _oden)")
        )
        .otherwise(-F.expr("(-_onum) DIV (2 * _oden)"))
        .alias("ols_micro"),
    )
    return med.join(ols_scored, "event_type").select(
        "event_type",
        "n_days",
        F.col("n_pairs").cast("long").alias("n_pairs"),
        F.col("slope_micro").alias("theil_sen_micro"),
        "ols_micro",
    )


# ---------------------------------------------------------------------------
# Isotonic (PAV) calibration over price bins
# ---------------------------------------------------------------------------

_ISO_BINS = 50


@register(
    "calibration_isotonic_pav",
    tags=("ML-stats",),
    oracle=f"""
WITH bounds AS (
  SELECT min(o_totalprice) AS pmin, max(o_totalprice) AS pmax FROM orders
),
binned AS (
  SELECT CASE WHEN pmax = pmin THEN 0
              ELSE least({_ISO_BINS - 1},
                         CAST(floor((o_totalprice - pmin) * {_ISO_BINS}
                                    / (pmax - pmin)) AS INTEGER))
         END AS bin,
         CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
  FROM orders, bounds
),
bins AS MATERIALIZED (
  SELECT bin, CAST(count(*) AS BIGINT) AS cnt, CAST(sum(y) AS BIGINT) AS pos
  FROM binned GROUP BY 1
),
pre AS MATERIALIZED (
  SELECT a.bin, a.cnt, a.pos,
         CAST(sum(b.pos) AS BIGINT) AS p_incl,
         CAST(sum(b.cnt) AS BIGINT) AS c_incl
  FROM bins a JOIN bins b ON b.bin <= a.bin
  GROUP BY 1, 2, 3
),
intervals AS MATERIALIZED (
  SELECT j.bin AS jb, k.bin AS kb,
         ((k.p_incl - j.p_incl + j.pos) * 2000000
          + (k.c_incl - j.c_incl + j.cnt))
         // (2 * (k.c_incl - j.c_incl + j.cnt)) AS avg_micro
  FROM pre j JOIN pre k ON j.bin <= k.bin
),
mins AS (
  SELECT iv.jb, i.bin AS ib, min(iv.avg_micro) AS min_avg
  FROM intervals iv JOIN bins i ON iv.jb <= i.bin AND i.bin <= iv.kb
  GROUP BY 1, 2
),
fitted AS (
  SELECT ib AS bin, CAST(max(min_avg) AS BIGINT) AS fitted_micro
  FROM mins GROUP BY 1
)
SELECT b.bin, b.cnt, b.pos,
       CAST((b.pos * 2000000 + b.cnt) // (2 * b.cnt) AS BIGINT) AS rate_micro,
       f.fitted_micro
FROM bins b JOIN fitted f ON f.bin = b.bin
""",
)
def calibration_isotonic_pav(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic-regression calibration by pool-adjacent-violators, in
    closed minimax form: bucket orders into 50 equal-width price bins,
    label y = (status 'F'), and fit the monotone rate curve
    fitted(i) = max_(j<=i) min_(k>=i) avg(pos[j..k]/cnt[j..k]) — the
    PAV solution expressed as bounded relational algebra instead of the
    sequential stack algorithm. Every value is an exact half-away
    micro-unit integer; min/max then run on integers, so both engines
    agree bit-for-bit with no float anywhere. Scale shape: ONE pass
    bins the fact table; prefix sums, the interval grid (<= B(B+1)/2 =
    1275 rows), and the (j,i,k) triple join (<= ~22k rows) all run on
    the CONSTANT-bounded bin relation — B is a plan parameter, not a
    function of SF — expressed as theta-joins over aggregates rather
    than unpartitioned windows."""
    ords = load_table(spark, sf_dir, "orders")
    bounds = ords.agg(
        F.min("o_totalprice").alias("pmin"), F.max("o_totalprice").alias("pmax")
    )
    binned = ords.crossJoin(F.broadcast(bounds)).select(
        F.when(F.col("pmax") == F.col("pmin"), F.lit(0))
        .otherwise(
            F.least(
                F.lit(_ISO_BINS - 1),
                F.floor(
                    (F.col("o_totalprice") - F.col("pmin"))
                    * _ISO_BINS
                    / (F.col("pmax") - F.col("pmin"))
                ).cast("int"),
            )
        )
        .alias("bin"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
    )
    bins = binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("cnt"), F.sum("y").alias("pos")
    )
    # The theta-joins below run on the CONSTANT 50-row bin relation;
    # broadcast makes them BroadcastNestedLoopJoins (never a
    # CartesianProduct), correct at any SF because B is a plan constant.
    pre = (
        bins.alias("a")
        .join(F.broadcast(bins.alias("b")), F.col("b.bin") <= F.col("a.bin"))
        .groupBy(
            F.col("a.bin").alias("bin"),
            F.col("a.cnt").alias("cnt"),
            F.col("a.pos").alias("pos"),
        )
        .agg(
            F.sum("b.pos").alias("p_incl"),
            F.sum("b.cnt").alias("c_incl"),
        )
    )
    intervals = (
        pre.alias("j")
        .join(F.broadcast(pre.alias("k")), F.col("j.bin") <= F.col("k.bin"))
        .select(
            F.col("j.bin").alias("jb"),
            F.col("k.bin").alias("kb"),
            F.expr(
                "((k.p_incl - j.p_incl + j.pos) * 2000000"
                " + (k.c_incl - j.c_incl + j.cnt))"
                " DIV (2 * (k.c_incl - j.c_incl + j.cnt))"
            ).alias("avg_micro"),
        )
    )
    mins = (
        intervals.alias("iv")
        .join(
            F.broadcast(bins.select(F.col("bin").alias("ib")).alias("i")),
            (F.col("iv.jb") <= F.col("ib")) & (F.col("ib") <= F.col("iv.kb")),
        )
        .groupBy("jb", "ib")
        .agg(F.min("avg_micro").alias("min_avg"))
    )
    fitted = mins.groupBy(F.col("ib").alias("bin")).agg(
        F.max("min_avg").alias("fitted_micro")
    )
    return bins.join(fitted, "bin").select(
        "bin",
        "cnt",
        "pos",
        F.expr("(pos * 2000000 + cnt) DIV (2 * cnt)").alias("rate_micro"),
        "fitted_micro",
    )


# ---------------------------------------------------------------------------
# Kneser-Ney smoothed bigram language model
# ---------------------------------------------------------------------------

from stock_streaming_data_pipeline_spark.operators import dedup  # noqa: E402


@register(
    "text_kneser_ney_bigram",
    tags=("ML-stats", "LLM-text"),
    oracle=f"""
WITH toks AS (
  SELECT doc_id, {dedup.SQL_TOKENS.format(text="text")} AS ts FROM documents
),
pos AS (
  SELECT doc_id, CAST(u.i AS BIGINT) AS i, ts[u.i] AS w
  FROM toks, unnest(range(1, len(ts) + 1)) AS u(i)
),
big AS MATERIALIZED (
  SELECT w AS w1,
         lead(w) OVER (PARTITION BY doc_id ORDER BY i) AS w2
  FROM pos
),
bc AS MATERIALIZED (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS c
  FROM big WHERE w2 IS NOT NULL GROUP BY 1, 2
),
fw AS (
  SELECT w1, CAST(sum(c) AS BIGINT) AS c1, CAST(count(*) AS BIGINT) AS nfw
  FROM bc GROUP BY 1
),
bw AS (
  SELECT w2, CAST(count(*) AS BIGINT) AS nbw FROM bc GROUP BY 1
),
tt AS (
  SELECT CAST(count(*) AS BIGINT) AS t FROM bc
)
SELECT bc.w1, bc.w2, bc.c, fw.nfw, bw.nbw,
       CAST(((greatest(4 * bc.c - 3, 0) * tt.t + 3 * fw.nfw * bw.nbw) * 2000000
             + 4 * fw.c1 * tt.t)
            // (2 * 4 * fw.c1 * tt.t) AS BIGINT) AS prob_micro
FROM bc JOIN fw USING (w1) JOIN bw USING (w2) CROSS JOIN tt
WHERE bc.c >= 3
""",
)
def text_kneser_ney_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram language model (Chen & Goodman's
    formulation) over the corpus, discount D = 3/4: P(w2|w1) =
    max(c-D,0)/c(w1) + D·N1+(w1,·)/c(w1) · N1+(·,w2)/T — the
    continuation-probability backoff that made KN the standard n-gram
    smoother. With D rational the whole probability is ONE exact
    fraction (num = max(4c-3,0)·T + 3·nfw·nbw, den = 4·c1·T), snapped
    half-away to micro-units — no float anywhere, so both engines agree
    bit-for-bit. Output keeps bigrams with c >= 3; the model stats are
    computed over ALL bigrams. Scale shape: one tokenize-explode pass,
    a per-doc lead window (bounded by document length), then
    vocabulary-bounded aggregates; the bigram-type count T rides a
    broadcast 1-row crossJoin. BIGINT headroom: num·2e6 stays under
    2^63 up to ~1e10 c·T products — past that, lift to DECIMAL(38,0)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", dedup.tokens(F.col("text")).alias("ts"))
    pos = toks.select(
        "doc_id", F.posexplode("ts").alias("i0", "w")
    ).select("doc_id", (F.col("i0") + 1).cast("long").alias("i"), "w")
    w_doc = Window.partitionBy("doc_id").orderBy("i")
    big = pos.select(
        F.col("w").alias("w1"), F.lead("w").over(w_doc).alias("w2")
    )
    bc = (
        big.filter(F.col("w2").isNotNull())
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    fw = bc.groupBy("w1").agg(
        F.sum("c").alias("c1"), F.count(F.lit(1)).alias("nfw")
    )
    bw = bc.groupBy("w2").agg(F.count(F.lit(1)).alias("nbw"))
    tt = bc.agg(F.count(F.lit(1)).alias("t"))
    return (
        bc.join(fw, "w1")
        .join(bw, "w2")
        .crossJoin(F.broadcast(tt))
        .filter(F.col("c") >= 3)
        .select(
            "w1",
            "w2",
            "c",
            "nfw",
            "nbw",
            F.expr(
                "((greatest(4 * c - 3, 0) * t + 3 * nfw * nbw) * 2000000"
                " + 4 * c1 * t) DIV (2 * 4 * c1 * t)"
            ).alias("prob_micro"),
        )
    )


# ---------------------------------------------------------------------------
# k-hop BFS reachability on the co-purchase graph
# ---------------------------------------------------------------------------


def _bfs_oracle(rounds: int, seed_max: int) -> str:
    parts = [
        "items AS MATERIALIZED (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem)",
        """prs AS MATERIALIZED (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM items a JOIN items b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING count(*) >= 2
)""",
        """edges AS MATERIALIZED (
  SELECT u AS src, v AS dst FROM prs
  UNION ALL SELECT v, u FROM prs
)""",
        f"""d0 AS MATERIALIZED (
  SELECT DISTINCT src AS node, CAST(0 AS BIGINT) AS dist
  FROM edges WHERE src <= {seed_max}
)""",
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"""d{r} AS MATERIALIZED (
  SELECT node, CAST(min(dist) AS BIGINT) AS dist FROM (
    SELECT node, dist FROM d{r - 1}
    UNION ALL
    SELECT e.dst AS node, p.dist + 1
    FROM edges e JOIN d{r - 1} p ON p.node = e.src
  ) GROUP BY 1
)"""
        )
    body = ",\n".join(parts)
    return (
        f"WITH {body},\n"
        f"sizes AS (SELECT dist, CAST(count(*) AS BIGINT) AS frontier_size "
        f"FROM d{rounds} GROUP BY 1)\n"
        f"SELECT d.node, d.dist, s.frontier_size\n"
        f"FROM d{rounds} d JOIN sizes s ON s.dist = d.dist"
    )


@register(
    "graph_bfs_reachability",
    tags=("ML-stats", "LLM-graph"),
    oracle=_bfs_oracle(rounds=4, seed_max=10),
)
def graph_bfs_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-hop breadth-first reachability on the part co-purchase graph
    (operators/graph.py:bfs_hops, 4 rounds): minimum hop distance from
    the seed set (parts with key <= 10 present in the graph) to every
    part within 4 hops — the frontier-expansion primitive behind
    related-item exploration and blast-radius analysis. Each round is
    one frontier⋈edges join plus a min-aggregate per node (map-side
    combinable, never a ranking window), lineage cut per round; the
    seed filter is a unique-key bound (constant rows at any SF). The
    oracle replays all 4 rounds as chained MATERIALIZED CTEs."""
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    pairs = (
        items.alias("a")
        .join(
            items.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("pa"), F.col("b.l_partkey").alias("pb")
        )
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .filter(F.col("n_orders") >= 2)
        .select("pa", "pb")
    )
    edges = pairs.select(
        F.col("pa").alias("src"), F.col("pb").alias("dst")
    ).unionByName(pairs.select(F.col("pb").alias("src"), F.col("pa").alias("dst")))
    seeds = edges.select("src").filter(F.col("src") <= 10).distinct()
    dist = graph.bfs_hops(
        edges, seeds, src_col="src", dst_col="dst", seed_col="src", rounds=4
    )
    sizes = dist.groupBy("dist").agg(F.count(F.lit(1)).alias("frontier_size"))
    return dist.join(sizes, "dist").select("node", "dist", "frontier_size")


# ---------------------------------------------------------------------------
# Poisson bootstrap confidence intervals
# ---------------------------------------------------------------------------

_BOOT_B = 50
# Frozen Poisson(1) CDF in micro-units: P(X<=k)*1e6 for k=0..5; u above the
# last threshold draws weight 6. The categorizer is a FIXED literal — CI
# correctness needs only that both engines draw identical weights.
_POIS_CDF = (367879, 735758, 919698, 981011, 996340, 999405)


def _poisson_weight_sql(u: str) -> str:
    branches = " ".join(
        f"WHEN {u} < {t} THEN {k}" for k, t in enumerate(_POIS_CDF)
    )
    return f"CASE {branches} ELSE 6 END"


@register(
    "bootstrap_ci_poisson",
    tags=("ML-stats",),
    oracle=f"""
WITH reps AS (
  SELECT o_orderkey, o_orderpriority,
         CAST(floor(o_totalprice * 1000000 + 0.5) AS BIGINT) AS price_micro,
         CAST(r.range AS BIGINT) AS b,
         {_poisson_weight_sql(
             "(" + dedup.sql_portable_hash(
                 "o_orderkey::VARCHAR || ':' || r.range::VARCHAR", "boot_"
             ) + ") % 1000000"
         )} AS w
  FROM orders, range({_BOOT_B}) r
),
means AS (
  SELECT o_orderpriority, b,
         (sum(w * price_micro) * 2 + sum(w)) // (2 * sum(w)) AS mean_micro
  FROM reps GROUP BY 1, 2
),
ranked AS (
  SELECT o_orderpriority, mean_micro,
         row_number() OVER (PARTITION BY o_orderpriority
                            ORDER BY mean_micro, b) AS rn
  FROM means
),
point AS (
  SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders,
         CAST((sum(CAST(floor(o_totalprice * 1000000 + 0.5) AS BIGINT)) * 2
               + count(*)) // (2 * count(*)) AS BIGINT) AS mean_micro
  FROM orders GROUP BY 1
)
SELECT p.o_orderpriority, p.n_orders, p.mean_micro,
       CAST(lo.mean_micro AS BIGINT) AS ci_lo_micro,
       CAST(hi.mean_micro AS BIGINT) AS ci_hi_micro
FROM point p
JOIN ranked lo ON lo.o_orderpriority = p.o_orderpriority AND lo.rn = 2
JOIN ranked hi ON hi.o_orderpriority = p.o_orderpriority AND hi.rn = {_BOOT_B - 1}
""",
)
def bootstrap_ci_poisson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% bootstrap confidence interval for mean order value per
    priority class, by the Poisson bootstrap — the resampling scheme
    that works when the data doesn't fit one machine: instead of
    drawing n rows with replacement (which needs global coordination),
    every row independently draws a Poisson(1) weight per replicate,
    which converges to the multinomial bootstrap for large n. Weights
    come from the engine-portable hash pushed through a FROZEN
    Poisson(1) inverse-CDF literal (integer micro thresholds), so both
    engines draw bit-identical resamples; replicate means are exact
    half-away micro-units and the CI picks ranks 2 and 49 of the 50
    ordered replicate means (the 2.5%/97.5% percentile convention for
    B=50, ties broken by replicate id). Scale shape: the 50x row
    expansion is map-side only — partial aggregation collapses
    (priority, replicate) sums before any shuffle, so the shuffle
    carries |groups| x B rows; the CI window runs over exactly B rows
    per group."""
    ords = load_table(spark, sf_dir, "orders")
    reps = ords.crossJoin(
        F.broadcast(spark.range(_BOOT_B).select(F.col("id").alias("b")))
    ).select(
        "o_orderpriority",
        "b",
        half_up("o_totalprice", 6).alias("price_micro"),
        F.pmod(
            dedup.portable_hash(
                F.concat_ws(":", F.col("o_orderkey").cast("string"),
                            F.col("b").cast("string")),
                salt="boot_",
            ),
            F.lit(1_000_000),
        ).alias("u"),
    )
    kcase = F.lit(6)
    for k in range(len(_POIS_CDF) - 1, -1, -1):
        kcase = F.when(F.col("u") < _POIS_CDF[k], F.lit(k)).otherwise(kcase)
    weighted = reps.withColumn("w", kcase)
    means = weighted.groupBy("o_orderpriority", "b").agg(
        F.expr(
            "(sum(w * price_micro) * 2 + sum(w)) DIV (2 * sum(w))"
        ).alias("mean_micro")
    )
    w_rank = Window.partitionBy("o_orderpriority").orderBy("mean_micro", "b")
    ranked = means.withColumn("rn", F.row_number().over(w_rank))
    point = ords.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.expr(
            "(sum(CAST(floor(o_totalprice * 1000000 + 0.5) AS BIGINT)) * 2"
            " + count(*)) DIV (2 * count(*))"
        ).alias("mean_micro"),
    )
    lo = ranked.filter(F.col("rn") == 2).select(
        "o_orderpriority", F.col("mean_micro").alias("ci_lo_micro")
    )
    hi = ranked.filter(F.col("rn") == _BOOT_B - 1).select(
        "o_orderpriority", F.col("mean_micro").alias("ci_hi_micro")
    )
    return (
        point.join(lo, "o_orderpriority")
        .join(hi, "o_orderpriority")
        .select(
            "o_orderpriority", "n_orders", "mean_micro",
            "ci_lo_micro", "ci_hi_micro",
        )
    )


# ---------------------------------------------------------------------------
# Mutual information + chi-square independence
# ---------------------------------------------------------------------------

_MI_BINS = 10
_CHI2_CRIT_DF36_05 = 50.998  # frozen chi-square critical value, df=(5-1)(10-1)


@register(
    "mi_chi2_independence",
    tags=("ML-stats",),
    oracle=f"""
WITH bounds AS (
  SELECT min(value) AS vmin, max(value) AS vmax FROM events
),
binned AS (
  SELECT event_type,
         CASE WHEN vmax = vmin THEN 0
              ELSE least({_MI_BINS - 1},
                         CAST(floor((value - vmin) * {_MI_BINS}
                                    / (vmax - vmin)) AS INTEGER))
         END AS bin
  FROM events, bounds
),
grid AS (
  SELECT event_type, CAST(r.range AS INTEGER) AS bin
  FROM (SELECT DISTINCT event_type FROM events), range({_MI_BINS}) r
),
cells AS MATERIALIZED (
  SELECT g.event_type, g.bin,
         CAST(coalesce(count(b.event_type), 0) AS BIGINT) AS n_xy
  FROM grid g LEFT JOIN binned b
    ON b.event_type = g.event_type AND b.bin = g.bin
  GROUP BY 1, 2
),
marg AS (
  SELECT *,
         sum(n_xy) OVER (PARTITION BY event_type) AS n_x,
         sum(n_xy) OVER (PARTITION BY bin) AS n_y,
         sum(n_xy) OVER () AS n
  FROM cells
),
scored AS (
  SELECT event_type, bin, n_xy,
         CAST(floor(CAST(n_x * n_y AS DOUBLE) / n * 1000000 + 0.5) AS BIGINT)
           AS expected_micro,
         CASE WHEN n_xy > 0
              THEN (CAST(n_xy AS DOUBLE) / n)
                   * ln(CAST(n_xy AS DOUBLE) * n / (CAST(n_x AS DOUBLE) * n_y))
              ELSE 0.0 END AS mi_term,
         CASE WHEN n_y > 0
              THEN (CAST(n_xy AS DOUBLE) - CAST(n_x * n_y AS DOUBLE) / n)
                   * (CAST(n_xy AS DOUBLE) - CAST(n_x * n_y AS DOUBLE) / n)
                   / (CAST(n_x * n_y AS DOUBLE) / n)
              ELSE 0.0 END AS chi_term
  FROM marg
)
SELECT event_type, bin, n_xy, expected_micro,
       CAST(floor(sum(mi_term) OVER () * 1000000 + 0.5) AS BIGINT) AS mi_micro,
       CAST(floor(sum(chi_term) OVER () * 1000000 + 0.5) AS BIGINT)
         AS chi2_micro,
       sum(chi_term) OVER () > {_CHI2_CRIT_DF36_05} AS reject_independence_05
FROM scored
""",
)
def mi_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information and chi-square independence test between
    event type and value decile (global equal-width bins): the
    feature-relevance screen a pipeline runs before keeping a
    categorical column. MI = sum p(x,y)·ln(p(x,y)/(p(x)p(y))) over
    occupied cells (0·ln 0 = 0, so no smoothing and DuckDB's ln never
    sees zero); chi-square sums (n_xy - e)^2/e over the FULL grid with
    e = n_x·n_y/N — cells in an empty value column (n_y = 0, so e = 0
    and n_xy = 0) contribute 0, the standard convention — flagged
    against the frozen df=36 critical value 50.998. Doubles touch only IEEE-exact ops plus ln on strictly
    positive rationals; outputs snap to micro-units. Scale shape: one
    pass collapses the fact table onto the constant etype x 10 grid
    (left-join against the broadcast grid keeps structural zeros);
    every window partitions that 50-row relation. The unpartitioned
    total windows in the ORACLE correspond to Spark-side broadcast
    1-row aggregates, not Spark windows."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min("value").alias("vmin"), F.max("value").alias("vmax")
    )
    binned = ev.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        F.when(F.col("vmax") == F.col("vmin"), F.lit(0))
        .otherwise(
            F.least(
                F.lit(_MI_BINS - 1),
                F.floor(
                    (F.col("value") - F.col("vmin"))
                    * _MI_BINS
                    / (F.col("vmax") - F.col("vmin"))
                ).cast("int"),
            )
        )
        .alias("bin"),
    )
    grid = (
        ev.select("event_type")
        .distinct()
        .crossJoin(
            F.broadcast(
                spark.range(_MI_BINS).select(F.col("id").cast("int").alias("bin"))
            )
        )
    )
    cells = (
        grid.join(
            binned.groupBy("event_type", "bin").agg(
                F.count(F.lit(1)).alias("n0")
            ),
            ["event_type", "bin"],
            "left",
        )
        .select(
            "event_type", "bin", F.coalesce(F.col("n0"), F.lit(0)).alias("n_xy")
        )
    )
    w_x = Window.partitionBy("event_type")
    w_y = Window.partitionBy("bin")
    marg = (
        cells.withColumn("n_x", F.sum("n_xy").over(w_x))
        .withColumn("n_y", F.sum("n_xy").over(w_y))
    )
    totals = cells.agg(F.sum("n_xy").alias("n"))
    marg = marg.crossJoin(F.broadcast(totals))
    e = (F.col("n_x") * F.col("n_y")).cast("double") / F.col("n")
    scored = marg.select(
        "event_type",
        "bin",
        "n_xy",
        half_up(e, 6).alias("expected_micro"),
        F.when(
            F.col("n_xy") > 0,
            (F.col("n_xy").cast("double") / F.col("n"))
            * F.log(
                F.col("n_xy").cast("double")
                * F.col("n")
                / (F.col("n_x").cast("double") * F.col("n_y"))
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("mi_term"),
        F.when(
            F.col("n_y") > 0,
            (F.col("n_xy").cast("double") - e)
            * (F.col("n_xy").cast("double") - e)
            / e,
        )
        .otherwise(F.lit(0.0))
        .alias("chi_term"),
    )
    sums = scored.agg(
        F.sum("mi_term").alias("mi_sum"), F.sum("chi_term").alias("chi_sum")
    )
    return scored.crossJoin(F.broadcast(sums)).select(
        "event_type",
        "bin",
        "n_xy",
        "expected_micro",
        half_up("mi_sum", 6).alias("mi_micro"),
        half_up("chi_sum", 6).alias("chi2_micro"),
        (F.col("chi_sum") > F.lit(_CHI2_CRIT_DF36_05)).alias(
            "reject_independence_05"
        ),
    )


# ---------------------------------------------------------------------------
# Binned ROC / AUC / KS classifier evaluation
# ---------------------------------------------------------------------------

_EMB_DIM = 64


@register(
    "classifier_auc_roc",
    tags=("ML-stats",),
    oracle=f"""
WITH xm AS (
  SELECT vec_id, CAST(label <= 4 AS INT) AS pos, (u.i - 1)::INT AS j,
         CAST(floor(embedding[u.i]::DOUBLE * 1000000 + 0.5) AS BIGINT)
           + 1000000 AS xs
  FROM embeddings, unnest(range(1, {_EMB_DIM + 1})) AS u(i)
),
dims AS (
  SELECT j,
         CASE WHEN sum(pos) = 0 THEN 0
              ELSE (2 * sum(CASE WHEN pos = 1 THEN xs ELSE 0 END)
                    + sum(pos)) // (2 * sum(pos)) END
         - CASE WHEN count(*) - sum(pos) = 0 THEN 0
              ELSE (2 * sum(CASE WHEN pos = 0 THEN xs ELSE 0 END)
                    + (count(*) - sum(pos)))
                   // (2 * (count(*) - sum(pos))) END AS w
  FROM xm GROUP BY 1
),
scores AS (
  SELECT x.vec_id, x.pos, CAST(sum(x.xs * d.w) AS BIGINT) AS s
  FROM xm x JOIN dims d USING (j) GROUP BY 1, 2
),
bounds AS (SELECT min(s) AS smin, max(s) AS smax FROM scores),
cells AS (
  SELECT ((s - smin) * 1024) // (smax - smin + 1) AS bin,
         CAST(sum(pos) AS BIGINT) AS n_pos,
         CAST(count(*) - sum(pos) AS BIGINT) AS n_neg
  FROM scores, bounds GROUP BY 1
),
cum AS (
  SELECT bin, n_pos, n_neg,
         CAST(sum(n_pos) OVER (ORDER BY bin) - n_pos AS BIGINT) AS cpb,
         CAST(sum(n_neg) OVER (ORDER BY bin) - n_neg AS BIGINT) AS cnb
  FROM cells
),
tot AS (
  SELECT CAST(sum(n_pos) AS BIGINT) AS p, CAST(sum(n_neg) AS BIGINT) AS n
  FROM cells
),
gstats AS (
  SELECT CAST(sum(n_pos * (2 * cnb + n_neg)) AS BIGINT) AS auc_num,
         CAST(max(abs((cpb + n_pos) * n - (cnb + n_neg) * p)) AS BIGINT)
           AS ks_num
  FROM cum, tot
)
SELECT bin,
       n_pos, n_neg,
       CAST(p - cpb AS BIGINT) AS tp,
       CAST(n - cnb AS BIGINT) AS fp,
       ((p - cpb) * 2000000 + p) // (2 * p) AS tpr_micro,
       ((n - cnb) * 2000000 + n) // (2 * n) AS fpr_micro,
       ((p - cpb) * 2000000 + (p - cpb + n - cnb))
         // (2 * (p - cpb + n - cnb)) AS precision_micro,
       (2 * (p - cpb) * 2000000 + (2 * (p - cpb) + (n - cnb) + cpb))
         // (2 * (2 * (p - cpb) + (n - cnb) + cpb)) AS f1_micro,
       (auc_num * 2000000 + 2 * p * n) // (4 * p * n) AS auc_micro,
       (ks_num * 2000000 + p * n) // (2 * p * n) AS ks_micro
FROM cum, tot, gstats
""",
)
def classifier_auc_roc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned ROC curve + AUC + KS statistic for a nearest-centroid
    score over the labeled embeddings — the model-evaluation pass every
    training pipeline runs on its quality / relevance classifiers. The
    score is the integer dot product of the (shifted-micro-quantized)
    vector with the positive-minus-negative class mean direction; scores
    land in 1024 equal-width bins (the downsampled-threshold
    strategy Spark MLlib's BinaryClassificationMetrics uses at scale —
    an exact rank AUC would need a global sort of n rows), and every
    downstream number — TPR/FPR/precision/F1 per threshold, trapezoid-
    free tie-aware AUC sum(pos_b*(2*cumneg_<b + neg_b))/(2PN), KS =
    max|cumTPR - cumFPR| — is exact integer arithmetic, so both engines
    agree bit-for-bit (AUC/KS numerators are O(P*N): exact in BIGINT to
    ~2M rows per class; past that the final ratio would move to double
    while the counts stay exact). Scale shape: one 64x explode pass
    collapses map-side into the 64-row dims relation (broadcast back);
    the per-vector score is one shuffle keyed by vec_id; bins collapse
    map-side to <=1024 rows and every window/aggregate after that
    runs on the bin relation — the unpartitioned cumulative window is
    bounded by the fixed bin count (allowlisted)."""
    emb = load_table(spark, sf_dir, "embeddings")
    xm = (
        emb.select(
            "vec_id",
            (F.col("label") <= 4).cast("int").alias("pos"),
            F.posexplode("embedding").alias("j", "e"),
        )
        .select(
            "vec_id",
            "pos",
            "j",
            (
                half_up(F.col("e").cast("double"), 6)
                + 1_000_000
            ).alias("xs"),
        )
    )
    dims = xm.groupBy("j").agg(
        F.sum(F.when(F.col("pos") == 1, F.col("xs")).otherwise(0)).alias("ps"),
        F.sum("pos").alias("pn"),
        F.sum(F.when(F.col("pos") == 0, F.col("xs")).otherwise(0)).alias("ns"),
        (F.count(F.lit(1)) - F.sum("pos")).alias("nn"),
    ).select(
        "j",
        (
            F.when(F.col("pn") == 0, F.lit(0)).otherwise(
                F.expr("(2 * ps + pn) DIV (2 * pn)")
            )
            - F.when(F.col("nn") == 0, F.lit(0)).otherwise(
                F.expr("(2 * ns + nn) DIV (2 * nn)")
            )
        ).alias("w"),
    )
    scores = (
        xm.join(F.broadcast(dims), "j")
        .groupBy("vec_id", "pos")
        .agg(F.sum(F.col("xs") * F.col("w")).alias("s"))
    )
    bounds = scores.agg(F.min("s").alias("smin"), F.max("s").alias("smax"))
    cells = (
        scores.crossJoin(F.broadcast(bounds))
        .select(
            "pos",
            F.expr(
                f"((s - smin) * 1024) DIV (smax - smin + 1)"
            ).alias("bin"),
        )
        .groupBy("bin")
        .agg(
            F.sum("pos").cast("long").alias("n_pos"),
            (F.count(F.lit(1)) - F.sum("pos")).cast("long").alias("n_neg"),
        )
    )
    w_cum = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = cells.select(
        "bin",
        "n_pos",
        "n_neg",
        (F.sum("n_pos").over(w_cum) - F.col("n_pos")).alias("cpb"),
        (F.sum("n_neg").over(w_cum) - F.col("n_neg")).alias("cnb"),
    )
    tot = cells.agg(
        F.sum("n_pos").cast("long").alias("p"),
        F.sum("n_neg").cast("long").alias("n"),
    )
    cum = cum.crossJoin(F.broadcast(tot))
    glob = cum.agg(
        F.sum(F.col("n_pos") * (2 * F.col("cnb") + F.col("n_neg")))
        .cast("long")
        .alias("auc_num"),
        F.max(
            F.abs(
                (F.col("cpb") + F.col("n_pos")) * F.col("n")
                - (F.col("cnb") + F.col("n_neg")) * F.col("p")
            )
        )
        .cast("long")
        .alias("ks_num"),
    )
    return cum.crossJoin(F.broadcast(glob)).select(
        "bin",
        "n_pos",
        "n_neg",
        (F.col("p") - F.col("cpb")).alias("tp"),
        (F.col("n") - F.col("cnb")).alias("fp"),
        F.expr("((p - cpb) * 2000000 + p) DIV (2 * p)").alias("tpr_micro"),
        F.expr("((n - cnb) * 2000000 + n) DIV (2 * n)").alias("fpr_micro"),
        F.expr(
            "((p - cpb) * 2000000 + (p - cpb + n - cnb))"
            " DIV (2 * (p - cpb + n - cnb))"
        ).alias("precision_micro"),
        F.expr(
            "(2 * (p - cpb) * 2000000 + (2 * (p - cpb) + (n - cnb) + cpb))"
            " DIV (2 * (2 * (p - cpb) + (n - cnb) + cpb))"
        ).alias("f1_micro"),
        F.expr("(auc_num * 2000000 + 2 * p * n) DIV (4 * p * n)").alias(
            "auc_micro"
        ),
        F.expr("(ks_num * 2000000 + p * n) DIV (2 * p * n)").alias("ks_micro"),
    )


# ---------------------------------------------------------------------------
# Welch two-sample t-test and one-way ANOVA
# ---------------------------------------------------------------------------

_Z_CRIT_05 = 1.96  # frozen two-sided 5% normal critical value (large-sample)
_F_CRIT_DF4_INF_05 = 2.372  # frozen F critical value, df1=4, df2=inf, 5%


@register(
    "welch_t_test",
    tags=("ML-stats",),
    oracle=f"""
WITH xm AS (
  SELECT event_type, CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS xm
  FROM events WHERE event_type IN ('click', 'view')
),
m AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST((2 * sum(xm) + count(*)) // (2 * count(*)) AS BIGINT) AS mean
  FROM xm GROUP BY 1
),
s AS (
  SELECT x.event_type, m.n, m.mean,
         CAST(sum((x.xm - m.mean) * (x.xm - m.mean)) AS DOUBLE) AS ss
  FROM xm x JOIN m USING (event_type) GROUP BY 1, 2, 3
),
ab AS (
  SELECT a.n AS n_a, b.n AS n_b,
         a.mean AS mean_a_micro, b.mean AS mean_b_micro,
         CAST(a.mean - b.mean AS DOUBLE) AS md,
         a.ss / (a.n - 1) / a.n AS sa, b.ss / (b.n - 1) / b.n AS sb
  FROM (SELECT * FROM s WHERE event_type = 'click') a,
       (SELECT * FROM s WHERE event_type = 'view') b
)
SELECT n_a, n_b, mean_a_micro, mean_b_micro,
       CAST(floor(md / sqrt(sa + sb) * 1000000 + 0.5) AS BIGINT) AS t_micro,
       CAST(floor((sa + sb) * (sa + sb)
                  / (sa * sa / (n_a - 1) + sb * sb / (n_b - 1))
                  * 1000000 + 0.5) AS BIGINT) AS df_micro,
       abs(md / sqrt(sa + sb)) > 1.96 AS reject_05
FROM ab
""",
)
def welch_t_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance two-sample t-test between the click and
    view arms' event values, with the Welch-Satterthwaite effective
    degrees of freedom — the default mean-comparison test when variances
    differ. Determinism: values freeze to micro ints; each arm's mean
    freezes to a micro int (half-away); squared deviations from that
    frozen mean are exact BIGINTs summed through DECIMAL(38,0)/HUGEINT
    (order-independent), so the doubles entering t and df are identical
    across engines and the IEEE expression tree is written identically
    on both sides. The reject flag uses the frozen large-sample normal
    critical value 1.96 (documented convention; df here is in
    the thousands). Scale shape: two passes over the filtered fact
    table (means, then deviations), each collapsing map-side to the
    2-row arm relation; everything after is 1-row arithmetic."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "view")
    )
    xm = ev.select(
        "event_type",
        half_up("value", 6).alias("xm"),
    )
    m = xm.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum("xm").alias("sx")
    ).select(
        "event_type", "n", F.expr("(2 * sx + n) DIV (2 * n)").alias("mean")
    )
    d = F.col("xm") - F.col("mean")
    s = (
        xm.join(F.broadcast(m), "event_type")
        .groupBy("event_type", "n", "mean")
        .agg(F.sum(dec38(d * d)).cast("double").alias("ss"))
    )
    a = s.filter(F.col("event_type") == "click").select(
        F.col("n").alias("n_a"),
        F.col("mean").alias("mean_a_micro"),
        (F.col("ss") / (F.col("n") - 1) / F.col("n")).alias("sa"),
    )
    b = s.filter(F.col("event_type") == "view").select(
        F.col("n").alias("n_b"),
        F.col("mean").alias("mean_b_micro"),
        (F.col("ss") / (F.col("n") - 1) / F.col("n")).alias("sb"),
    )
    md = (F.col("mean_a_micro") - F.col("mean_b_micro")).cast("double")
    t = md / F.sqrt(F.col("sa") + F.col("sb"))
    df_w = ((F.col("sa") + F.col("sb")) * (F.col("sa") + F.col("sb"))) / (
        F.col("sa") * F.col("sa") / (F.col("n_a") - 1)
        + F.col("sb") * F.col("sb") / (F.col("n_b") - 1)
    )
    return a.crossJoin(F.broadcast(b)).select(
        "n_a",
        "n_b",
        "mean_a_micro",
        "mean_b_micro",
        half_up(t, 6).alias("t_micro"),
        half_up(df_w, 6).alias("df_micro"),
        (F.abs(t) > F.lit(_Z_CRIT_05)).alias("reject_05"),
    )


@register(
    "anova_oneway_f",
    tags=("ML-stats",),
    oracle=f"""
WITH xm AS (
  SELECT event_type, CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS xm
  FROM events
),
g AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST((2 * sum(xm) + count(*)) // (2 * count(*)) AS BIGINT) AS mean
  FROM xm GROUP BY 1
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS big_n,
         CAST((2 * sum(xm) + count(*)) // (2 * count(*)) AS BIGINT) AS gmean,
         CAST(count(DISTINCT event_type) AS BIGINT) AS k
  FROM xm
),
ssw AS (
  SELECT CAST(sum((x.xm - g.mean) * (x.xm - g.mean)) AS DOUBLE) AS ssw
  FROM xm x JOIN g USING (event_type)
),
ssb AS (
  SELECT CAST(sum(g.n * (g.mean - t.gmean) * (g.mean - t.gmean)) AS DOUBLE)
    AS ssb
  FROM g, tot t
),
f AS (
  SELECT (ssb / (k - 1)) / (ssw / (big_n - k)) AS fstat,
         ssb / (ssb + ssw) AS eta2, k - 1 AS df1, big_n - k AS df2
  FROM ssw, ssb, tot
)
SELECT g.event_type, g.n, g.mean AS mean_micro,
       CAST(floor(fstat * 1000000 + 0.5) AS BIGINT) AS f_micro,
       CAST(floor(eta2 * 1000000 + 0.5) AS BIGINT) AS eta2_micro,
       CAST(df1 AS BIGINT) AS df1, CAST(df2 AS BIGINT) AS df2,
       fstat > 2.372 AS reject_05
FROM g, f
""",
)
def anova_oneway_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F-test of event value across the event-type arms:
    between-group vs within-group variance, effect size eta-squared, and
    a rejection flag against the frozen F(4, inf) 5% critical value
    2.372 (df2 is in the thousands, the asymptote is the
    documented convention). Same determinism recipe as welch_t_test:
    micro-frozen values and group means, exact integer squared
    deviations summed through DECIMAL(38,0)/HUGEINT, one identical IEEE
    expression tree per engine for the final ratios. Scale shape: two
    passes over the fact table (group means, then deviations) each
    collapsing map-side onto the k-row group relation; SSB is a k-row
    aggregate; the output joins the k-row group relation against
    broadcast 1-row stats."""
    ev = load_table(spark, sf_dir, "events")
    xm = ev.select(
        "event_type",
        half_up("value", 6).alias("xm"),
    )
    g = xm.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum("xm").alias("sx")
    ).select(
        "event_type", "n", F.expr("(2 * sx + n) DIV (2 * n)").alias("mean")
    )
    tot = xm.agg(
        F.count(F.lit(1)).alias("big_n"),
        F.sum("xm").alias("sx"),
        F.countDistinct("event_type").alias("k"),
    ).select(
        "big_n",
        F.expr("(2 * sx + big_n) DIV (2 * big_n)").alias("gmean"),
        "k",
    )
    d = F.col("xm") - F.col("mean")
    ssw = (
        xm.join(F.broadcast(g), "event_type")
        .agg(F.sum(dec38(d * d)).cast("double").alias("ssw"))
    )
    db = F.col("mean") - F.col("gmean")
    ssb = (
        g.crossJoin(F.broadcast(tot))
        .agg(
            F.sum(dec38(F.col("n") * db * db))
            .cast("double")
            .alias("ssb")
        )
    )
    stats = (
        tot.crossJoin(F.broadcast(ssw))
        .crossJoin(F.broadcast(ssb))
        .select(
            (
                (F.col("ssb") / (F.col("k") - 1))
                / (F.col("ssw") / (F.col("big_n") - F.col("k")))
            ).alias("fstat"),
            (F.col("ssb") / (F.col("ssb") + F.col("ssw"))).alias("eta2"),
            (F.col("k") - 1).cast("long").alias("df1"),
            (F.col("big_n") - F.col("k")).cast("long").alias("df2"),
        )
    )
    return g.crossJoin(F.broadcast(stats)).select(
        "event_type",
        "n",
        F.col("mean").alias("mean_micro"),
        half_up("fstat", 6).alias("f_micro"),
        half_up("eta2", 6).alias("eta2_micro"),
        "df1",
        "df2",
        (F.col("fstat") > F.lit(_F_CRIT_DF4_INF_05)).alias("reject_05"),
    )


# ---------------------------------------------------------------------------
# Autocorrelation function + Ljung-Box portmanteau test
# ---------------------------------------------------------------------------

_ACF_MAX_LAG = 10


@register(
    "ts_acf_ljung_box",
    tags=("ML-stats",),
    oracle=f"""
WITH daily AS (
  SELECT event_type,
         CAST(epoch_us(ts) // {_US_PER_DAY} AS BIGINT) AS d,
         CAST(sum(CAST(floor(value * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
           AS sum_micro,
         CAST(count(*) AS BIGINT) AS cnt
  FROM events GROUP BY 1, 2
),
pts AS MATERIALIZED (
  SELECT event_type,
         row_number() OVER (PARTITION BY event_type ORDER BY d) AS t,
         (sum_micro * 2 + cnt) // (2 * cnt) AS y
  FROM daily
),
m AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST((2 * sum(y) + count(*)) // (2 * count(*)) AS BIGINT) AS ybar
  FROM pts GROUP BY 1
),
c0 AS (
  SELECT p.event_type,
         CAST(sum((p.y - m.ybar) * (p.y - m.ybar)) AS DOUBLE) AS c0
  FROM pts p JOIN m USING (event_type) GROUP BY 1
),
num AS (
  SELECT a.event_type, l.range AS lag,
         CAST(sum((a.y - m.ybar) * (b.y - m.ybar)) AS DOUBLE) AS ck
  FROM pts a
  JOIN range(1, {_ACF_MAX_LAG + 1}) l ON true
  JOIN pts b ON b.event_type = a.event_type AND b.t = a.t - l.range
  JOIN m ON m.event_type = a.event_type
  GROUP BY 1, 2
),
acf AS (
  SELECT n.event_type, CAST(n.lag AS BIGINT) AS lag,
         CAST(floor(n.ck / c.c0 * 1000000 + 0.5) AS BIGINT) AS acf_micro
  FROM num n JOIN c0 c USING (event_type)
),
q AS (
  SELECT a.event_type,
         CAST((m.n * (m.n + 2)
               * sum((a.acf_micro * a.acf_micro * 2 + (m.n - a.lag))
                     // (2 * (m.n - a.lag)))
               * 2 + 1000000) // 2000000 AS BIGINT) AS q_micro
  FROM acf a JOIN m USING (event_type) GROUP BY a.event_type, m.n
)
SELECT a.event_type, a.lag, a.acf_micro, m.n AS n_days,
       q.q_micro, q.q_micro > 18307000 AS reject_05
FROM acf a JOIN m USING (event_type) JOIN q USING (event_type)
""",
)
def ts_acf_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample autocorrelation function at lags 1..10 of each
    event type's daily-mean series, plus the Ljung-Box portmanteau Q
    statistic — the is-this-white-noise screen run before fitting any
    forecaster. ACF_k = sum (y_t-ybar)(y_t-k -ybar) / sum (y_t-ybar)^2
    over the row-number-sequenced daily series (calendar gaps close up;
    documented convention), with the mean frozen at micro precision and
    numerator/denominator exact integer sums (DECIMAL/HUGEINT) so the
    one double division per (type, lag) is engine-identical; Q =
    n(n+2) * sum_k r_k^2/(n-k) runs entirely on the rounded acf_micro
    ints (per-lag half-away term, then one exact DIV), flagged against
    the frozen chi-square df=10 5% value
    18.307. Scale shape: the fact table collapses once
    onto the (type, day) relation; lags come from a broadcast
    10-row dimension joined back equi on (type, t-k) — no
    window-per-lag, no series self-cross; everything downstream runs on
    the bounded (type x lag) grid."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        (F.unix_micros("ts") / F.lit(_US_PER_DAY)).cast("long").alias("d"),
    ).agg(
        F.sum(half_up("value", 6)).alias("sum_micro"),
        F.count(F.lit(1)).alias("cnt"),
    )
    w_seq = Window.partitionBy("event_type").orderBy("d")
    pts = daily.select(
        "event_type",
        F.row_number().over(w_seq).alias("t"),
        F.expr("(sum_micro * 2 + cnt) DIV (2 * cnt)").alias("y"),
    )
    m = pts.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.sum("y").alias("sy")
    ).select(
        "event_type", "n", F.expr("(2 * sy + n) DIV (2 * n)").alias("ybar")
    )
    pm = pts.join(F.broadcast(m), "event_type")
    c0 = pm.groupBy("event_type").agg(
        F.sum(
            dec38((F.col("y") - F.col("ybar")) * (F.col("y") - F.col("ybar")))
        )
        .cast("double")
        .alias("c0")
    )
    lags = spark.range(1, _ACF_MAX_LAG + 1).select(
        F.col("id").alias("lag")
    )
    a = pm.crossJoin(F.broadcast(lags)).select(
        "event_type",
        "lag",
        (F.col("t") - F.col("lag")).alias("tb"),
        (F.col("y") - F.col("ybar")).alias("da"),
    )
    b = pts.select(
        F.col("event_type").alias("event_type"),
        F.col("t").alias("tb"),
        F.col("y").alias("yb"),
    ).join(F.broadcast(m), "event_type").select(
        "event_type", "tb", (F.col("yb") - F.col("ybar")).alias("db")
    )
    num = (
        a.join(b, ["event_type", "tb"])
        .groupBy("event_type", "lag")
        .agg(
            F.sum(dec38(F.col("da") * F.col("db")))
            .cast("double")
            .alias("ck")
        )
    )
    acf = num.join(c0, "event_type").select(
        "event_type",
        F.col("lag").cast("long").alias("lag"),
        half_up(F.col("ck") / F.col("c0"), 6).alias("acf_micro"),
    )
    qstat = (
        acf.join(F.broadcast(m), "event_type")
        .groupBy("event_type", "n")
        .agg(
            F.sum(
                F.expr(
                    "(acf_micro * acf_micro * 2 + (n - lag))"
                    " DIV (2 * (n - lag))"
                )
            ).alias("s")
        )
        .select(
            "event_type",
            F.expr("(n * (n + 2) * s * 2 + 1000000) DIV 2000000")
            .cast("long")
            .alias("q_micro"),
        )
    )
    return (
        acf.join(F.broadcast(m.select("event_type", "n")), "event_type")
        .join(F.broadcast(qstat), "event_type")
        .select(
            "event_type",
            "lag",
            "acf_micro",
            F.col("n").alias("n_days"),
            "q_micro",
            (F.col("q_micro") > F.lit(18_307_000)).alias("reject_05"),
        )
    )


# ---------------------------------------------------------------------------
# Count-min sketch frequency estimation
# ---------------------------------------------------------------------------

_CM_W = 1024  # sketch width (buckets per row)
_CM_D = 4  # sketch depth (independent hash rows)
_CM_TOPK = 20


@register(
    "sketch_countmin_tokens",
    tags=("LLM-text",),
    oracle=f"""
WITH tk AS (
  SELECT unnest({{toks}}) AS term FROM documents
),
occ AS (
  SELECT t.term, r.range AS r,
         ({{h}}) % {_CM_W} AS bucket
  FROM tk t, range({_CM_D}) r
),
sketch AS MATERIALIZED (
  SELECT r, bucket, CAST(count(*) AS BIGINT) AS c
  FROM occ GROUP BY 1, 2
),
exact AS (
  SELECT term, CAST(count(*) AS BIGINT) AS exact_count
  FROM tk GROUP BY 1
  ORDER BY exact_count DESC, term LIMIT {_CM_TOPK}
),
est AS (
  SELECT e.term, e.exact_count, CAST(min(s.c) AS BIGINT) AS cm_estimate
  FROM exact e, range({_CM_D}) r
  JOIN sketch s
    ON s.r = r.range
   AND s.bucket = ({{he}}) % {_CM_W}
  GROUP BY 1, 2
)
SELECT term, exact_count, cm_estimate,
       cm_estimate - exact_count AS overestimate
FROM est
""".format(
        toks=dedup.SQL_TOKENS.format(text="text"),
        h=dedup.sql_portable_hash("r.range::VARCHAR || ':' || t.term", "cm_"),
        he=dedup.sql_portable_hash("r.range::VARCHAR || ':' || e.term", "cm_"),
    ),
)
def sketch_countmin_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch over the corpus token stream (4 hash rows x
    1024 buckets, portable md5 hashes), audited against exact counts
    for the top-20 tokens: estimate = min over rows of the
    hashed bucket's counter, always >= exact (one-sided error, the
    sketch's defining guarantee — surfaced as the overestimate column).
    This is the mergeable fixed-size frequency summary for streams and
    shard-then-merge pipelines where exact per-token counts don't fit.
    Scale shape: the 4x occurrence expansion collapses map-side
    onto the fixed 4x1024-row sketch relation (partial
    aggregation before the shuffle — the shuffle carries at most
    4096 rows per map partition); the exact top-k is a
    TakeOrderedAndProject; probes join the 20-row list against
    the broadcast sketch."""
    docs = load_table(spark, sf_dir, "documents")
    tk = docs.select(F.explode(dedup.tokens(F.col("text"))).alias("term"))
    rows = spark.range(_CM_D).select(F.col("id").alias("r"))
    occ = tk.crossJoin(F.broadcast(rows)).select(
        F.pmod(
            dedup.portable_hash(
                F.concat_ws(":", F.col("r").cast("string"), F.col("term")),
                salt="cm_",
            ),
            F.lit(_CM_W),
        ).alias("bucket"),
        "r",
    )
    sketch = occ.groupBy("r", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    exact = (
        tk.groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_count"))
        .orderBy(F.desc("exact_count"), F.asc("term"))
        .limit(_CM_TOPK)
    )
    probes = exact.crossJoin(F.broadcast(rows)).select(
        "term",
        "exact_count",
        "r",
        F.pmod(
            dedup.portable_hash(
                F.concat_ws(":", F.col("r").cast("string"), F.col("term")),
                salt="cm_",
            ),
            F.lit(_CM_W),
        ).alias("bucket"),
    )
    est = (
        probes.join(F.broadcast(sketch), ["r", "bucket"])
        .groupBy("term", "exact_count")
        .agg(F.min("c").alias("cm_estimate"))
    )
    return est.select(
        "term",
        "exact_count",
        "cm_estimate",
        (F.col("cm_estimate") - F.col("exact_count")).alias("overestimate"),
    )


# ---------------------------------------------------------------------------
# Multi-feature OLS via normal equations (single-pass sufficient statistics)
# ---------------------------------------------------------------------------

# The Cramer 3x3 solve and the R^2 expression are written ONCE and rendered
# into both engines verbatim so the IEEE double expression trees are
# identical; every input is a CAST-to-DOUBLE of an exactly-summed integer.
_OLS_DETS = """
  nn * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2)
     + s2 * (s1 * s12 - s11 * s2) AS det,
  sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y)
     + s2 * (s1y * s12 - s11 * s2y) AS det0,
  nn * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2)
     + s2 * (s1 * s2y - s1y * s2) AS det1,
  nn * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2)
     + sy * (s1 * s12 - s11 * s2) AS det2
"""


@register(
    "ols_price_model",
    tags=("ML-stats",),
    oracle=f"""
WITH xm AS (
  SELECT l_returnflag AS flag,
         CAST(floor(l_quantity + 0.5) AS BIGINT) AS x1,
         CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS x2,
         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS y
  FROM lineitem
),
s AS (
  SELECT flag,
         CAST(count(*) AS DOUBLE) AS nn,
         CAST(sum(x1) AS DOUBLE) AS s1,
         CAST(sum(x2) AS DOUBLE) AS s2,
         CAST(sum(x1 * x1) AS DOUBLE) AS s11,
         CAST(sum(x1 * x2) AS DOUBLE) AS s12,
         CAST(sum(x2 * x2) AS DOUBLE) AS s22,
         CAST(sum(y) AS DOUBLE) AS sy,
         CAST(sum(x1 * y) AS DOUBLE) AS s1y,
         CAST(sum(x2 * y) AS DOUBLE) AS s2y,
         CAST(sum(y * y) AS DOUBLE) AS syy,
         CAST(count(*) AS BIGINT) AS n
  FROM xm GROUP BY 1
),
d AS (
  SELECT flag, n, nn, sy, s1y, s2y, syy,
  {_OLS_DETS}
  FROM s
),
beta AS (
  SELECT flag, n, nn, sy, s1y, s2y, syy,
         det0 / det AS b0, det1 / det AS b1, det2 / det AS b2
  FROM d
),
fit AS (
  SELECT flag, n, b0, b1, b2,
         syy - (b0 * sy + b1 * s1y + b2 * s2y) AS sse,
         syy - sy * sy / nn AS sst
  FROM beta
)
SELECT flag, n,
       CAST(floor(b0 * 1000000 + 0.5) AS BIGINT) AS b0_micro,
       CAST(floor(b1 * 1000000 + 0.5) AS BIGINT) AS b1_micro,
       CAST(floor(b2 * 1000000 + 0.5) AS BIGINT) AS b2_micro,
       CAST(floor((1 - sse / sst) * 1000000 + 0.5) AS BIGINT) AS r2_micro
FROM fit
""",
)
def ols_price_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-feature ordinary least squares fit by normal equations:
    per return flag, regress line-item price (cents) on quantity and
    discount percent, solving the 3x3 system with Cramer's rule and
    reporting the intercept/slopes plus R^2. This is the distributed
    closed-form regression every feature pipeline wants before
    reaching for an iterative solver: ONE aggregation pass collapses
    the fact table into the 10 sufficient statistics per group
    (n, Sx, Sxx-cross, Sxy, Syy — all exact integers through
    DECIMAL(38,0), so the doubles entering the solve are identical
    across engines), and the solve itself is 3-row arithmetic. SSE
    comes from the same pass via the orthogonality identity
    ``SSE = Syy - beta . X'y`` — no second scan. Scale shape:
    map-side partial aggregation to |flags| rows; nothing after the
    single shuffle touches more than 3 rows. The Cramer/R^2 doubles
    expression is rendered from one shared template into BOTH engines
    (`_OLS_DETS`) so the IEEE trees match bit-for-bit."""
    li = load_table(spark, sf_dir, "lineitem")
    xm = li.select(
        F.col("l_returnflag").alias("flag"),
        half_up("l_quantity", 0).alias("x1"),
        half_up("l_discount", 2).alias("x2"),
        half_up("l_extendedprice", 2).alias("y"),
    )
    s = xm.groupBy("flag").agg(
        F.count(F.lit(1)).cast("double").alias("nn"),
        F.sum(dec38(F.col("x1"))).cast("double").alias("s1"),
        F.sum(dec38(F.col("x2"))).cast("double").alias("s2"),
        F.sum(dec38(F.col("x1") * F.col("x1"))).cast("double").alias("s11"),
        F.sum(dec38(F.col("x1") * F.col("x2"))).cast("double").alias("s12"),
        F.sum(dec38(F.col("x2") * F.col("x2"))).cast("double").alias("s22"),
        F.sum(dec38(F.col("y"))).cast("double").alias("sy"),
        F.sum(dec38(F.col("x1") * F.col("y"))).cast("double").alias("s1y"),
        F.sum(dec38(F.col("x2") * F.col("y"))).cast("double").alias("s2y"),
        F.sum(dec38(F.col("y") * F.col("y"))).cast("double").alias("syy"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    d = s.selectExpr(
        "flag", "n", "nn", "sy", "s1y", "s2y", "syy", *_OLS_DETS.split(",\n")
    )
    beta = d.selectExpr(
        "flag",
        "n",
        "nn",
        "sy",
        "s1y",
        "s2y",
        "syy",
        "det0 / det AS b0",
        "det1 / det AS b1",
        "det2 / det AS b2",
    )
    fit = beta.selectExpr(
        "flag",
        "n",
        "b0",
        "b1",
        "b2",
        "syy - (b0 * sy + b1 * s1y + b2 * s2y) AS sse",
        "syy - sy * sy / nn AS sst",
    )
    return fit.selectExpr(
        "flag",
        "n",
        "CAST(floor(b0 * 1000000 + 0.5) AS BIGINT) AS b0_micro",
        "CAST(floor(b1 * 1000000 + 0.5) AS BIGINT) AS b1_micro",
        "CAST(floor(b2 * 1000000 + 0.5) AS BIGINT) AS b2_micro",
        "CAST(floor((1 - sse / sst) * 1000000 + 0.5) AS BIGINT) AS r2_micro",
    )


# ---------------------------------------------------------------------------
# Spearman rank correlation (tie-corrected, exact integer ranks)
# ---------------------------------------------------------------------------

# Pearson-on-ranks written ONCE and rendered into both engines so the IEEE
# double trees are identical; every input is a CAST-to-DOUBLE exact integer.
_SPEARMAN_RHO = (
    "(n * sxy - sx * sy) / "
    "sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) AS rho"
)


@register(
    "spearman_rank_corr",
    tags=("ML-stats",),
    oracle=f"""
WITH xm AS (
  SELECT l_returnflag AS flag,
         CAST(floor(l_quantity + 0.5) AS BIGINT) AS q,
         CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS d
  FROM lineitem
),
cells AS (
  SELECT flag, q, d, CAST(count(*) AS BIGINT) AS cnt FROM xm GROUP BY 1, 2, 3
),
qm AS (SELECT flag, q, CAST(count(*) AS BIGINT) AS cq FROM xm GROUP BY 1, 2),
dm AS (SELECT flag, d, CAST(count(*) AS BIGINT) AS cd FROM xm GROUP BY 1, 2),
qr AS (
  SELECT flag, q,
         CAST(2 * (sum(cq) OVER (PARTITION BY flag ORDER BY q) - cq)
              + cq + 1 AS BIGINT) AS rx2
  FROM qm
),
dr AS (
  SELECT flag, d,
         CAST(2 * (sum(cd) OVER (PARTITION BY flag ORDER BY d) - cd)
              + cd + 1 AS BIGINT) AS ry2
  FROM dm
),
j AS (
  SELECT c.flag AS flag, c.cnt AS cnt, qr.rx2 AS rx2, dr.ry2 AS ry2
  FROM cells c
  JOIN qr ON c.flag = qr.flag AND c.q = qr.q
  JOIN dr ON c.flag = dr.flag AND c.d = dr.d
),
s AS (
  SELECT flag,
         CAST(sum(cnt) AS BIGINT) AS n_rows,
         CAST(sum(cnt) AS DOUBLE) AS n,
         CAST(sum(CAST(cnt AS HUGEINT) * rx2) AS DOUBLE) AS sx,
         CAST(sum(CAST(cnt AS HUGEINT) * ry2) AS DOUBLE) AS sy,
         CAST(sum(CAST(cnt AS HUGEINT) * rx2 * rx2) AS DOUBLE) AS sxx,
         CAST(sum(CAST(cnt AS HUGEINT) * ry2 * ry2) AS DOUBLE) AS syy,
         CAST(sum(CAST(cnt AS HUGEINT) * rx2 * ry2) AS DOUBLE) AS sxy
  FROM j GROUP BY 1
),
r AS (SELECT flag, n_rows, {_SPEARMAN_RHO} FROM s)
SELECT flag, n_rows AS n,
       CAST(floor(rho * 1000000 + 0.5) AS BIGINT) AS rho_micro
FROM r
""",
)
def spearman_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tie-corrected Spearman rank correlation between line-item quantity
    and discount percent, per return flag. Ranks are the textbook
    average ranks, held EXACT by working with doubled ranks
    (``2*avg_rank = 2*count_less + count_equal + 1`` is always an
    integer); Pearson on the doubled ranks equals Pearson on the ranks
    because correlation is scale-invariant. The trick that makes this
    distributed: rows never receive individual ranks. Both variables
    have bounded domains (quantity 1-50, discount 0-10%), so the rank of
    every row is a function of its (flag, value) cell — ONE groupBy
    collapses the fact table to at most 50x11 cells per flag, the rank
    windows run over the <=50-row per-flag marginals (partitioned by
    flag, bounded independent of SF), and the weighted moment sums are
    exact integers through DECIMAL(38,0) / HUGEINT so the doubles
    entering the rho expression are identical across engines
    (`_SPEARMAN_RHO` renders the same tree into both). Scale shape:
    three map-side-combined aggregations over the fact table, then
    everything downstream touches <=flags*550 rows."""
    li = load_table(spark, sf_dir, "lineitem")
    xm = li.select(
        F.col("l_returnflag").alias("flag"),
        half_up("l_quantity", 0).alias("q"),
        half_up("l_discount", 2).alias("d"),
    )
    cells = xm.groupBy("flag", "q", "d").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    qm = xm.groupBy("flag", "q").agg(F.count(F.lit(1)).cast("long").alias("cq"))
    dm = xm.groupBy("flag", "d").agg(F.count(F.lit(1)).cast("long").alias("cd"))
    # Rank windows over the per-flag value marginals: <=50 (quantity) and
    # <=11 (discount) rows per flag partition — bounded independent of SF.
    wq = Window.partitionBy("flag").orderBy("q")
    wd = Window.partitionBy("flag").orderBy("d")
    qr = qm.select(
        "flag",
        "q",
        (2 * (F.sum("cq").over(wq) - F.col("cq")) + F.col("cq") + 1)
        .cast("long")
        .alias("rx2"),
    )
    dr = dm.select(
        "flag",
        "d",
        (2 * (F.sum("cd").over(wd) - F.col("cd")) + F.col("cd") + 1)
        .cast("long")
        .alias("ry2"),
    )
    j = cells.join(F.broadcast(qr), ["flag", "q"]).join(
        F.broadcast(dr), ["flag", "d"]
    )
    s = j.groupBy("flag").agg(
        F.sum("cnt").cast("long").alias("n_rows"),
        F.sum("cnt").cast("double").alias("n"),
        F.sum(dec38(F.col("cnt")) * dec38(F.col("rx2"))).cast("double").alias("sx"),
        F.sum(dec38(F.col("cnt")) * dec38(F.col("ry2"))).cast("double").alias("sy"),
        F.sum(dec38(F.col("cnt")) * dec38(F.col("rx2")) * dec38(F.col("rx2")))
        .cast("double")
        .alias("sxx"),
        F.sum(dec38(F.col("cnt")) * dec38(F.col("ry2")) * dec38(F.col("ry2")))
        .cast("double")
        .alias("syy"),
        F.sum(dec38(F.col("cnt")) * dec38(F.col("rx2")) * dec38(F.col("ry2")))
        .cast("double")
        .alias("sxy"),
    )
    r = s.selectExpr("flag", "n_rows", _SPEARMAN_RHO)
    return r.selectExpr(
        "flag",
        "n_rows AS n",
        "CAST(floor(rho * 1000000 + 0.5) AS BIGINT) AS rho_micro",
    )


# ---------------------------------------------------------------------------
# AMS (Alon-Matias-Szegedy) F2 sketch — second frequency moment
# ---------------------------------------------------------------------------

_AMS_K = 16  # independent sign estimators

# Final arithmetic rendered into BOTH engines verbatim (exact-integer
# inputs -> identical IEEE doubles).
_AMS_OUT = (
    "k",
    "f2_exact",
    "CAST(floor(sz2 / k + 0.5) AS BIGINT) AS f2_ams",
    "CAST(floor((sz2 / k - f2_exact) / f2_exact * 1000000 + 0.5)"
    " AS BIGINT) AS rel_err_micro",
)


@register(
    "sketch_ams_f2_tokens",
    tags=("LLM-text",),
    oracle="""
WITH tk AS (
  SELECT unnest({toks}) AS term FROM documents
),
signs AS (
  SELECT r.range AS i,
         1 - 2 * (({h}) % 2) AS sign
  FROM tk t, range({k}) r
),
z AS (SELECT i, CAST(sum(sign) AS BIGINT) AS z FROM signs GROUP BY 1),
est AS (
  SELECT CAST(count(*) AS BIGINT) AS k,
         CAST(sum(CAST(z AS HUGEINT) * z) AS DOUBLE) AS sz2
  FROM z
),
ex AS (
  SELECT CAST(sum(CAST(f AS HUGEINT) * f) AS BIGINT) AS f2_exact
  FROM (SELECT count(*) AS f FROM tk GROUP BY term)
)
SELECT {out}
FROM est, ex
""".format(
        toks=dedup.SQL_TOKENS.format(text="text"),
        h=dedup.sql_portable_hash("r.range::VARCHAR || ':' || t.term", "ams_"),
        k=_AMS_K,
        out=", ".join(_AMS_OUT),
    ),
)
def sketch_ams_f2_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMS sketch of the corpus token stream's second frequency moment
    F2 = sum(f_t^2) — the repeated-token "self-join size" statistic that
    drives skew diagnostics (F2/n^2 is the collision probability a
    hash-partitioned token shuffle will see). Sixteen independent
    {-1,+1} sign hashes (portable md5, replayed bit-for-bit by the
    oracle) each accumulate one signed counter Z_i over the occurrence
    stream; E[Z_i^2] = F2, and the estimate is the mean of the 16
    squares, audited here against the exact F2 with a signed relative
    error. The defining property vs exact counting: the sketch is
    16 numbers regardless of vocabulary size, and mergeable by plain
    addition across shards/stream batches. Scale shape: the 16x
    occurrence expansion partial-aggregates map-side onto 16 rows
    (the shuffle carries <=16 rows per map partition — never the
    vocabulary); the exact audit side is one token groupBy plus a
    scalar aggregate; both 1-row frames broadcast-join at the end."""
    docs = load_table(spark, sf_dir, "documents")
    tk = docs.select(F.explode(dedup.tokens(F.col("text"))).alias("term"))
    rows = spark.range(_AMS_K).select(F.col("id").alias("i"))
    signs = tk.crossJoin(F.broadcast(rows)).select(
        "i",
        (
            1
            - 2
            * F.pmod(
                dedup.portable_hash(
                    F.concat_ws(":", F.col("i").cast("string"), F.col("term")),
                    salt="ams_",
                ),
                F.lit(2),
            )
        ).alias("sign"),
    )
    z = signs.groupBy("i").agg(F.sum("sign").cast("long").alias("z"))
    est = z.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum(dec38(F.col("z")) * dec38(F.col("z"))).cast("double").alias("sz2"),
    )
    ex = (
        tk.groupBy("term")
        .agg(F.count(F.lit(1)).alias("f"))
        .agg(
            F.sum(dec38(F.col("f")) * dec38(F.col("f"))).cast("long").alias("f2_exact")
        )
    )
    return est.crossJoin(F.broadcast(ex)).selectExpr(*_AMS_OUT)


# ---------------------------------------------------------------------------
# Multinomial naive Bayes language classifier (train/test split, exact)
# ---------------------------------------------------------------------------

# Log-probabilities quantized to exact micro-int contributions BEFORE any
# summation: float addition is order-dependent, so the engines may not
# agree on a sum of raw doubles — but each per-(lang, term) micro-int is
# the ln of a ratio of exact integers (identical IEEE input -> identical
# output), and integer sums are order-free. Rendered into both engines
# from these shared templates.
# Parametric on the column references (qualified differently per engine);
# the arithmetic tree is identical either way.
_NB_LOGP_T = (
    "CAST(floor(ln(({c} + 1.0) / ({tot} + {vv})) * 1000000 + 0.5)"
    " AS BIGINT) AS logp_micro"
)
_NB_LOGP = _NB_LOGP_T.format(c="c", tot="tot", vv="vv")
_NB_PRIOR = (
    "CAST(floor(ln(nd * 1.0 / ndt) * 1000000 + 0.5) AS BIGINT)"
    " AS prior_micro"
)


@register(
    "nb_language_classifier",
    tags=("ML-stats", "LLM-text"),
    oracle="""
WITH tk AS (
  SELECT doc_id, lang, unnest({toks}) AS term FROM documents
),
train AS (SELECT * FROM tk WHERE doc_id % 2 = 0),
test AS (SELECT * FROM tk WHERE doc_id % 2 = 1),
langs AS (SELECT DISTINCT lang FROM documents WHERE doc_id % 2 = 0),
vocab AS (SELECT DISTINCT term FROM train),
vv_t AS (SELECT CAST(count(*) AS BIGINT) AS vv FROM vocab),
totals AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS tot FROM train GROUP BY 1
),
cnts AS (
  SELECT lang, term, CAST(count(*) AS BIGINT) AS c FROM train GROUP BY 1, 2
),
dense AS (
  SELECT l.lang, v.term,
         {logp}
  FROM langs l
  CROSS JOIN vocab v
  CROSS JOIN vv_t
  JOIN totals t ON t.lang = l.lang
  LEFT JOIN cnts c ON c.lang = l.lang AND c.term = v.term
),
prior AS (
  SELECT d.lang, {prior}
  FROM (SELECT lang, CAST(count(DISTINCT doc_id) AS BIGINT) AS nd
        FROM documents WHERE doc_id % 2 = 0 GROUP BY 1) d
  CROSS JOIN (SELECT CAST(count(*) AS BIGINT) AS ndt
              FROM documents WHERE doc_id % 2 = 0)
),
dt AS (
  SELECT doc_id, lang AS true_lang, term, CAST(count(*) AS BIGINT) AS cnt
  FROM test GROUP BY 1, 2, 3
),
contrib AS (
  SELECT dt.doc_id, dt.true_lang, d.lang,
         CAST(sum(dt.cnt * d.logp_micro) AS BIGINT) AS s
  FROM dt JOIN dense d ON d.term = dt.term
  GROUP BY 1, 2, 3
),
grid AS (
  SELECT t.doc_id, t.true_lang, l.lang
  FROM (SELECT DISTINCT doc_id, lang AS true_lang FROM documents
        WHERE doc_id % 2 = 1) t
  CROSS JOIN langs l
),
scores AS (
  SELECT g.doc_id, g.true_lang, g.lang,
         coalesce(c.s, 0) + p.prior_micro AS score
  FROM grid g
  LEFT JOIN contrib c
    ON c.doc_id = g.doc_id AND c.lang = g.lang
  JOIN prior p ON p.lang = g.lang
),
pred AS (
  SELECT doc_id, true_lang,
         (min({{'ns': -score, 'lang': lang}})).lang AS pred_lang
  FROM scores GROUP BY 1, 2
)
SELECT true_lang, pred_lang, CAST(count(*) AS BIGINT) AS n
FROM pred GROUP BY 1, 2
""".format(
        toks=dedup.SQL_TOKENS.format(text="text"),
        logp=_NB_LOGP_T.format(c="coalesce(c.c, 0)", tot="t.tot", vv="vv_t.vv"),
        prior=_NB_PRIOR,
    ),
)
def nb_language_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial naive Bayes language identifier with Laplace
    smoothing, trained on the even doc_ids and evaluated on the odd
    ones, reporting the full confusion matrix. The whole train/predict
    cycle is relational: training is two groupBys (per-(lang, term)
    counts and per-lang totals); the smoothed log-likelihood table is
    densified over the langs x train-vocab grid (vocab-bounded, never
    SF x vocab); prediction joins test (doc, term) counts to that table
    and elects argmax with one min(struct(-score, lang)) aggregate —
    map-side combinable, no ranking window. OOV test terms (absent from
    the train vocabulary) are ignored — the standard NB convention, and
    identical in both engines because the term join drops them. Every
    log-probability is micro-quantized to an exact BIGINT BEFORE
    summation (float addition is order-dependent across engines;
    integer sums are order-free), from ln of ratios of exact integers.
    Scale shape: token explode + map-combined groupBys over the corpus;
    everything after is bounded by vocab x langs; the per-(doc, lang)
    score shuffle carries langs rows per test doc."""
    docs = load_table(spark, sf_dir, "documents")
    tk = docs.select(
        "doc_id", "lang", F.explode(dedup.tokens(F.col("text"))).alias("term")
    )
    train = tk.filter(F.col("doc_id") % 2 == 0)
    test = tk.filter(F.col("doc_id") % 2 == 1)
    tr_docs = docs.filter(F.col("doc_id") % 2 == 0)
    # groupBy (an Aggregate, SF-independent output) rather than distinct
    # (a Deduplicate node the broadcast lint can't see a bound through)
    langs = tr_docs.groupBy("lang").agg(F.count(F.lit(1)).alias("_nl")).select(
        "lang"
    )
    vocab = train.select("term").distinct()
    vv_t = vocab.agg(F.count(F.lit(1)).cast("long").alias("vv"))
    totals = train.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("tot")
    )
    cnts = train.groupBy("lang", "term").agg(
        F.count(F.lit(1)).cast("long").alias("c0")
    )
    dense = (
        langs.crossJoin(vocab)
        .crossJoin(F.broadcast(vv_t))
        .join(F.broadcast(totals), "lang")
        .join(cnts, ["lang", "term"], "left")
        .withColumn("c", F.coalesce(F.col("c0"), F.lit(0)))
        .selectExpr("lang", "term", _NB_LOGP)
    )
    prior = (
        tr_docs.groupBy("lang")
        .agg(F.countDistinct("doc_id").cast("long").alias("nd"))
        .crossJoin(
            F.broadcast(
                tr_docs.agg(F.count(F.lit(1)).cast("long").alias("ndt"))
            )
        )
        .selectExpr("lang", _NB_PRIOR)
    )
    dt = test.groupBy(
        "doc_id", F.col("lang").alias("true_lang"), "term"
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    contrib = (
        dt.join(dense.withColumnsRenamed({"lang": "plang"}), "term")
        .groupBy("doc_id", "true_lang", "plang")
        .agg(F.sum(F.col("cnt") * F.col("logp_micro")).cast("long").alias("s"))
    )
    grid = (
        docs.filter(F.col("doc_id") % 2 == 1)
        .select("doc_id", F.col("lang").alias("true_lang"))
        .distinct()
        .crossJoin(F.broadcast(langs.withColumnsRenamed({"lang": "plang"})))
    )
    scores = (
        grid.join(contrib, ["doc_id", "true_lang", "plang"], "left")
        .join(
            F.broadcast(prior.withColumnsRenamed({"lang": "plang"})), "plang"
        )
        .select(
            "doc_id",
            "true_lang",
            "plang",
            (F.coalesce(F.col("s"), F.lit(0)) + F.col("prior_micro")).alias(
                "score"
            ),
        )
    )
    pred = (
        scores.groupBy("doc_id", "true_lang")
        .agg(
            F.min(
                F.struct((-F.col("score")).alias("ns"), F.col("plang").alias("lang"))
            ).alias("w")
        )
        .select("doc_id", "true_lang", F.col("w.lang").alias("pred_lang"))
    )
    return pred.groupBy("true_lang", "pred_lang").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )


# ---------------------------------------------------------------------------
# HITS hubs & authorities on the customer -> part purchase graph
# ---------------------------------------------------------------------------


def _hits_oracle(rounds: int) -> str:
    parts = [
        """e AS MATERIALIZED (
  SELECT o_custkey AS u, l_partkey AS i
  FROM orders JOIN lineitem ON l_orderkey = o_orderkey
  GROUP BY 1, 2
)""",
        "a0 AS MATERIALIZED (SELECT i, CAST(1 AS HUGEINT) AS a "
        "FROM e GROUP BY i)",
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"""h{r} AS MATERIALIZED (
  SELECT u, CAST(sum(a) AS HUGEINT) AS h
  FROM e JOIN a{r - 1} USING (i) GROUP BY 1
),
a{r} AS MATERIALIZED (
  SELECT i, CAST(sum(h) AS HUGEINT) AS a
  FROM e JOIN h{r} USING (u) GROUP BY 1
)"""
        )
    body = ",\n".join(parts)
    return f"""WITH {body},
m AS (SELECT CAST(max(a) AS DOUBLE) AS amax FROM a{rounds})
SELECT i AS part_key,
       CAST(floor(CAST(a AS DOUBLE) / amax * 1000000 + 0.5) AS BIGINT)
         AS auth_rel_micro
FROM a{rounds}, m
ORDER BY a DESC, i LIMIT 20
"""


@register(
    "graph_hits_authorities",
    tags=("ML-stats", "LLM-graph"),
    oracle=_hits_oracle(rounds=3),
)
def graph_hits_authorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs-and-authorities (operators/graph.py:hits, 3 rounds) on
    the directed customer -> part purchase bipartite graph: the top-20
    authority parts — the items bought by the customers who buy the most
    widely-endorsed items, a mutually-reinforcing centrality PageRank's
    single-mode random walk doesn't capture. Scores stay EXACT integers
    through all rounds (no per-round float normalization — sums of
    doubles are order-dependent across engines); one int->double cast
    normalizes by the max at the end. The oracle unrolls all 3 rounds as
    MATERIALIZED CTEs in HUGEINT. Scale shape per round: two join +
    map-combined groupBy matvecs (shuffles keyed on u / i, hot keys
    partial-aggregate map-side); final top-20 is a
    TakeOrderedAndProject, never a global sort."""
    from stock_streaming_data_pipeline_spark.tables import load_table

    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    e = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy(
            F.col("o_custkey").alias("u"), F.col("l_partkey").alias("i")
        )
        .agg(F.count(F.lit(1)).alias("_m"))
        .select("u", "i")
    )
    _hub, auth = graph.hits(e, rounds=3)
    amax = auth.agg(F.max("a").cast("double").alias("amax"))
    return (
        auth.crossJoin(F.broadcast(amax))
        .select(
            F.col("i").alias("part_key"),
            half_up(F.col("a").cast("double") / F.col("amax"), 6)
            .alias("auth_rel_micro"),
            "a",
        )
        .orderBy(F.desc("a"), F.asc("part_key"))
        .limit(20)
        .select("part_key", "auth_rel_micro")
    )


# ---------------------------------------------------------------------------
# PCA top principal component by integer-exact power iteration
# ---------------------------------------------------------------------------

from stock_streaming_data_pipeline_spark.operators import pca  # noqa: E402

_PCA_DIM = 64
_PCA_ROUNDS = 8
# Shared renormalization / explained-variance expressions (exact-int
# inputs -> identical IEEE trees in both engines).
_PCA_NORM = (
    "CAST(floor(CAST(raw AS DOUBLE) / m * 1000000 + 0.5) AS BIGINT)"
)
_PCA_EVR = (
    "CAST(floor(CAST(num AS DOUBLE) / CAST(den AS DOUBLE)"
    " / CAST(tr AS DOUBLE) * 1000000 + 0.5) AS BIGINT) AS evr_micro"
)


def _pca_cte_parts(rounds: int, dim: int) -> list:
    """CTE prefix shared by every PCA oracle: quantize -> Gram -> cov ->
    power-iteration rounds, ending at v{rounds}."""
    parts = [
        """xq AS MATERIALIZED (
  SELECT list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS xq
  FROM embeddings
)""",
        f"idx AS (SELECT range AS i FROM range({dim}))",
        """gram AS MATERIALIZED (
  SELECT a.i AS i, b.i AS j,
         CAST(sum(CAST(xq[a.i + 1] AS HUGEINT) * xq[b.i + 1]) AS HUGEINT) AS sxx
  FROM xq, idx a, idx b GROUP BY 1, 2
)""",
        """sums AS MATERIALIZED (
  SELECT a.i AS i, CAST(sum(xq[a.i + 1]) AS HUGEINT) AS sx
  FROM xq, idx a GROUP BY 1
)""",
        "nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM xq)",
        """cov AS MATERIALIZED (
  SELECT g.i, g.j, CAST(n AS HUGEINT) * g.sxx - s1.sx * s2.sx AS c
  FROM gram g JOIN sums s1 ON s1.i = g.i JOIN sums s2 ON s2.i = g.j
  CROSS JOIN nn
)""",
        "v0 AS (SELECT i AS j, CAST(1000000 AS BIGINT) AS v FROM idx)",
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"""r{r} AS MATERIALIZED (
  SELECT c.i, CAST(sum(c.c * v.v) AS HUGEINT) AS raw
  FROM cov c JOIN v{r - 1} v ON v.j = c.j GROUP BY 1
),
m{r} AS (SELECT CAST(max(abs(raw)) AS DOUBLE) AS m FROM r{r}),
v{r} AS MATERIALIZED (
  SELECT i AS j, {_PCA_NORM} AS v FROM r{r}, m{r}
)"""
        )
    return parts


def _pca_oracle(rounds: int, dim: int) -> str:
    parts = _pca_cte_parts(rounds, dim)
    parts.append(
        f"""rf AS MATERIALIZED (
  SELECT c.i, CAST(sum(c.c * v.v) AS HUGEINT) AS raw
  FROM cov c JOIN v{rounds} v ON v.j = c.j GROUP BY 1
),
num_t AS (
  SELECT CAST(sum(CAST(v.v AS HUGEINT) * rf.raw) AS HUGEINT) AS num
  FROM v{rounds} v JOIN rf ON rf.i = v.j
),
den_t AS (
  SELECT CAST(sum(CAST(v AS HUGEINT) * v) AS HUGEINT) AS den FROM v{rounds}
),
tr_t AS (SELECT CAST(sum(c) AS HUGEINT) AS tr FROM cov WHERE i = j)"""
    )
    body = ",\n".join(parts)
    return f"""WITH {body}
SELECT j AS dim_idx, v AS loading_micro, {_PCA_EVR}
FROM v{rounds}, num_t, den_t, tr_t
"""


@register(
    "pca_top_component",
    tags=("ML-stats", "LLM-embedding"),
    oracle=_pca_oracle(_PCA_ROUNDS, _PCA_DIM),
)
def pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal component of the embedding corpus (loadings plus
    explained-variance ratio) by 8 rounds of power iteration over the
    exact integer covariance (operators/pca.py). Nothing in the whole
    pipeline ever adds two doubles from different rows: components are
    micro-quantized once, the centered n-scaled covariance accumulates
    in DECIMAL(38,0), every matvec is an integer join+groupBy, and each
    round renormalizes by ONE deterministic int->double cast+divide —
    so the DuckDB oracle (HUGEINT, all 8 rounds unrolled) matches
    bit-for-bit. Scale shape: the corpus is touched ONCE by a
    generator-only Gram pass (no self-join; map-side partials collapse
    onto d^2 = 4096 keys before the only corpus-sized shuffle); all 8
    iterations run on the 4096-row covariance relation."""
    from stock_streaming_data_pipeline_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cov = pca.covariance_rows(emb, id_col="vec_id", vec_col="embedding")
    cov = materialize(cov, eager=False)
    v = pca.power_iteration(cov, rounds=_PCA_ROUNDS)
    rf = (
        cov.join(v.withColumnsRenamed({"i": "j"}), "j")
        .groupBy("i")
        .agg(F.sum(F.col("c") * dec38(F.col("v"))).alias("raw"))
    )
    num_t = (
        v.join(rf, "i")
        .agg(F.sum(dec38(F.col("v")) * F.col("raw")).alias("num"))
    )
    den_t = v.agg(F.sum(dec38(F.col("v")) * dec38(F.col("v"))).alias("den"))
    tr_t = cov.filter(F.col("i") == F.col("j")).agg(
        F.sum("c").alias("tr")
    )
    return (
        v.crossJoin(F.broadcast(num_t))
        .crossJoin(F.broadcast(den_t))
        .crossJoin(F.broadcast(tr_t))
        .selectExpr(
            "i AS dim_idx",
            "v AS loading_micro",
            _PCA_EVR,
        )
    )


@register(
    "pca_projection_extremes",
    tags=("ML-stats", "LLM-embedding"),
    oracle=_pca_oracle(_PCA_ROUNDS, _PCA_DIM).replace(
        f"""SELECT j AS dim_idx, v AS loading_micro, {_PCA_EVR}
FROM v{_PCA_ROUNDS}, num_t, den_t, tr_t""",
        f"""
, scores AS MATERIALIZED (
  SELECT e.vec_id,
         CAST(sum(CAST(x.xq[v.j + 1] AS HUGEINT) * v.v) AS HUGEINT) AS s
  FROM embeddings e
  JOIN xq2 x ON x.vec_id = e.vec_id
  CROSS JOIN v{_PCA_ROUNDS} v
  GROUP BY 1
),
ranked AS (
  (SELECT vec_id, s, 'top' AS side FROM scores ORDER BY s DESC, vec_id LIMIT 10)
  UNION ALL
  (SELECT vec_id, s, 'bottom' AS side FROM scores ORDER BY s ASC, vec_id LIMIT 10)
)
SELECT vec_id, side,
       CAST(floor(CAST(s AS DOUBLE) / 1000000 + 0.5) AS BIGINT) AS proj_micro
FROM ranked""",
    ).replace(
        """xq AS MATERIALIZED (
  SELECT list_transform(embedding,""",
        """xq2 AS MATERIALIZED (
  SELECT vec_id, list_transform(embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * 1000000 + 0.5) AS BIGINT)) AS xq
  FROM embeddings
),
xq AS MATERIALIZED (
  SELECT list_transform(embedding,""",
    ),
)
def pca_projection_extremes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Applies the learned top principal component back to the corpus —
    the 10 most-positive and 10 most-negative vectors along PC1 (the
    'what does this axis mean' inspection every embedding-space audit
    starts with). The projection is a per-row integer dot product
    (micro-quantized components x the micro-scaled eigenvector from
    pca_top_component's identical subplan), so scores are exact BIGINTs
    and the top/bottom-10 are TakeOrderedAndProject heads with
    deterministic (score, vec_id) tie-breaks — never a global sort.
    Scale: the corpus pass is one broadcast-join of the 64-row
    eigenvector against the exploded components + a map-combined
    per-vector sum."""
    from stock_streaming_data_pipeline_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cov = materialize(
        pca.covariance_rows(emb, id_col="vec_id", vec_col="embedding"), eager=False
    )
    v = pca.power_iteration(cov, rounds=_PCA_ROUNDS)
    comps = pca.quantized_components(emb, id_col="vec_id", vec_col="embedding")
    scores = (
        comps.join(F.broadcast(v), "i")
        .groupBy("vid")
        .agg(F.sum(dec38(F.col("xi")) * dec38(F.col("v"))).alias("s"))
    )
    top = (
        scores.orderBy(F.desc("s"), F.asc("vid"))
        .limit(10)
        .select("vid", "s", F.lit("top").alias("side"))
    )
    bottom = (
        scores.orderBy(F.asc("s"), F.asc("vid"))
        .limit(10)
        .select("vid", "s", F.lit("bottom").alias("side"))
    )
    return top.unionByName(bottom).selectExpr(
        "vid AS vec_id",
        "side",
        "CAST(floor(CAST(s AS DOUBLE) / 1000000 + 0.5) AS BIGINT) AS proj_micro",
    )


# ---------------------------------------------------------------------------
# Markov stationary distribution over the event-type transition chain
# ---------------------------------------------------------------------------

_MKV_ROUNDS = 8
# Per-round L1 renormalization — ONE deterministic int->double cast+divide
# per state, identical tree in both engines.
_MKV_NORM = "CAST(floor(CAST(raw AS DOUBLE) / tot * 1000000 + 0.5) AS BIGINT)"


def _markov_oracle(rounds: int) -> str:
    parts = [
        """ordered AS MATERIALIZED (
  SELECT event_type,
         lead(event_type) OVER (
           PARTITION BY user_id ORDER BY epoch_us(ts), event_id
         ) AS next_type
  FROM events
)""",
        """trans AS MATERIALIZED (
  SELECT event_type AS a, next_type AS b, CAST(count(*) AS BIGINT) AS n
  FROM ordered WHERE next_type IS NOT NULL GROUP BY 1, 2
)""",
        """pq AS MATERIALIZED (
  SELECT a, b,
         CAST(floor(CAST(n AS DOUBLE) / total * 1000000 + 0.5) AS BIGINT)
           AS pq
  FROM trans JOIN (SELECT a, CAST(sum(n) AS BIGINT) AS total
                   FROM trans GROUP BY 1) USING (a)
)""",
        "p0 AS (SELECT a AS s, CAST(1000000 AS BIGINT) AS v "
        "FROM trans GROUP BY 1)",
    ]
    for r in range(1, rounds + 1):
        parts.append(
            f"""r{r} AS MATERIALIZED (
  SELECT pq.b AS s, CAST(sum(CAST(p.v AS HUGEINT) * pq.pq) AS HUGEINT) AS raw
  FROM p{r - 1} p JOIN pq ON pq.a = p.s GROUP BY 1
),
t{r} AS (SELECT CAST(sum(raw) AS DOUBLE) AS tot FROM r{r}),
p{r} AS MATERIALIZED (
  SELECT s, {_MKV_NORM} AS v FROM r{r}, t{r}
)"""
        )
    body = ",\n".join(parts)
    return f"""WITH {body}
SELECT s AS event_type, v AS stationary_micro FROM p{rounds}
"""


@register(
    "markov_stationary_events",
    tags=("ML-stats", "W4"),
    oracle=_markov_oracle(_MKV_ROUNDS),
)
def markov_stationary_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the per-user event-type Markov chain —
    where user journeys spend their time in the long run, the
    steady-state companion to event_transition_matrix's one-step view.
    Transition counts come from one lead() pass partitioned by user;
    the row-stochastic matrix is micro-quantized ONCE (a single
    deterministic division per transition cell), and 8 power-iteration
    rounds run as integer matvecs over the |event_types|^2-row relation
    with an exact L1 renormalization per round (one int->double cast) —
    the operators/pca.py discipline applied to a chain. The oracle
    unrolls all rounds in HUGEINT. Scale shape: the fact table is
    touched once by the window pass + map-combined transition groupBy;
    every iteration is a joins-over-bounded-relation (states^2 rows)."""
    from stock_streaming_data_pipeline_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.unix_micros("ts"), F.col("event_id")
    )
    ordered = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    )
    trans = (
        ordered.filter(F.col("next_type").isNotNull())
        .groupBy(F.col("event_type").alias("a"), F.col("next_type").alias("b"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    outdeg = trans.groupBy("a").agg(F.sum("n").cast("long").alias("total"))
    pq = materialize(
        trans.join(F.broadcast(outdeg), "a")
        .selectExpr(
            "a",
            "b",
            "CAST(floor(CAST(n AS DOUBLE) / total * 1000000 + 0.5)"
            " AS BIGINT) AS pq",
        ),
        eager=False,
    )
    p = (
        trans.groupBy(F.col("a").alias("s"))
        .agg(F.count(F.lit(1)).alias("_d"))
        .select("s", F.lit(1_000_000).cast("long").alias("v"))
    )
    for _ in range(_MKV_ROUNDS):
        raw = (
            p.join(pq, p["s"] == pq["a"])
            .groupBy(F.col("b").alias("s2"))
            .agg(F.sum(dec38(F.col("v")) * dec38(F.col("pq"))).alias("raw"))
            .withColumnRenamed("s2", "s")
        )
        tot = raw.agg(F.sum("raw").cast("double").alias("tot"))
        p = materialize(
            raw.crossJoin(F.broadcast(tot))
            .selectExpr("s", f"{_MKV_NORM} AS v"),
            eager=False,
        )
    return p.selectExpr("s AS event_type", "v AS stationary_micro")


# ---------------------------------------------------------------------------
# Decision stump: best single-feature Gini split (exact counts)
# ---------------------------------------------------------------------------

# Gini expressions rendered into both engines from one template —
# every input an exact integer cast to DOUBLE.
# NB: a bare ``2.0`` literal parses as DECIMAL in Spark SQL (truncating
# arithmetic) but DOUBLE in DuckDB — CAST(2 AS DOUBLE) pins both engines
# to the same IEEE tree.
_STUMP_GAIN = (
    "CAST(floor(("
    "CAST(2 AS DOUBLE) * pos * (n - pos) / (n * n)"
    " - CAST(2 AS DOUBLE) * posl * (nl - posl) / (nl * n)"
    " - CAST(2 AS DOUBLE) * posr * (nr - posr) / (nr * n)"
    ") * 1000000 + 0.5) AS BIGINT) AS gain_micro"
)
_STUMP_ACC = (
    "CAST(floor(("
    "CAST(greatest(posl, nl - posl) + greatest(posr, nr - posr) AS DOUBLE)"
    " / n) * 1000000 + 0.5) AS BIGINT) AS acc_micro"
)


@register(
    "decision_stump_train",
    tags=("ML-stats",),
    oracle=f"""
WITH xm AS (
  SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
         'quantity' AS feature,
         CAST(floor(l_quantity + 0.5) AS BIGINT) AS v
  FROM lineitem
  UNION ALL
  SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
         'discount' AS feature,
         CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS v
  FROM lineitem
),
cells AS (
  SELECT feature, v, CAST(count(*) AS BIGINT) AS cnt,
         CAST(sum(y) AS BIGINT) AS pos
  FROM xm GROUP BY 1, 2
),
cum AS (
  SELECT feature, v,
         CAST(sum(cnt) OVER w AS BIGINT) AS nl,
         CAST(sum(pos) OVER w AS BIGINT) AS posl
  FROM cells
  WINDOW w AS (PARTITION BY feature ORDER BY v)
),
tot AS (
  SELECT feature, CAST(sum(cnt) AS BIGINT) AS n,
         CAST(sum(pos) AS BIGINT) AS pos
  FROM cells GROUP BY 1
),
cand AS (
  SELECT c.feature, c.v AS threshold, t.n, t.pos,
         c.nl, c.posl, t.n - c.nl AS nr, t.pos - c.posl AS posr
  FROM cum c JOIN tot t ON t.feature = c.feature
  WHERE c.nl < t.n
),
scored AS (
  SELECT feature, threshold, nl, nr, {_STUMP_GAIN}, {_STUMP_ACC}
  FROM cand
),
best AS (
  SELECT (min({{'ng': -gain_micro, 'feature': feature,
                'threshold': threshold}})) AS b
  FROM scored
)
SELECT s.feature, s.threshold, s.gain_micro, s.acc_micro, s.nl, s.nr
FROM scored s, best
WHERE s.feature = best.b.feature AND s.threshold = best.b.threshold
""",
)
def decision_stump_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trains a decision stump — the best single-feature threshold split
    of line items into returned ('R') vs not, by exact Gini impurity
    decrease over every candidate threshold of two bounded-domain
    features (quantity 1-50, discount 0-10%) — the depth-1 tree that
    anchors every gradient-boosting pipeline, trained relationally: ONE
    unpivoted aggregation pass collapses the fact table to <=61 cells
    per feature, the <=50-row cumulative windows (partitioned by
    feature, bounded independent of SF) give every candidate split its
    left/right class counts for free, and the argmax is a single
    min(struct) election with deterministic (gain, feature, threshold)
    tie-breaks. The Gini gain and training accuracy are computed from
    exact integers through one shared double template. Reports the
    winning split with its gain and training accuracy. Scale shape:
    nothing after the first map-combined groupBy touches more than
    ~120 rows."""
    li = load_table(spark, sf_dir, "lineitem")
    y = F.when(F.col("l_returnflag") == "R", F.lit(1)).otherwise(F.lit(0))
    qf = li.select(
        y.alias("y"),
        F.lit("quantity").alias("feature"),
        half_up("l_quantity", 0).alias("v"),
    )
    df_ = li.select(
        y.alias("y"),
        F.lit("discount").alias("feature"),
        half_up("l_discount", 2).alias("v"),
    )
    cells = (
        qf.unionByName(df_)
        .groupBy("feature", "v")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.sum("y").cast("long").alias("pos"),
        )
    )
    w = Window.partitionBy("feature").orderBy("v")
    cum = cells.select(
        "feature",
        "v",
        F.sum("cnt").over(w).cast("long").alias("nl"),
        F.sum("pos").over(w).cast("long").alias("posl"),
    )
    tot = cells.groupBy("feature").agg(
        F.sum("cnt").cast("long").alias("n"),
        F.sum("pos").cast("long").alias("pos"),
    )
    cand = (
        cum.join(F.broadcast(tot), "feature")
        .filter(F.col("nl") < F.col("n"))
        .select(
            "feature",
            F.col("v").alias("threshold"),
            "n",
            "pos",
            "nl",
            "posl",
            (F.col("n") - F.col("nl")).alias("nr"),
            (F.col("pos") - F.col("posl")).alias("posr"),
        )
    )
    scored = cand.selectExpr(
        "feature", "threshold", "nl", "nr", _STUMP_GAIN, _STUMP_ACC
    )
    best = scored.agg(
        F.min(
            F.struct(
                (-F.col("gain_micro")).alias("ng"),
                F.col("feature").alias("feature"),
                F.col("threshold").alias("threshold"),
            )
        ).alias("b")
    )
    return (
        scored.crossJoin(F.broadcast(best))
        .filter(
            (F.col("feature") == F.col("b.feature"))
            & (F.col("threshold") == F.col("b.threshold"))
        )
        .select("feature", "threshold", "gain_micro", "acc_micro", "nl", "nr")
    )


# ---------------------------------------------------------------------------
# Theil-Sen robust trend: exact median of pairwise day-grid slopes
# ---------------------------------------------------------------------------


@register(
    "ts_theilsen_trend",
    tags=("ML-stats", "W1"),
    oracle=f"""
WITH dg AS (
  SELECT event_type, epoch_us(ts) // {_US_PER_DAY} AS day,
         CAST(count(*) AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
pr AS (
  SELECT a.event_type,
         b.y - a.y AS dy, b.day - a.day AS dx
  FROM dg a JOIN dg b
    ON a.event_type = b.event_type AND b.day > a.day
),
sl AS (
  SELECT event_type,
         (CASE WHEN dy < 0
               THEN -((abs(dy) * 2 * 1000000 + dx) // (2 * dx))
               ELSE ((abs(dy) * 2 * 1000000 + dx) // (2 * dx)) END)
           AS slope_micro
  FROM pr
),
rk AS (
  SELECT event_type, slope_micro,
         row_number() OVER (PARTITION BY event_type ORDER BY slope_micro)
           AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM sl
)
SELECT event_type, CAST(n AS BIGINT) AS n_pairs,
       slope_micro AS theilsen_slope_micro
FROM rk WHERE rn = (n + 1) // 2
""",
)
def ts_theilsen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend per event type: the median of all pairwise
    slopes of the daily-count series — the estimator that shrugs off up
    to ~29% outliers where OLS breaks. Exactness: days are TZ-free
    epoch-day integers, each pairwise slope is a signed half-up micro
    integer ((|dy|*2e6 + dx) DIV (2*dx), dx > 0 by construction), and
    the median is the LOWER median by rank over the integer slopes —
    selection by rank over a value-only order is value-deterministic
    under ties, so both engines elect the identical BIGINT. Scale
    shape: the fact table collapses to the |types| x |days| grid in one
    map-combined groupBy; the pairwise self-join and the median window
    run over that bounded grid (days^2 pairs per type, SF-independent —
    at an unbounded day span, switch to the repo's two-scan exact
    median over the slope relation)."""
    ev = load_table(spark, sf_dir, "events")
    dg = ev.groupBy(
        "event_type",
        (F.unix_micros("ts") / F.lit(_US_PER_DAY)).cast("long").alias("day"),
    ).agg(F.count(F.lit(1)).cast("long").alias("y"))
    a = dg.select(
        "event_type", F.col("day").alias("da"), F.col("y").alias("ya")
    )
    b = dg.select(
        F.col("event_type").alias("et_b"),
        F.col("day").alias("db"),
        F.col("y").alias("yb"),
    )
    pr = a.join(
        b, (F.col("event_type") == F.col("et_b")) & (F.col("db") > F.col("da"))
    ).select(
        "event_type",
        (F.col("yb") - F.col("ya")).alias("dy"),
        (F.col("db") - F.col("da")).alias("dx"),
    )
    sl = pr.selectExpr(
        "event_type",
        "(CASE WHEN dy < 0"
        " THEN -((abs(dy) * 2 * 1000000 + dx) DIV (2 * dx))"
        " ELSE ((abs(dy) * 2 * 1000000 + dx) DIV (2 * dx)) END)"
        " AS slope_micro",
    )
    w_rank = Window.partitionBy("event_type").orderBy("slope_micro")
    w_all = Window.partitionBy("event_type")
    rk = sl.select(
        "event_type",
        "slope_micro",
        F.row_number().over(w_rank).alias("rn"),
        F.count(F.lit(1)).over(w_all).alias("n"),
    )
    return rk.filter(F.expr("rn = (n + 1) DIV 2")).select(
        "event_type",
        F.col("n").cast("long").alias("n_pairs"),
        F.col("slope_micro").alias("theilsen_slope_micro"),
    )


# ---------------------------------------------------------------------------
# Boosting round 2: AdaBoost-reweighted second stump, exact integer weights
# ---------------------------------------------------------------------------

# Shared SQL fragments rendered into both engines. The AdaBoost update
# w_i *= sqrt((1-eps)/eps) on misses (and its inverse on hits) is
# irrational, but only the RATIO matters for the next weak learner:
# scaling by n gives miss-weight = c (round-1 correct count) and
# hit-weight = m (round-1 miss count) — the exact integer weighting
# under which misses and hits carry equal total mass, which IS the
# AdaBoost round-2 distribution. greatest(m, 1) guards the perfect-stump
# degenerate case.
_B2_PARAM_EXPRS = (
    "feature AS f1",
    "threshold AS t1",
    "n",
    "CASE WHEN 2 * posl > nl THEN 1 ELSE 0 END AS lp1",
    "CASE WHEN 2 * posr > nr THEN 1 ELSE 0 END AS rp1",
    "(CASE WHEN 2 * posl > nl THEN posl ELSE nl - posl END"
    " + CASE WHEN 2 * posr > nr THEN posr ELSE nr - posr END) AS c_r1",
)
_B2_PARAMS = ", ".join(_B2_PARAM_EXPRS)
_B2_WEIGHT = (
    "CASE WHEN (CASE WHEN f1 = 'quantity' "
    "THEN (CASE WHEN vq <= t1 THEN lp1 ELSE rp1 END) "
    "ELSE (CASE WHEN vd <= t1 THEN lp1 ELSE rp1 END) END) <> y "
    "THEN c_r1 ELSE greatest(n - c_r1, 1) END"
)
_B2_WERR = (
    "(least(posl, nl - posl) + least(posr, nr - posr)) AS werr"
)


@register(
    "boosted_stumps_round2",
    tags=("ML-stats",),
    oracle=f"""
WITH base AS (
  SELECT CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
         CAST(floor(l_quantity + 0.5) AS BIGINT) AS vq,
         CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS vd
  FROM lineitem
),
xm1 AS (
  SELECT y, 'quantity' AS feature, vq AS v FROM base
  UNION ALL SELECT y, 'discount', vd FROM base
),
cells1 AS (
  SELECT feature, v, CAST(count(*) AS BIGINT) AS cnt,
         CAST(sum(y) AS BIGINT) AS pos
  FROM xm1 GROUP BY 1, 2
),
cum1 AS (
  SELECT feature, v,
         CAST(sum(cnt) OVER w AS BIGINT) AS nl,
         CAST(sum(pos) OVER w AS BIGINT) AS posl
  FROM cells1 WINDOW w AS (PARTITION BY feature ORDER BY v)
),
tot1 AS (
  SELECT feature, CAST(sum(cnt) AS BIGINT) AS n,
         CAST(sum(pos) AS BIGINT) AS pos
  FROM cells1 GROUP BY 1
),
cand1 AS (
  SELECT c.feature, c.v AS threshold, t.n, t.pos,
         c.nl, c.posl, t.n - c.nl AS nr, t.pos - c.posl AS posr
  FROM cum1 c JOIN tot1 t ON t.feature = c.feature
  WHERE c.nl < t.n
),
scored1 AS (SELECT *, {_STUMP_GAIN} FROM cand1),
best1 AS (
  SELECT (min({{'ng': -gain_micro, 'feature': feature,
                'threshold': threshold}})) AS b
  FROM scored1
),
b1 AS (
  SELECT s.* FROM scored1 s, best1
  WHERE s.feature = best1.b.feature AND s.threshold = best1.b.threshold
),
params AS (SELECT {_B2_PARAMS} FROM b1),
rows2 AS (
  SELECT base.y, base.vq, base.vd, {_B2_WEIGHT} AS w
  FROM base CROSS JOIN params
),
xm2 AS (
  SELECT y, w, 'quantity' AS feature, vq AS v FROM rows2
  UNION ALL SELECT y, w, 'discount', vd FROM rows2
),
cells2 AS (
  SELECT feature, v, CAST(sum(w) AS BIGINT) AS cnt,
         CAST(sum(w * y) AS BIGINT) AS pos
  FROM xm2 GROUP BY 1, 2
),
cum2 AS (
  SELECT feature, v,
         CAST(sum(cnt) OVER w AS BIGINT) AS nl,
         CAST(sum(pos) OVER w AS BIGINT) AS posl
  FROM cells2 WINDOW w AS (PARTITION BY feature ORDER BY v)
),
tot2 AS (
  SELECT feature, CAST(sum(cnt) AS BIGINT) AS n,
         CAST(sum(pos) AS BIGINT) AS pos
  FROM cells2 GROUP BY 1
),
cand2 AS (
  SELECT c.feature, c.v AS threshold, t.n AS wtot,
         c.nl, c.posl, t.n - c.nl AS nr, t.pos - c.posl AS posr
  FROM cum2 c JOIN tot2 t ON t.feature = c.feature
  WHERE c.nl < t.n
),
scored2 AS (SELECT feature, threshold, wtot, {_B2_WERR} FROM cand2),
best2 AS (
  SELECT (min({{'werr': werr, 'feature': feature,
                'threshold': threshold}})) AS b
  FROM scored2
),
b2 AS (
  SELECT s.* FROM scored2 s, best2
  WHERE s.feature = best2.b.feature AND s.threshold = best2.b.threshold
)
SELECT p.f1 AS feature_r1, p.t1 AS threshold_r1,
       p.n - p.c_r1 AS n_misclassified_r1,
       b2.feature AS feature_r2, b2.threshold AS threshold_r2,
       CAST((CAST(b2.werr AS HUGEINT) * 2000000 + b2.wtot)
            // (CAST(b2.wtot AS HUGEINT) * 2) AS BIGINT) AS werr_r2_micro
FROM params p CROSS JOIN b2
""",
)
def boosted_stumps_round2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boosting round 2: the AdaBoost-reweighted second decision stump.
    Round 1 elects the same Gini-best stump as decision_stump_train;
    its per-row hits/misses then reweight the data with EXACT integer
    weights (miss -> c, hit -> m, the n-scaled AdaBoost distribution
    under which misses and hits carry equal total mass — the sqrt ratio
    in the textbook update only ever matters as a ratio, so the
    irrational never enters), and round 2 elects the stump minimizing
    WEIGHTED error over the same candidate thresholds, with
    deterministic (werr, feature, threshold) tie-breaks. Reports both
    stumps and round 2's weighted error rate as a half-up micro int —
    every value exact (weighted-count ACCUMULATORS stay under int64 up
    to ~3e9 rows; the final micro scaling runs in DECIMAL(38,0)/HUGEINT
    because 2*werr*1e6 crosses int64 already at the sf1 tier — caught
    by the round-9 sf1 sweep). Scale shape:
    two unpivoted map-combined fact aggregations (round 2's weight is a
    broadcast 1-row params join, no materialized intermediate), bounded
    <=61-cell cumulative windows per feature, two min(struct)
    elections."""
    li = load_table(spark, sf_dir, "lineitem")
    y = F.when(F.col("l_returnflag") == "R", F.lit(1)).otherwise(F.lit(0))
    base = li.select(
        y.alias("y"),
        half_up("l_quantity", 0).alias("vq"),
        half_up("l_discount", 2).alias("vd"),
    )

    def unpivot(rows: DataFrame, with_w: bool) -> DataFrame:
        w = [F.col("w")] if with_w else [F.lit(1).cast("long").alias("w")]
        q = rows.select("y", *w, F.lit("quantity").alias("feature"),
                        F.col("vq").alias("v"))
        d = rows.select("y", *w, F.lit("discount").alias("feature"),
                        F.col("vd").alias("v"))
        return q.unionByName(d)

    def stump_cand(xm: DataFrame) -> DataFrame:
        cells = xm.groupBy("feature", "v").agg(
            F.sum("w").cast("long").alias("cnt"),
            F.sum(F.col("w") * F.col("y")).cast("long").alias("pos"),
        )
        w_ = Window.partitionBy("feature").orderBy("v")
        cum = cells.select(
            "feature", "v",
            F.sum("cnt").over(w_).cast("long").alias("nl"),
            F.sum("pos").over(w_).cast("long").alias("posl"),
        )
        tot = cells.groupBy("feature").agg(
            F.sum("cnt").cast("long").alias("n"),
            F.sum("pos").cast("long").alias("pos"),
        )
        return (
            cum.join(F.broadcast(tot), "feature")
            .filter(F.col("nl") < F.col("n"))
            .select(
                "feature", F.col("v").alias("threshold"), "n", "pos",
                "nl", "posl",
                (F.col("n") - F.col("nl")).alias("nr"),
                (F.col("pos") - F.col("posl")).alias("posr"),
            )
        )

    scored1 = stump_cand(unpivot(base, with_w=False)).selectExpr(
        "*", _STUMP_GAIN
    )
    best1 = scored1.agg(
        F.min(
            F.struct(
                (-F.col("gain_micro")).alias("ng"),
                F.col("feature").alias("feature"),
                F.col("threshold").alias("threshold"),
            )
        ).alias("b")
    )
    b1 = (
        scored1.crossJoin(F.broadcast(best1))
        .filter(
            (F.col("feature") == F.col("b.feature"))
            & (F.col("threshold") == F.col("b.threshold"))
        )
        .drop("b")
    )
    params = b1.selectExpr(*_B2_PARAM_EXPRS)
    rows2 = base.crossJoin(F.broadcast(params)).selectExpr(
        "y", "vq", "vd", f"{_B2_WEIGHT} AS w"
    )
    cand2 = stump_cand(unpivot(rows2, with_w=True)).withColumnsRenamed(
        {"n": "wtot"}
    )
    scored2 = cand2.selectExpr("feature", "threshold", "wtot", _B2_WERR)
    best2 = scored2.agg(
        F.min(
            F.struct(
                F.col("werr").alias("werr"),
                F.col("feature").alias("feature"),
                F.col("threshold").alias("threshold"),
            )
        ).alias("b")
    )
    b2 = (
        scored2.crossJoin(F.broadcast(best2))
        .filter(
            (F.col("feature") == F.col("b.feature"))
            & (F.col("threshold") == F.col("b.threshold"))
        )
        .drop("b")
    )
    # half-up micro in WIDE arithmetic: werr is non-negative and can
    # reach wtot/2 ~ 1.8e13 at sf1, so the half_up_div_sql BIGINT form
    # (2*werr*1e6 ~ 1.8e19) overflows int64 — the sf1 sweep caught
    # exactly this. DECIMAL(38)/HUGEINT keep both engines exact; DIV on
    # decimals truncates like // on HUGEINT (probed).
    return params.crossJoin(F.broadcast(b2)).selectExpr(
        "f1 AS feature_r1",
        "t1 AS threshold_r1",
        "n - c_r1 AS n_misclassified_r1",
        "feature AS feature_r2",
        "threshold AS threshold_r2",
        "CAST((CAST(werr AS DECIMAL(38,0)) * 2000000 + CAST(wtot AS DECIMAL(38,0)))"
        " DIV (CAST(wtot AS DECIMAL(38,0)) * 2) AS BIGINT) AS werr_r2_micro",
    )


# ---------------------------------------------------------------------------
# Sequential pattern mining: top event-type trigrams per user journey
# ---------------------------------------------------------------------------


@register(
    "event_trigram_mining",
    tags=("ML-stats", "W4"),
    oracle="""
WITH ordered AS (
  SELECT user_id, event_type AS e1,
         lead(event_type, 1) OVER w AS e2,
         lead(event_type, 2) OVER w AS e3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
),
tri AS (
  SELECT e1, e2, e3, CAST(count(*) AS BIGINT) AS support,
         CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
  FROM ordered WHERE e3 IS NOT NULL GROUP BY 1, 2, 3
)
SELECT e1, e2, e3, support, n_users
FROM tri ORDER BY support DESC, e1, e2, e3 LIMIT 15
""",
)
def event_trigram_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-15 sequential event-type trigrams across user journeys (by
    total occurrences, with the distinct-user support beside it) — the
    order-3 sequence mining that extends event_transition_matrix's
    bigrams and markov_stationary_events' chain view: which three-step
    paths actually dominate. One window pass (two leads, partitioned by
    user — no cross-row joins, no self-join on the fact table), one
    map-combined groupBy onto the bounded |event_types|^3 grid, and a
    TakeOrderedAndProject head with full deterministic tie-breaks."""
    from stock_streaming_data_pipeline_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.unix_micros("ts"), F.col("event_id")
    )
    ordered = ev.select(
        "user_id",
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    )
    tri = (
        ordered.filter(F.col("e3").isNotNull())
        .groupBy("e1", "e2", "e3")
        .agg(
            F.count(F.lit(1)).cast("long").alias("support"),
            F.countDistinct("user_id").cast("long").alias("n_users"),
        )
    )
    return (
        tri.orderBy(
            F.desc("support"), F.asc("e1"), F.asc("e2"), F.asc("e3")
        ).limit(15)
    )


# ---------------------------------------------------------------------------
# Shannon entropy of the token distribution per source
# ---------------------------------------------------------------------------

# H = ln(N) - (1/N) * sum f*ln(f), with each token's ln(f) micro-quantized
# to an exact integer BEFORE the cross-token sum (float sums are order-
# dependent; the per-token rounding is part of the defined statistic and
# identical in both engines). Rendered from one shared template.
_ENTROPY_OUT = (
    "source",
    "nn AS n_tokens",
    "vv AS n_distinct",
    "CAST(floor((ln(nn) - CAST(sfl AS DOUBLE) / 1000000.0 / nn) * 1000000"
    " + 0.5) AS BIGINT) AS entropy_micro",
    "CAST(floor((ln(nn) - CAST(sfl AS DOUBLE) / 1000000.0 / nn) / ln(vv)"
    " * 1000000 + 0.5) AS BIGINT) AS norm_entropy_micro",
)


@register(
    "corpus_token_entropy",
    tags=("LLM-text",),
    oracle="""
WITH tk AS (
  SELECT source, unnest({toks}) AS term FROM documents
),
cnts AS (
  SELECT source, term, CAST(count(*) AS BIGINT) AS f FROM tk GROUP BY 1, 2
),
s AS (
  SELECT source,
         CAST(sum(f) AS BIGINT) AS nn,
         CAST(count(*) AS BIGINT) AS vv,
         CAST(sum(CAST(f AS HUGEINT)
              * CAST(floor(ln(f) * 1000000 + 0.5) AS BIGINT)) AS HUGEINT)
           AS sfl
  FROM cnts GROUP BY 1
)
SELECT {out}
FROM s
""".format(
        toks=dedup.SQL_TOKENS.format(text="text"),
        out=", ".join(_ENTROPY_OUT),
    ),
)
def corpus_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy (and its ln(V)-normalized form) of each source's
    token distribution — the lexical-diversity statistic corpus datacards
    report beside token counts: low entropy flags templated/boilerplate
    sources, normalized entropy near 1 means near-uniform vocabulary
    use. Uses the identity H = ln(N) - (1/N) sum f*ln(f) so ONE
    (source, term) groupBy plus one per-source aggregate computes it;
    each token's ln(f) is micro-quantized to an exact integer BEFORE the
    cross-token sum (order-free integer addition — the catalog's float
    discipline), making the statistic bit-portable across engines.
    Scale shape: token explode, one map-combined groupBy to the
    vocabulary relation, one groupBy to |sources| rows."""
    docs = load_table(spark, sf_dir, "documents")
    tk = docs.select(
        "source", F.explode(dedup.tokens(F.col("text"))).alias("term")
    )
    cnts = tk.groupBy("source", "term").agg(
        F.count(F.lit(1)).cast("long").alias("f")
    )
    s = cnts.groupBy("source").agg(
        F.sum("f").cast("long").alias("nn"),
        F.count(F.lit(1)).cast("long").alias("vv"),
        F.sum(
            dec38(F.col("f"))
            * dec38(half_up(F.log(F.col("f").cast("double")), 6))
        ).alias("sfl"),
    )
    return s.selectExpr(*_ENTROPY_OUT)


# ---------------------------------------------------------------------------
# Cross-correlation function (CCF) between event-type hourly series
# ---------------------------------------------------------------------------

_CCF_LAGS = tuple(range(-3, 4))


@register(
    "ts_ccf_click_purchase",
    tags=("ML-stats", "A1"),
    oracle=f"""
WITH ht AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS slot,
         CAST(count(*) AS BIGINT) AS x
  FROM events WHERE event_type IN ('click', 'purchase') GROUP BY 1, 2
),
lags(lag) AS (VALUES {", ".join(f"({l})" for l in _CCF_LAGS)}),
j AS (
  SELECT l.lag, a.x AS xa, b.x AS xb
  FROM ht a
  JOIN lags l ON TRUE
  JOIN ht b ON b.event_type = 'purchase' AND b.slot = a.slot + l.lag
  WHERE a.event_type = 'click'
),
s AS (
  SELECT lag,
         CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(count(*) AS DOUBLE) AS n,
         CAST(sum(xa) AS DOUBLE) AS sx,
         CAST(sum(xb) AS DOUBLE) AS sy,
         CAST(sum(CAST(xa AS HUGEINT) * xa) AS DOUBLE) AS sxx,
         CAST(sum(CAST(xb AS HUGEINT) * xb) AS DOUBLE) AS syy,
         CAST(sum(CAST(xa AS HUGEINT) * xb) AS DOUBLE) AS sxy
  FROM j GROUP BY 1
),
r AS (SELECT lag, n_pairs, {_SPEARMAN_RHO} FROM s)
SELECT lag, n_pairs,
       CAST(floor(rho * 1000000 + 0.5) AS BIGINT) AS ccf_micro
FROM r
""",
)
def ts_ccf_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-correlation function between the click and purchase hourly
    volume series at lags -3..+3 hours — the lead/lag discovery tool
    that tells an attribution pipeline how far apart cause and effect
    sit (a peak at lag +2 means clicks lead purchases by two hours),
    extending ts_acf_ljung_box's single-series view to a pair. Pearson
    at each lag runs on exact integer moments (both series are counts)
    through the same shared rho template as spearman_rank_corr, so the
    doubles are engine-identical. Scale shape: one hourly groupBy over
    the filtered fact table, a 7-row lag fan via broadcast, one
    slot-keyed equi-join of the two bounded hourly series, and one
    aggregate to 7 rows — no windows, no self-join on raw events."""
    from stock_streaming_data_pipeline_spark.tables import load_table

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    ht = ev.groupBy(
        "event_type",
        (F.unix_micros("ts") / F.lit(3_600_000_000)).cast("long").alias("slot"),
    ).agg(F.count(F.lit(1)).cast("long").alias("x"))
    lags = spark.createDataFrame(
        [(l,) for l in _CCF_LAGS], schema="lag BIGINT"
    )
    a = ht.filter(F.col("event_type") == "click").select(
        F.col("slot").alias("sa"), F.col("x").alias("xa")
    )
    b = ht.filter(F.col("event_type") == "purchase").select(
        F.col("slot").alias("sb"), F.col("x").alias("xb")
    )
    j = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("sb") == F.col("sa") + F.col("lag"))
        .select("lag", "xa", "xb")
    )
    s = j.groupBy("lag").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("xa").cast("double").alias("sx"),
        F.sum("xb").cast("double").alias("sy"),
        F.sum(dec38(F.col("xa")) * dec38(F.col("xa"))).cast("double").alias("sxx"),
        F.sum(dec38(F.col("xb")) * dec38(F.col("xb"))).cast("double").alias("syy"),
        F.sum(dec38(F.col("xa")) * dec38(F.col("xb"))).cast("double").alias("sxy"),
    )
    r = s.selectExpr("lag", "n_pairs", _SPEARMAN_RHO)
    return r.selectExpr(
        "lag",
        "n_pairs",
        "CAST(floor(rho * 1000000 + 0.5) AS BIGINT) AS ccf_micro",
    )


# ---------------------------------------------------------------------------
# Mann-Whitney U (Wilcoxon rank-sum) two-sample test
# ---------------------------------------------------------------------------

# Shared final-arithmetic templates: u2 = 2U and tt = sum(t^3 - t) arrive
# as exact integers; every division below is double-led (no bare decimal
# literals — the Spark DECIMAL-literal trap).
_MWU_OUT = (
    "event_type",
    "n_a",
    "n_b",
    "CAST(floor(CAST(u2 AS DOUBLE) / (CAST(2 AS DOUBLE) * n_a * n_b)"
    " * 1000000 + 0.5) AS BIGINT) AS auc_micro",
    "CAST(floor(CAST(u2 - n_a * n_b AS DOUBLE)"
    " / (CAST(2 AS DOUBLE) * sqrt(CAST(n_a AS DOUBLE) * n_b"
    " / CAST(12 AS DOUBLE)"
    " * (CAST(n_a + n_b + 1 AS DOUBLE)"
    "    - CAST(tt AS DOUBLE) / (n_a + n_b) / (n_a + n_b - 1))))"
    " * 1000000 + 0.5) AS BIGINT) AS z_micro",
    "abs(CAST(u2 - n_a * n_b AS DOUBLE)"
    " / (CAST(2 AS DOUBLE) * sqrt(CAST(n_a AS DOUBLE) * n_b"
    " / CAST(12 AS DOUBLE)"
    " * (CAST(n_a + n_b + 1 AS DOUBLE)"
    "    - CAST(tt AS DOUBLE) / (n_a + n_b) / (n_a + n_b - 1)))))"
    " > 1.959964 AS reject_05",
)


@register(
    "mann_whitney_u_drift",
    tags=("ML-stats",),
    oracle=f"""
WITH bounds AS (
  SELECT epoch_us(min(ts)) AS t0_us FROM events
),
tagged AS (
  SELECT event_type, value,
         (epoch_us(ts) < t0_us + {_PSI_SPLIT_DAYS} * {_US_PER_DAY}) AS in_a
  FROM events, bounds
),
pts AS (
  SELECT event_type, value,
         CAST(coalesce(sum(CASE WHEN in_a THEN 1 END), 0) AS BIGINT) AS ca,
         CAST(coalesce(sum(CASE WHEN NOT in_a THEN 1 END), 0) AS BIGINT) AS cb
  FROM tagged GROUP BY 1, 2
),
pre AS (
  SELECT event_type, ca, cb,
         sum(ca) OVER (PARTITION BY event_type ORDER BY value
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS ca_le
  FROM pts
),
s AS (
  SELECT event_type,
         CAST(sum(ca) AS BIGINT) AS n_a,
         CAST(sum(cb) AS BIGINT) AS n_b,
         CAST(sum(CAST(cb AS HUGEINT) * (2 * CAST(ca_le AS HUGEINT) - ca))
              AS HUGEINT) AS u2,
         CAST(sum(CAST(ca + cb AS HUGEINT) * (ca + cb) * (ca + cb)
                  - (ca + cb)) AS HUGEINT) AS tt
  FROM pre GROUP BY 1
)
SELECT {", ".join(_MWU_OUT)}
FROM s
""",
)
def mann_whitney_u_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) drift test per event type —
    the nonparametric companion to drift_ks_two_sample over the same
    early/late split: did the value DISTRIBUTION shift in location,
    without assuming normality (Welch) or looking only at the max ECDF
    gap (KS)? The counting formulation makes it distributed-exact: over
    the distinct-value relation, 2U = sum cb*(2*ca_le - ca) needs only
    the prefix sum ca_le — computed with the same two-phase salted
    running sum as the KS ECDF (operators/running.py), so no single
    task ever owns an event type's whole value domain. Reports the
    probability-of-superiority U/(nA*nB) (the ROC-AUC of the split),
    the tie-corrected normal z, and the 5% verdict — all from exact
    integer moments through shared double-led templates. Scale shape:
    one value groupBy, the salted prefix pass, one aggregate to
    |event_types| rows."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(F.unix_micros(F.min("ts")).alias("t0_us"))
    tagged = ev.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        "value",
        (
            F.unix_micros("ts")
            < F.col("t0_us") + F.lit(_PSI_SPLIT_DAYS * _US_PER_DAY)
        ).alias("in_a"),
    )
    pts = tagged.groupBy("event_type", "value").agg(
        F.coalesce(F.sum(F.when(F.col("in_a"), 1)), F.lit(0)).alias("ca"),
        F.coalesce(F.sum(F.when(~F.col("in_a"), 1)), F.lit(0)).alias("cb"),
    )
    seg = F.floor(F.col("value") / F.lit(50.0))
    pre = running.running_sum_salted(
        pts, key="event_type", ts="value", value="ca", out="ca_le", segment=seg
    )
    t = F.col("ca") + F.col("cb")
    s = pre.groupBy("event_type").agg(
        F.sum("ca").cast("long").alias("n_a"),
        F.sum("cb").cast("long").alias("n_b"),
        dec38(
            F.sum(
                dec38(F.col("cb"))
                * (2 * dec38(F.col("ca_le")) - dec38(F.col("ca")))
            )
        ).alias("u2"),
        dec38(F.sum(dec38(t) * dec38(t) * dec38(t) - dec38(t))).alias("tt"),
    )
    return s.selectExpr(*_MWU_OUT)


# ---------------------------------------------------------------------------
# Pearson correlation matrix over line-item measures (one pass)
# ---------------------------------------------------------------------------

_CORR_VARS = ("q", "d", "p", "t")  # quantity, discount%, price-cents, tax%
_CORR_PAIRS = [
    (a, b) for ai, a in enumerate(_CORR_VARS) for b in _CORR_VARS[ai + 1 :]
]
_CORR_OUT = ["n"] + [
    f"CAST(floor((n * s_{a}{b} - s_{a} * s_{b})"
    f" / sqrt((n * s_{a}{a} - s_{a} * s_{a}) * (n * s_{b}{b} - s_{b} * s_{b}))"
    f" * 1000000 + 0.5) AS BIGINT) AS corr_{a}{b}_micro"
    for a, b in _CORR_PAIRS
]
_CORR_SUMS_SQL = ", ".join(
    [f"CAST(count(*) AS DOUBLE) AS n"]
    + [f"CAST(sum(CAST({v} AS HUGEINT)) AS DOUBLE) AS s_{v}" for v in _CORR_VARS]
    + [
        f"CAST(sum(CAST({a} AS HUGEINT) * {b}) AS DOUBLE) AS s_{a}{b}"
        for ai, a in enumerate(_CORR_VARS)
        for b in _CORR_VARS[ai:]
    ]
)


@register(
    "corr_matrix_lineitem",
    tags=("ML-stats",),
    oracle=f"""
WITH xm AS (
  SELECT CAST(floor(l_quantity + 0.5) AS BIGINT) AS q,
         CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS d,
         CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS p,
         CAST(floor(l_tax * 100 + 0.5) AS BIGINT) AS t
  FROM lineitem
),
s AS (SELECT {_CORR_SUMS_SQL} FROM xm)
SELECT {", ".join(_CORR_OUT)}
FROM s
""",
)
def corr_matrix_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full Pearson correlation matrix over the four line-item measures
    (quantity, discount, extended price, tax) in ONE aggregation pass —
    the feature-screening matrix every modeling pipeline computes before
    training (near-|1| pairs are redundant features; the strong
    quantity-price correlation is the sanity signal). All 14 sufficient
    statistics (4 sums, 10 cross-moments) are exact integers through
    HUGEINT/DECIMAL(38,0) collected by a single map-combined aggregate;
    the six correlations are rendered from one shared double template,
    so the micro values are engine-identical. Scale shape: one scan,
    one 1-row shuffle — the canonical 'sufficient statistics, never
    the data' pattern."""
    li = load_table(spark, sf_dir, "lineitem")
    xm = li.select(
        half_up("l_quantity", 0).alias("q"),
        half_up("l_discount", 2).alias("d"),
        half_up("l_extendedprice", 2).alias("p"),
        half_up("l_tax", 2).alias("t"),
    )
    aggs = [F.count(F.lit(1)).cast("double").alias("n")]
    aggs += [
        F.sum(dec38(F.col(v))).cast("double").alias(f"s_{v}") for v in _CORR_VARS
    ]
    aggs += [
        F.sum(dec38(F.col(a)) * dec38(F.col(b))).cast("double").alias(f"s_{a}{b}")
        for ai, a in enumerate(_CORR_VARS)
        for b in _CORR_VARS[ai:]
    ]
    s = xm.agg(*aggs)
    return s.selectExpr(*_CORR_OUT)


# ---------------------------------------------------------------------------
# Churn-risk report: inactivity label vs activity-frequency bucket
# ---------------------------------------------------------------------------

# Integer-width frequency buckets (pure integer division — no floating
# bucketer, no rounding boundary; width 8 matches the testdata's
# per-user event-count spread so the curve has real resolution).
_CHURN_BUCKET = "n_events // 8"
_CHURN_BUCKET_SPARK = "n_events DIV 8"


@register(
    "churn_rate_by_activity",
    tags=("ML-stats", "A1"),
    oracle=f"""
WITH bounds AS (SELECT epoch_us(max(ts)) AS t1_us FROM events),
users AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS n_events,
         epoch_us(max(ts)) AS last_us
  FROM events GROUP BY 1
),
labeled AS (
  SELECT CAST({_CHURN_BUCKET} AS BIGINT) AS freq_bucket,
         CASE WHEN last_us < t1_us - 14 * {_US_PER_DAY}
              THEN 1 ELSE 0 END AS churned
  FROM users, bounds
)
SELECT freq_bucket,
       CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(churned) AS BIGINT) AS n_churned,
       CAST(floor(CAST(sum(churned) AS DOUBLE) / count(*) * 1000000 + 0.5)
            AS BIGINT) AS churn_rate_micro
FROM labeled GROUP BY 1
""",
)
def churn_rate_by_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Churn analysis: label every user churned if silent for the last
    14 days of the observation window, bucket users by lifetime
    activity (fixed-width integer-division buckets — no floating
    bucketer, no rounding boundary), and report the churn rate per
    bucket —
    the activity-vs-retention curve a lifecycle team reads before
    choosing an engagement threshold. One groupBy(user) pass over the
    fact table, a 1-row bounds broadcast, then a bounded 7-bucket
    aggregate; the rate is a single deterministic int->double
    division."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(F.unix_micros(F.max("ts")).alias("t1_us"))
    users = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.unix_micros(F.max("ts")).alias("last_us"),
    )
    labeled = users.crossJoin(F.broadcast(bounds)).selectExpr(
        f"CAST({_CHURN_BUCKET_SPARK} AS BIGINT) AS freq_bucket",
        "CASE WHEN last_us < t1_us - 14 * "
        f"{_US_PER_DAY} THEN 1 ELSE 0 END AS churned",
    )
    return labeled.groupBy("freq_bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("churned").cast("long").alias("n_churned"),
        half_up(F.sum("churned").cast("double") / F.count(F.lit(1)), 6)
        .alias("churn_rate_micro"),
    )


# ---------------------------------------------------------------------------
# Exact per-key median by the two-scan selection pattern
# ---------------------------------------------------------------------------

from stock_streaming_data_pipeline_spark.operators import profile  # noqa: E402


@register(
    "exact_median_two_scan",
    tags=("ML-stats", "A1"),
    oracle="""
WITH ranked AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY value) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM events WHERE value IS NOT NULL
)
SELECT event_type, CAST(n AS BIGINT) AS n,
       CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS median_micro
FROM ranked WHERE rn = (n + 1) // 2
""",
)
def exact_median_two_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-event-type median of the value column WITHOUT a global
    sort (operators/profile.py:exact_median_two_scan): scan 1 builds a
    1024-bucket histogram per key and locates the bucket holding the
    k-th element, scan 2 selects within that bucket only (~n/1024 of
    the data) — the two-scan selection pattern that replaces the
    sort-everything median at any scale. The result is an actual data
    ELEMENT (lower median), so the oracle's brute-force
    row_number()-selection returns the identical bits and the
    comparison is exact, unlike interpolated percentile definitions.
    Complements the sketched approx_percentile profile with an exact,
    oracle-checkable twin."""
    ev = load_table(spark, sf_dir, "events")
    out = profile.exact_median_two_scan(
        ev, key="event_type", value="value", bins=1024
    )
    return out.selectExpr(
        "event_type",
        "n",
        "CAST(floor(median * 1000000 + 0.5) AS BIGINT) AS median_micro",
    )


# ---------------------------------------------------------------------------
# Kendall tau-b rank correlation (exact pair concordance over cells)
# ---------------------------------------------------------------------------

_TAU_B = (
    "CAST(floor(CAST(cc - dd AS DOUBLE)"
    " / sqrt(CAST(n0 - n1 AS DOUBLE) * CAST(n0 - n2 AS DOUBLE))"
    " * 1000000 + 0.5) AS BIGINT) AS tau_b_micro"
)


@register(
    "kendall_tau_corr",
    tags=("ML-stats",),
    oracle=f"""
WITH xm AS (
  SELECT l_returnflag AS flag,
         CAST(floor(l_quantity + 0.5) AS BIGINT) AS q,
         CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS d
  FROM lineitem
),
cells AS (
  SELECT flag, q, d, CAST(count(*) AS BIGINT) AS cnt FROM xm GROUP BY 1, 2, 3
),
pairs AS (
  SELECT a.flag AS flag,
         CAST(sum(CASE WHEN a.d < b.d
                       THEN CAST(a.cnt AS HUGEINT) * b.cnt ELSE 0 END)
              AS HUGEINT) AS cc,
         CAST(sum(CASE WHEN a.d > b.d
                       THEN CAST(a.cnt AS HUGEINT) * b.cnt ELSE 0 END)
              AS HUGEINT) AS dd
  FROM cells a JOIN cells b ON a.flag = b.flag AND a.q < b.q
  GROUP BY 1
),
tot AS (
  SELECT flag, CAST(sum(cnt) AS HUGEINT) AS n FROM cells GROUP BY 1
),
tq AS (
  SELECT flag,
         CAST(sum(CAST(tc AS HUGEINT) * (tc - 1) / 2) AS HUGEINT) AS n1
  FROM (SELECT flag, q, sum(cnt) AS tc FROM cells GROUP BY 1, 2)
  GROUP BY 1
),
td AS (
  SELECT flag,
         CAST(sum(CAST(tc AS HUGEINT) * (tc - 1) / 2) AS HUGEINT) AS n2
  FROM (SELECT flag, d, sum(cnt) AS tc FROM cells GROUP BY 1, 2)
  GROUP BY 1
),
s AS (
  SELECT p.flag, p.cc, p.dd,
         t.n * (t.n - 1) / 2 AS n0, tq.n1 AS n1, td.n2 AS n2,
         CAST(t.n AS BIGINT) AS n
  FROM pairs p
  JOIN tot t ON t.flag = p.flag
  JOIN tq ON tq.flag = p.flag
  JOIN td ON td.flag = p.flag
)
SELECT flag, n, {_TAU_B}
FROM s
""",
)
def kendall_tau_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b between line-item quantity and discount per return
    flag — the pair-concordance rank correlation beside
    spearman_rank_corr (tau is the probability-scale statistic:
    (concordant - discordant) / adjusted pairs, more robust to extreme
    ties). Naively quadratic in ROWS, but both variables live on
    bounded domains, so all n^2/2 pair comparisons collapse to a
    <=550x550 CELL self-join per flag: C and D are weighted sums of
    cnt_a * cnt_b over cell pairs, tie corrections come from the
    marginals, and the fact table is scanned ONCE. Every accumulator is
    an exact integer through HUGEINT/DECIMAL; tau-b is one shared
    double template. Scale shape: one map-combined groupBy to cells,
    then everything runs on bounded relations."""
    li = load_table(spark, sf_dir, "lineitem")
    xm = li.select(
        F.col("l_returnflag").alias("flag"),
        half_up("l_quantity", 0).alias("q"),
        half_up("l_discount", 2).alias("d"),
    )
    cells = xm.groupBy("flag", "q", "d").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    a = cells.selectExpr("flag", "q AS qa", "d AS da", "cnt AS ca")
    b = cells.selectExpr("flag AS flag_b", "q AS qb", "d AS db", "cnt AS cb")
    pairs = (
        a.join(
            F.broadcast(b),
            (F.col("flag") == F.col("flag_b")) & (F.col("qa") < F.col("qb")),
        )
        .groupBy("flag")
        .agg(
            F.sum(
                F.when(
                    F.col("da") < F.col("db"),
                    dec38(F.col("ca")) * dec38(F.col("cb")),
                ).otherwise(dec38(F.lit(0)))
            ).alias("cc"),
            F.sum(
                F.when(
                    F.col("da") > F.col("db"),
                    dec38(F.col("ca")) * dec38(F.col("cb")),
                ).otherwise(dec38(F.lit(0)))
            ).alias("dd"),
        )
    )
    tot = cells.groupBy("flag").agg(F.sum("cnt").cast("long").alias("n"))
    tq = (
        cells.groupBy("flag", "q")
        .agg(F.sum("cnt").cast("long").alias("tc"))
        .groupBy("flag")
        .agg(
            dec38(F.sum(dec38(F.col("tc")) * dec38(F.col("tc") - 1) / 2)).alias("n1")
        )
    )
    td = (
        cells.groupBy("flag", "d")
        .agg(F.sum("cnt").cast("long").alias("tc"))
        .groupBy("flag")
        .agg(
            dec38(F.sum(dec38(F.col("tc")) * dec38(F.col("tc") - 1) / 2)).alias("n2")
        )
    )
    s = (
        pairs.join(F.broadcast(tot), "flag")
        .join(F.broadcast(tq), "flag")
        .join(F.broadcast(td), "flag")
        .select(
            "flag",
            "n",
            "cc",
            "dd",
            dec38(dec38(F.col("n")) * dec38(F.col("n") - 1) / 2).alias("n0"),
            "n1",
            "n2",
        )
    )
    return s.selectExpr("flag", "n", _TAU_B)


# ---------------------------------------------------------------------------
# Second principal component via integer-exact deflation
# ---------------------------------------------------------------------------

_PCA2_ORTHO = (
    "CAST(floor(CAST(dp AS DOUBLE)"
    " / sqrt(CAST(w1 AS DOUBLE) * CAST(w2 AS DOUBLE)) * 1000000 + 0.5)"
    " AS BIGINT) AS ortho_micro"
)


def _pca2_oracle(rounds: int, dim: int) -> str:
    parts = _pca_cte_parts(rounds, dim)
    parts.append(
        f"""mx2 AS (SELECT CAST(max(abs(c)) AS HUGEINT) AS m FROM cov),
sc2 AS (SELECT CAST(rpad('1',
          CAST(greatest(1, length(CAST(m AS VARCHAR)) - 14) AS INTEGER),
          '0') AS HUGEINT) AS s
        FROM mx2),
cov_s AS MATERIALIZED (
  SELECT i, j,
         (CASE WHEN c < 0 THEN -1 ELSE 1 END) * (abs(c) // s) AS c
  FROM cov CROSS JOIN sc2
),
vtv AS (
  SELECT CAST(sum(CAST(v AS HUGEINT) * v) AS HUGEINT) AS w FROM v{rounds}
),
cv AS MATERIALIZED (
  SELECT c.i, CAST(sum(c.c * v.v) AS HUGEINT) AS raw
  FROM cov_s c JOIN v{rounds} v ON v.j = c.j GROUP BY 1
),
cov2 AS MATERIALIZED (
  SELECT c.i, c.j, vtv.w * c.c - cv.raw * CAST(v.v AS HUGEINT) AS c
  FROM cov_s c
  JOIN cv ON cv.i = c.i
  JOIN v{rounds} v ON v.j = c.j
  CROSS JOIN vtv
),
w0 AS (SELECT i AS j, CAST(1000000 AS BIGINT) AS v FROM idx)"""
    )
    for r in range(1, rounds + 1):
        parts.append(
            f"""q{r} AS MATERIALIZED (
  SELECT c.i, CAST(sum(c.c * v.v) AS HUGEINT) AS raw
  FROM cov2 c JOIN w{r - 1} v ON v.j = c.j GROUP BY 1
),
mm{r} AS (SELECT CAST(max(abs(raw)) AS DOUBLE) AS m FROM q{r}),
w{r} AS MATERIALIZED (
  SELECT i AS j, {_PCA_NORM} AS v FROM q{r}, mm{r}
)"""
        )
    parts.append(
        f"""dp_t AS (
  SELECT CAST(sum(CAST(a.v AS HUGEINT) * b.v) AS HUGEINT) AS dp
  FROM v{rounds} a JOIN w{rounds} b ON b.j = a.j
),
n1_t AS (SELECT CAST(sum(CAST(v AS HUGEINT) * v) AS HUGEINT) AS w1
         FROM v{rounds}),
n2_t AS (SELECT CAST(sum(CAST(v AS HUGEINT) * v) AS HUGEINT) AS w2
         FROM w{rounds})"""
    )
    body = ",\n".join(parts)
    return f"""WITH {body}
SELECT j AS dim_idx, v AS loading2_micro, {_PCA2_ORTHO}
FROM w{rounds}, dp_t, n1_t, n2_t
"""


@register(
    "pca_second_component",
    tags=("ML-stats", "LLM-embedding"),
    oracle=_pca2_oracle(_PCA_ROUNDS, _PCA_DIM),
)
def pca_second_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second principal component by INTEGER-EXACT deflation: with PC1's
    micro-vector v1 in hand (the pca_top_component subplan), the
    deflated matrix C' = (v1'v1)*C - (C v1) v1' is still an all-integer
    relation — scaling by v1'v1 instead of dividing by it keeps the
    projector exact, no rational eigenvalue ever enters — and 8 more
    power-iteration rounds on C' converge to PC2. Reports the loadings
    plus the cosine between PC1 and PC2 (ortho_micro ~ 0 is the
    self-check that deflation worked; nonzero bounded by the micro
    quantization). Everything is joins + integer aggregates over d^2
    rows; the oracle unrolls BOTH iteration phases (16 matvec rounds)
    in HUGEINT. Integer headroom is made N-INDEPENDENT by pre-scaling
    the deflation's copy of C to <= 1e15: the scale divisor is a power
    of ten derived from the DIGIT COUNT of max|C| (exact integer
    arithmetic, bit-identical across engines; the divisor is 1 at
    driver scale so small-SF results are unchanged), which caps the
    deflated matvec at ~8e36 regardless of corpus size — the un-scaled
    form overflowed DECIMAL(38,0) at the generated sf1 tier because C
    itself grows as N^2."""
    from stock_streaming_data_pipeline_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cov = pca.covariance_rows(emb, id_col="vec_id", vec_col="embedding")
    cov = materialize(cov, eager=False)
    v1 = materialize(pca.power_iteration(cov, rounds=_PCA_ROUNDS), eager=False)
    mx = cov.agg(dec38(F.max(F.abs(F.col("c")))).alias("m"))
    cov_s = materialize(
        cov.crossJoin(F.broadcast(mx))
        .selectExpr(
            "i",
            "j",
            "CAST((CASE WHEN c < 0 THEN -1 ELSE 1 END)"
            " * (abs(c) DIV CAST(rpad('1',"
            " greatest(1, length(CAST(m AS STRING)) - 14), '0')"
            " AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS c",
        ),
        eager=False,
    )
    vtv = v1.agg(F.sum(dec38(F.col("v")) * dec38(F.col("v"))).alias("w"))
    cv = (
        cov_s.join(v1.withColumnsRenamed({"i": "j"}), "j")
        .groupBy("i")
        .agg(F.sum(F.col("c") * dec38(F.col("v"))).alias("raw"))
    )
    cov2 = materialize(
        cov_s.join(F.broadcast(cv), "i")
        .join(
            F.broadcast(v1.withColumnsRenamed({"i": "j", "v": "vj"})), "j"
        )
        .crossJoin(F.broadcast(vtv))
        .select(
            "i",
            "j",
            dec38(F.col("w") * F.col("c") - F.col("raw") * dec38(F.col("vj")))
            .alias("c"),
        ),
        eager=False,
    )
    v2 = pca.power_iteration(cov2, rounds=_PCA_ROUNDS)
    dp_t = (
        v1.join(v2.withColumnsRenamed({"v": "v2"}), "i")
        .agg(F.sum(dec38(F.col("v")) * dec38(F.col("v2"))).alias("dp"))
    )
    n1_t = v1.agg(F.sum(dec38(F.col("v")) * dec38(F.col("v"))).alias("w1"))
    n2_t = v2.agg(F.sum(dec38(F.col("v")) * dec38(F.col("v"))).alias("w2"))
    return (
        v2.crossJoin(F.broadcast(dp_t))
        .crossJoin(F.broadcast(n1_t))
        .crossJoin(F.broadcast(n2_t))
        .selectExpr("i AS dim_idx", "v AS loading2_micro", _PCA2_ORTHO)
    )


# ---------------------------------------------------------------------------
# Stratified treatment-effect estimate (discount -> returns)
# ---------------------------------------------------------------------------

# Per-stratum contributions are micro-quantized BEFORE the cross-stratum
# sum (float addition across rows is order-dependent; integer sums are
# order-free) — the same discipline as the NB log-probs.
_ATE_CONTRIB = (
    "CAST(floor((n1 + n0) * (CAST(p1 AS DOUBLE) / n1"
    " - CAST(p0 AS DOUBLE) / n0) * 1000000 + 0.5) AS BIGINT)"
)
_ATE = (
    "CAST(floor(CAST(num AS DOUBLE) / den + 0.5) AS BIGINT) AS ate_micro"
)


@register(
    "stratified_treatment_effect",
    tags=("ML-stats",),
    oracle=f"""
WITH xm AS (
  SELECT CAST(floor(l_quantity + 0.5) AS BIGINT) AS stratum,
         CASE WHEN l_discount >= 0.05 THEN 1 ELSE 0 END AS treated,
         CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
  FROM lineitem
),
cells AS (
  SELECT stratum, treated,
         CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS pos
  FROM xm GROUP BY 1, 2
),
strata AS (
  SELECT stratum,
         max(CASE WHEN treated = 1 THEN n END) AS n1,
         max(CASE WHEN treated = 1 THEN pos END) AS p1,
         max(CASE WHEN treated = 0 THEN n END) AS n0,
         max(CASE WHEN treated = 0 THEN pos END) AS p0
  FROM cells GROUP BY 1
  HAVING n1 IS NOT NULL AND n0 IS NOT NULL
),
contrib AS (
  SELECT n1 + n0 AS w, {_ATE_CONTRIB} AS c_micro FROM strata
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_strata,
         CAST(sum(CAST(c_micro AS HUGEINT)) AS BIGINT) AS num,
         CAST(sum(w) AS DOUBLE) AS den
  FROM contrib
)
SELECT n_strata, {_ATE}
FROM agg
""",
)
def stratified_treatment_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified (standardized) treatment-effect estimate: does a deep
    discount (>=5%) change the probability a line item is returned,
    adjusting for quantity as the confounder? Classic epidemiology-style
    direct standardization — the observational-causal primitive every
    experimentation platform needs when randomization isn't available:
    within each quantity stratum compute the treated-vs-control return-
    rate difference, then average the differences weighted by stratum
    size (strata missing either arm drop, per the estimand's
    definition). The per-stratum rates are single deterministic
    int->double divisions over exact counts; the weighted sum runs over
    the <=50-row strata relation, so no cross-row float addition ever
    touches unbounded data. Scale shape: ONE groupBy pass to <=100
    cells, then bounded-relation arithmetic."""
    li = load_table(spark, sf_dir, "lineitem")
    xm = li.select(
        half_up("l_quantity", 0).alias("stratum"),
        F.when(F.col("l_discount") >= 0.05, F.lit(1))
        .otherwise(F.lit(0))
        .alias("treated"),
        F.when(F.col("l_returnflag") == "R", F.lit(1))
        .otherwise(F.lit(0))
        .alias("y"),
    )
    cells = xm.groupBy("stratum", "treated").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("pos"),
    )
    strata = (
        cells.groupBy("stratum")
        .agg(
            F.max(F.when(F.col("treated") == 1, F.col("n"))).alias("n1"),
            F.max(F.when(F.col("treated") == 1, F.col("pos"))).alias("p1"),
            F.max(F.when(F.col("treated") == 0, F.col("n"))).alias("n0"),
            F.max(F.when(F.col("treated") == 0, F.col("pos"))).alias("p0"),
        )
        .filter(F.col("n1").isNotNull() & F.col("n0").isNotNull())
    )
    contrib = strata.selectExpr(
        "n1 + n0 AS w", f"{_ATE_CONTRIB} AS c_micro"
    )
    agg = contrib.agg(
        F.count(F.lit(1)).cast("long").alias("n_strata"),
        F.sum("c_micro").cast("long").alias("num"),
        F.sum("w").cast("double").alias("den"),
    )
    return agg.selectExpr("n_strata", _ATE)


# ---------------------------------------------------------------------------
# Time-to-convert distribution (first view -> first purchase)
# ---------------------------------------------------------------------------


@register(
    "time_to_convert_days",
    tags=("ML-stats", "A1"),
    oracle=f"""
WITH firsts AS (
  SELECT user_id,
         epoch_us(min(CASE WHEN event_type = 'view' THEN ts END)) AS v_us,
         epoch_us(min(CASE WHEN event_type = 'purchase' THEN ts END)) AS p_us
  FROM events GROUP BY 1
),
conv AS (
  SELECT CAST((p_us - v_us) // {_US_PER_DAY} AS BIGINT) AS days
  FROM firsts WHERE v_us IS NOT NULL AND p_us IS NOT NULL AND p_us >= v_us
)
SELECT days,
       CAST(count(*) AS BIGINT) AS n_users
FROM conv GROUP BY 1
""",
)
def time_to_convert_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-latency distribution: for every user who both viewed
    and later purchased, the whole-day gap between FIRST view and FIRST
    purchase, histogrammed — the activation-funnel timing curve growth
    teams tune onboarding against (mass at day 0 = same-session
    converters; a long tail argues for re-engagement campaigns). One
    conditional-min groupBy per user collapses the fact table (no
    window, no self-join — the two firsts come from the same pass),
    exact integer epoch-day arithmetic, then a bounded histogram
    groupBy. Users purchasing before ever viewing are excluded (not a
    view-driven conversion; same predicate both engines)."""
    ev = load_table(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id").agg(
        F.unix_micros(
            F.min(F.when(F.col("event_type") == "view", F.col("ts")))
        ).alias("v_us"),
        F.unix_micros(
            F.min(F.when(F.col("event_type") == "purchase", F.col("ts")))
        ).alias("p_us"),
    )
    conv = firsts.filter(
        F.col("v_us").isNotNull()
        & F.col("p_us").isNotNull()
        & (F.col("p_us") >= F.col("v_us"))
    ).selectExpr(f"CAST((p_us - v_us) DIV {_US_PER_DAY} AS BIGINT) AS days")
    return conv.groupBy("days").agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )


@register(
    "exact_tail_latency_quantiles",
    tags=("ML-stats", "A1"),
    oracle="""
WITH ranked AS (
  SELECT event_type, value,
         row_number() OVER (PARTITION BY event_type ORDER BY value) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n
  FROM events WHERE value IS NOT NULL
),
qk(q_pct) AS (VALUES (50), (95), (99))
SELECT event_type, q_pct, CAST(n AS BIGINT) AS n,
       CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS value_micro
FROM ranked JOIN qk ON rn = (n * q_pct + 99) // 100
""",
)
def exact_tail_latency_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT p50/p95/p99 of the value column per event type in TWO
    scans and no sort (operators/profile.py:exact_quantiles_two_scan —
    the two-scan median generalized to locate every quantile's
    histogram bucket simultaneously; scan 2 touches only the union of
    target buckets). The tail is where approx_percentile's error
    concentrates and where SLOs live — this is the exact twin the
    sketch-based profile defers to. Type-1 (element) quantiles, so the
    brute-force row_number oracle returns identical bits."""
    ev = load_table(spark, sf_dir, "events")
    out = profile.exact_quantiles_two_scan(
        ev, key="event_type", value="value", quantiles=(0.5, 0.95, 0.99)
    )
    return out.selectExpr(
        "event_type",
        "q_pct",
        "n",
        "CAST(floor(value * 1000000 + 0.5) AS BIGINT) AS value_micro",
    )


# ---------------------------------------------------------------------------
# Log-rank test between two survival cohorts
# ---------------------------------------------------------------------------

# Per-event-time expectation and variance micro-quantized BEFORE the
# cross-time sums (order-free discipline); z from the exact micro sums.
_LOGRANK_E = (
    "CAST(floor(CAST(d AS DOUBLE) * na / n * 1000000 + 0.5) AS BIGINT)"
)
_LOGRANK_V = (
    "CAST(floor(CAST(d AS DOUBLE) * na / n * (n - na) / n"
    " * (n - d) / (n - 1) * 1000000 + 0.5) AS BIGINT)"
)
_LOGRANK_Z = (
    "CAST(floor((oa * 1000000 - se) / (sqrt(CAST(sv AS DOUBLE)) * 1000)"
    " * 1000 + 0.5) AS BIGINT) AS z_milli"
)


@register(
    "survival_logrank_test",
    tags=("ML-stats",),
    oracle=f"""
WITH bounds AS (
  SELECT epoch_us(min(ts)) AS t0_us, epoch_us(max(ts)) AS t1_us FROM events
),
users AS (
  SELECT user_id, epoch_us(min(ts)) AS f_us,
         epoch_us(max(CASE WHEN event_type = 'purchase' THEN ts END)) AS l_us
  FROM events GROUP BY 1
  HAVING l_us IS NOT NULL
),
lives AS (
  SELECT CAST(user_id % 2 AS BIGINT) AS arm,
         CAST((l_us - f_us) // {_US_PER_DAY} AS BIGINT) AS t_days,
         (l_us >= t1_us - 7 * {_US_PER_DAY}) AS censored
  FROM users, bounds
),
byt AS (
  SELECT t_days,
         CAST(sum(CASE WHEN arm = 0 AND NOT censored THEN 1 ELSE 0 END)
              AS BIGINT) AS da,
         CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS xa,
         CAST(sum(CASE WHEN arm = 1 AND NOT censored THEN 1 ELSE 0 END)
              AS BIGINT) AS db,
         CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS xb
  FROM lives GROUP BY 1
),
tot AS (
  SELECT CAST(sum(xa) AS BIGINT) AS tot_a, CAST(sum(xb) AS BIGINT) AS tot_b
  FROM byt
),
risk AS (
  SELECT t_days, da, db,
         tot_a - coalesce(sum(xa) OVER (ORDER BY t_days
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS na,
         tot_a + tot_b
           - coalesce(sum(xa + xb) OVER (ORDER BY t_days
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n
  FROM byt, tot
),
terms AS (
  SELECT da, {_LOGRANK_E} AS e_micro, {_LOGRANK_V} AS v_micro
  FROM (SELECT t_days, da + db AS d, da, na, n FROM risk)
  WHERE d > 0 AND n > 1
),
s AS (
  SELECT CAST(sum(da) AS BIGINT) AS oa,
         CAST(sum(e_micro) AS BIGINT) AS se,
         CAST(sum(v_micro) AS BIGINT) AS sv
  FROM terms
)
SELECT oa, se, sv, {_LOGRANK_Z},
       abs((oa * 1000000 - se) / (sqrt(CAST(sv AS DOUBLE)) * 1000))
         > 1959.964 AS reject_05
FROM s
""",
)
def survival_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank test between two survival cohorts (user_id parity as
    the A/B arms, lifetimes and censoring exactly as
    survival_kaplan_meier) — the hypothesis test that belongs beside a
    KM plot: at every distinct event time, the observed arm-A churns
    are compared against the expectation under the shared-hazard null
    (d * nA/n), variances hypergeometric, and z = (O-E)/sqrt(V). The
    at-risk counts come from ONE prefix-sum window over the bounded
    day-grid relation (allowlisted: day-span rows, SF-independent);
    every per-time expectation/variance is micro-quantized BEFORE the
    cross-time sums so no float crosses rows. Scale shape: one
    groupBy(user) pass, then day-grid arithmetic."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(
        F.unix_micros(F.min("ts")).alias("t0_us"),
        F.unix_micros(F.max("ts")).alias("t1_us"),
    )
    users = (
        ev.groupBy("user_id")
        .agg(
            F.unix_micros(F.min("ts")).alias("f_us"),
            F.unix_micros(
                F.max(F.when(F.col("event_type") == "purchase", F.col("ts")))
            ).alias("l_us"),
        )
        .filter(F.col("l_us").isNotNull())
    )
    lives = users.crossJoin(F.broadcast(bounds)).selectExpr(
        "CAST(user_id % 2 AS BIGINT) AS arm",
        f"CAST((l_us - f_us) DIV {_US_PER_DAY} AS BIGINT) AS t_days",
        f"l_us >= t1_us - 7 * {_US_PER_DAY} AS censored",
    )
    byt = lives.groupBy("t_days").agg(
        F.sum(F.when((F.col("arm") == 0) & ~F.col("censored"), 1).otherwise(0))
        .cast("long")
        .alias("da"),
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("long")
        .alias("xa"),
        F.sum(F.when((F.col("arm") == 1) & ~F.col("censored"), 1).otherwise(0))
        .cast("long")
        .alias("db"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("long")
        .alias("xb"),
    )
    tot = byt.agg(
        F.sum("xa").cast("long").alias("tot_a"),
        F.sum("xb").cast("long").alias("tot_b"),
    )
    w = Window.orderBy("t_days").rowsBetween(Window.unboundedPreceding, -1)
    risk = byt.crossJoin(F.broadcast(tot)).select(
        "t_days",
        "da",
        "db",
        (
            F.col("tot_a")
            - F.coalesce(F.sum("xa").over(w), F.lit(0))
        ).alias("na"),
        (
            F.col("tot_a")
            + F.col("tot_b")
            - F.coalesce(F.sum(F.col("xa") + F.col("xb")).over(w), F.lit(0))
        ).alias("n"),
    )
    terms = (
        risk.select(
            "da", (F.col("da") + F.col("db")).alias("d"), "na", "n"
        )
        .filter((F.col("d") > 0) & (F.col("n") > 1))
        .selectExpr("da", f"{_LOGRANK_E} AS e_micro", f"{_LOGRANK_V} AS v_micro")
    )
    s = terms.agg(
        F.sum("da").cast("long").alias("oa"),
        F.sum("e_micro").cast("long").alias("se"),
        F.sum("v_micro").cast("long").alias("sv"),
    )
    return s.selectExpr(
        "oa",
        "se",
        "sv",
        _LOGRANK_Z,
        "abs((oa * 1000000 - se) / (sqrt(CAST(sv AS DOUBLE)) * 1000))"
        " > 1959.964 AS reject_05",
    )


# ---------------------------------------------------------------------------
# Cohort LTV curve: cumulative purchase value per user by account age
# ---------------------------------------------------------------------------


@register(
    "cohort_ltv_curve",
    tags=("ML-stats", "A1", "W1"),
    oracle=f"""
WITH bounds AS (SELECT epoch_us(min(ts)) AS t0_us FROM events),
firsts AS (
  SELECT user_id, epoch_us(min(ts)) AS f_us FROM events GROUP BY 1
),
cohorts AS (
  SELECT user_id, f_us,
         CAST((f_us - t0_us) // (7 * {_US_PER_DAY}) AS BIGINT) AS cohort_week
  FROM firsts, bounds
),
csize AS (
  SELECT cohort_week, CAST(count(*) AS BIGINT) AS n_users
  FROM cohorts GROUP BY 1
),
purch AS (
  SELECT c.cohort_week,
         CAST((epoch_us(e.ts) - c.f_us) // (7 * {_US_PER_DAY}) AS BIGINT)
           AS age_week,
         CAST(round(e.value * 100, 0) AS BIGINT) AS cents
  FROM events e JOIN cohorts c ON c.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND e.value IS NOT NULL
),
wk AS (
  SELECT cohort_week, age_week, CAST(sum(cents) AS BIGINT) AS rev
  FROM purch GROUP BY 1, 2
),
cum AS (
  SELECT cohort_week, age_week,
         CAST(sum(rev) OVER (PARTITION BY cohort_week ORDER BY age_week)
              AS BIGINT) AS cum_rev
  FROM wk
)
SELECT c.cohort_week, c.age_week, s.n_users, c.cum_rev,
       CAST(c.cum_rev // s.n_users AS BIGINT) AS ltv_cents_per_user
FROM cum c JOIN csize s ON s.cohort_week = c.cohort_week
""",
)
def cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: for each signup-week cohort, the
    cumulative purchase value per user as a function of ACCOUNT AGE in
    weeks — the triangle chart every growth model is calibrated
    against (cohort quality = curve height; product change impact =
    curve separation). One groupBy(user) pass anchors each user's
    cohort and age clock; purchase cents aggregate onto the bounded
    (cohort, age) grid; the cumulative window and the per-user
    normalization (exact integer floor division) run over that grid
    only. Scale shape: the fact table is touched twice (firsts,
    purchases — both map-combined), windows never see SF-scaled
    rows."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.agg(F.unix_micros(F.min("ts")).alias("t0_us"))
    firsts = ev.groupBy("user_id").agg(
        F.unix_micros(F.min("ts")).alias("f_us")
    )
    cohorts = firsts.crossJoin(F.broadcast(bounds)).selectExpr(
        "user_id",
        "f_us",
        f"CAST((f_us - t0_us) DIV (7 * {_US_PER_DAY}) AS BIGINT)"
        " AS cohort_week",
    )
    csize = cohorts.groupBy("cohort_week").agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )
    purch = (
        ev.filter(
            (F.col("event_type") == "purchase") & F.col("value").isNotNull()
        )
        .join(cohorts, "user_id")
        .selectExpr(
            "cohort_week",
            f"CAST((unix_micros(ts) - f_us) DIV (7 * {_US_PER_DAY})"
            " AS BIGINT) AS age_week",
            "CAST(round(value * 100, 0) AS BIGINT) AS cents",
        )
    )
    wk = purch.groupBy("cohort_week", "age_week").agg(
        F.sum("cents").cast("long").alias("rev")
    )
    w = Window.partitionBy("cohort_week").orderBy("age_week").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = wk.select(
        "cohort_week",
        "age_week",
        F.sum("rev").over(w).cast("long").alias("cum_rev"),
    )
    return cum.join(F.broadcast(csize), "cohort_week").selectExpr(
        "cohort_week",
        "age_week",
        "n_users",
        "cum_rev",
        "CAST(cum_rev DIV n_users AS BIGINT) AS ltv_cents_per_user",
    )


# ---------------------------------------------------------------------------
# Capture-recapture (Lincoln-Petersen) population estimate
# ---------------------------------------------------------------------------

# Chapman's bias-corrected estimator, shared template over exact counts.
_LP_OUT = (
    "n_click",
    "n_purchase",
    "n_both",
    "n_true",
    "CAST(floor(CAST(n_click + 1 AS DOUBLE) * (n_purchase + 1)"
    " / (n_both + 1) - 1 + 0.5) AS BIGINT) AS n_hat",
    "CAST(floor((CAST(n_click + 1 AS DOUBLE) * (n_purchase + 1)"
    " / (n_both + 1) - 1) / n_true * 1000000 + 0.5) AS BIGINT)"
    " AS coverage_ratio_micro",
)


@register(
    "capture_recapture_users",
    tags=("ML-stats", "A4"),
    oracle="""
WITH a AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
b AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'),
s AS (
  SELECT (SELECT CAST(count(*) AS BIGINT) FROM a) AS n_click,
         (SELECT CAST(count(*) AS BIGINT) FROM b) AS n_purchase,
         (SELECT CAST(count(*) AS BIGINT)
          FROM a JOIN b ON a.user_id = b.user_id) AS n_both,
         (SELECT CAST(count(DISTINCT user_id) AS BIGINT) FROM events)
           AS n_true
)
SELECT {out}
FROM s
""".format(out=", ".join(_LP_OUT)),
)
def capture_recapture_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capture-recapture population estimate (Chapman's bias-corrected
    Lincoln-Petersen): treat the click and purchase audiences as two
    independent 'captures' and estimate the TOTAL user population from
    their sizes and overlap — the completeness-estimation trick for
    populations nobody observes directly (how many users exist that we
    never see in EITHER channel?). Here the true count exists, so the
    estimate ships with its audited coverage ratio — near 1e6 validates
    the independence assumption on this data; far off quantifies the
    channel correlation. Three distinct-count aggregates + one
    key-equi overlap join; one shared double template. Scale shape:
    per-channel dedup groupBys, one join on the deduped (already
    shrunk) relations."""
    ev = load_table(spark, sf_dir, "events")
    a = (
        ev.filter(F.col("event_type") == "click")
        .select("user_id")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("_x"))
        .select("user_id")
    )
    b = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("_x"))
        .select("user_id")
    )
    na = a.agg(F.count(F.lit(1)).cast("long").alias("n_click"))
    nb = b.agg(F.count(F.lit(1)).cast("long").alias("n_purchase"))
    nboth = a.join(b, "user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_both")
    )
    ntrue = ev.agg(F.countDistinct("user_id").cast("long").alias("n_true"))
    return (
        na.crossJoin(F.broadcast(nb))
        .crossJoin(F.broadcast(nboth))
        .crossJoin(F.broadcast(ntrue))
        .selectExpr(*_LP_OUT)
    )


# ---------------------------------------------------------------------------
# Arrival burstiness: index of dispersion of hourly counts
# ---------------------------------------------------------------------------

_FANO = (
    "CAST(floor((CAST(sxx AS DOUBLE) * n - CAST(sx AS DOUBLE) * sx)"
    " / n / (n - 1) / (CAST(sx AS DOUBLE) / n) * 1000000 + 0.5)"
    " AS BIGINT) AS fano_micro"
)


@register(
    "arrival_burstiness",
    tags=("ML-stats", "A1"),
    oracle=f"""
WITH ht AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS h,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
),
s AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n_hours,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(x) AS HUGEINT) AS sx,
         CAST(sum(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx
  FROM ht GROUP BY 1
)
SELECT event_type, n_hours, {_FANO}
FROM s WHERE n > 1
""",
)
def arrival_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burstiness of event arrivals: the Fano factor (index of
    dispersion, sample-variance / mean of hourly counts) per event
    type — the point-process diagnostic that separates Poisson traffic
    (fano ~ 1e6) from bursty traffic (>> 1e6, sizing retry storms and
    queue headroom) and over-regular traffic (<< 1e6, usually a bot or
    a scheduler). One hourly groupBy then one exact-moment aggregate;
    variance from the n-scaled integer identity, one shared double
    template. Scale: two map-combined aggregations, nothing else."""
    ev = load_table(spark, sf_dir, "events")
    ht = ev.groupBy(
        "event_type",
        (F.unix_micros("ts") / F.lit(3_600_000_000)).cast("long").alias("h"),
    ).agg(F.count(F.lit(1)).cast("long").alias("x"))
    s = ht.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_hours"),
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(dec38(F.col("x"))).alias("sx"),
        F.sum(dec38(F.col("x")) * dec38(F.col("x"))).alias("sxx"),
    )
    return s.filter(F.col("n") > 1).selectExpr(
        "event_type", "n_hours", _FANO
    )


# ---------------------------------------------------------------------------
# Power-law exponent (MLE) of basket-size distribution
# ---------------------------------------------------------------------------

_PL_ALPHA = (
    "CAST(floor((CAST(1 AS DOUBLE) + CAST(n AS DOUBLE)"
    " / (CAST(sl AS DOUBLE) / 1000000.0)) * 1000000 + 0.5) AS BIGINT)"
    " AS alpha_micro"
)


@register(
    "powerlaw_alpha_basket",
    tags=("ML-stats", "A1"),
    oracle=f"""
WITH baskets AS (
  SELECT l_orderkey, CAST(count(*) AS BIGINT) AS k
  FROM lineitem GROUP BY 1
),
terms AS (
  SELECT CAST(floor(ln(CAST(k AS DOUBLE) / 1) * 1000000 + 0.5) AS BIGINT)
           AS lq
  FROM baskets WHERE k >= 1
),
s AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(lq AS HUGEINT)) AS BIGINT) AS sl
  FROM terms WHERE lq > 0
)
SELECT (SELECT CAST(count(*) AS BIGINT) FROM terms) AS n_baskets,
       n AS n_tail, {_PL_ALPHA}
FROM s
""",
)
def powerlaw_alpha_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-law (Pareto) exponent of the basket-size distribution by
    the Clauset-style continuous MLE alpha = 1 + n / sum ln(k/k_min)
    with k_min = 1 — the heavy-tail summary that decides whether
    'average basket size' is even a meaningful number (alpha <= 2 means
    the mean is tail-dominated and capacity planning must use
    quantiles). Each basket's ln(k) is micro-quantized BEFORE the
    cross-basket sum (order-free discipline); k = k_min baskets
    contribute zero and drop from the tail sum, as the estimator
    prescribes. One groupBy(order) pass then scalar arithmetic."""
    li = load_table(spark, sf_dir, "lineitem")
    baskets = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).cast("long").alias("k")
    )
    terms = baskets.filter(F.col("k") >= 1).select(
        half_up(F.log(F.col("k").cast("double") / 1), 6).alias("lq")
    )
    nb = terms.agg(F.count(F.lit(1)).cast("long").alias("n_baskets"))
    s = terms.filter(F.col("lq") > 0).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(dec38(F.col("lq"))).cast("long").alias("sl"),
    )
    return (
        s.crossJoin(F.broadcast(nb))
        .selectExpr("n_baskets", "n AS n_tail", _PL_ALPHA)
    )


# ---------------------------------------------------------------------------
# Peak-hour concentration of daily traffic
# ---------------------------------------------------------------------------


@register(
    "peak_hour_concentration",
    tags=("ML-stats", "A1"),
    oracle="""
WITH ht AS (
  SELECT event_type,
         epoch_us(ts) // 86400000000 AS day,
         epoch_us(ts) // 3600000000 AS slot,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2, 3
),
daily AS (
  SELECT event_type, day,
         CAST(floor(CAST(max(x) AS DOUBLE) / sum(x) * 1000000 + 0.5)
              AS BIGINT) AS share_micro
  FROM ht GROUP BY 1, 2
)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_days,
       CAST(floor(CAST(sum(CAST(share_micro AS HUGEINT)) AS DOUBLE)
            / count(*) + 0.5) AS BIGINT) AS avg_peak_share_micro,
       CAST(max(share_micro) AS BIGINT) AS max_peak_share_micro
FROM daily GROUP BY 1
""",
)
def peak_hour_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak-hour concentration: what share of each day's traffic lands
    in its single busiest hour, averaged per event type — the capacity
    number autoscaling is provisioned against (1/24 ~ 41667 micro =
    perfectly flat load; high values mean provisioning for the mean
    guarantees a daily brownout). Per-day shares are micro-quantized
    BEFORE the cross-day mean (order-free discipline); everything else
    is exact integer counts. Scale shape: one (type, day, hour) groupBy
    over the fact table, two bounded rollups."""
    ev = load_table(spark, sf_dir, "events")
    ht = ev.groupBy(
        "event_type",
        (F.unix_micros("ts") / F.lit(86_400_000_000)).cast("long").alias("day"),
        (F.unix_micros("ts") / F.lit(3_600_000_000)).cast("long").alias("slot"),
    ).agg(F.count(F.lit(1)).cast("long").alias("x"))
    daily = ht.groupBy("event_type", "day").agg(
        half_up(F.max("x").cast("double") / F.sum("x"), 6).alias("share_micro")
    )
    return daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        half_up(
            F.sum(dec38(F.col("share_micro"))).cast("double") / F.count(F.lit(1)), 0
        ).alias("avg_peak_share_micro"),
        F.max("share_micro").cast("long").alias("max_peak_share_micro"),
    )


# ---------------------------------------------------------------------------
# Mann-Kendall trend test over the hourly series
# ---------------------------------------------------------------------------

_MK_Z = (
    "CAST(floor(CASE WHEN s > 0 THEN (CAST(s AS DOUBLE) - 1) / sd"
    " WHEN s < 0 THEN (CAST(s AS DOUBLE) + 1) / sd"
    " ELSE CAST(0 AS DOUBLE) END * 1000 + 0.5) AS BIGINT) AS z_milli"
)


@register(
    "mann_kendall_trend",
    tags=("ML-stats", "A1"),
    oracle=f"""
WITH ht AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS h,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
),
pairs AS (
  SELECT a.event_type,
         CAST(sum(CASE WHEN b.x > a.x THEN 1
                       WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT) AS s
  FROM ht a JOIN ht b
    ON b.event_type = a.event_type AND b.h > a.h
  GROUP BY 1
),
ties AS (
  SELECT event_type,
         CAST(sum(CAST(tc AS HUGEINT) * (tc - 1) * (2 * tc + 5)) AS HUGEINT)
           AS tt
  FROM (SELECT event_type, x, CAST(count(*) AS BIGINT) AS tc
        FROM ht GROUP BY 1, 2)
  GROUP BY 1
),
nn AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM ht GROUP BY 1
),
v AS (
  SELECT p.event_type, p.s, nn.n,
         sqrt((CAST(nn.n AS DOUBLE) * (nn.n - 1) * (2 * nn.n + 5)
               - CAST(t.tt AS DOUBLE)) / 18) AS sd
  FROM pairs p JOIN ties t ON t.event_type = p.event_type
  JOIN nn ON nn.event_type = p.event_type
)
SELECT event_type, n AS n_hours, s, {_MK_Z},
       abs(CASE WHEN s > 0 THEN (CAST(s AS DOUBLE) - 1) / sd
                WHEN s < 0 THEN (CAST(s AS DOUBLE) + 1) / sd
                ELSE CAST(0 AS DOUBLE) END) > 1.959964 AS reject_05
FROM v
""",
)
def mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall monotone-trend test on the hourly volume series per
    event type — the nonparametric significance companion to
    trend_theil_sen's slope (is the drift REAL, without assuming
    normality or linearity?): S = sum of pairwise sign comparisons, the
    tie-corrected variance n(n-1)(2n+5)/18 - sum t(t-1)(2t+5)/18, and
    the continuity-corrected z. The pair sum runs as a self-join ON THE
    BOUNDED HOURLY GRID (calendar-span rows, never the fact table —
    quadratic in hours is a constant at any SF); all accumulators exact
    integers; z from one shared double-led template. Scale shape: one
    hourly groupBy, one bounded self-join, three bounded rollups."""
    ev = load_table(spark, sf_dir, "events")
    ht = ev.groupBy(
        "event_type",
        (F.unix_micros("ts") / F.lit(3_600_000_000)).cast("long").alias("h"),
    ).agg(F.count(F.lit(1)).cast("long").alias("x"))
    a = ht.selectExpr("event_type", "h AS ha", "x AS xa")
    b = ht.selectExpr("event_type AS et_b", "h AS hb", "x AS xb")
    pairs = (
        a.join(
            b,
            (F.col("event_type") == F.col("et_b")) & (F.col("hb") > F.col("ha")),
        )
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(F.col("xb") > F.col("xa"), 1)
                .when(F.col("xb") < F.col("xa"), -1)
                .otherwise(0)
            )
            .cast("long")
            .alias("s")
        )
    )
    ties = (
        ht.groupBy("event_type", "x")
        .agg(F.count(F.lit(1)).cast("long").alias("tc"))
        .groupBy("event_type")
        .agg(
            F.sum(
                dec38(F.col("tc")) * dec38(F.col("tc") - 1) * dec38(2 * F.col("tc") + 5)
            ).alias("tt")
        )
    )
    nn = ht.groupBy("event_type").agg(F.count(F.lit(1)).cast("long").alias("n"))
    v = (
        pairs.join(F.broadcast(ties), "event_type")
        .join(F.broadcast(nn), "event_type")
        .selectExpr(
            "event_type",
            "s",
            "n",
            "sqrt((CAST(n AS DOUBLE) * (n - 1) * (2 * n + 5)"
            " - CAST(tt AS DOUBLE)) / 18) AS sd",
        )
    )
    return v.selectExpr(
        "event_type",
        "n AS n_hours",
        "s",
        _MK_Z,
        "abs(CASE WHEN s > 0 THEN (CAST(s AS DOUBLE) - 1) / sd"
        " WHEN s < 0 THEN (CAST(s AS DOUBLE) + 1) / sd"
        " ELSE CAST(0 AS DOUBLE) END) > 1.959964 AS reject_05",
    )


# ---------------------------------------------------------------------------
# Hurst exponent by rescaled-range (R/S) analysis
# ---------------------------------------------------------------------------

import math as _math  # noqa: E402

_HURST_WS = (16, 32, 64)
# Frozen 3-point log-regression coefficients: slope = sum c_i * ln(m_i)
# (computed once in Python — the x-axis ln(W) never evaluates in-engine;
# the micro scaling of m_i adds a constant to every ln and cancels).
_lx = [_math.log(w) for w in _HURST_WS]
_lxm = sum(_lx) / 3
_den = sum((v - _lxm) ** 2 for v in _lx)
_HURST_C = [(v - _lxm) / _den for v in _lx]
# Per-block R/S from exact integers: cumdev extremes are W-scaled ints,
# S is the population std of the block.
_RS_BLOCK = (
    "CAST(floor((CAST(maxc - minc AS DOUBLE) / w)"
    " / sqrt((CAST(w AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) / w / w)"
    " * 1000000 + 0.5) AS BIGINT)"
)


def _hurst_oracle() -> str:
    per_w = []
    for w in _HURST_WS:
        per_w.append(
            f"""b{w} AS (
  SELECT event_type, (seq - 1) // {w} AS blk, x,
         sum(x) OVER (PARTITION BY event_type, (seq - 1) // {w}
                      ORDER BY seq) AS cum,
         sum(x) OVER (PARTITION BY event_type, (seq - 1) // {w}) AS tot,
         row_number() OVER (PARTITION BY event_type, (seq - 1) // {w}
                            ORDER BY seq) AS rn
  FROM seqd
),
s{w} AS (
  SELECT event_type, blk, {w} AS w,
         CAST(max({w} * cum - rn * tot) AS BIGINT) AS maxc,
         CAST(min({w} * cum - rn * tot) AS BIGINT) AS minc,
         CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(CAST(x AS HUGEINT) * x) AS BIGINT) AS sxx,
         CAST(count(*) AS BIGINT) AS cnt
  FROM b{w} GROUP BY 1, 2
)"""
        )
    union = "\nUNION ALL\n".join(
        f"SELECT event_type, w, {_RS_BLOCK} AS rs_micro FROM s{w} "
        f"WHERE cnt = w AND maxc > minc AND w * sxx > sx * sx"
        for w in _HURST_WS
    )
    cases = " + ".join(
        f"{sql_double(c)} * ln(m{w})" for c, w in zip(_HURST_C, _HURST_WS)
    )
    return f"""WITH ht AS (
  SELECT event_type, epoch_us(ts) // 3600000000 AS h,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
),
seqd AS (
  SELECT event_type, x,
         row_number() OVER (PARTITION BY event_type ORDER BY h) AS seq
  FROM ht
),
{", ".join(per_w)},
rs AS ({union}),
m AS (
  SELECT event_type, w,
         CAST(sum(CAST(rs_micro AS HUGEINT)) // count(*) AS BIGINT)
           AS m_micro
  FROM rs GROUP BY 1, 2
),
piv AS (
  SELECT event_type,
         {", ".join(f"max(CASE WHEN w = {w} THEN m_micro END) AS m{w}"
                    for w in _HURST_WS)}
  FROM m GROUP BY 1
)
SELECT event_type, {", ".join(f"m{w}" for w in _HURST_WS)},
       CAST(floor(({cases}) * 1000 + 0.5) AS BIGINT) AS hurst_milli
FROM piv
WHERE {" AND ".join(f"m{w} IS NOT NULL" for w in _HURST_WS)}
"""


@register(
    "hurst_exponent_rs",
    tags=("ML-stats", "W1"),
    oracle=_hurst_oracle(),
)
def hurst_exponent_rs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent of the hourly volume series by classical
    rescaled-range analysis: chunk each series into blocks of 16/32/64
    consecutive observations, compute each block's R/S (range of cumulative mean
    deviations over the block std — W-scaled so the deviations stay
    exact integers), average per block size, and fit ln(R/S) ~ ln(W)
    with FROZEN regression coefficients (the x-axis never evaluates a
    log in-engine; micro scaling cancels in the slope). H ~ 0.5 is a
    memoryless walk, > 0.5 persistent (trends feed themselves), < 0.5
    mean-reverting — the long-memory diagnostic behind volatility
    persistence. Per-block R/S values are micro-quantized BEFORE the
    cross-block mean (order-free); blocks are windows over <= 64 rows
    partitioned by (key, block). Scale: one hourly groupBy, bounded
    windows, bounded rollups."""
    ev = load_table(spark, sf_dir, "events")
    ht = ev.groupBy(
        "event_type",
        (F.unix_micros("ts") / F.lit(3_600_000_000)).cast("long").alias("h"),
    ).agg(F.count(F.lit(1)).cast("long").alias("x"))
    wseq = Window.partitionBy("event_type").orderBy("h")
    seqd = ht.select(
        "event_type", "x", F.row_number().over(wseq).alias("seq")
    )
    parts = []
    for wsz in _HURST_WS:
        blk = F.expr(f"(seq - 1) DIV {wsz}")
        wcum = (
            Window.partitionBy("event_type", blk)
            .orderBy("seq")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        wall = Window.partitionBy("event_type", blk)
        worder = Window.partitionBy("event_type", blk).orderBy("seq")
        b = seqd.select(
            "event_type",
            blk.alias("blk"),
            "x",
            F.sum("x").over(wcum).alias("cum"),
            F.sum("x").over(wall).alias("tot"),
            F.row_number().over(worder).alias("rn"),
        )
        s = b.groupBy("event_type", "blk").agg(
            F.max(wsz * F.col("cum") - F.col("rn") * F.col("tot"))
            .cast("long")
            .alias("maxc"),
            F.min(wsz * F.col("cum") - F.col("rn") * F.col("tot"))
            .cast("long")
            .alias("minc"),
            F.sum("x").cast("long").alias("sx"),
            F.sum(dec38(F.col("x")) * dec38(F.col("x"))).cast("long").alias("sxx"),
            F.count(F.lit(1)).cast("long").alias("cnt"),
        )
        parts.append(
            s.filter(
                (F.col("cnt") == wsz)
                & (F.col("maxc") > F.col("minc"))
                & (wsz * F.col("sxx") > F.col("sx") * F.col("sx"))
            )
            .withColumn("w", F.lit(wsz).cast("long"))
            .selectExpr("event_type", "w", f"{_RS_BLOCK} AS rs_micro")
        )
    rs = parts[0].unionByName(parts[1]).unionByName(parts[2])
    m = rs.groupBy("event_type", "w").agg(
        F.expr("CAST(sum(CAST(rs_micro AS DECIMAL(38,0))) DIV count(*)"
               " AS BIGINT)").alias("m_micro")
    )
    piv = m.groupBy("event_type").agg(
        *[
            F.max(F.when(F.col("w") == wsz, F.col("m_micro"))).alias(f"m{wsz}")
            for wsz in _HURST_WS
        ]
    )
    cases = " + ".join(
        f"{c!r} * ln(m{w})" for c, w in zip(_HURST_C, _HURST_WS)
    )
    return piv.filter(
        " AND ".join(f"m{w} IS NOT NULL" for w in _HURST_WS)
    ).selectExpr(
        "event_type",
        *[f"m{w}" for w in _HURST_WS],
        f"CAST(floor(({cases}) * 1000 + 0.5) AS BIGINT) AS hurst_milli",
    )


# ---------------------------------------------------------------------------
# Kruskal-Wallis k-sample rank test across event types
# ---------------------------------------------------------------------------

# H statistic from exact integer rank sums (doubled average ranks, the
# spearman_rank_corr device) with the tie correction; one double-led
# shared template.
_KW_H = (
    "CAST(floor((CAST(12 AS DOUBLE) / (CAST(nn AS DOUBLE) * (nn + 1))"
    " * (CAST(sr2 AS DOUBLE) / 4)"
    " - CAST(3 AS DOUBLE) * (nn + 1))"
    " / (CAST(1 AS DOUBLE) - CAST(tt AS DOUBLE)"
    "    / (CAST(nn AS DOUBLE) * nn * nn - nn))"
    " * 1000 + 0.5) AS BIGINT) AS h_milli"
)


@register(
    "kruskal_wallis_values",
    tags=("ML-stats",),
    oracle=f"""
WITH pts AS (
  SELECT event_type, value, CAST(count(*) AS BIGINT) AS c
  FROM events WHERE value IS NOT NULL GROUP BY 1, 2
),
vals AS (
  SELECT value, CAST(sum(c) AS BIGINT) AS tc FROM pts GROUP BY 1
),
ranked AS (
  SELECT value, tc,
         CAST(2 * (sum(tc) OVER (ORDER BY value) - tc) + tc + 1 AS BIGINT)
           AS r2
  FROM vals
),
grp AS (
  SELECT p.event_type,
         CAST(sum(p.c) AS BIGINT) AS nj,
         CAST(sum(CAST(p.c AS HUGEINT) * r.r2) AS HUGEINT) AS rsum2
  FROM pts p JOIN ranked r ON r.value = p.value
  GROUP BY 1
),
s AS (
  SELECT CAST(sum(nj) AS BIGINT) AS nn,
         CAST(sum(rsum2 * rsum2 // nj) AS HUGEINT) AS sr2,
         CAST(count(*) AS BIGINT) AS k
  FROM grp
),
t AS (
  SELECT CAST(sum(CAST(tc AS HUGEINT) * tc * tc - tc) AS HUGEINT) AS tt
  FROM vals
)
SELECT k, nn AS n_rows, {_KW_H}
FROM s, t
""",
)
def kruskal_wallis_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H across the five event types' value
    distributions — the k-sample rank ANOVA that completes the test
    family (anova_oneway_f is its parametric twin, mann_whitney_u_drift
    the two-sample case): do ANY of the groups differ in location,
    assuming nothing about shapes? Doubled average ranks keep every
    rank an exact integer (the spearman_rank_corr device); per-group
    rank sums are exact HUGEINT/DECIMAL; H and its tie correction come
    from one double-led shared template. NOTE the global rank window
    here runs over the DISTINCT-VALUE relation ordered by value — the
    same shape the KS/Mann-Whitney queries handle with the salted
    prefix sum; at catalog scale the distinct-value relation is modest
    and the plain window is measured fine (allowlisted with this
    bound); the salted form is the drop-in at web scale. Scale: one
    (type, value) groupBy, one value rollup, bounded-side joins."""
    ev = load_table(spark, sf_dir, "events")
    pts = ev.filter(F.col("value").isNotNull()).groupBy(
        "event_type", "value"
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    vals = pts.groupBy("value").agg(F.sum("c").cast("long").alias("tc"))
    wv = Window.orderBy("value")
    ranked = vals.select(
        "value",
        "tc",
        (2 * (F.sum("tc").over(wv) - F.col("tc")) + F.col("tc") + 1)
        .cast("long")
        .alias("r2"),
    )
    grp = (
        pts.join(ranked.select("value", "r2"), "value")
        .groupBy("event_type")
        .agg(
            F.sum("c").cast("long").alias("nj"),
            F.sum(dec38(F.col("c")) * dec38(F.col("r2"))).alias("rsum2"),
        )
    )
    s = grp.agg(
        F.sum("nj").cast("long").alias("nn"),
        # integer floor division in BOTH engines (duck // / spark DIV) —
        # plain / is double in DuckDB and decimal in Spark, a latent
        # rounding-boundary divergence
        dec38(
            F.sum(
                F.expr(
                    "CAST(rsum2 * rsum2 AS DECIMAL(38,0))"
                    " DIV CAST(nj AS DECIMAL(38,0))"
                )
            )
        ).alias("sr2"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    t = vals.agg(
        dec38(
            F.sum(
                dec38(F.col("tc")) * dec38(F.col("tc")) * dec38(F.col("tc"))
                - dec38(F.col("tc"))
            )
        ).alias("tt")
    )
    return s.crossJoin(F.broadcast(t)).selectExpr("k", "nn AS n_rows", _KW_H)


# ---------------------------------------------------------------------------
# HDR-histogram quantile sketch (mergeable BY CONSTRUCTION)
# ---------------------------------------------------------------------------

# Designed contrast to approx_quantile_sketch (Greenwald-Khanna, whose
# compress step is partitioning-dependent and therefore permanently
# rows-only): an HDR histogram's merge is plain bucket-count ADDITION —
# commutative and associative — so the sketch is partitioning-,
# engine- and order-independent, and the full result oracles exactly.
# t-digest was considered and rejected for the same reason GK is
# rows-only: its centroid merge depends on merge order.
#
# Bucketing is pure integer bit math (no float log whose libm rounding
# could flip a boundary case across engines): for cents v > 0 with
# exponent e = length(bin(v)) - 1, the bucket is the top (1 + _HDR_M)
# significand bits, i.e. v >> max(e - _HDR_M, 0); the bucket's lower
# bound shifts back. Relative error <= 2^-_HDR_M per bucket.
_HDR_M = 5
_HDR_CENTS = "CAST(round(o_totalprice * 100, 0) AS BIGINT)"
# exponent / shift / bucket lower bound, shared textual form (Spark needs
# shiftright/shiftleft spellings; DuckDB uses >> <<)
_HDR_SPARK = f"""
SELECT o_orderpriority AS priority,
       shiftleft(shiftright(v, s), s) AS lo
FROM (
  SELECT o_orderpriority,
         v,
         greatest(length(bin(v)) - 1 - {_HDR_M}, 0) AS s
  FROM (SELECT o_orderpriority, {_HDR_CENTS} AS v FROM {{orders}})
  WHERE v > 0
)
"""
_HDR_DUCK = f"""
SELECT o_orderpriority AS priority,
       (v >> s) << s AS lo
FROM (
  SELECT o_orderpriority,
         v,
         greatest(length(bin(v)) - 1 - {_HDR_M}, 0) AS s
  FROM (SELECT o_orderpriority, {_HDR_CENTS} AS v FROM orders)
  WHERE v > 0
)
"""
# quantile ranks: ceil(n * pct / 100) in exact integers
_HDR_RANK = "(n * {pct} + 99) // 100"
_HDR_RANK_SPARK = "(n * {pct} + 99) DIV 100"


@register(
    "approx_quantile_hdr",
    tags=("ML-stats", "A1"),
    oracle=f"""
WITH b AS ({_HDR_DUCK}),
cnt AS (
  SELECT priority, lo, CAST(count(*) AS BIGINT) AS c
  FROM b GROUP BY 1, 2
),
tot AS (SELECT priority, CAST(sum(c) AS BIGINT) AS n FROM cnt GROUP BY 1),
cum AS (
  SELECT c.priority, c.lo, t.n,
         sum(c.c) OVER (PARTITION BY c.priority ORDER BY c.lo) AS cum
  FROM cnt c JOIN tot t ON t.priority = c.priority
)
SELECT priority, min(n) AS n_orders,
       min(CASE WHEN cum >= {_HDR_RANK.format(pct=50)} THEN lo END)
         AS p50_cents_lo,
       min(CASE WHEN cum >= {_HDR_RANK.format(pct=90)} THEN lo END)
         AS p90_cents_lo,
       min(CASE WHEN cum >= {_HDR_RANK.format(pct=99)} THEN lo END)
         AS p99_cents_lo
FROM cum GROUP BY 1
""",
)
def approx_quantile_hdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate order-value quantiles per priority class via an
    HDR (high-dynamic-range) histogram sketch: exponent + top-5
    significand bits bucketing (pure integer shifts — no float log),
    bounded relative error 2^-5 ~ 3%, and a merge that is bucket-count
    ADDITION — commutative/associative, hence partitioning-independent
    and exactly oracle-able, the designed contrast to the
    Greenwald-Khanna sketch (approx_quantile_sketch), which stays
    rows-only forever because its compression is merge-order-dependent.
    Reported quantile = lower bound of the first bucket whose
    cumulative count reaches ceil(n*q). Scale shape: one map-combined
    groupBy onto <= |priorities| x (59 x 2^5) buckets; the cumulative
    window runs over that bounded bucket relation only."""
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("_hdr_orders")
    b = spark.sql(_HDR_SPARK.format(orders="_hdr_orders"))
    cnt = b.groupBy("priority", "lo").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    # group totals via an unordered partition window over the BOUNDED
    # bucket relation — a separate aggregate would re-scan the fact
    # table (Spark does not reuse the un-persisted subtree; the
    # plan-shape test pins the single-scan property)
    wn = Window.partitionBy("priority")
    w = Window.partitionBy("priority").orderBy("lo")
    cum = (
        cnt.withColumn("n", F.sum("c").over(wn).cast("long"))
        .withColumn("cum", F.sum("c").over(w))
    )
    return cum.groupBy("priority").agg(
        F.min("n").alias("n_orders"),
        *[
            F.min(
                F.when(
                    F.col("cum")
                    >= F.expr(_HDR_RANK_SPARK.format(pct=pct)),
                    F.col("lo"),
                )
            ).alias(f"p{pct}_cents_lo")
            for pct in (50, 90, 99)
        ],
    )


# ---------------------------------------------------------------------------
# Count-min sketch point estimates
# ---------------------------------------------------------------------------

_CMS_D = 4     # depth: independent hash rows
_CMS_W = 256   # width: counters per row
_CMS_CAND = 20  # bounded candidate set: user_id < 20


def _cms_cell_sql(expr: str, d: int) -> str:
    from stock_streaming_data_pipeline_spark.operators.dedup import (
        sql_portable_hash,
    )

    return f"{sql_portable_hash(expr, salt=f'cms{d}_')} % {_CMS_W}"


@register(
    "approx_topk_countmin",
    tags=("ML-stats", "A4"),
    oracle=f"""
WITH cells AS (
  {" UNION ALL ".join(
      f"SELECT {d} AS d, "
      + _cms_cell_sql("CAST(user_id AS VARCHAR)", d)
      + " AS cell FROM events"
      for d in range(_CMS_D)
  )}
),
counters AS (
  SELECT d, cell, CAST(count(*) AS BIGINT) AS c FROM cells GROUP BY 1, 2
),
cand AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS exact_n
  FROM events WHERE user_id < {_CMS_CAND} GROUP BY 1
),
cand_cells AS (
  {" UNION ALL ".join(
      f"SELECT user_id, exact_n, {d} AS d, "
      + _cms_cell_sql("CAST(user_id AS VARCHAR)", d)
      + " AS cell FROM cand"
      for d in range(_CMS_D)
  )}
)
SELECT cc.user_id, min(cc.exact_n) AS exact_n,
       min(co.c) AS cms_est,
       min(co.c) - min(cc.exact_n) AS overestimate
FROM cand_cells cc JOIN counters co ON co.d = cc.d AND co.cell = cc.cell
GROUP BY 1
""",
)
def approx_topk_countmin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005) frequency
    estimation over the event stream: a 4 x 256 counter grid
    (independent salted hash rows), point estimate = min over rows —
    never an underestimate, overestimate bounded by collisions. The
    sketch is mergeable BY CONSTRUCTION (counter addition is
    commutative/associative), so it is partitioning-independent and
    exactly oracle-able — same design argument as approx_quantile_hdr,
    and the reason this sketch CAN carry a full oracle while GK cannot.
    Verified against exact counts for a bounded candidate set (the
    overestimate column is the measured collision error). Hashes are
    the portable md5 family (salt-isolated per row), identical in both
    engines. Scale shape: map-side depth-fold fan-out -> one
    map-combined groupBy onto the fixed 1024-cell grid; estimates join
    the bounded candidate set against the broadcast counter table."""
    ev = load_table(spark, sf_dir, "events").select(
        F.col("user_id").cast("string").alias("uid"), "user_id"
    )
    from stock_streaming_data_pipeline_spark.operators.dedup import portable_hash

    cells = ev.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"),
                        F.pmod(
                            portable_hash(F.col("uid"), salt=f"cms{d}_"),
                            F.lit(_CMS_W),
                        ).alias("cell"),
                    )
                    for d in range(_CMS_D)
                ]
            )
        ).alias("dc")
    ).select("dc.d", "dc.cell")
    counters = cells.groupBy("d", "cell").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    cand = (
        ev.filter(F.col("user_id") < _CMS_CAND)
        .groupBy("user_id", "uid")
        .agg(F.count(F.lit(1)).cast("long").alias("exact_n"))
    )
    cand_cells = cand.select(
        "user_id",
        "exact_n",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("d"),
                        F.pmod(
                            portable_hash(F.col("uid"), salt=f"cms{d}_"),
                            F.lit(_CMS_W),
                        ).alias("cell"),
                    )
                    for d in range(_CMS_D)
                ]
            )
        ).alias("dc"),
    ).select("user_id", "exact_n", "dc.d", "dc.cell")
    return (
        cand_cells.join(F.broadcast(counters), ["d", "cell"])
        .groupBy("user_id")
        .agg(
            F.min("exact_n").alias("exact_n"),
            F.min("c").alias("cms_est"),
            (F.min("c") - F.min("exact_n")).alias("overestimate"),
        )
    )


# ---------------------------------------------------------------------------
# Weighted interval scheduling over order lifetimes
# ---------------------------------------------------------------------------

_WIS_CENTS = "CAST(round(o_totalprice * 100, 0) AS BIGINT)"
_WIS_TOP = 20


def _sql_wis_expected(sf_dir: str) -> str:
    """Literal-VALUES oracle for schedule_weighted_intervals: the same
    DP (operators/scheduling.py — shared implementation, so the
    differential verifies the DISTRIBUTED plumbing: grouping, Arrow
    round-trip, ordering) over rows DuckDB reads from the same parquet.
    Bounded by the driver's check tier (sf0.01: 15k orders)."""
    from stock_streaming_data_pipeline_spark.operators.scheduling import (
        weighted_interval_best,
    )

    rows = duck_connection(sf_dir).execute(
        f"""
        SELECT o_custkey,
               epoch_us(o_orderdate) AS s,
               epoch_us(o_orderdate)
                 + ((o_orderkey % 30) + 1) * {_US_PER_DAY} AS e,
               {_WIS_CENTS} AS w
        FROM orders
        """
    ).fetchall()
    groups: dict[int, list[tuple[int, int, int]]] = {}
    for ck, s, e, w in rows:
        groups.setdefault(int(ck), []).append((int(s), int(e), int(w)))
    scored = []
    for ck, items in groups.items():
        best, n_sel = weighted_interval_best(items)
        scored.append((ck, len(items), n_sel, best))
    scored.sort(key=lambda r: (-r[3], r[0]))
    return values_sql(
        "o_custkey BIGINT, n_intervals BIGINT, n_selected BIGINT,"
        " best_value_cents BIGINT",
        scored[:_WIS_TOP],
    )


@register(
    "schedule_weighted_intervals",
    tags=("ML-stats", "UD1"),
    oracle_fn=_sql_wis_expected,
)
def schedule_weighted_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted interval scheduling per customer: each order is an
    interval [orderdate, orderdate + (orderkey % 30 + 1) days] weighted
    by its price in exact cents; the query reports the top customers by
    the max total value of a NON-OVERLAPPING order subset — the classic
    capacity-planning / booking-optimization DP (Kleinberg & Tardos
    §6.1). The recurrence OPT(j) = max(OPT(j-1), w_j + OPT(p(j))) is
    genuinely sequential per key — not a window composition — so this
    is the catalog's reference instance of the category-(b) custom
    operator path: applyInPandas over the grouping key, plain-Python DP
    over Arrow batches (operators/scheduling.py), group size bounded by
    orders-per-customer. Everything before and after the grouped map is
    native: cents/epoch projection, then one TakeOrderedAndProject for
    the top-20 report. The oracle imports the SAME DP and replays it on
    DuckDB-read rows, so the differential checks the distributed
    plumbing (grouping, Arrow round-trip, global ordering)."""
    import pandas as pd

    from stock_streaming_data_pipeline_spark.operators.scheduling import (
        weighted_interval_best,
    )

    orders = load_table(spark, sf_dir, "orders")
    iv = orders.selectExpr(
        "o_custkey",
        "unix_micros(o_orderdate) AS s",
        f"unix_micros(o_orderdate) + ((o_orderkey % 30) + 1) * {_US_PER_DAY} AS e",
        f"{_WIS_CENTS} AS w",
    )

    def _grp(pdf: pd.DataFrame) -> pd.DataFrame:
        best, n_sel = weighted_interval_best(
            (int(s), int(e), int(w))
            for s, e, w in zip(pdf["s"], pdf["e"], pdf["w"])
        )
        return pd.DataFrame(
            {
                "o_custkey": [int(pdf["o_custkey"].iloc[0])],
                "n_intervals": [len(pdf)],
                "n_selected": [n_sel],
                "best_value_cents": [best],
            }
        )

    sched = iv.groupBy("o_custkey").applyInPandas(
        _grp,
        schema=(
            "o_custkey long, n_intervals long, n_selected long, "
            "best_value_cents long"
        ),
    )
    return sched.orderBy(
        F.desc("best_value_cents"), F.asc("o_custkey")
    ).limit(_WIS_TOP)


# ---------------------------------------------------------------------------
# Isotonic (PAVA) calibration of purchase rate vs value bin
# ---------------------------------------------------------------------------

# equal-width value bins: floor(value/16) capped at 31 — float division
# then floor is the same IEEE op in both engines; NULL values excluded
_ISO_BIN = "least(CAST(floor(value / 16) AS BIGINT), 31)"
_ISO_Y = "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END"


def _sql_isotonic_expected(sf_dir: str) -> str:
    """Literal-VALUES oracle for calibration_isotonic: the SAME PAVA
    (operators/isotonic.py) over the binned relation DuckDB computes
    from the same parquet — the differential verifies binning, grouping
    and the Arrow round-trip, which is the Spark-owned part."""
    from stock_streaming_data_pipeline_spark.operators.isotonic import (
        pava_rates_micro,
    )

    rows = duck_connection(sf_dir).execute(
        f"""
        SELECT {_ISO_BIN} AS bin,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum({_ISO_Y}) AS BIGINT) AS s
        FROM events
        WHERE value IS NOT NULL
        GROUP BY 1 ORDER BY 1
        """
    ).fetchall()
    fitted = pava_rates_micro([(int(b), int(n), int(s)) for b, n, s in rows])
    return values_sql("bin BIGINT, n_events BIGINT, rate_micro BIGINT", fitted)


@register(
    "calibration_isotonic",
    tags=("ML-stats", "UD1"),
    oracle_fn=_sql_isotonic_expected,
)
def calibration_isotonic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic calibration (pool-adjacent-violators) of the purchase
    rate against the event-value bin — the monotone-fit primitive every
    classifier-calibration stage runs (Zadrozny-Elkan): pool adjacent
    bins that violate monotonicity, report each bin's pooled half-up
    micro rate. PAVA's left-to-right pooling fold is genuinely
    sequential, but it only ever touches the BOUNDED binned relation:
    the fact table collapses to <= 32 (bin, count, successes) rows in
    one map-combined groupBy, and the fold runs per Arrow group via
    applyInPandas (operators/isotonic.py — imported unchanged by the
    VALUES oracle, so the differential checks the distributed plumbing).
    Pooling comparisons are exact integer cross-multiplications; only
    the reported rate is micro-quantized."""
    import pandas as pd

    from stock_streaming_data_pipeline_spark.operators.isotonic import (
        pava_rates_micro,
    )

    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    grid = (
        ev.selectExpr(f"{_ISO_BIN} AS bin", f"{_ISO_Y} AS y")
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("y").cast("long").alias("s"),
        )
    )

    def _fit(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("bin")
        fitted = pava_rates_micro(
            [(int(b), int(n), int(s)) for b, n, s in
             zip(pdf["bin"], pdf["n"], pdf["s"])]
        )
        return pd.DataFrame(
            {
                "bin": [b for b, _, _ in fitted],
                "n_events": [n for _, n, _ in fitted],
                "rate_micro": [r for _, _, r in fitted],
            }
        )

    return (
        grid.groupBy(F.lit(1).alias("_g"))
        .applyInPandas(_fit, schema="bin long, n_events long, rate_micro long")
    )


# ---------------------------------------------------------------------------
# Round 11: mergeable t-digest quantiles (third quantile-sketch contrast)
# ---------------------------------------------------------------------------

_TDG_DELTA = 100
_TDG_SHARDS = 32
_TDG_PERMILLES = (10, 250, 500, 750, 990, 999)
_TDG_ID = (
    "l_orderkey::VARCHAR || '_' || l_linenumber::VARCHAR || '_' "
    "|| l_partkey::VARCHAR || '_' || l_suppkey::VARCHAR"
)


def _sql_tdigest_expected(sf_dir: str) -> str:
    """Literal-VALUES oracle for approx_quantile_tdigest: the same
    two-level digest (operators/tdigest.py — shared implementation; the
    estimator itself is pinned by an independent rank-error property
    test, per the standing rule) replayed over DuckDB-read rows with the
    identical content-hash sharding."""
    from stock_streaming_data_pipeline_spark.operators import tdigest
    from stock_streaming_data_pipeline_spark.operators.dedup import (
        sql_portable_hash,
    )

    h = sql_portable_hash(_TDG_ID, salt="tdg_")
    rows = duck_connection(sf_dir).execute(
        f"""
        SELECT ({h}) % {_TDG_SHARDS} AS shard,
               CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents
        FROM lineitem
        """
    ).fetchall()
    shards: dict[int, list[int]] = {}
    v_min = None
    v_max = None
    for sh, c in rows:
        shards.setdefault(int(sh), []).append(int(c))
        v_min = c if v_min is None or c < v_min else v_min
        v_max = c if v_max is None or c > v_max else v_max
    merged: list[tuple[int, int]] = []
    for vals in shards.values():
        merged.extend(tdigest.digest_values(vals, delta=_TDG_DELTA))
    final = tdigest.compress(merged, delta=_TDG_DELTA)
    out = []
    for pm in _TDG_PERMILLES:
        est = tdigest.quantile(
            final, q=pm / 1000.0, v_min=int(v_min), v_max=int(v_max)
        )
        out.append((pm, tdigest.round_half_up(est)))
    return values_sql("q_permille BIGINT, est_cents BIGINT", out)


@register(
    "approx_quantile_tdigest",
    tags=("ML-stats", "UD1"),
    oracle_fn=_sql_tdigest_expected,
)
def approx_quantile_tdigest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable t-digest quantiles (Dunning & Ertl) over lineitem price
    cents — the catalog's third quantile-sketch design point: GK stays
    rows-only (merge-order-dependent), HDR is exactly oracle-able but
    needs a value-range commitment, the t-digest is range-free with
    tail-concentrated accuracy, and determinism is RESTORED by sharding
    on a content hash: partition contents become a pure function of the
    data, so the two-level digest (per-shard sketch, one deterministic
    merge of the bounded centroid relation) is bit-identical on any
    cluster layout — the exact property the DuckDB replay checks. Scale
    shape: one shuffle onto 32 shard keys, Arrow-grouped digest per
    shard, second Arrow pass over the ~32 x 2 delta centroid rows."""
    import pandas as pd

    from stock_streaming_data_pipeline_spark.operators import tdigest
    from stock_streaming_data_pipeline_spark.operators.dedup import portable_hash

    li = load_table(spark, sf_dir, "lineitem").select(
        F.pmod(
            portable_hash(
                F.concat_ws(
                    "_", "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"
                ),
                salt="tdg_",
            ),
            F.lit(_TDG_SHARDS),
        ).alias("shard"),
        F.round(F.col("l_extendedprice") * 100, 0).cast("long").alias("cents"),
    )

    def _shard_digest(pdf: pd.DataFrame) -> pd.DataFrame:
        vals = [int(v) for v in pdf["cents"]]
        cents = tdigest.digest_values(vals, delta=_TDG_DELTA)
        return pd.DataFrame(
            {
                "c_sum": [s for s, _ in cents],
                "c_weight": [w for _, w in cents],
                "v_min": [min(vals)] * len(cents),
                "v_max": [max(vals)] * len(cents),
            }
        )

    cents = li.groupBy("shard").applyInPandas(
        _shard_digest, schema="c_sum long, c_weight long, v_min long, v_max long"
    )

    def _final(pdf: pd.DataFrame) -> pd.DataFrame:
        merged = [
            (int(s), int(w)) for s, w in zip(pdf["c_sum"], pdf["c_weight"])
        ]
        final = tdigest.compress(merged, delta=_TDG_DELTA)
        v_min = int(pdf["v_min"].min())
        v_max = int(pdf["v_max"].max())
        ests = [
            tdigest.round_half_up(
                tdigest.quantile(final, q=pm / 1000.0, v_min=v_min, v_max=v_max)
            )
            for pm in _TDG_PERMILLES
        ]
        return pd.DataFrame(
            {"q_permille": list(_TDG_PERMILLES), "est_cents": ests}
        )

    return (
        cents.withColumn("_one", F.lit(1))
        .groupBy("_one")
        .applyInPandas(
            lambda pdf: _final(pdf), schema="q_permille long, est_cents long"
        )
    )


# ---------------------------------------------------------------------------
# Round 11: Huber robust regression (exact-integer IRLS)
# ---------------------------------------------------------------------------

_HUB_DELTA_MICRO = 1_000_000 * 1_000_000   # $10,000 in micro-cents
_HUB_ITERS = 6
_HUB_MICRO = 1_000_000
# gross planted outliers: ~1/997 of rows get 50x price
_HUB_Y = (
    "CAST(CASE WHEN l_orderkey % 997 = 0 THEN 50 ELSE 1 END"
    " * round(l_extendedprice * 100, 0) AS BIGINT)"
)
_HUB_X = "CAST(round(l_quantity) AS BIGINT)"


def _sql_huber_expected(sf_dir: str) -> str:
    """Literal-VALUES oracle for robust_regression_huber: the reference
    replay (operators/robust.py — shared arithmetic by design; the
    estimator itself is pinned by independent property tests: exact-OLS
    equality on clean data, bounded slope shift under gross outliers,
    IRLS fixed-point stationarity) over DuckDB-read integer pairs."""
    from stock_streaming_data_pipeline_spark.operators import robust

    rows = duck_connection(sf_dir).execute(
        f"SELECT {_HUB_X} AS x, {_HUB_Y} AS y FROM lineitem"
    ).fetchall()
    xy = [(int(x), int(y)) for x, y in rows]
    n = len(xy)
    sw = n * _HUB_MICRO
    swx = sum(x for x, _ in xy) * _HUB_MICRO
    swy = sum(y for _, y in xy) * _HUB_MICRO
    swxx = sum(x * x for x, _ in xy) * _HUB_MICRO
    swxy = sum(x * y for x, y in xy) * _HUB_MICRO
    _, ols_b = robust.solve_wls(sw, swx, swy, swxx, swxy)
    a, b, n_rows, n_down = robust.huber_irls(
        xy, delta_micro=_HUB_DELTA_MICRO, iters=_HUB_ITERS
    )
    return values_sql(
        "n_rows BIGINT, ols_slope_micro BIGINT, huber_slope_micro BIGINT,"
        " huber_intercept_micro BIGINT, n_downweighted BIGINT",
        [(n_rows, ols_b, b, a, n_down)],
    )


@register(
    "robust_regression_huber",
    tags=("ML-stats", "A4"),
    oracle_fn=_sql_huber_expected,
)
def robust_regression_huber(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Huber M-estimation of price-per-quantity by IRLS with an
    EXACT-INTEGER inner loop (operators/robust.py): residuals, weights
    (min(1, delta/|r|) as integer division) and the five weighted sums
    are all integers (sums in DECIMAL(38,0)), the 2x2 solve runs
    driver-side in exact rationals, and the state re-enters the next
    pass as micro-cent literals — bit-reproducible at any parallelism,
    which is what lets the DuckDB replay match exactly. ~1/997 of rows
    carry planted 50x price outliers: the output contrasts the OLS slope
    (dragged by them) with the Huber slope (they are downweighted to
    delta/|r|). Scale shape: OLS init + 6 reweighted passes, each one
    map-combined aggregate onto a single row over the materialized
    2-integer projection (cache ~16 B/row vs re-scanning parquet per
    pass — flip if memory-poor)."""
    from stock_streaming_data_pipeline_spark.operators import robust

    li = load_table(spark, sf_dir, "lineitem")
    xy = materialize(
        li.selectExpr(f"{_HUB_X} AS x", f"{_HUB_Y} AS y"), eager=False
    )
    m = F.lit(_HUB_MICRO).cast("long")

    def sums(w):
        return [
            F.sum(dec38(w)).alias("sw"),
            F.sum(dec38(w * F.col("x"))).alias("swx"),
            F.sum(dec38(w * F.col("y"))).alias("swy"),
            F.sum(dec38(w * F.col("x") * F.col("x"))).alias("swxx"),
            F.sum(dec38(w * F.col("x") * F.col("y"))).alias("swxy"),
        ]

    row = xy.agg(*sums(m)).first()
    s = [int(row[k]) for k in ("sw", "swx", "swy", "swxx", "swxy")]
    a, b = robust.solve_wls(*s)
    ols_b = b
    for _ in range(_HUB_ITERS):
        r = F.col("y") * m - F.lit(a) - F.lit(b) * F.col("x")
        w = F.when(F.abs(r) <= F.lit(_HUB_DELTA_MICRO), m).otherwise(
            F.expr(
                f"CAST({_HUB_DELTA_MICRO} * {_HUB_MICRO} AS BIGINT)"
                f" DIV abs(y * {_HUB_MICRO} - ({a}) - ({b}) * x)"
            )
        )
        row = xy.agg(*sums(w)).first()
        s = [int(row[k]) for k in ("sw", "swx", "swy", "swxx", "swxy")]
        a, b = robust.solve_wls(*s)
    r = F.col("y") * m - F.lit(a) - F.lit(b) * F.col("x")
    return xy.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.lit(ols_b).cast("long").alias("ols_slope_micro"),
        F.lit(b).cast("long").alias("huber_slope_micro"),
        F.lit(a).cast("long").alias("huber_intercept_micro"),
        F.sum(
            F.when(F.abs(r) > F.lit(_HUB_DELTA_MICRO), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_downweighted"),
    )


# ---------------------------------------------------------------------------
# Round 11: per-nation min-cost assignment (Hungarian vs brute force)
# ---------------------------------------------------------------------------

_ASG_K = 6
_ASG_SUP_CENTS = "CAST(round(s_acctbal * 100, 0) AS BIGINT)"
_ASG_PART_CENTS = "CAST(round(p_retailprice * 100, 0) AS BIGINT)"


def _asg_rows_duck(sf_dir: str):
    """Top-K suppliers per nation and parts per partkey-residue class,
    ranked exactly as the Spark windows rank them."""
    con = duck_connection(sf_dir)
    sup = con.execute(
        f"""
        SELECT s_nationkey, cents FROM (
          SELECT s_nationkey, {_ASG_SUP_CENTS} AS cents,
                 row_number() OVER (PARTITION BY s_nationkey
                                    ORDER BY {_ASG_SUP_CENTS} DESC, s_suppkey)
                   AS rk
          FROM supplier
        ) WHERE rk <= {_ASG_K}
        """
    ).fetchall()
    parts = con.execute(
        f"""
        SELECT residue, cents FROM (
          SELECT p_partkey % 25 AS residue, {_ASG_PART_CENTS} AS cents,
                 row_number() OVER (PARTITION BY p_partkey % 25
                                    ORDER BY {_ASG_PART_CENTS} DESC, p_partkey)
                   AS rk
          FROM part
        ) WHERE rk <= {_ASG_K}
        """
    ).fetchall()
    con.close()
    return sup, parts


def _sql_assignment_expected(sf_dir: str) -> str:
    """Literal-VALUES oracle for assignment_min_cost: EXHAUSTIVE
    permutation enumeration (operators/assignment.py brute force) — a
    fully INDEPENDENT algorithm from the Hungarian the Spark side runs,
    so every driver run cross-checks optimality itself."""
    from stock_streaming_data_pipeline_spark.operators.assignment import (
        brute_force_assignment,
    )

    sup_rows, part_rows = _asg_rows_duck(sf_dir)
    sup: dict[int, list[int]] = {}
    for nk, c in sup_rows:
        sup.setdefault(int(nk), []).append(int(c))
    parts: dict[int, list[int]] = {}
    for res, c in part_rows:
        parts.setdefault(int(res), []).append(int(c))
    out = []
    for nk in sorted(set(sup) & set(parts)):
        a, b = sup[nk], parts[nk]
        rows, cols = (a, b) if len(a) <= len(b) else (b, a)
        cost = [[abs(r - c) for c in cols] for r in rows]
        out.append((nk, len(rows), brute_force_assignment(cost)))
    return values_sql(
        "nationkey BIGINT, n_assigned BIGINT, min_total_cost_cents BIGINT", out
    )


@register(
    "assignment_min_cost",
    tags=("ML-stats", "UD1"),
    oracle_fn=_sql_assignment_expected,
)
def assignment_min_cost(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation min-cost bipartite assignment: the top-6 suppliers (by
    account balance) matched one-to-one to the top-6 parts of the
    nation's partkey-residue class, minimizing total |acctbal -
    retailprice| in exact cents — the bounded-group combinatorial-
    optimization class (auction/assignment problems), solved with the
    Hungarian potentials algorithm (Kuhn 1955) inside ``applyInPandas``.
    Everything around the 36-cell groups is native: two ranked windows,
    one equi-join on the nation key. The oracle brute-forces all <= 720
    injective assignments per group — a fully independent optimality
    witness on every driver run. Scale shape: group size is FIXED (6x6)
    regardless of sf; the window top-k prunes the fact tables before any
    join."""
    import pandas as pd

    from stock_streaming_data_pipeline_spark.operators.assignment import (
        min_cost_assignment,
    )

    sup = load_table(spark, sf_dir, "supplier").selectExpr(
        "s_nationkey", f"{_ASG_SUP_CENTS} AS s_cents", "s_suppkey"
    )
    ws = Window.partitionBy("s_nationkey").orderBy(
        F.desc("s_cents"), F.asc("s_suppkey")
    )
    top_sup = (
        sup.withColumn("s_rk", F.row_number().over(ws))
        .filter(F.col("s_rk") <= _ASG_K)
        .select(
            F.col("s_nationkey").cast("long").alias("nationkey"),
            "s_cents",
            "s_rk",
        )
    )
    part = load_table(spark, sf_dir, "part").selectExpr(
        "p_partkey % 25 AS residue", f"{_ASG_PART_CENTS} AS p_cents", "p_partkey"
    )
    wp = Window.partitionBy("residue").orderBy(
        F.desc("p_cents"), F.asc("p_partkey")
    )
    top_part = (
        part.withColumn("p_rk", F.row_number().over(wp))
        .filter(F.col("p_rk") <= _ASG_K)
        .select(
            F.col("residue").cast("long").alias("nationkey"),
            "p_cents",
            "p_rk",
        )
    )
    grid = top_sup.join(top_part, "nationkey")

    def _grp(pdf: pd.DataFrame) -> pd.DataFrame:
        # the join grid repeats each supplier row per part row; recover
        # each side as a value MULTISET via its rank column (duplicate
        # balances must NOT collapse)
        a = [int(v) for v in pdf.drop_duplicates(["s_rk"])["s_cents"]]
        b = [int(v) for v in pdf.drop_duplicates(["p_rk"])["p_cents"]]
        rows, cols = (a, b) if len(a) <= len(b) else (b, a)
        cost = [[abs(r - c) for c in cols] for r in rows]
        return pd.DataFrame(
            {
                "nationkey": [int(pdf["nationkey"].iloc[0])],
                "n_assigned": [len(rows)],
                "min_total_cost_cents": [min_cost_assignment(cost)],
            }
        )

    return grid.groupBy("nationkey").applyInPandas(
        _grp,
        schema="nationkey long, n_assigned long, min_total_cost_cents long",
    )


# ---------------------------------------------------------------------------
# Round 11: association-rule mining (frequent part pairs, exact lift)
# ---------------------------------------------------------------------------

_ARM_TOP = 20
_ARM_MINSUP = 2


@register(
    "itemset_pair_lift",
    tags=("ML-stats", "A4", "O2"),
    oracle=f"""
WITH items AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
),
n AS (SELECT count(DISTINCT ok)::BIGINT AS n_orders FROM items),
sup AS (SELECT pk, count(*)::BIGINT AS s FROM items GROUP BY pk),
pairs AS (
  SELECT a.pk AS part_a, b.pk AS part_b, count(*)::BIGINT AS support_ab
  FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
  GROUP BY 1, 2
  HAVING count(*) >= {_ARM_MINSUP}
)
SELECT part_a, part_b, support_ab,
       CAST((support_ab::HUGEINT * n.n_orders::HUGEINT * 1000000)
            // (sa.s::HUGEINT * sb.s::HUGEINT) AS BIGINT) AS lift_micro,
       CAST((support_ab::HUGEINT * 1000000) // sa.s::HUGEINT AS BIGINT)
         AS conf_micro
FROM pairs
JOIN sup sa ON sa.pk = part_a
JOIN sup sb ON sb.pk = part_b
CROSS JOIN n
ORDER BY support_ab DESC, part_a, part_b
LIMIT {_ARM_TOP}
""",
)
def itemset_pair_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule mining over order baskets (Agrawal & Srikant,
    VLDB 1994 family): the top co-occurring part pairs with exact
    integer support, lift and confidence (micro-scaled DECIMAL(38,0)/
    HUGEINT division — bit-identical across engines at any sf). Scale
    shape: the pair generation is a posting-list self-join on the order
    key with pairs-per-order bounded by basket size (<= C(7,2) = 21 in
    TPC-H-shaped data), so pair volume grows LINEARLY with orders; the
    per-item supports are a tiny broadcast; the report is one
    TakeOrderedAndProject. A hot order (giant basket) is the same
    failure mode as exact dedup's hot fingerprint — cap basket size
    upstream."""
    li = load_table(spark, sf_dir, "lineitem")
    # Materialize the deduped basket relation: it feeds FOUR consumers
    # (the two pair-join sides, per-item support, the order count) and
    # each would otherwise re-scan lineitem (5 file scans measured; 1
    # after the materialization).
    items = materialize(
        li.select(
            F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
        ).distinct(),
        eager=True,
    )
    n_orders = items.agg(
        F.count_distinct("ok").cast("long").alias("n_orders")
    )
    sup = items.groupBy("pk").agg(F.count(F.lit(1)).cast("long").alias("s"))
    a = items.select(F.col("ok"), F.col("pk").alias("part_a"))
    b = items.select(F.col("ok"), F.col("pk").alias("part_b"))
    pairs = (
        a.join(b, "ok")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).cast("long").alias("support_ab"))
        .filter(F.col("support_ab") >= _ARM_MINSUP)
    )
    dec = "decimal(38,0)"
    enriched = (
        pairs.join(
            F.broadcast(sup.select(F.col("pk").alias("part_a"), F.col("s").alias("sa"))),
            "part_a",
        )
        .join(
            F.broadcast(sup.select(F.col("pk").alias("part_b"), F.col("s").alias("sb"))),
            "part_b",
        )
        .join(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            "support_ab",
            F.expr(
                f"CAST((CAST(support_ab AS {dec}) * CAST(n_orders AS {dec})"
                f" * 1000000) DIV (CAST(sa AS {dec}) * CAST(sb AS {dec}))"
                " AS BIGINT)"
            ).alias("lift_micro"),
            F.expr(
                f"CAST((CAST(support_ab AS {dec}) * 1000000)"
                f" DIV CAST(sa AS {dec}) AS BIGINT)"
            ).alias("conf_micro"),
        )
    )
    return enriched.orderBy(
        F.desc("support_ab"), "part_a", "part_b"
    ).limit(_ARM_TOP)


# ---------------------------------------------------------------------------
# Round 11: exact change-point detection on the bounded day grid
# ---------------------------------------------------------------------------


@register(
    "changepoint_daily_counts",
    tags=("A1", "W1", "LLM-stats"),
    oracle="""
WITH daily AS (
  SELECT event_type,
         CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
         CAST(count(*) AS BIGINT) AS c
  FROM events GROUP BY 1, 2
),
seq AS (
  SELECT event_type, day, c,
         CAST(row_number() OVER (PARTITION BY event_type ORDER BY day)
              AS BIGINT) AS t,
         sum(c) OVER (PARTITION BY event_type ORDER BY day
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS s1
  FROM daily
),
tot AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(c) AS BIGINT) AS s
  FROM daily GROUP BY 1
),
cand AS (
  SELECT q.event_type, q.t, q.day, q.s1, t.n, t.s,
         (q.s1 * q.s1 * (t.n - q.t) + (t.s - q.s1) * (t.s - q.s1) * q.t)
           AS g_num,
         q.t * (t.n - q.t) AS g_den
  FROM seq q JOIN tot t USING (event_type)
  WHERE q.t < t.n
)
SELECT a.event_type, a.t AS split_t, a.day AS split_day,
       a.t AS n1, a.n - a.t AS n2,
       CAST(a.s1 AS BIGINT) AS sum1, CAST(a.s - a.s1 AS BIGINT) AS sum2,
       CAST(a.g_num AS BIGINT) AS g_num, a.g_den,
       CAST(a.s1 * 1000000 // a.t AS BIGINT) AS mean1_micro,
       CAST((a.s - a.s1) * 1000000 // (a.n - a.t) AS BIGINT) AS mean2_micro
FROM cand a
WHERE NOT EXISTS (
  SELECT 1 FROM cand b
  WHERE b.event_type = a.event_type
    AND (b.g_num * a.g_den > a.g_num * b.g_den
         OR (b.g_num * a.g_den = a.g_num * b.g_den AND b.t < a.t))
)
""",
)
def changepoint_daily_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact single change-point detection per event type: the split of
    the daily-count series minimizing total within-segment SSE —
    equivalently (total sum-of-squares being split-invariant) maximizing
    G(k) = s1^2/n1 + s2^2/n2, which needs only PREFIX SUMS, never
    squares of the data. The argmax is EXACT RATIONAL: candidates carry
    (g_num, g_den) and the winner is selected by a cross-multiplied
    dominance anti-join on the bounded candidate set (<= days-1 rows
    per key) — no floating point, no division, ties broken to the
    earliest split in both engines by the same predicate. The offline
    exact counterpart of the streaming CUSUM detector already in the
    catalog. Scale shape: the fact table collapses to the (type x day)
    grid first (map-side combinable; the grid is bounded by the
    OBSERVATION SPAN, not SF), windows and the dominance join run on
    the grid only. BIGINT headroom documented in the unit pin:
    g_num*g_den' <= s^2*n^3/4 stays < 2^63 up to ~3.5e7 events/type
    on a 31-day span (sf10 is ~4e6/type, 8x margin);
    beyond that the same plan runs with DECIMAL(38,0) casts (the
    itemset_pair_lift pattern). Unit-pinned against Fraction-exact SSE
    brute force on random series."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.expr(
            "CAST(unix_micros(CAST(ts AS TIMESTAMP)) DIV 86400000000"
            " AS BIGINT)"
        ).alias("day"),
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    w_ord = Window.partitionBy("event_type").orderBy("day")
    seq = daily.select(
        "event_type",
        "day",
        "c",
        F.row_number().over(w_ord).cast("long").alias("t"),
        F.sum("c")
        .over(w_ord.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("s1"),
    )
    # Exact-rational argmax as ONE fold over the bounded per-type grid
    # (optimization round 11). The previous formulation materialized the
    # candidate relation through a dominance self-join (left_semi) plus
    # an anti-join — three full recomputations of the scan+agg+window
    # lineage and two join exchanges. The candidate set per key is
    # bounded by the OBSERVATION SPAN (<= days-1 rows), so the argmax
    # runs as array_sort(collect_list(...)) + aggregate() on the grid
    # relation the window already produced: same exact cross-multiplied
    # BIGINT dominance predicate, same earliest-t tie-break (ascending
    # fold replaces the accumulator only on STRICT improvement), same
    # overflow envelope (g_num * g_den' <= s^2*n^3/4, documented above).
    # Plan: 2 exchanges total, only the first touches fact-scale rows.
    per = (
        seq.groupBy("event_type")
        .agg(F.array_sort(F.collect_list(F.struct("t", "day", "s1"))).alias("arr"))
        .filter(F.size("arr") >= 2)
        .select(
            "event_type",
            "arr",
            F.size("arr").cast("long").alias("n"),
            F.element_at("arr", -1)["s1"].alias("s"),
        )
    )
    g_num_x = (
        "(x.s1 * x.s1 * (n - x.t) + (s - x.s1) * (s - x.s1) * x.t)"
    )
    best = per.select(
        "event_type",
        "n",
        "s",
        F.expr(
            f"""aggregate(
  slice(arr, 1, CAST(n - 1 AS INT)),
  named_struct('t', CAST(0 AS BIGINT), 'day', CAST(0 AS BIGINT),
               's1', CAST(0 AS BIGINT), 'g_num', CAST(-1 AS BIGINT),
               'g_den', CAST(0 AS BIGINT)),
  (acc, x) -> CASE WHEN {g_num_x} * acc.g_den
                   > acc.g_num * (x.t * (n - x.t))
              THEN named_struct('t', x.t, 'day', x.day, 's1', x.s1,
                                'g_num', {g_num_x},
                                'g_den', x.t * (n - x.t))
              ELSE acc END)"""
        ).alias("b"),
    )
    return best.select(
        "event_type",
        F.col("b.t").alias("split_t"),
        F.col("b.day").alias("split_day"),
        F.col("b.t").alias("n1"),
        (F.col("n") - F.col("b.t")).alias("n2"),
        F.col("b.s1").alias("sum1"),
        (F.col("s") - F.col("b.s1")).alias("sum2"),
        F.col("b.g_num").alias("g_num"),
        F.col("b.g_den").alias("g_den"),
        F.expr("b.s1 * 1000000 DIV b.t").alias("mean1_micro"),
        F.expr("(s - b.s1) * 1000000 DIV (n - b.t)").alias("mean2_micro"),
    )
