"""Time-series subsequence similarity search — z-normalized sliding
windows against a query pattern (the UCR-suite / matrix-profile family's
core primitive: "find where this SHAPE occurs, at any scale/offset").

Pipeline: per-key trailing window of the last ``m`` values (one
partitioned window pass, arrays built in-frame), z-normalize each
subsequence (amplitude/offset invariance — what makes this SHAPE search
rather than value search), squared Euclidean distance to the
z-normalized query pattern, global top-k by distance. Flat windows
(zero variance) carry no shape and are excluded — the standard UCR
convention.

Determinism discipline: the distance is round-6 before ranking and ties
break on (event_type, ts, id), so cross-engine double drift (~1e-15
from sum ordering inside aggregate lambdas) cannot reorder the top-k;
the z-normalized query is computed once driver-side from the literal
pattern and embedded in both plans as literals.

Scale shape: ONE partitioned window pass over the fact table (no
self-join — the naive form joins the series against itself m times),
map-side distance arithmetic, TakeOrderedAndProject for the top-k. At
100 TB the window pass shuffles once on the series key; skewed keys
salt like any other running-window computation (operators/running.py).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from stock_streaming_data_pipeline_spark.functions.scalars import round6
from stock_streaming_data_pipeline_spark.tables import sql_double


def znorm_pattern(pattern: list[float]) -> list[float]:
    """Driver-side z-normalization of the literal query pattern (m is
    tiny — this is the tokenizer-artifact-sized piece both engines embed
    as literals)."""
    m = len(pattern)
    mean = sum(pattern) / m
    var = sum((x - mean) ** 2 for x in pattern) / m
    sd = math.sqrt(var)
    if sd == 0.0:
        raise ValueError("subseq: flat query pattern has no shape")
    return [(x - mean) / sd for x in pattern]


def subsequence_topk(
    events: DataFrame,
    pattern: list[float],
    *,
    key_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
    value_col: str = "value",
    k: int = 20,
) -> DataFrame:
    """Top-k z-normalized matches of ``pattern`` across every per-key
    sliding window. Output: (event_type, ts_us, dist)."""
    q = znorm_pattern(pattern)
    m = len(q)
    w = (
        Window.partitionBy(key_col)
        .orderBy(F.col(ts_col), F.col(id_col))
        .rowsBetween(-(m - 1), 0)
    )
    sub = (
        events.select(key_col, ts_col, id_col, value_col)
        .withColumn("win", F.collect_list(value_col).over(w))
        .filter(F.size("win") == m)
    )
    mean = F.aggregate("win", F.lit(0.0), lambda a, x: a + x) / F.lit(float(m))
    sub = sub.withColumn("mu", mean)
    var = F.aggregate(
        "win", F.lit(0.0), lambda a, x: a + (x - F.col("mu")) * (x - F.col("mu"))
    ) / F.lit(float(m))
    sub = sub.withColumn("sd", F.sqrt(var)).filter(round6(F.col("sd")) > 0)
    qcol = F.array(*[F.lit(v) for v in q])
    diff = F.zip_with(
        "win", qcol, lambda x, qv: (x - F.col("mu")) / F.col("sd") - qv
    )
    dist = F.aggregate(diff, F.lit(0.0), lambda a, d: a + d * d)
    return (
        sub.withColumn("dist", round6(dist))
        .orderBy(F.asc("dist"), F.asc(key_col), F.asc(ts_col), F.asc(id_col))
        .limit(k)
        .select(
            key_col,
            F.unix_micros(F.col(ts_col)).alias("ts_us"),
            "dist",
        )
    )


def sql_subsequence_topk(
    pattern: list[float],
    *,
    trades_sql: str,
    k: int = 20,
) -> str:
    """DuckDB replay: the same window-array build (list() OVER a ROWS
    frame), the same z-norm/distance lattice, the same tie discipline.
    ``trades_sql`` must yield (event_type, ts, event_id, value)."""
    q = znorm_pattern(pattern)
    m = len(q)
    qlist = ", ".join(sql_double(v) for v in q)
    return f"""
WITH src AS ({trades_sql}),
sub AS (
  SELECT event_type, ts, event_id,
         list(value) OVER (
           PARTITION BY event_type ORDER BY ts, event_id
           ROWS BETWEEN {m - 1} PRECEDING AND CURRENT ROW
         ) AS win
  FROM src
),
full_wins AS (
  SELECT * FROM sub WHERE len(win) = {m}
),
stats AS (
  SELECT event_type, ts, event_id, win,
         list_reduce(list_prepend(0.0::DOUBLE, win), (a, x) -> a + x)
           / {float(m)} AS mu
  FROM full_wins
),
sdev AS (
  SELECT *, sqrt(list_reduce(list_prepend(0.0::DOUBLE,
             list_transform(win, x -> (x - mu) * (x - mu))), (a, x) -> a + x)
             / {float(m)}) AS sd
  FROM stats
),
scored AS (
  SELECT event_type, ts, event_id,
         round(list_reduce(list_prepend(0.0::DOUBLE,
           list_transform(range(1, {m} + 1),
             i -> ((win[i] - mu) / sd - ([{qlist}])[i])
                  * ((win[i] - mu) / sd - ([{qlist}])[i]))),
           (a, x) -> a + x), 6) AS dist
  FROM sdev WHERE round(sd, 6) > 0
)
SELECT event_type, epoch_us(ts) AS ts_us, dist
FROM scored
ORDER BY dist ASC, event_type ASC, ts ASC, event_id ASC
LIMIT {k}
"""


# Gaussian quartile breakpoints for a 4-symbol SAX alphabet (standard
# normal Φ⁻¹(0.25/0.5/0.75)) — public constants from the SAX papers,
# embedded as identical literals in both engines.
SAX_BREAKS = (-0.6744897501960817, 0.0, 0.6744897501960817)
SAX_ALPHABET = ("a", "b", "c", "d")


def sax_words(
    events: DataFrame,
    *,
    m: int = 8,
    segments: int = 4,
    key_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
    value_col: str = "value",
) -> DataFrame:
    """SAX (Symbolic Aggregate approXimation) over every per-key sliding
    window: z-normalize, PAA-average into ``segments`` pieces, map each
    segment mean to a 4-symbol alphabet via the Gaussian quartile
    breakpoints. Output: (event_type, sax_word, n_windows) — the bucket
    histogram a symbol-indexed shape store is built on (windows with the
    same word are shape-similar candidates; lookups touch one bucket
    instead of the series). Flat windows are excluded as in
    :func:`subsequence_topk`; segment-mean decisions are round-6 so the
    DuckDB replay buckets identically."""
    if m % segments:
        raise ValueError("sax: m must divide into segments")
    per = m // segments
    w = (
        Window.partitionBy(key_col)
        .orderBy(F.col(ts_col), F.col(id_col))
        .rowsBetween(-(m - 1), 0)
    )
    sub = (
        events.select(key_col, ts_col, id_col, value_col)
        .withColumn("win", F.collect_list(value_col).over(w))
        .filter(F.size("win") == m)
    )
    mean = F.aggregate("win", F.lit(0.0), lambda a, x: a + x) / F.lit(float(m))
    sub = sub.withColumn("mu", mean)
    var = F.aggregate(
        "win", F.lit(0.0), lambda a, x: a + (x - F.col("mu")) * (x - F.col("mu"))
    ) / F.lit(float(m))
    sub = sub.withColumn("sd", F.sqrt(var)).filter(round6(F.col("sd")) > 0)

    def seg_mean(k: int):
        s = F.lit(0.0)
        for j in range(per):
            s = s + F.element_at("win", k * per + j + 1)
        return round6(((s / F.lit(float(per))) - F.col("mu")) / F.col("sd"))

    def symbol(mcol):
        expr = F.lit(SAX_ALPHABET[-1])
        for b, sym in zip(reversed(SAX_BREAKS), reversed(SAX_ALPHABET[:-1])):
            expr = F.when(mcol < F.lit(b), F.lit(sym)).otherwise(expr)
        return expr

    word = F.concat(*[symbol(seg_mean(k)) for k in range(segments)])
    return (
        sub.withColumn("sax_word", word)
        .groupBy(key_col, "sax_word")
        .agg(F.count(F.lit(1)).alias("n_windows"))
    )


def sql_sax_words(*, trades_sql: str, m: int = 8, segments: int = 4) -> str:
    """DuckDB replay of :func:`sax_words`."""
    per = m // segments
    b1, b2, b3 = SAX_BREAKS

    def seg_mean(k: int) -> str:
        s = " + ".join(f"win[{k * per + j + 1}]" for j in range(per))
        return f"round((({s}) / {float(per)} - mu) / sd, 6)"

    def symbol(expr: str) -> str:
        return (
            f"CASE WHEN {expr} < ({sql_double(b1)}) THEN 'a' "
            f"WHEN {expr} < ({sql_double(b2)}) THEN 'b' "
            f"WHEN {expr} < ({sql_double(b3)}) THEN 'c' ELSE 'd' END"
        )

    word = " || ".join(symbol(seg_mean(k)) for k in range(segments))
    return f"""
WITH src AS ({trades_sql}),
sub AS (
  SELECT event_type, ts, event_id,
         list(value) OVER (
           PARTITION BY event_type ORDER BY ts, event_id
           ROWS BETWEEN {m - 1} PRECEDING AND CURRENT ROW
         ) AS win
  FROM src
),
full_wins AS (SELECT * FROM sub WHERE len(win) = {m}),
stats AS (
  SELECT *, list_reduce(list_prepend(0.0::DOUBLE, win), (a, x) -> a + x)
              / {float(m)} AS mu
  FROM full_wins
),
sdev AS (
  SELECT *, sqrt(list_reduce(list_prepend(0.0::DOUBLE,
             list_transform(win, x -> (x - mu) * (x - mu))), (a, x) -> a + x)
             / {float(m)}) AS sd
  FROM stats
),
words AS (
  SELECT event_type, {word} AS sax_word
  FROM sdev WHERE round(sd, 6) > 0
)
SELECT event_type, sax_word, count(*) AS n_windows
FROM words GROUP BY 1, 2
"""


def motif_pairs(
    events: DataFrame,
    *,
    m: int = 8,
    segments: int = 4,
    k: int = 10,
    key_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
    value_col: str = "value",
) -> DataFrame:
    """Motif discovery — the top-k closest NON-OVERLAPPING window pairs
    per series, found the scalable way: candidate pairs come only from
    windows sharing a SAX bucket (the LSH-style pruning that avoids the
    all-pairs O(n²) matrix profile), then each candidate pair is
    verified with the exact z-normalized distance. Trivial matches
    (overlapping windows) are excluded by requiring the windows' series
    positions to differ by at least ``m`` — the UCR convention. Output:
    (event_type, sax_word, pos_a, pos_b, dist), global top-k by
    (dist, key, positions).

    Scale shape: the bucket self-join is keyed by (series, word) —
    bounded the way LSH band buckets are; a pathologically hot bucket
    (a series stuck in one shape) is capped the same way as hot LSH
    buckets (split on a secondary word or sample the bucket)."""
    if m % segments:
        raise ValueError("motif: m must divide into segments")
    per = m // segments
    wpos = Window.partitionBy(key_col).orderBy(F.col(ts_col), F.col(id_col))
    w = wpos.rowsBetween(-(m - 1), 0)
    sub = (
        events.select(key_col, ts_col, id_col, value_col)
        .withColumn("pos", F.row_number().over(wpos))
        .withColumn("win", F.collect_list(value_col).over(w))
        .filter(F.size("win") == m)
    )
    mean = F.aggregate("win", F.lit(0.0), lambda a, x: a + x) / F.lit(float(m))
    sub = sub.withColumn("mu", mean)
    var = F.aggregate(
        "win", F.lit(0.0), lambda a, x: a + (x - F.col("mu")) * (x - F.col("mu"))
    ) / F.lit(float(m))
    sub = sub.withColumn("sd", F.sqrt(var)).filter(round6(F.col("sd")) > 0)

    def seg_mean(kk: int):
        s = F.lit(0.0)
        for j in range(per):
            s = s + F.element_at("win", kk * per + j + 1)
        return round6(((s / F.lit(float(per))) - F.col("mu")) / F.col("sd"))

    def symbol(mcol):
        expr = F.lit(SAX_ALPHABET[-1])
        for b, sym in zip(reversed(SAX_BREAKS), reversed(SAX_ALPHABET[:-1])):
            expr = F.when(mcol < F.lit(b), F.lit(sym)).otherwise(expr)
        return expr

    word = F.concat(*[symbol(seg_mean(kk)) for kk in range(segments)])
    tagged = sub.select(
        F.col(key_col).alias("key"),
        "pos",
        "win",
        "mu",
        "sd",
        word.alias("sax_word"),
    )
    a = tagged.alias("a")
    b = tagged.alias("b")
    pairs = a.join(
        b,
        (F.col("a.key") == F.col("b.key"))
        & (F.col("a.sax_word") == F.col("b.sax_word"))
        & (F.col("b.pos") - F.col("a.pos") >= m),
    )
    zdiff = F.zip_with(
        F.col("a.win"),
        F.col("b.win"),
        lambda x, y: (x - F.col("a.mu")) / F.col("a.sd")
        - (y - F.col("b.mu")) / F.col("b.sd"),
    )
    dist = round6(F.aggregate(zdiff, F.lit(0.0), lambda acc, d: acc + d * d))
    return (
        pairs.select(
            F.col("a.key").alias("event_type"),
            F.col("a.sax_word").alias("sax_word"),
            F.col("a.pos").alias("pos_a"),
            F.col("b.pos").alias("pos_b"),
            dist.alias("dist"),
        )
        .orderBy(
            F.asc("dist"),
            F.asc("event_type"),
            F.asc("pos_a"),
            F.asc("pos_b"),
        )
        .limit(k)
    )


def sql_motif_pairs(
    *, trades_sql: str, m: int = 8, segments: int = 4, k: int = 10
) -> str:
    """DuckDB replay of :func:`motif_pairs`."""
    per = m // segments
    b1, b2, b3 = SAX_BREAKS

    def seg_mean(kk: int) -> str:
        s = " + ".join(f"win[{kk * per + j + 1}]" for j in range(per))
        return f"round((({s}) / {float(per)} - mu) / sd, 6)"

    def symbol(expr: str) -> str:
        return (
            f"CASE WHEN {expr} < ({sql_double(b1)}) THEN 'a' "
            f"WHEN {expr} < ({sql_double(b2)}) THEN 'b' "
            f"WHEN {expr} < ({sql_double(b3)}) THEN 'c' ELSE 'd' END"
        )

    word = " || ".join(symbol(seg_mean(kk)) for kk in range(segments))
    return f"""
WITH src AS ({trades_sql}),
sub AS (
  SELECT event_type AS key,
         row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id)
           AS pos,
         list(value) OVER (
           PARTITION BY event_type ORDER BY ts, event_id
           ROWS BETWEEN {m - 1} PRECEDING AND CURRENT ROW
         ) AS win
  FROM src
),
full_wins AS (SELECT * FROM sub WHERE len(win) = {m}),
stats AS (
  SELECT *, list_reduce(list_prepend(0.0::DOUBLE, win), (a, x) -> a + x)
              / {float(m)} AS mu
  FROM full_wins
),
sdev AS (
  SELECT *, sqrt(list_reduce(list_prepend(0.0::DOUBLE,
             list_transform(win, x -> (x - mu) * (x - mu))), (a, x) -> a + x)
             / {float(m)}) AS sd
  FROM stats
),
tagged AS (
  SELECT key, pos, win, mu, sd, {word} AS sax_word
  FROM sdev WHERE round(sd, 6) > 0
),
pairs AS (
  SELECT a.key AS event_type, a.sax_word AS sax_word,
         a.pos AS pos_a, b.pos AS pos_b,
         round(list_reduce(list_prepend(0.0::DOUBLE,
           list_transform(range(1, {m} + 1),
             i -> ((a.win[i] - a.mu) / a.sd - (b.win[i] - b.mu) / b.sd)
                  * ((a.win[i] - a.mu) / a.sd - (b.win[i] - b.mu) / b.sd))),
           (acc, d) -> acc + d), 6) AS dist
  FROM tagged a JOIN tagged b
    ON a.key = b.key AND a.sax_word = b.sax_word AND b.pos - a.pos >= {m}
)
SELECT event_type, sax_word, pos_a, pos_b, dist
FROM pairs
ORDER BY dist ASC, event_type ASC, pos_a ASC, pos_b ASC
LIMIT {k}
"""


def dtw_pairwise(
    profiles: DataFrame,
    *,
    key_col: str = "key",
    pos_col: str = "pos",
    val_col: str = "v",
    band: int = 3,
    max_len: int = 10,
) -> DataFrame:
    """Pairwise Dynamic Time Warping distance between every two keys'
    integer profiles — the elastic-alignment similarity that tolerates
    phase shift/stretch where Euclidean/correlation cannot. Classic
    Sakoe-Chiba banded DP (|i−j| ≤ band) over INTEGER profiles (e.g.
    milli-means) with |x−y| local cost: pure integer min/plus algebra,
    so no rounding rule is even needed for cross-engine exactness.

    Execution shape: the in-band cells of each pair are grouped into a
    per-pair lc MAP, and the whole banded recurrence runs INSIDE ONE
    Catalyst expression — an ``F.aggregate`` over rows whose accumulator
    is the previous DP row, with a nested ``F.aggregate`` over columns
    (the dp[i][j-1] within-row dependency rides the inner accumulator).
    Whole-stage-codegen JVM arithmetic, ONE shuffle (the groupBy on the
    pair key), zero job barriers. The earlier draft ran the DP as an
    anti-diagonal wavefront of ``2·max_len−1`` chained relations — i.e.
    ~40 Spark jobs with shuffles for a ≤70-cell-per-pair problem; at any
    scale that is pure scheduler overhead, while this form distributes
    over pairs like any other aggregation. The DuckDB oracle
    (:func:`sql_dtw_pairwise`) still replays the recurrence as unrolled
    anti-diagonal CTEs — same integer recurrence, exact equality.

    Unreachable convention (matches the oracle's ``cost < INF`` filter):
    a cell is INF when its lc is out-of-band/absent or no in-band path
    reaches it; pairs whose final (na, nb) cell is unreachable (length
    gap > band) are dropped from the output, exactly as the oracle's
    final join finds no row for them.

    Scale shape: profiles are aggregates (bounded: keys × max_len rows);
    the all-pairs comparison touches keys² SKETCHES, never raw series,
    and each pair's O(max_len · band) DP runs map-side in its task.
    """
    if max_len >= 1024:
        raise ValueError("dtw_pairwise: max_len must be < 1024 (lc key packing)")
    INF = 10**15
    nmax = 1024
    prof = profiles.select(
        F.col(key_col).alias("key"),
        F.col(pos_col).alias("pos"),
        F.col(val_col).cast("long").alias("v"),
    ).filter(F.col("pos") <= max_len)
    lens = prof.groupBy("key").agg(F.max("pos").alias("n"))
    ka = lens.select(
        F.col("key").alias("key_a"), F.col("n").alias("na")
    )
    kb = lens.select(
        F.col("key").alias("key_b"), F.col("n").alias("nb")
    )
    pairs = ka.join(kb, F.col("key_a") < F.col("key_b"))
    pa = prof.select(
        F.col("key").alias("key_a"), F.col("pos").alias("i"), F.col("v").alias("xa")
    )
    pb = prof.select(
        F.col("key").alias("key_b"), F.col("pos").alias("j"), F.col("v").alias("xb")
    )
    # all in-band cells with their local cost, bounded relation
    cells = (
        pairs.join(pa, "key_a")
        .join(pb, "key_b")
        .filter(F.abs(F.col("i") - F.col("j")) <= band)
        .select(
            "key_a",
            "key_b",
            "na",
            "nb",
            F.col("i").cast("long").alias("i"),
            F.col("j").cast("long").alias("j"),
            F.abs(F.col("xa") - F.col("xb")).cast("long").alias("lc"),
        )
    )
    grouped = cells.groupBy("key_a", "key_b", "na", "nb").agg(
        F.map_from_entries(
            F.collect_list(
                F.struct(
                    (F.col("i") * nmax + F.col("j")).alias("k"),
                    F.col("lc").alias("v"),
                )
            )
        ).alias("lc")
    )
    inf = F.lit(INF).cast("long")

    def _dp_cell(prev, cur, i, j):
        # prev: row i-1 as array where element_at(arr, t) = dp[i-1][t-1];
        # cur: row i prefix (columns 0..j-1) in the same layout.
        lcv = F.element_at(F.col("lc"), i.cast("long") * nmax + j.cast("long"))
        m = F.least(
            F.element_at(prev, j + 1),  # dp[i-1][j]
            F.element_at(prev, j),      # dp[i-1][j-1]
            F.element_at(cur, j),       # dp[i][j-1]
        )
        return F.when(lcv.isNull() | (m >= inf), inf).otherwise(lcv + m)

    # virtual row 0: dp[0][0] = 0 (the (1,1) base case enters through the
    # diagonal move), dp[0][j>0] = INF; every row's column 0 is INF.
    row0 = F.concat(
        F.array(F.lit(0).cast("long")),
        F.array_repeat(inf, F.col("nb").cast("int")),
    )
    last_row = F.aggregate(
        F.sequence(F.lit(1), F.col("na").cast("int")),
        row0,
        lambda prev, i: F.aggregate(
            F.sequence(F.lit(1), F.col("nb").cast("int")),
            F.array(inf),
            lambda cur, j: F.concat(cur, F.array(_dp_cell(prev, cur, i, j))),
        ),
    )
    return (
        grouped.select(
            "key_a",
            "key_b",
            F.element_at(last_row, F.col("nb").cast("int") + 1).alias("dtw"),
        )
        .filter(F.col("dtw") < inf)
    )


def sql_dtw_pairwise(
    *, profiles_sql: str, band: int = 3, max_len: int = 10
) -> str:
    """DuckDB replay of :func:`dtw_pairwise`. ``profiles_sql`` must
    yield (key, pos, v) with integer v."""
    parts = [
        f"prof AS MATERIALIZED (SELECT key, pos, CAST(v AS BIGINT) AS v "
        f"FROM ({profiles_sql}) WHERE pos <= {max_len})",
        "lens AS MATERIALIZED (SELECT key, max(pos) AS n FROM prof GROUP BY key)",
        """pairs AS MATERIALIZED (
  SELECT a.key AS key_a, b.key AS key_b, a.n AS na, b.n AS nb
  FROM lens a JOIN lens b ON a.key < b.key
)""",
        f"""cells AS MATERIALIZED (
  SELECT p.key_a, p.key_b, p.na, p.nb, pa.pos AS i, pb.pos AS j,
         abs(pa.v - pb.v) AS lc
  FROM pairs p
  JOIN prof pa ON pa.key = p.key_a
  JOIN prof pb ON pb.key = p.key_b
  WHERE abs(pa.pos - pb.pos) <= {band}
)""",
        """f2 AS MATERIALIZED (
  SELECT key_a, key_b, i, j, CAST(lc AS BIGINT) AS cost
  FROM cells WHERE i = 1 AND j = 1
)""",
    ]
    inf = 10**15
    top_d = 2 * max_len
    for d in range(3, top_d + 1):
        p1, p2 = f"f{d - 1}", f"f{d - 2}"
        diag_join = (
            f"LEFT JOIN {p2} dg ON dg.key_a = c.key_a AND dg.key_b = c.key_b "
            "AND dg.i = c.i - 1 AND dg.j = c.j - 1"
            if d >= 4
            else ""
        )
        diag_expr = "coalesce(dg.cost, " + str(inf) + ")" if d >= 4 else str(inf)
        parts.append(
            f"""f{d} AS MATERIALIZED (
  SELECT key_a, key_b, i, j, cost FROM (
    SELECT c.key_a, c.key_b, c.i, c.j,
           c.lc + least(coalesce(up.cost, {inf}),
                        coalesce(lf.cost, {inf}),
                        {diag_expr}) AS cost
    FROM cells c
    LEFT JOIN {p1} up ON up.key_a = c.key_a AND up.key_b = c.key_b
      AND up.i = c.i - 1 AND up.j = c.j
    LEFT JOIN {p1} lf ON lf.key_a = c.key_a AND lf.key_b = c.key_b
      AND lf.i = c.i AND lf.j = c.j - 1
    {diag_join}
    WHERE c.i + c.j = {d} AND (c.i > 1 OR c.j > 1)
  ) WHERE cost < {inf}
)"""
        )
    finals = " UNION ALL ".join(
        f"SELECT f.key_a, f.key_b, f.cost AS dtw FROM f{d} f "
        "JOIN pairs p ON p.key_a = f.key_a AND p.key_b = f.key_b "
        "AND f.i = p.na AND f.j = p.nb"
        for d in range(2, top_d + 1)
    )
    return "WITH " + ",\n".join(parts) + f"\n{finals}"
