"""Keyword-retrieval operators: BM25 ranking and TF-IDF term profiles.

The lexical-search counterpart of the embedding ANN tier in
operators/similarity.py — a training-data pipeline uses these for
corpus search, hard-negative text mining, and keyword-based filtering,
and a reference user gets the classic "search my documents" query the
embedding tier can't answer lexically.

Portability discipline (same rules as operators/finance.py): tf / df /
dl / N are exact integers from one tokenize-explode-aggregate pass;
idf — the only transcendental — is rounded to 6 decimals immediately;
every per-term partial score is snapped to an exact micro-unit BIGINT
before any cross-term summation, so aggregation order (Spark partial
aggs vs DuckDB) cannot perturb the final ranking, and ties break on
term/doc ids. No UDFs — tokenization is the same codegen-native
split/lower the dedup tier uses.

Scale shape: one shuffle keyed by term to build the (term, df) postings
stats, one keyed by (doc, term) for tf. Query-term lists are tiny and
broadcast; the corpus never joins itself. At 100 TB the posting stats
table is vocabulary-sized (millions of rows, not corpus-sized) and the
scoring join is a broadcast of |query| rows against the tf table with
the term filter pushed into the scan of the posting projection.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from stock_streaming_data_pipeline_spark.functions.scalars import (
    half_away,
    half_up,
    round6,
)
from stock_streaming_data_pipeline_spark.operators.dedup import tokens

# DuckDB-side tokenizer — identical contract to operators/dedup.tokens.
SQL_TOKENS = "list_filter(regexp_split_to_array(lower({col}), '\\s+'), t -> t <> '')"


def term_frequencies(
    df: DataFrame, *, id_col: str, text_col: str
) -> tuple[DataFrame, DataFrame]:
    """(tf, dl): per-(doc, term) counts and per-doc lengths, one
    tokenize-explode pass each — both exact integers."""
    toks = df.select(
        F.col(id_col).alias("doc"), tokens(F.col(text_col)).alias("toks")
    )
    dl = toks.select("doc", F.size("toks").alias("dl")).filter(F.col("dl") > 0)
    tf = (
        toks.select("doc", F.explode("toks").alias("term"))
        .groupBy("doc", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return tf, dl


def bm25_topk(
    df: DataFrame,
    query_terms: Sequence[str],
    *,
    id_col: str,
    text_col: str,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 top-k documents for a bag of query terms.

    idf(t) = ln(1 + (N − df + 0.5)/(df + 0.5)), rounded to 6 before use;
    per-term partial = idf · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl)),
    snapped to micro-units; doc score = exact BIGINT sum of partials.
    Top-k orders by (score desc, doc asc) — fully deterministic.
    """
    tf, dl = term_frequencies(df, id_col=id_col, text_col=text_col)
    n_docs = dl.agg(
        F.count(F.lit(1)).alias("n"), F.sum("dl").alias("sdl")
    )
    q = df.sparkSession.createDataFrame(
        [(t,) for t in sorted(set(query_terms))], "term string"
    )
    # postings stats only for the query terms: the term filter is a tiny
    # broadcast semi-join, so df/tf never materialize for the rest of the
    # vocabulary.
    tfq = tf.join(F.broadcast(q), "term")
    dfreq = tfq.groupBy("term").agg(F.countDistinct("doc").alias("df"))
    n_d = F.col("n").cast("double")
    idf = round6(
        F.log(
            F.lit(1.0)
            + (n_d - F.col("df") + F.lit(0.5)) / (F.col("df") + F.lit(0.5))
        )
    )
    avgdl = F.col("sdl").cast("double") / n_d
    tf_d = F.col("tf").cast("double")
    partial = (
        F.col("idf")
        * tf_d
        * F.lit(k1 + 1.0)
        / (tf_d + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * F.col("dl") / avgdl))
    )
    stats = (
        dfreq.crossJoin(F.broadcast(n_docs))
        .withColumn("idf", idf)
        .select("term", "idf")
    )
    scored = (
        tfq.join(F.broadcast(stats), "term")
        .join(dl, "doc")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc",
            half_away(partial, 6).alias("part_micro"),
        )
    )
    return (
        scored.groupBy("doc")
        .agg(F.sum("part_micro").alias("score_micro"))
        .orderBy(F.desc("score_micro"), F.asc("doc"))
        .limit(k)
        .select(
            "doc",
            round6(F.col("score_micro").cast("double") / F.lit(1e6)).alias(
                "bm25"
            ),
        )
    )


def sql_bm25_topk(
    query_terms: Sequence[str],
    *,
    id_col: str,
    text_col: str,
    table: str = "documents",
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> str:
    """DuckDB replay of bm25_topk — identical expression tree."""
    toks = SQL_TOKENS.format(col=text_col)
    terms = ", ".join(f"('{t}')" for t in sorted(set(query_terms)))
    return f"""
WITH t AS (SELECT {id_col} AS doc, {toks} AS toks FROM {table}),
dl AS (SELECT doc, len(toks) AS dl FROM t WHERE len(toks) > 0),
tf AS (
  SELECT doc, unnest(toks) AS term FROM t
),
tfc AS (SELECT doc, term, count(*) AS tf FROM tf GROUP BY 1, 2),
q(term) AS (VALUES {terms}),
tfq AS (SELECT tfc.* FROM tfc JOIN q USING (term)),
nd AS (SELECT count(*) AS n, sum(dl) AS sdl FROM dl),
dfreq AS (
  SELECT term,
         round(ln(1.0 + ((SELECT n FROM nd)::DOUBLE
                         - count(DISTINCT doc) + 0.5)
                   / (count(DISTINCT doc) + 0.5)), 6) AS idf
  FROM tfq GROUP BY term
),
scored AS (
  SELECT tfq.doc,
         CAST(round(d.idf * tfq.tf::DOUBLE * {k1 + 1.0}
                    / (tfq.tf::DOUBLE + {k1} * ({1.0 - b} + {b} * dl.dl
                       / (nd.sdl::DOUBLE / nd.n::DOUBLE))) * 1000000.0, 0)
              AS BIGINT) AS part_micro
  FROM tfq JOIN dfreq d USING (term) JOIN dl USING (doc) CROSS JOIN nd
)
SELECT doc, round(sum(part_micro)::DOUBLE / 1000000.0, 6) AS bm25
FROM scored GROUP BY doc
ORDER BY sum(part_micro) DESC, doc ASC
LIMIT {k}
"""


def tfidf_top_terms(
    df: DataFrame, *, id_col: str, text_col: str, top: int = 3
) -> DataFrame:
    """Top-``top`` TF-IDF terms per document — the per-doc keyword
    profile used for topic tagging and near-duplicate explanation.

    score(t, d) = (tf/dl) · idf, idf = ln(N/df) rounded to 6; snapped to
    micro-units so ranking is integer-exact; ties break on the term.
    The per-doc window partitions on doc — W3-shaped, never hot.
    """
    tf, dl = term_frequencies(df, id_col=id_col, text_col=text_col)
    n_docs = dl.agg(F.count(F.lit(1)).alias("n"))
    dfreq = tf.groupBy("term").agg(F.countDistinct("doc").alias("df"))
    idf = round6(F.log(F.col("n").cast("double") / F.col("df")))
    scored = (
        tf.join(dl, "doc")
        .join(dfreq, "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("idf", idf)
    )
    raw = (
        F.col("tf").cast("double")
        / F.col("dl").cast("double")
        * F.col("idf")
    )
    w = Window.partitionBy("doc").orderBy(
        F.desc("score_micro"), F.asc("term")
    )
    return (
        scored.select(
            "doc",
            "term",
            half_away(raw, 6).alias("score_micro"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top)
        .select(
            "doc",
            "term",
            "rank",
            round6(F.col("score_micro").cast("double") / F.lit(1e6)).alias(
                "tfidf"
            ),
        )
    )


def sql_tfidf_top_terms(
    *, id_col: str, text_col: str, table: str = "documents", top: int = 3
) -> str:
    toks = SQL_TOKENS.format(col=text_col)
    return f"""
WITH t AS (SELECT {id_col} AS doc, {toks} AS toks FROM {table}),
dl AS (SELECT doc, len(toks) AS dl FROM t WHERE len(toks) > 0),
tfc AS (
  SELECT doc, term, count(*) AS tf
  FROM (SELECT doc, unnest(toks) AS term FROM t) GROUP BY 1, 2
),
nd AS (SELECT count(*) AS n FROM dl),
dfreq AS (SELECT term, count(DISTINCT doc) AS df FROM tfc GROUP BY term),
scored AS (
  SELECT tfc.doc, tfc.term,
         CAST(round(tfc.tf::DOUBLE / dl.dl::DOUBLE
                    * round(ln(nd.n::DOUBLE / dfreq.df), 6)
                    * 1000000.0, 0) AS BIGINT) AS score_micro
  FROM tfc JOIN dl USING (doc) JOIN dfreq USING (term) CROSS JOIN nd
),
ranked AS (
  SELECT doc, term, score_micro,
         row_number() OVER (PARTITION BY doc
                            ORDER BY score_micro DESC, term ASC) AS rank
  FROM scored
)
SELECT doc, term, rank,
       round(score_micro::DOUBLE / 1000000.0, 6) AS tfidf
FROM ranked WHERE rank <= {top}
"""


def hash_embed(
    df: DataFrame,
    *,
    id_col: str,
    text_col: str,
    dim: int = 16,
    salt: str = "hemb",
) -> DataFrame:
    """Feature-hashing document embeddings (the hashing trick): each
    token maps to a bucket via the portable hash, with a sign bit from a
    second hash (the classic collision-debiasing trick); the vector is
    the signed token-count per bucket, L2-normalized. Deterministic and
    model-free — the bridge that lets the ANN/semantic-dedup tier run
    over a TEXT corpus with no external embedding model, and fully
    oracle-able (counts are integers; the one sqrt is IEEE-exact).

    One tokenize-explode-aggregate pass; output (id, embedding
    array<double>). Rows whose text has no tokens are dropped (no
    zero-vector to normalize)."""
    from pyspark.sql import functions as F

    from stock_streaming_data_pipeline_spark.operators.dedup import (
        portable_hash,
        tokens,
    )

    toks = df.select(
        F.col(id_col).alias("_id"), F.explode(tokens(F.col(text_col))).alias("t")
    )
    bucket = (portable_hash(F.col("t"), salt=salt) % dim).cast("int")
    sign = F.when(
        portable_hash(F.col("t"), salt=salt + "s") % 2 == 0, F.lit(1)
    ).otherwise(F.lit(-1))
    counts = (
        toks.select("_id", bucket.alias("b"), sign.alias("s"))
        .groupBy("_id", "b")
        .agg(F.sum("s").alias("c"))
    )
    m = counts.groupBy("_id").agg(
        F.map_from_entries(F.collect_list(F.struct("b", "c"))).alias("m")
    )
    dense = m.select(
        "_id",
        F.transform(
            F.sequence(F.lit(0), F.lit(dim - 1)),
            lambda i: F.coalesce(
                F.element_at(F.col("m"), i.cast("int")), F.lit(0)
            ).cast("double"),
        ).alias("raw"),
    )
    norm = F.sqrt(
        F.aggregate(F.col("raw"), F.lit(0.0), lambda a, x: a + x * x)
    )
    return dense.filter(norm > 0).select(
        F.col("_id").alias(id_col),
        F.transform(F.col("raw"), lambda x: x / norm).alias("embedding"),
    )


def sql_hash_embed(
    *,
    id_col: str,
    text_col: str,
    table: str = "documents",
    dim: int = 16,
    salt: str = "hemb",
) -> str:
    """DuckDB CTE (named ``hemb``) replaying :func:`hash_embed`."""
    from stock_streaming_data_pipeline_spark.operators.dedup import (
        sql_portable_hash,
    )

    toks = SQL_TOKENS.format(col=text_col)
    hb = sql_portable_hash("t", salt=salt)
    hs = sql_portable_hash("t", salt=salt + "s")
    return f"""hemb AS (
  WITH tk AS (
    SELECT {id_col} AS _id, unnest({toks}) AS t FROM {table}
  ),
  cnt AS (
    SELECT _id, CAST({hb} % {dim} AS INT) AS b,
           sum(CASE WHEN {hs} % 2 = 0 THEN 1 ELSE -1 END) AS c
    FROM tk GROUP BY 1, 2
  ),
  grid AS (
    SELECT d._id, CAST(u.i AS INT) AS b
    FROM (SELECT DISTINCT _id FROM cnt) d, unnest(range(0, {dim})) AS u(i)
  ),
  dense AS (
    SELECT g._id, list(coalesce(c.c, 0)::DOUBLE ORDER BY g.b) AS raw
    FROM grid g LEFT JOIN cnt c ON c._id = g._id AND c.b = g.b
    GROUP BY g._id
  ),
  nrm AS (
    SELECT _id, raw,
           sqrt(list_reduce(list_prepend(0.0::DOUBLE,
             list_transform(raw, x -> x * x)), (a, x) -> a + x)) AS n
    FROM dense
  )
  SELECT _id AS {id_col},
         list_transform(raw, x -> x / n) AS embedding
  FROM nrm WHERE n > 0
)"""


def rrf_fusion(
    docs: DataFrame,
    query_terms: Sequence[str],
    *,
    id_col: str,
    text_col: str,
    k: int = 10,
    pool: int = 20,
    dim: int = 32,
    k0: int = 60,
) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion (the standard way a
    RAG / hard-negative-mining pipeline combines a lexical and a
    semantic ranker without score calibration): run BM25 and
    hash-embedding cosine for the SAME query, take each ranker's
    ``pool`` best, and score every pooled document
    ``sum(1 / (k0 + rank))`` over the lists it appears in
    (Cormack/Clarke/Buettcher's k0=60 default).

    Determinism discipline: each 1/(k0+rank) term is rounded to 6 and
    snapped to micro-units before the cross-list sum (order-insensitive
    BIGINT addition); both rank lists break ties on doc id; the final
    order is (fused score desc, doc asc). The semantic query vector is
    the hash-embedding of the query terms joined as a pseudo-document —
    same featurizer, salt and dimension as the corpus, so the whole
    hybrid stack stays model-free and SQL-replayable.

    Scale shape: BM25 is the broadcast-terms postings plan of
    :func:`bm25_topk`; the cosine side is one map-side dot product
    against a single broadcast query vector + TakeOrderedAndProject;
    the fusion itself joins two ≤pool-row relations.
    """
    q_text = " ".join(sorted(set(query_terms)))
    spark = docs.sparkSession

    lex = bm25_topk(
        docs, query_terms, id_col=id_col, text_col=text_col, k=pool
    ).select(
        "doc",
        F.row_number()
        .over(Window.orderBy(F.desc("bm25"), F.asc("doc")))
        .alias("bm25_rank"),
    )

    corpus_plus_q = docs.select(
        F.col(id_col).cast("long").alias(id_col), F.col(text_col)
    ).unionByName(
        spark.createDataFrame([(-1, q_text)], f"{id_col} long, {text_col} string")
    )
    emb = hash_embed(corpus_plus_q, id_col=id_col, text_col=text_col, dim=dim)
    qvec = emb.filter(F.col(id_col) == -1).select(
        F.col("embedding").alias("qe")
    )
    dot = F.aggregate(
        F.zip_with("embedding", "qe", lambda a, b: a * b),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    sem = (
        emb.filter(F.col(id_col) != -1)
        .crossJoin(F.broadcast(qvec))
        .select(F.col(id_col).alias("doc"), round6(dot).alias("cosine"))
        .orderBy(F.desc("cosine"), F.asc("doc"))
        .limit(pool)
        .select(
            "doc",
            F.row_number()
            .over(Window.orderBy(F.desc("cosine"), F.asc("doc")))
            .alias("cos_rank"),
        )
    )

    def contrib(rank_col: str):
        return F.when(
            F.col(rank_col).isNotNull(),
            half_up(F.round(F.lit(1.0) / (F.lit(k0) + F.col(rank_col)), 6), 6),
        ).otherwise(F.lit(0))

    fused = (
        lex.join(sem, "doc", "full_outer")
        .select(
            "doc",
            "bm25_rank",
            "cos_rank",
            (contrib("bm25_rank") + contrib("cos_rank"))
            .cast("long")
            .alias("rrf_micro"),
        )
        .orderBy(F.desc("rrf_micro"), F.asc("doc"))
        .limit(k)
        .select(
            "doc",
            round6(F.col("rrf_micro").cast("double") / F.lit(1e6)).alias("rrf"),
            F.col("bm25_rank").cast("long").alias("bm25_rank"),
            F.col("cos_rank").cast("long").alias("cos_rank"),
        )
    )
    return fused


def sql_rrf_fusion(
    query_terms: Sequence[str],
    *,
    id_col: str,
    text_col: str,
    table: str = "documents",
    k: int = 10,
    pool: int = 20,
    dim: int = 32,
    k0: int = 60,
) -> str:
    """DuckDB replay of :func:`rrf_fusion` — same two rankers, same
    micro-unit fusion."""
    q_text = " ".join(sorted(set(query_terms)))
    bm25_sql = sql_bm25_topk(
        query_terms, id_col=id_col, text_col=text_col, table=table, k=pool
    )
    corpus_plus_q = (
        f"(SELECT {id_col}, {text_col} FROM {table} "
        f"UNION ALL SELECT -1, '{q_text}')"
    )
    hemb = sql_hash_embed(
        id_col=id_col, text_col=text_col, table=corpus_plus_q, dim=dim
    )
    contrib = (
        "CASE WHEN {r} IS NULL THEN 0 ELSE "
        f"CAST(floor(round(1.0 / ({k0} + {{r}}), 6) * 1000000.0 + 0.5) AS BIGINT) "
        "END"
    )
    return f"""
WITH lexs AS ({bm25_sql}),
lex AS (
  SELECT doc, CAST(row_number() OVER (ORDER BY bm25 DESC, doc ASC) AS BIGINT)
           AS bm25_rank
  FROM lexs
),
{hemb},
qv AS (SELECT embedding AS qe FROM hemb WHERE {id_col} = -1),
sems AS (
  SELECT {id_col} AS doc,
         round(list_reduce(list_prepend(0.0::DOUBLE,
           list_transform(range(1, len(embedding) + 1),
             i -> (embedding)[i] * (qv.qe)[i])), (a, x) -> a + x), 6) AS cosine
  FROM hemb, qv WHERE {id_col} <> -1
  ORDER BY cosine DESC, doc ASC LIMIT {pool}
),
sem AS (
  SELECT doc, CAST(row_number() OVER (ORDER BY cosine DESC, doc ASC) AS BIGINT)
           AS cos_rank
  FROM sems
),
fused AS (
  SELECT coalesce(lex.doc, sem.doc) AS doc, lex.bm25_rank, sem.cos_rank,
         {contrib.format(r="lex.bm25_rank")} + {contrib.format(r="sem.cos_rank")}
           AS rrf_micro
  FROM lex FULL OUTER JOIN sem ON lex.doc = sem.doc
)
SELECT doc, round(rrf_micro::DOUBLE / 1000000.0, 6) AS rrf,
       bm25_rank, cos_rank
FROM fused ORDER BY rrf_micro DESC, doc ASC LIMIT {k}
"""
