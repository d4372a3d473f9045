"""Distributed WordPiece segmentation (BERT's greedy longest-match-first
tokenizer) — the third tokenizer family beside BPE (operators/bpe.py)
and unigram-LM (operators/unigram.py), as pure DataFrame ops.

WordPiece segments each word by repeatedly taking the LONGEST vocabulary
piece that prefixes the remaining suffix; pieces at word-interior
positions are distinct "##"-continuation symbols. The vocabulary here is
derived deterministically from the corpus itself (frequency-thresholded
substrings, position-split into initial/continuation forms, single
characters always kept in both forms so segmentation never falls to
[UNK]) — the standard likelihood-trained vocabulary is a drop-in
replacement; the operator under test is the distributed greedy matcher.

Scale design (100 TB corpus): the ONLY corpus-scale pass is the initial
word-frequency aggregation (hash groupBy, partial-aggregated — the BPE
trainer's sharding). Everything after runs on the DISTINCT-WORD relation
(vocabulary-bounded, independent of corpus row count): the best-match
table is one explode + broadcast-vocab join + groupBy, and the greedy
walk is ``MAX_WORD_LEN`` relational steps, each advancing every
unfinished word by one piece (each step consumes ≥1 character, so the
loop is statically bounded). Lineage is cut per step with
materialize, the unigram DP's discipline.

Determinism / differential contract: greedy longest-match has no ties
(lengths are distinct), counts are exact integers, and the rendered
segmentation is pure string concatenation — the DuckDB oracle replays
vocab, match table and all walk steps as chained CTEs bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from stock_streaming_data_pipeline_spark.operators.checkpoint import materialize
from stock_streaming_data_pipeline_spark.operators.dedup import tokens
from stock_streaming_data_pipeline_spark.operators.retrieval import SQL_TOKENS

MAX_PIECE_LEN = 4  # longest vocabulary piece (raw characters, sans ##)
MAX_WORD_LEN = 8  # words longer than this are excluded (unigram's horizon)
MIN_PIECE_COUNT = 5  # weighted occurrence floor for multi-char pieces


def _word_counts(df: DataFrame, *, text_col: str) -> DataFrame:
    return (
        df.select(F.explode(tokens(F.col(text_col))).alias("w"))
        .filter(F.length("w") <= MAX_WORD_LEN)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("wc"))
    )


def _vocab(words: DataFrame) -> DataFrame:
    """(sub, is_cont): frequency-thresholded substrings split by
    position class — a piece seen only mid-word never matches at word
    start and vice versa. Single characters survive unconditionally
    (coverage: greedy always advances, no [UNK] path)."""
    subs = (
        words.select(
            "w", "wc", F.explode(F.sequence(F.lit(1), F.length("w"))).alias("s")
        )
        .select(
            "w",
            "wc",
            "s",
            F.explode(
                F.sequence(
                    F.lit(1),
                    F.least(F.lit(MAX_PIECE_LEN), F.length("w") - F.col("s") + 1),
                )
            ).alias("l"),
        )
        .select(
            F.expr("substring(w, s, l)").alias("sub"),
            (F.col("s") > 1).alias("is_cont"),
            "wc",
        )
        .groupBy("sub", "is_cont")
        .agg(F.sum("wc").alias("cnt"))
        .filter((F.col("cnt") >= MIN_PIECE_COUNT) | (F.length("sub") == 1))
    )
    return subs.select("sub", "is_cont")


def wordpiece_segment(df: DataFrame, *, text_col: str) -> DataFrame:
    """(w, wc, wordpieces, n_pieces): every distinct corpus word with its
    greedy longest-match WordPiece segmentation (continuations rendered
    ``##piece``, pieces space-joined) and corpus frequency."""
    words = materialize(_word_counts(df, text_col=text_col), eager=False)
    vocab = _vocab(words)

    # best-match table: at every (word, position), the longest vocab
    # piece of the right position class that matches there — the greedy
    # walk then just chases (pos -> pos + l) through this relation
    cand = (
        words.select(
            "w", F.explode(F.sequence(F.lit(1), F.length("w"))).alias("pos")
        )
        .select(
            "w",
            "pos",
            F.explode(
                F.sequence(
                    F.lit(1),
                    F.least(F.lit(MAX_PIECE_LEN), F.length("w") - F.col("pos") + 1),
                )
            ).alias("l"),
        )
        .select(
            "w",
            "pos",
            "l",
            F.expr("substring(w, pos, l)").alias("sub"),
            (F.col("pos") > 1).alias("is_cont"),
        )
    )
    best = materialize(
        cand.join(F.broadcast(vocab), ["sub", "is_cont"])
        .groupBy("w", "pos")
        .agg(F.max("l").alias("l")),
        eager=False,
    )

    cur = words.select(
        "w",
        "wc",
        F.lit(1).alias("pos"),
        F.lit("").alias("wordpieces"),
        F.lit(0).alias("n_pieces"),
    )
    for step in range(MAX_WORD_LEN):
        done = cur.filter(F.col("pos") > F.length("w"))
        active = (
            cur.filter(F.col("pos") <= F.length("w"))
            .join(best, ["w", "pos"])
            .select(
                "w",
                "wc",
                (F.col("pos") + F.col("l")).alias("pos"),
                F.concat(
                    "wordpieces",
                    F.when(F.col("pos") == 1, F.lit("")).otherwise(F.lit(" ##")),
                    F.expr("substring(w, pos, l)"),
                ).alias("wordpieces"),
                (F.col("n_pieces") + 1).alias("n_pieces"),
            )
        )
        cur = materialize(active.unionByName(done), eager=False)
    return cur.select("w", "wc", "wordpieces", "n_pieces")


def sql_wordpiece_ctes(*, text_col: str, table: str) -> list[str]:
    """CTE list replaying word counts, vocab, match table and the
    MAX_WORD_LEN greedy steps; the final CTE is ``seg{MAX_WORD_LEN}``."""
    toks = SQL_TOKENS.format(col=text_col)
    parts = [
        f"""words AS MATERIALIZED (
  SELECT w, count(*) AS wc FROM (
    SELECT unnest({toks}) AS w FROM {table}
  ) WHERE len(w) <= {MAX_WORD_LEN} GROUP BY w
)""",
        f"""wp_vocab AS MATERIALIZED (
  SELECT sub, is_cont FROM (
    SELECT substr(w, CAST(s.i AS INT), CAST(l.j AS INT)) AS sub,
           s.i > 1 AS is_cont, CAST(sum(wc) AS BIGINT) AS cnt
    FROM words,
         unnest(range(1, len(w) + 1)) AS s(i),
         unnest(range(1, {MAX_PIECE_LEN} + 1)) AS l(j)
    WHERE s.i + l.j - 1 <= len(w)
    GROUP BY 1, 2
  ) WHERE cnt >= {MIN_PIECE_COUNT} OR len(sub) = 1
)""",
        f"""best AS MATERIALIZED (
  SELECT w, pos, max(l) AS l FROM (
    SELECT words.w, CAST(p.i AS INT) AS pos, CAST(l.j AS INT) AS l,
           substr(words.w, CAST(p.i AS INT), CAST(l.j AS INT)) AS sub,
           p.i > 1 AS is_cont
    FROM words,
         unnest(range(1, len(w) + 1)) AS p(i),
         unnest(range(1, {MAX_PIECE_LEN} + 1)) AS l(j)
    WHERE p.i + l.j - 1 <= len(w)
  ) c JOIN wp_vocab v ON v.sub = c.sub AND v.is_cont = c.is_cont
  GROUP BY 1, 2
)""",
        """seg0 AS (
  SELECT w, wc, 1 AS pos, '' AS wordpieces, 0 AS n_pieces FROM words
)""",
    ]
    for step in range(MAX_WORD_LEN):
        parts.append(
            f"""seg{step + 1} AS (
  SELECT s.w, s.wc, s.pos + b.l AS pos,
         s.wordpieces ||
           (CASE WHEN s.pos = 1 THEN '' ELSE ' ##' END) ||
           substr(s.w, s.pos, b.l) AS wordpieces,
         s.n_pieces + 1 AS n_pieces
  FROM seg{step} s JOIN best b ON b.w = s.w AND b.pos = s.pos
  WHERE s.pos <= len(s.w)
  UNION ALL
  SELECT w, wc, pos, wordpieces, n_pieces FROM seg{step}
  WHERE pos > len(w)
)"""
        )
    return parts
