"""Distributed graph operators: PageRank over document-similarity graphs.

A curation pipeline ranks documents by centrality in the near-duplicate /
similarity graph (e.g. to pick cluster representatives, or to weight
crawl frontiers); connected components (operators/dedup.py) already
labels the clusters — PageRank scores the nodes.

Portability discipline: ranks live as exact micro-unit BIGINTs between
iterations. Each step is
    r'(v) = round(0.15·10⁶/N) + round(0.85 · Σ_{u→v} (r(u) div deg(u)))
— integer div for contributions, exact BIGINT sums, one double multiply
+ half-away round per term. Every engine computes identical integers at
every iteration, so the DuckDB oracle can unroll the loop into chained
CTEs (the Lloyd-loop trick from the kmeans oracle) and match bit-for-bit.
The integer truncation (mass lost to ``div``) is part of the operator's
defined semantics — deterministic, bounded by deg·1 micro-unit per node.

Scale shape per iteration: one join ranks⋈edges (shuffle on src — edges
pre-partitioned by src stay co-located across iterations) + one groupBy
dst (partial-aggregated). A materialization per round bounds lineage.
Degrees are computed once. No driver-side data, no UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from stock_streaming_data_pipeline_spark.functions.scalars import dec38, half_away
from stock_streaming_data_pipeline_spark.operators.checkpoint import materialize
from stock_streaming_data_pipeline_spark.tables import duck_connection, values_sql

SCALE = 1_000_000


def pagerank(
    edges: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
    iters: int = 3,
    damping: float = 0.85,
) -> DataFrame:
    """PageRank on a directed edge list (feed each undirected edge in
    both directions). Returns (node, rank_micro, rank) — rank_micro is
    the exact integer state, rank its double rendering.

    Nodes are the union of endpoints; every node in the graph has
    out-degree ≥ 1 when edges are symmetrized, so no dangling-mass
    redistribution is needed (asymmetric graphs should add self-loops
    first)."""
    e = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).dropDuplicates(["src", "dst"])
    nodes = materialize(
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct(),
        eager=False,
    )
    # n is ONE scalar (parameter-bounded driver traffic, the documented
    # exception) — as a literal it keeps every ranks rebuild a NARROW op
    # over the hash(node)-partitioned nodes relation, where the previous
    # crossJoin(broadcast(n_nodes)) hid the partitioning from the
    # planner and re-shuffled ranks every iteration. float(n) == CAST(n
    # AS DOUBLE) exactly for any feasible node count (< 2^53), so the
    # arithmetic is bit-identical.
    n = nodes.count()
    if n == 0:
        # Empty graph: the literal base/init terms below would divide by
        # zero at constant folding (ANSI); the old broadcast-column form
        # never evaluated them because there were no rows. The node
        # field's type is derived from the input edges schema so an
        # empty graph returns the same schema a caller with non-long
        # node ids would get from the non-empty path (round-11 advice).
        from pyspark.sql.types import (
            DoubleType,
            LongType,
            StructField,
            StructType,
        )

        schema = StructType(
            [
                StructField("node", e.schema["src"].dataType, True),
                StructField("rank_micro", LongType(), True),
                StructField("rank", DoubleType(), True),
            ]
        )
        return edges.sparkSession.createDataFrame([], schema)
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    base = half_away(F.lit((1.0 - damping) * SCALE) / F.lit(float(n)), 0)
    init = half_away(F.lit(float(SCALE)) / F.lit(float(n)), 0)
    ranks = nodes.select("node", init.alias("r"))
    # Degrees attach to edges ONCE, outside the loop (the per-iteration
    # deg join re-aggregated the edge list every round); repartition by
    # src so the checkpointed relation is co-partitioned with ranks
    # (hash(node)) and each iteration's only exchange is the contribution
    # groupBy — the irreducible PageRank shuffle (guide §2.4).
    ed = materialize(
        e.join(deg, "src")
        .select("src", "dst", "deg")
        .repartition("src"),
        eager=False,
    )
    for _ in range(iters):
        contrib = ranks.join(ed, ranks["node"] == ed["src"]).select(
            F.col("dst").alias("node"),
            F.expr("r div deg").alias("c"),
        )
        summed = contrib.groupBy("node").agg(F.sum("c").alias("s"))
        ranks = materialize(
            nodes.join(summed, "node", "left")
            .na.fill({"s": 0})
            .select(
                "node",
                (
                    base
                    + half_away(F.lit(damping) * F.col("s").cast("double"), 0)
                ).alias("r"),
            ),
            eager=False,
        )
    return ranks.select(
        "node",
        F.col("r").alias("rank_micro"),
        F.round(F.col("r").cast("double") / F.lit(float(SCALE)), 6).alias(
            "rank"
        ),
    )


def sql_pagerank(
    edges_cte: str,
    *,
    iters: int = 3,
    damping: float = 0.85,
) -> str:
    """DuckDB replay of :func:`pagerank`. ``edges_cte`` must be the body
    of a CTE named ``edges`` yielding (src, dst), already symmetrized and
    deduplicated. Returns the full SELECT."""
    base = f"CAST(round({(1.0 - damping) * SCALE} / nn.n::DOUBLE, 0) AS BIGINT)"
    parts = [
        f"edges AS ({edges_cte})",
        "nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges)",
        "nn AS (SELECT count(*) AS n FROM nodes)",
        "deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src)",
        f"""r0 AS (
  SELECT node, CAST(round({SCALE}.0 / nn.n::DOUBLE, 0) AS BIGINT) AS r
  FROM nodes CROSS JOIN nn
)""",
    ]
    for i in range(iters):
        parts.append(
            f"""s{i} AS (
  SELECT e.dst AS node, sum(r.r // d.deg) AS s
  FROM r{i} r JOIN edges e ON r.node = e.src JOIN deg d ON d.src = e.src
  GROUP BY e.dst
)"""
        )
        parts.append(
            f"""r{i + 1} AS (
  SELECT n.node,
         {base} + CAST(round({damping} * coalesce(s.s, 0)::DOUBLE, 0) AS BIGINT) AS r
  FROM nodes n LEFT JOIN s{i} s USING (node) CROSS JOIN nn
)"""
        )
    body = ",\n".join(parts)
    return f"""
WITH {body}
SELECT node, r AS rank_micro,
       round(r::DOUBLE / {SCALE}.0, 6) AS rank
FROM r{iters}
"""


def sql_pagerank_expected(
    sf_dir: str,
    edges_cte: str,
    *,
    iters: int = 3,
    damping: float = 0.85,
) -> str:
    """Literal-VALUES oracle for :func:`pagerank` — the bounded-memory
    replacement for :func:`sql_pagerank` at large scale factors. The
    unrolled-CTE oracle re-derives the (expensive) edge relation inside
    every iteration CTE, which made DuckDB disk-bound at sf1; here the
    edge list is computed ONCE in DuckDB (the same ``edges_cte`` SQL the
    unrolled oracle used — a differentially trusted sub-plan) and the
    rank fixed point runs in exact Python integers replicating the
    operator's defined arithmetic: init/base = floor(x + 0.5) on the
    positive doubles SCALE/n and (1-d)*SCALE/n, contributions r // deg
    (both engines truncate; ranks are non-negative so trunc == floor),
    exact integer sums, one double multiply d * s per node with
    floor(+0.5) rounding — the identical IEEE operations Spark performs
    (operators/graph.py:36 pagerank). Memory is O(edges + nodes); the
    OPQ/xxh64 literal-oracle precedent."""
    import math

    con = duck_connection(sf_dir)
    edges = con.execute(
        f"WITH e AS ({edges_cte}) SELECT DISTINCT src, dst FROM e"
    ).fetchall()
    con.close()

    schema = "node BIGINT, rank_micro BIGINT, rank DOUBLE"
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    if not nodes:
        return values_sql(schema, [])
    n = len(nodes)
    deg: dict[int, int] = {}
    out_adj: dict[int, list[int]] = {}
    for s, d in edges:
        deg[s] = deg.get(s, 0) + 1
        out_adj.setdefault(s, []).append(d)
    base = math.floor((1.0 - damping) * SCALE / float(n) + 0.5)
    r = {v: math.floor(float(SCALE) / float(n) + 0.5) for v in nodes}
    for _ in range(iters):
        s_acc = {v: 0 for v in nodes}
        for u, dsts in out_adj.items():
            c = r[u] // deg[u]
            for v in dsts:
                s_acc[v] += c
        r = {
            v: base + math.floor(damping * float(s_acc[v]) + 0.5)
            for v in nodes
        }
    return values_sql(schema, [(v, r[v], r[v] / float(SCALE)) for v in nodes])


def triangles(
    pairs: DataFrame, *, a_col: str = "doc_a", b_col: str = "doc_b"
) -> DataFrame:
    """Triangle enumeration on an undirected edge list (one row per
    unordered pair) via DEGREE-ORIENTED wedge closing — the standard
    scalable formulation (Cohen 2009 MapReduce triangles; the
    node-iterator join would explode on hubs).

    Each undirected edge is oriented low→high by the total order
    (degree, node): every triangle then has exactly ONE wedge
    a→b→c with a closing oriented edge a→c, so each triangle is
    emitted exactly once. The orientation bounds every node's
    out-degree at O(√m) regardless of hub size — a celebrity node with
    10⁶ neighbors contributes wedges only through its (few) HIGHER-rank
    neighbors, so the wedge join's intermediate is Σ out_deg² = O(m^1.5)
    worst-case instead of Σ deg² (quadratic in the hub).

    Shape: one degree aggregation, two broadcast-or-shuffle joins to
    rank endpoints, one self-join on the wedge pivot, one semi-ish
    closing join. Output: (node_a, node_b, node_c) sorted ascending per
    row — engine-neutral and directly comparable to a three-way-join
    oracle.
    """
    # canonicalize to (min, max) BEFORE deduping: an input carrying both
    # orientations of an edge would otherwise survive as two rows and
    # double every wedge (and every degree) downstream
    e = (
        pairs.select(
            F.least(F.col(a_col), F.col(b_col)).alias("u"),
            F.greatest(F.col(a_col), F.col(b_col)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .dropDuplicates(["u", "v"])
    )
    sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("deg"))

    # orient low→high by (deg, node); carried rank keeps the comparison
    # one join downstream instead of re-joining degrees per edge side
    ranked = (
        sym.join(deg.withColumnRenamed("u", "n"), F.col("u") == F.col("n"))
        .select("u", "v", F.col("deg").alias("deg_u"))
        .join(
            deg.select(F.col("u").alias("n"), F.col("deg").alias("deg_v")),
            F.col("v") == F.col("n"),
        )
        .select("u", "v", "deg_u", "deg_v")
    )
    # materialize: the oriented edge list feeds BOTH wedge sides and the
    # closing join — without this the upstream pair derivation (often an
    # expensive aggregation, e.g. the co-purchase basket mining) runs
    # three times
    oriented = materialize(
        ranked.filter(
            (F.col("deg_u") < F.col("deg_v"))
            | ((F.col("deg_u") == F.col("deg_v")) & (F.col("u") < F.col("v")))
        )
        .select("u", "v"),
        eager=False,
    )

    wedge = oriented.alias("e1").join(
        oriented.alias("e2"), F.col("e1.v") == F.col("e2.u")
    ).select(
        F.col("e1.u").alias("a"), F.col("e1.v").alias("b"), F.col("e2.v").alias("c")
    )
    tri = wedge.join(
        oriented.select(F.col("u").alias("a"), F.col("v").alias("c")),
        ["a", "c"],
    )
    # canonical ascending ids per triangle row (orientation order is by
    # degree, not id)
    arr = F.array_sort(F.array("a", "b", "c"))
    return tri.select(
        arr[0].alias("node_a"), arr[1].alias("node_b"), arr[2].alias("node_c")
    )


def kcore(
    pairs: DataFrame,
    *,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    k: int = 2,
    rounds: int = 5,
) -> DataFrame:
    """Fixed-round k-core peeling on an undirected edge list: each round
    recomputes degrees over edges whose BOTH endpoints survive, then
    drops nodes below ``k``. ``rounds`` is a static plan parameter (the
    classic peeling converges when a round removes nothing; a fixed
    horizon keeps the plan finite and the oracle replayable) — the
    caller picks it ≥ the observed convergence depth. Returns the
    surviving (node, degree) relation after the last round.

    Scale shape per round: one semi-join of edges against the alive set
    (shrinking monotonically), one degree aggregate — linear in edges,
    lineage cut per round with materialize (the PageRank loop's
    discipline)."""
    e = materialize(
        pairs.select(
            F.least(F.col(a_col), F.col(b_col)).alias("u"),
            F.greatest(F.col(a_col), F.col(b_col)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .dropDuplicates(["u", "v"]),
        eager=False,
    )
    alive = (
        e.select(F.col("u").alias("n"))
        .unionByName(e.select(F.col("v").alias("n")))
        .distinct()
    )
    out = None
    for _ in range(rounds):
        live_e = e.join(
            alive.select(F.col("n").alias("u")), "u"
        ).join(alive.select(F.col("n").alias("v")), "v")
        deg = (
            live_e.select(F.col("u").alias("n"))
            .unionByName(live_e.select(F.col("v").alias("n")))
            .groupBy("n")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        out = materialize(deg.filter(F.col("deg") >= k), eager=False)
        alive = out.select("n")
    return out.select(F.col("n").alias("node"), F.col("deg").alias("degree"))


def label_propagation(
    pairs: DataFrame,
    *,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    rounds: int = 4,
) -> DataFrame:
    """Fixed-round synchronous label propagation (Raghavan et al.'s LPA)
    on an undirected edge list — community detection by majority vote:
    labels start as node ids; each round every node adopts the label
    held by the PLURALITY of its neighbors, ties broken toward the
    smallest label (the determinism knob — classic LPA breaks ties
    randomly, which would be oracle-hostile). ``rounds`` is a static
    plan parameter like :func:`kcore`'s. Returns (node, community)
    after the last round.

    Scale shape per round: one join labels⋈edges shuffled on the edge
    endpoint + one two-level aggregate — the plurality election is
    ``min_by(label, (-votes, label))`` folded into a single
    ``min(struct)`` per node (skew-free: a mega-degree node's votes
    partial-aggregate map-side, never a ranking window). Lineage cut
    per round with materialize."""
    und = (
        pairs.select(
            F.least(F.col(a_col), F.col(b_col)).alias("u"),
            F.greatest(F.col(a_col), F.col(b_col)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .dropDuplicates(["u", "v"])
    )
    e = materialize(
        und.select(F.col("u").alias("src"), F.col("v").alias("dst"))
        .unionByName(und.select(F.col("v").alias("src"), F.col("u").alias("dst"))),
        eager=False,
    )
    labels = (
        e.select(F.col("src").alias("n"))
        .distinct()
        .select("n", F.col("n").alias("lab"))
    )
    for _ in range(rounds):
        votes = e.join(
            labels.select(F.col("n").alias("dst"), "lab"), "dst"
        ).select(F.col("src").alias("n"), "lab")
        counts = votes.groupBy("n", "lab").agg(F.count(F.lit(1)).alias("c"))
        labels = materialize(
            counts.groupBy("n")
            .agg(F.min(F.struct((-F.col("c")).alias("nc"), F.col("lab"))).alias("w"))
            .select("n", F.col("w.lab").alias("lab")),
            eager=False,
        )
    return labels.select(F.col("n").alias("node"), F.col("lab").alias("community"))


def bfs_hops(
    edges: DataFrame,
    seeds: DataFrame,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
    seed_col: str = "node",
    rounds: int = 4,
) -> DataFrame:
    """Fixed-round breadth-first reachability from a seed set on a
    directed edge list (feed both directions for undirected): returns
    (node, dist) — the minimum hop count from any seed, for every node
    within ``rounds`` hops. Each round relaxes one hop: candidates =
    frontier⋈edges plus the settled set, then one min-aggregate per
    node (map-side combinable — a mega-degree hub's candidate rows
    collapse before the shuffle). Lineage cut per round with
    materialize, the :func:`kcore` discipline. ``rounds`` is a
    static plan parameter so the oracle can replay the loop as chained
    CTEs."""
    e = materialize(
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst")),
        eager=False,
    )
    dist = materialize(
        seeds.select(
            F.col(seed_col).alias("node"), F.lit(0).cast("long").alias("dist")
        ),
        eager=False,
    )
    for _ in range(rounds):
        hop = (
            e.join(dist.select(F.col("node").alias("src"), "dist"), "src")
            .select(F.col("dst").alias("node"), (F.col("dist") + 1).alias("dist"))
        )
        dist = materialize(
            dist.unionByName(hop)
            .groupBy("node")
            .agg(F.min("dist").alias("dist")),
            eager=False,
        )
    return dist


def hits(edges: DataFrame, *, rounds: int = 3) -> tuple[DataFrame, DataFrame]:
    """HITS (hubs & authorities) power iteration on a directed bipartite
    edge set ``(u, i)`` — hubs on the ``u`` side, authorities on ``i``.
    Each round is the textbook pair of sparse matvecs, hub = E . auth
    then auth = E^T . hub, expressed as join + map-combined groupBy sums
    (the :func:`pagerank` discipline: no ranking windows, lineage cut per
    round with materialize).

    Engine-portability/determinism design: NO per-round normalization —
    float division would make every score a sum of doubles (order-
    dependent across engines); instead scores stay EXACT integers in
    DECIMAL(38,0) and the caller normalizes once at the end (a single
    int->double cast is deterministic). Integer growth is a factor of
    at most (max_u deg * max_i deg) per round — for deeper iterations or
    extreme-skew graphs, switch to power-of-two scaling per round (still
    exact in binary floating point); at ``rounds<=3`` the 38-digit
    headroom covers even hot-key degrees in the 1e6 range.

    Returns ``(hubs, auths)``: (u, h) and (i, a) with exact decimal
    scores after ``rounds`` full rounds.
    """
    e = materialize(edges, eager=False)
    auth = (
        e.groupBy("i")
        .agg(F.count(F.lit(1)).alias("_d"))
        .select("i", dec38(F.lit(1)).alias("a"))
    )
    hub = None
    for _ in range(rounds):
        hub = materialize(
            e.join(auth, "i")
            .groupBy("u")
            .agg(dec38(F.sum("a")).alias("h")),
            eager=False,
        )
        auth = materialize(
            e.join(hub, "u")
            .groupBy("i")
            .agg(dec38(F.sum("h")).alias("a")),
            eager=False,
        )
    return hub, auth
