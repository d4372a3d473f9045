"""Distributed minimum spanning forest via Borůvka's algorithm.

An MST over a similarity / co-occurrence graph is the classic "backbone"
extraction: keep the strongest link structure while deleting cycles —
the skeleton single-linkage clustering, taxonomy induction and HDBSCAN's
core all build on. The reference pipeline has no graph analytics at all
(its 223-line Spark job is windowed aggregation —
/root/reference/scripts/StreamProcessing/ProcessStockStream.py); this
operator is part of the repo's large-scale curation mandate.

Why Borůvka and not Prim/Kruskal: Prim grows one tree sequentially
(inherently serial), Kruskal needs a global edge sort + a sequential
union-find pass. Borůvka is the textbook parallel MST: every round each
component selects its minimum outgoing edge INDEPENDENTLY (a per-key
aggregate — embarrassingly parallel), the selected edges merge
components, and the component count at least halves per round, so the
loop is O(log n) rounds of join + groupBy regardless of cluster size.
That is exactly the shape Spark executes well: each round is one
shuffle-join (edge endpoints → labels) and one map-combined min
aggregate; the contraction runs on the component graph, whose size also
halves per round. Driver-side state is one convergence counter per
round — no edge or node data ever reaches the driver.

Correctness requires a TOTAL ORDER on edges (ties in weight break
Borůvka's no-cycle guarantee): the selection key is the struct
(weight, u, v), unique per edge, so the selected edge set per round is
cycle-free and the result is THE unique MST under that order — which is
what makes the operator exactly oracle-able: the DuckDB-side witness
re-derives the forest with KRUSKAL (a genuinely different algorithm:
global sort + union-find) over the same edge relation, and both must
produce identical per-component totals. Unit tests add a third
algorithm (Prim) on random graphs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stock_streaming_data_pipeline_spark.operators.checkpoint import truncate_lineage
from stock_streaming_data_pipeline_spark.tables import duck_connection, values_sql


def boruvka_mst(
    edges: DataFrame,
    *,
    src: str = "u",
    dst: str = "v",
    weight: str = "w",
    max_rounds: int = 20,
) -> tuple[DataFrame, DataFrame]:
    """Minimum spanning forest of an undirected weighted graph.

    ``edges`` must carry one row per undirected edge with ``src < dst``
    and an integer weight. Returns ``(mst_edges, labels)``:
    ``mst_edges(u, v, w)`` the forest edges, ``labels(node, component)``
    every node labeled with the min node id of its tree.

    Each round: (1) attach current component labels to both endpoints,
    drop intra-component edges; (2) per component take the minimum
    (w, u, v) outgoing edge — ``min(struct(...))`` is a map-combined
    aggregate, one shuffle on the component id; (3) contract. The
    selected per-round graph is a PSEUDO-FOREST — every component has
    exactly one outgoing pointer (across its min edge), and the unique
    (w, u, v) total order guarantees each merged group contains exactly
    one mutual-min 2-cycle. So contraction needs no general CC: break
    the 2-cycle into a self-loop at the smaller endpoint, then pure
    pointer jumping (par = par[par], one self-equi-join per hop on the
    component-sized relation, O(log depth) hops). Roots are the 2-cycle
    minima — unique per group, which is all the next round needs; the
    final labels are canonicalized to min-node-id once, after the loop.
    Lineage is cut per round with :func:`truncate_lineage`, NOT plain
    :func:`materialize`: this loop self-joins its own checkpoints, the
    exact shape that trips Spark 4.1's lazy checkpoint-stats rewrite
    into exponential driver-side planning (measured knee at ~18
    iterations; see operators/checkpoint.py for the jstack diagnosis
    and the isolated reproduction)."""
    e = truncate_lineage(
        edges.select(
            F.col(src).cast("long").alias("u"),
            F.col(dst).cast("long").alias("v"),
            F.col(weight).cast("long").alias("w"),
        ),
        eager=False,
    )
    labels = truncate_lineage(
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .distinct()
        .withColumn("component", F.col("node"))
    )
    mst = None
    for _ in range(max_rounds):
        lu = labels.select(
            F.col("node").alias("u"), F.col("component").alias("cu")
        )
        lv = labels.select(
            F.col("node").alias("v"), F.col("component").alias("cv")
        )
        cross = (
            e.join(lu, "u").join(lv, "v").filter(F.col("cu") != F.col("cv"))
        )
        # Per-component minimum outgoing edge under the (w, u, v) total
        # order; each edge may be selected by both endpoints' components,
        # so the selected set is deduped on (u, v). The two per-endpoint
        # candidate rows come from ONE pass via explode(array(...)) —
        # a union of two projections would recompute the label-join
        # subtree twice per round (guide §2.4: duplicated subtrees).
        cand = cross.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("cu").alias("comp"),
                        F.col("w"),
                        F.col("u"),
                        F.col("v"),
                        F.col("cv").alias("other"),
                    ),
                    F.struct(
                        F.col("cv").alias("comp"),
                        F.col("w"),
                        F.col("u"),
                        F.col("v"),
                        F.col("cu").alias("other"),
                    ),
                )
            ).alias("x")
        ).select("x.comp", "x.w", "x.u", "x.v", "x.other")
        sel = truncate_lineage(
            cand.groupBy("comp")
            .agg(F.min(F.struct("w", "u", "v", "other")).alias("m"))
            .select(
                F.col("comp"),
                F.col("m.w").alias("w"),
                F.col("m.u").alias("u"),
                F.col("m.v").alias("v"),
                F.col("m.other").alias("other"),
            )
        )
        if sel.isEmpty():
            break
        picked = sel.select("u", "v", "w").dropDuplicates(["u", "v"])
        mst = picked if mst is None else mst.unionByName(picked)
        mst = truncate_lineage(mst)
        # Contract the pseudo-forest comp -> other. Break each merged
        # group's unique mutual-min 2-cycle (par[par] == comp) into a
        # self-loop at the smaller endpoint — that root is a valid
        # unique representative for the next round (canonical min-node
        # labels are restored once, after the loop).
        p = sel.select("comp", F.col("other").alias("par"))
        gp = p.select(F.col("comp").alias("gc"), F.col("par").alias("gpar"))
        p = truncate_lineage(
            p.join(gp, p.par == gp.gc, "left")
            .select(
                "comp",
                F.when(
                    (F.col("gpar") == F.col("comp"))
                    & (F.col("comp") < F.col("par")),
                    F.col("comp"),
                ).otherwise(F.col("par")).alias("par"),
            )
        )
        # Pointer jumping: par <- par[par] until fixed point; tree depth
        # halves per hop, so O(log depth) self-equi-joins of the
        # component-sized relation. The convergence count rides the
        # same job that materializes the hop (lazy checkpoint).
        while True:
            hop = p.select(F.col("comp").alias("c2"), F.col("par").alias("p2"))
            nxt = truncate_lineage(
                p.join(hop, p.par == hop.c2, "left")
                .select(
                    "comp",
                    F.col("par"),
                    F.coalesce(F.col("p2"), F.col("par")).alias("newpar"),
                ),
                eager=False,
            )
            changed = nxt.filter(F.col("par") != F.col("newpar")).count()
            p = nxt.select("comp", F.col("newpar").alias("par"))
            if changed == 0:
                break
        labels = truncate_lineage(
            labels.join(p, labels.component == p.comp, "left")
            .select(
                "node",
                F.coalesce(F.col("par"), F.col("component")).alias(
                    "component"
                ),
            )
        )
    if mst is None:
        mst = edges.sparkSession.createDataFrame([], "u long, v long, w long")
        return mst, labels
    # Canonicalize representatives to the min node id of each tree (the
    # documented output contract; one bounded groupBy + one join).
    canon = labels.groupBy("component").agg(F.min("node").alias("canon"))
    labels = labels.join(canon, "component").select(
        "node", F.col("canon").alias("component")
    )
    return mst, labels


def kruskal_components(
    edge_rows: list[tuple[int, int, int]],
) -> dict[int, tuple[int, int]]:
    """Kruskal witness: sort by (w, u, v), sequential union-find. Returns
    {component_min_node: (n_nodes, total_weight)} — the independent
    derivation the Borůvka result must match exactly."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:
            parent[x], x = r, parent[x]
        return r

    nodes = set()
    for u, v, _ in edge_rows:
        nodes.add(u)
        nodes.add(v)
    for n in nodes:
        parent[n] = n
    total: dict[int, int] = {n: 0 for n in nodes}
    for w, u, v in sorted((w, u, v) for u, v, w in edge_rows):
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
            total[min(ru, rv)] = total[ru] + total[rv] + w
    out: dict[int, tuple[int, int]] = {}
    sizes: dict[int, int] = {}
    for n in nodes:
        sizes[find(n)] = sizes.get(find(n), 0) + 1
    for r, sz in sizes.items():
        out[r] = (sz, total[r])
    return out


def prim_total_weight(edge_rows: list[tuple[int, int, int]]) -> int:
    """Third-algorithm witness (unit tests only): Prim per component via
    a heap, summed over the forest."""
    import heapq
    from collections import defaultdict

    adj: dict[int, list[tuple[int, int]]] = defaultdict(list)
    nodes = set()
    for u, v, w in edge_rows:
        adj[u].append((w, v))
        adj[v].append((w, u))
        nodes.add(u)
        nodes.add(v)
    seen: set[int] = set()
    total = 0
    for start in sorted(nodes):
        if start in seen:
            continue
        seen.add(start)
        heap = list(adj[start])
        heapq.heapify(heap)
        while heap:
            w, x = heapq.heappop(heap)
            if x in seen:
                continue
            seen.add(x)
            total += w
            for item in adj[x]:
                if item[1] not in seen:
                    heapq.heappush(heap, item)
    return total


def sql_mst_components_expected(
    sf_dir: str,
    edges_cte: str,
    *,
    top: int = 20,
) -> str:
    """Literal-VALUES oracle: read the edge relation via DuckDB (the
    differentially trusted sub-plan — identical SQL both engines can
    run), derive the forest with KRUSKAL in exact Python integers, and
    emit the per-component summary. Borůvka (Spark) vs Kruskal (here)
    is an independent-algorithm witness, not a replay."""
    con = duck_connection(sf_dir)
    rows = con.execute(
        f"WITH e AS ({edges_cte}) SELECT u, v, w FROM e"
    ).fetchall()
    con.close()
    comps = kruskal_components([(int(u), int(v), int(w)) for u, v, w in rows])
    ranked = sorted(
        ((sz, tw, root) for root, (sz, tw) in comps.items()),
        key=lambda t: (-t[0], -t[1], t[2]),
    )[:top]
    return values_sql(
        "component BIGINT, n_nodes BIGINT, n_edges BIGINT, total_weight BIGINT",
        [(root, sz, sz - 1, tw) for sz, tw, root in ranked],
    )
