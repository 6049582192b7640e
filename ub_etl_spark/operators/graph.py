"""Distributed graph primitives on DataFrame ops (no GraphX/GraphFrames
dependency): degree-oriented triangle counting and level-synchronous BFS.

Family context: the repo's graph tier already holds PageRank
(queries/mlprep.graph_pagerank_trade), connected components two ways
(operators/dedup: min-label propagation + large-star/small-star), and
recursive hierarchy flattening (queries/advanced.hierarchy_flatten_paths).
These two complete the classic quartet (ranking / components / triangles
/ distances).

Scale notes
-----------
- ``count_triangles`` uses the degree-orientation trick (Suri &
  Vassilvitskii's MapReduce triangle counting, WWW'11 — public
  literature): every undirected edge is directed from its lower-degree
  endpoint to the higher (ties by id), so each node's out-degree is
  O(sqrt(m)) and the wedge join generates O(m^{3/2}) candidates total —
  the worst-case-optimal bound — instead of Σ deg² for a naive
  neighbor-pair expansion (catastrophic on hub nodes).  Both joins are
  plain equi hash joins; nothing is ever collected.
- ``bfs_distances`` is level-synchronous frontier expansion like
  hierarchy_flatten_paths: one equi join per level, frontier anti-joined
  against the visited set; rounds are bounded by graph diameter.  Each
  frontier is tracked_persist()ed so levels never recompute.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ub_etl_spark.session import tracked_persist


def canonical_edges(pairs: DataFrame, a: str, b: str) -> DataFrame:
    """Distinct undirected edges as (u, v) with u < v, self-loops dropped."""
    return (
        pairs.select(
            F.least(F.col(a), F.col(b)).alias("u"),
            F.greatest(F.col(a), F.col(b)).alias("v"),
        )
        .filter(F.col("u") < F.col("v"))
        .distinct()
    )


def basket_edges(df: DataFrame, basket_col: str, item_col: str) -> DataFrame:
    """Canonical co-occurrence edge set (u < v, distinct) built from the
    Arrow pair-count pass instead of HOF pair expansion + distinct.

    basket_pairs emits ordered pairs from sorted de-duplicated basket
    arrays, so its key set already IS the canonical edge set — but the
    HOF route ships every pair INSTANCE through the distinct exchange.
    basket_pair_counts_arrow pre-aggregates inside the Arrow worker, so
    the exchange moves one row per DISTINCT pair; dropping the count
    column yields the same edge set.  Measured at sf1 (6 M lineitem,
    r11 same-session): 7.1 s vs 18.6 s for the HOF+distinct route —
    the win is the same score-before-shuffle discipline as the
    pair-count rework, applied to edge building."""
    from ub_etl_spark.operators.selection import basket_pair_counts_arrow

    return basket_pair_counts_arrow(df, basket_col, item_col).select(
        F.col("part_a").alias("u"), F.col("part_b").alias("v")
    )


def degrees(edges: DataFrame) -> DataFrame:
    """(node, deg) over canonical undirected edges."""
    return (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("deg"))
    )


def count_triangles(edges: DataFrame, broadcast_adjacency: bool = True) -> DataFrame:
    """One row: (n_nodes, n_edges, n_wedges, n_triangles, global_cc).

    edges: canonical (u, v) undirected edge set (u < v, distinct).
    global_cc = 3*triangles / wedges, one double division of exact longs
    (NULL for a wedge-free graph rather than a divide error).

    Algorithm: edge-iterator over the degree-ORIENTED graph with sorted
    adjacency intersection.  The orientation (low-degree -> high-degree,
    acyclic by total order) gives every triangle a unique source node
    with out-edges to the other two, so triangles = Σ over oriented
    edges (a,b) of |N+(a) ∩ N+(b)| — each counted exactly once.  The
    out-neighbor sets materialize ONCE as sorted arrays (out-degree is
    O(sqrt(m)) under degree orientation) and the intersection runs in
    codegen per edge; nothing wedge-shaped is ever materialized or
    shuffled (a wedge-set formulation shuffles Σ outdeg² rows — 148M on
    the sf0.1 co-purchase graph, measured 2-4x slower).

    ``broadcast_adjacency``: the adjacency table is |V| rows of
    O(sqrt(m)) arrays — broadcastable whenever the node set is dim-scale
    (True, default: both attach joins run map-side; measured 2.4x over
    the shuffle form at sf0.1 because edges never re-shuffle carrying
    kilobyte array payloads).  At billion-node scale pass False: the
    same two joins run co-partitioned on src/dst instead.
    """
    # edges feeds the degree agg, the orientation join, and the wedge
    # count; oriented feeds the adjacency agg and the per-edge scan.
    # Spark does not reuse common subtrees across joins within one plan,
    # so WITHOUT these persists the (possibly expensive) edge-build
    # lineage re-executes once per consumer — measured 2x on the
    # co-purchase graph.  All four frames are tracked_persist()ed, so
    # release_persisted() frees them once the caller has materialized
    # the result.
    edges = tracked_persist(edges)
    # r16 (guide §2.4 remove redundant work): deg feeds THREE consumers —
    # the du broadcast build, the dv broadcast build, and the stats agg —
    # and each broadcast build is its own job re-running the degree
    # aggregate from the cached edges.  Persisting the |V|-row deg frame
    # (same dim-scale class as the adjacency broadcast below) collapses
    # the three runs into one: measured 5.24 s -> 4.00 s min-of-5
    # rotated-order same-session at sf0.1 together with the adj persist
    # below; output bit-identical (parity-checked in-session).  NB the
    # same lever MEASURED AND REJECTED on graph_jaccard_link_prediction
    # (5.02 -> 5.33 s): there deg has only the two broadcast consumers
    # and the eager materialization barrier costs more than the one
    # saved aggregate — three consumers is the break-even on this box.
    deg = tracked_persist(degrees(edges))
    # degree tags broadcast: deg is |nodes|-sized (dim scale here; at
    # web scale drop the hint and let AQE pick the join side)
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
    tagged = edges.join(F.broadcast(du), "u").join(F.broadcast(dv), "v")
    fwd = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = tracked_persist(tagged.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("dst"),
    ))
    # r16: adj feeds the a_adj AND b_adj broadcast builds — two jobs that
    # each re-ran the collect_list aggregate from the cached oriented
    # frame (the r15 single-aliased-broadcast restructure fails Spark's
    # ambiguous-self-join analysis; persisting the source frame achieves
    # the same single computation without aliasing).  Part of the
    # 5.24 -> 4.00 s win above.
    adj = tracked_persist(oriented.groupBy("src").agg(
        F.sort_array(F.collect_list("dst")).alias("nbrs")
    ))
    a_adj = adj.select(F.col("src").alias("src"), F.col("nbrs").alias("nbrs_a"))
    b_adj = adj.select(F.col("src").alias("dst"), F.col("nbrs").alias("nbrs_b"))
    if broadcast_adjacency:
        a_adj, b_adj = F.broadcast(a_adj), F.broadcast(b_adj)
    per_edge = (
        oriented.join(a_adj, "src")
        .join(b_adj, "dst")
        .select(
            F.size(F.array_intersect("nbrs_a", "nbrs_b")).cast("long").alias("t")
        )
    )
    n_tri = per_edge.agg(
        F.coalesce(F.sum("t"), F.lit(0)).cast("bigint").alias("n_triangles")
    )
    stats = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        (F.sum("deg") / 2).cast("bigint").alias("n_edges"),
        F.sum(F.col("deg") * (F.col("deg") - 1) / 2)
        .cast("bigint")
        .alias("n_wedges"),
    )
    return stats.crossJoin(F.broadcast(n_tri)).select(
        "n_nodes",
        "n_edges",
        "n_wedges",
        "n_triangles",
        F.when(
            F.col("n_wedges") > 0,
            3.0 * F.col("n_triangles") / F.col("n_wedges"),
        ).alias("global_cc"),
    )


def bfs_distances(
    edges: DataFrame, seed_nodes: DataFrame, max_hops: int = 30
) -> DataFrame:
    """(node, dist) hop distances from the seed set over an undirected
    edge list; unreachable nodes are absent (caller left-joins if a
    dense output is wanted).  Level-synchronous: one join per hop, each
    frontier tracked_persist()ed; terminates when a frontier drains or
    max_hops is hit (diameter bound)."""
    sym = edges.unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    visited = tracked_persist(
        seed_nodes.select(F.col("node"), F.lit(0).cast("int").alias("dist"))
    )
    frontier = visited
    levels = [visited]
    for hop in range(1, max_hops + 1):
        nxt = tracked_persist(
            sym.join(frontier, sym.u == frontier.node)
            .select(F.col("v").alias("node"))
            .distinct()
            .join(
                # union of all prior levels, maintained incrementally
                _union_all(levels).select("node"),
                "node",
                "left_anti",
            )
            .select("node", F.lit(hop).cast("int").alias("dist"))
        )
        if nxt.isEmpty():
            nxt.unpersist()
            break
        levels.append(nxt)
        frontier = nxt
    # leave per-level caches in place for THIS plan's execution (the
    # returned union references every level; unpersisting here would
    # force each level to recompute its whole ancestry — the
    # hierarchy_flatten_paths convention).  release_persisted() frees
    # them once the caller has materialized the result.
    return _union_all(levels)


def _union_all(dfs: list[DataFrame]) -> DataFrame:
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionAll(d)
    return out
