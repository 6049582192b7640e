"""Graph analytics tier II: triangle counting / clustering coefficient
and BFS hop distances — completing the graph family (PageRank in
mlprep.graph_pagerank_trade, connected components in dedup, recursive
hierarchy flattening in advanced).

Graphs are derived from the warehouse fixtures: the part co-purchase
graph (parts are adjacent when one order contains both — the
recommendation graph market_basket_pairs mines) and the nation trade
graph (customer nation adjacent to supplier nation when a lineitem links
them — the PageRank fixture).  Both are real DataFrame-shaped edge
lists; nothing is collected.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ub_etl_spark.operators.graph import basket_edges, bfs_distances, count_triangles
from ub_etl_spark.registry import register
from ub_etl_spark.session import tracked_persist
from ub_etl_spark.sources.tables import load_table as T


@register(
    "graph_triangle_count",
    tier="B",
    oracle="""
    WITH e AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
      JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), deg AS (
      SELECT node, COUNT(*) AS d FROM (
        SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e
      ) GROUP BY node
    ), tri AS (
      SELECT COUNT(*) AS n_triangles
      FROM e e1 JOIN e e2 ON e2.u = e1.v JOIN e e3
        ON e3.u = e1.u AND e3.v = e2.v
    )
    SELECT (SELECT COUNT(*) FROM deg) AS n_nodes,
           (SELECT CAST(SUM(d) / 2 AS BIGINT) FROM deg) AS n_edges,
           (SELECT CAST(SUM(d * (d - 1) / 2) AS BIGINT) FROM deg) AS n_wedges,
           tri.n_triangles,
           3.0 * tri.n_triangles
             / (SELECT SUM(d * (d - 1) / 2) FROM deg) AS global_cc
    FROM tri
    """,
    cost_note=(
        "degree-oriented wedge join is O(m^1.5) and linear at 10x "
        "(SCALING.md); single-node DuckDB wins constant factors at bench "
        "scale. This query is the bench's clearest external-noise tracer: "
        "same-session controlled runs swing 2.6-9.2 s with host load "
        "(load-avg ~6 from outside this process tree), while a 30-query "
        "polluted-session experiment inflated it only 1.24x. Read its deltas "
        "against the sidecar's machine_state_per_pass (load_avg_1m per pass), "
        "not as plan changes"
    ),
    ratio_exception=True,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count + global clustering coefficient of the part
    co-purchase graph — the graph-cohesion statistic (recommendation
    quality, community structure, spam-graph detection).  Spark plan is
    the degree-ORIENTED wedge join (operators/graph.count_triangles):
    every edge directs low-degree -> high-degree, bounding candidate
    wedges at O(m^1.5) where the oracle's textbook triple self-join
    generates sum-of-deg^2 wedges (hub-quadratic).  Edge generation
    uses the Arrow pair-count pass (operators/graph.basket_edges, r11:
    the exchange moves distinct pairs, never pair instances — 2.6x
    faster edge build at sf1) — never a fact self-join.  All counts
    exact longs; global_cc is one double division.  Scale: the two
    hash joins shuffle on node ids; skewed hubs are exactly what the
    orientation neutralizes."""
    li = T(spark, sf_dir, "lineitem")
    edges = basket_edges(li, "l_orderkey", "l_partkey")
    return count_triangles(edges)


@register(
    "graph_bfs_distance",
    tier="B",
    oracle="""
    WITH RECURSIVE e AS (
      SELECT DISTINCT c.c_nationkey AS u, s.s_nationkey AS v
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      WHERE c.c_nationkey <> s.s_nationkey
    ), sym AS (
      SELECT u, v FROM e UNION SELECT v, u FROM e
    ), walk(node, dist) AS (
      -- UNION (not UNION ALL): distinct (node, dist) states bound the
      -- recursion at |V| * depth rows; UNION ALL would enumerate walks
      SELECT CAST(0 AS INTEGER) AS node, 0 AS dist
      UNION
      SELECT sym.v, walk.dist + 1
      FROM walk JOIN sym ON sym.u = walk.node
      WHERE walk.dist < 25
    ), best AS (
      SELECT node, MIN(dist) AS dist FROM walk GROUP BY node
    )
    SELECT n.n_nationkey, n.n_name, best.dist
    FROM nation n LEFT JOIN best ON n.n_nationkey = best.node
    ORDER BY n.n_nationkey
    """,
    cost_note=(
        "level-synchronous BFS: the edge build (3-join distinct pass over "
        "lineitem) plus one frontier-join job per hop until the frontier "
        "empties, multiple jobs by construction, same class as "
        "dedup_cluster_cc; faster than its recursive-CTE oracle (1.61 s vs "
        "1.95 s), and rounds are bounded by graph diameter (2-3 on the dense "
        "trade graph), not corpus size; see the SCALING.md cell"
    ),
)
def graph_bfs_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hop distance from nation 0 to every nation over the undirected
    trade graph (a lineitem linking a customer nation to a supplier
    nation is an edge) — single-source shortest path, the reachability
    twin of hierarchy_flatten_paths.  Level-synchronous BFS
    (operators/graph.bfs_distances): one equi join per hop, frontier
    anti-joined against the visited union, rounds bounded by graph
    diameter; the oracle is DuckDB's recursive CTE with a MIN rollup
    (textbook formulation, exponential walks pruned only by the depth
    cap — the frontier algorithm IS the scale answer).  Unreached
    nations surface with NULL dist via the left join, not dropped.
    The edge build prunes to DISTINCT nation pairs before any
    iteration; each hop shuffles |frontier| rows."""
    li = T(spark, sf_dir, "lineitem")
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    s = T(spark, sf_dir, "supplier")
    n = T(spark, sf_dir, "nation")
    e = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(
            F.broadcast(c.select("c_custkey", "c_nationkey")),
            o.o_custkey == F.col("c_custkey"),
        )
        .join(
            F.broadcast(s.select("s_suppkey", "s_nationkey")),
            li.l_suppkey == F.col("s_suppkey"),
        )
        .filter(F.col("c_nationkey") != F.col("s_nationkey"))
        .select(
            F.col("c_nationkey").alias("u"), F.col("s_nationkey").alias("v")
        )
        .distinct()
    )
    seed = n.select(F.col("n_nationkey").alias("node")).filter(
        F.col("node") == 0
    )
    dist = bfs_distances(e, seed, max_hops=25)
    return (
        n.join(dist, n.n_nationkey == dist.node, "left_outer")
        .select("n_nationkey", "n_name", "dist")
        .orderBy("n_nationkey")
    )


@register(
    "graph_jaccard_link_prediction",
    tier="B",
    oracle="""
    WITH e AS (
      SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
      FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
      JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), sym AS (
      SELECT u, v FROM e UNION ALL SELECT v, u FROM e
    ), deg AS (
      SELECT u AS node, COUNT(*) AS d FROM sym GROUP BY u
    ), cand AS (
      -- distance-2 neighbors of the PROBE nodes, existing edges out
      SELECT s1.v AS x, s2.v AS y, COUNT(*) AS cn
      FROM sym s1 JOIN sym s2 ON s1.u = s2.u AND s1.v <> s2.v
      WHERE s1.v % 100 = 0
        AND NOT EXISTS (
          SELECT 1 FROM e
          WHERE e.u = LEAST(s1.v, s2.v) AND e.v = GREATEST(s1.v, s2.v))
      GROUP BY s1.v, s2.v
    )
    SELECT x, y, cn,
           CAST(cn AS DOUBLE) / (dx.d + dy.d - cn) AS jaccard
    FROM cand JOIN deg dx ON cand.x = dx.node
    JOIN deg dy ON cand.y = dy.node
    ORDER BY jaccard DESC, x, y
    LIMIT 50
    """,
    cost_note=(
        "Closed. The cost is the probe-seeded wedge aggregate, O(|probes| x "
        "deg^2): ~2.8M wedge instances over ~2.06M distinct pairs through a "
        "partial+final agg, work both engines pay (sf0.1 decomposition: edge "
        "build 0.93 s, wedge join+agg 4.17 s cumulative, full query 5.0-5.8 "
        "s); the oracle's flat join wins single-node constant factors. In the "
        "plan already: edges come from the Arrow pair-count pass (distinct "
        "pairs through the exchange; sf1 edge build 18.6 s -> 7.1 s) and a "
        "broadcast semi filter drops probe-disjoint wedge centers map-side "
        "(sf1 17.9 s -> 13.7 s). Six levers rejected: (1) a p99 "
        "degree cap read 17.6 vs 12.6 s at sf1, since the co-purchase graph "
        "has no hubs (degree p50 119, p99 182, max 222) and the cap perturbs "
        "6 of the true top-50; (2) the Arrow pair-count kernel for the wedge "
        "read 13.6-14.0 vs 4.4-7.1 s, since wedge instances barely outnumber "
        "distinct pairs and there is nothing to pre-combine; (3) fusing the "
        "edge build's count aggregate away shuffles the same bytes, so there "
        "is no win to measure; (4) "
        "packed single-long pair keys read 5.22 vs 5.40 s, inside noise, and "
        "add a 32-bit id precondition; (5) F.broadcast on the anti-join side "
        "read 5.75 vs 5.82 s, since AQE already plans it and the hint pins an "
        "|E|-scale broadcast hazard; (6) persisting deg read 5.33 vs 5.02 s, "
        "worse with only two consumers. The one lever left is an approximate "
        "or banded variant, which is a new feature and out of scope"
    ),
    ratio_exception=True,
)
def graph_jaccard_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction by neighbor-set Jaccard for a BOUNDED probe set
    (parts with key % 100 == 0): rank each probe's distance-2
    non-neighbors by |N(x) ∩ N(y)| / |N(x) ∪ N(y)| — the 'customers who
    bought this also bought' edge-completion primitive, shaped like
    retrieval actually runs it (per-entity recommendation queries, the
    knn bounded-query convention).  Common-neighbor counts come from a
    wedge aggregate seeded AT the probes (cost O(|probes| x deg²), not
    the all-pairs Σ deg² — the unrestricted form measured 250 s on the
    dense sf0.1 co-purchase graph and is exactly what production never
    runs); existing edges anti-join out on the canonical orientation;
    degrees attach broadcast; the Jaccard denominator is inclusion-
    exclusion (dx + dy − cn), no second intersection pass.  Batch-mode
    all-pairs variants degree-cap hubs first — the documented lever.

    Degree-cap lever MEASURED r12 (r11 verdict task 4), non-change:
    same-session sf1 A/B of the registered plan vs a p99-degree-capped
    wedge build (cap=182, two broadcast semi filters on the low-degree
    center set) read 12.6s uncapped vs 17.6s capped min-of-3 — the
    co-purchase graph has NO hubs to cap (degree p50=119, p99=182,
    max=222: under 2x spread), so the filter's extra semi-joins cost
    more than the uniform wedge work they skip, while perturbing 6 of
    the true top-50.  The lever stays documented for power-law graphs,
    where hub degree — not corpus size — drives the deg² term; on this
    graph the residual vs DuckDB is the deg² wedge work both engines
    pay, adjudicated as the plan's honest cost.

    Arrow pair-count kernel lever MEASURED r14, non-change (worse):
    routing the wedge through the basket kernel's shape (collect_list
    neighbors per center, numpy probe x neighbor expansion + packed
    np.unique pre-agg in the worker) read 13.6-14.0s vs the join form's
    4.4-7.1s same-session at sf0.1, outputs verified equal (2,057,207
    pairs).  The kernel wins where pair INSTANCES vastly outnumber
    distinct pairs (baskets: ~K-fold repetition under amplification);
    here the probe-restricted wedge emits ~2.8M instances over ~2.06M
    distinct pairs — nothing to combine, so the Arrow round-trip is
    pure overhead and codegen'd join+partial-agg is the right plan.

    r16 levers MEASURED, all non-changes (rotated-order same-session
    min-of-4/5 at sf0.1; decomposition: edge build 0.93 s, wedge
    join+agg 4.17 s cumulative, full query ~5.0-5.8 s under load ~4):
    (a) packing (x,y) into one long for the wedge agg key + anti-join
    key (§2.3 narrower keys; raise_error guard for ids >= 2^31) read
    5.22 vs 5.40 s — inside noise, not worth the 32-bit id
    precondition; (b) F.broadcast(edges) on the anti-join right side
    read 5.75 vs 5.82 s — AQE already plans the anti-join efficiently
    and the explicit hint pins a |E|-scale broadcast hazard for
    nothing; (c) persisting deg (the count_triangles r16 win) read
    5.33 vs 5.02 s — deg has only TWO broadcast consumers here and the
    eager materialization barrier costs more than the one saved
    aggregate.  The residual is the wedge aggregate's 2.8M-instance
    partial+final agg both engines pay (adjudicated r12/r14/r15)."""
    li = T(spark, sf_dir, "lineitem")
    edges = tracked_persist(basket_edges(li, "l_orderkey", "l_partkey"))
    sym = edges.unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("d")).select(
        F.col("u").alias("node"), "d"
    )
    s1 = sym.select(F.col("u").alias("c"), F.col("v").alias("x")).filter(
        F.col("x") % 100 == 0
    )
    # r11: wedge centers that are not adjacent to any probe can never
    # join — a broadcast semi filter on the (at most |V|-row) distinct
    # probe-adjacent center set prunes s2 map-side before the wedge
    # exchange (sf1 same-session: 17.9 s -> 13.7 s full-query)
    s2 = sym.select(F.col("u").alias("c"), F.col("v").alias("y")).join(
        F.broadcast(s1.select("c").distinct()), "c", "left_semi"
    )
    cand = (
        s1.join(s2, "c")
        .filter(F.col("x") != F.col("y"))
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("cn"))
        .join(
            edges.select(
                F.col("u").alias("eu"), F.col("v").alias("ev")
            ),
            (F.least(F.col("x"), F.col("y")) == F.col("eu"))
            & (F.greatest(F.col("x"), F.col("y")) == F.col("ev")),
            "left_anti",
        )
    )
    dx = deg.select(F.col("node").alias("x"), F.col("d").alias("dx"))
    dy = deg.select(F.col("node").alias("y"), F.col("d").alias("dy"))
    return (
        cand.join(F.broadcast(dx), "x")
        .join(F.broadcast(dy), "y")
        .select(
            "x",
            "y",
            "cn",
            (
                F.col("cn").cast("double")
                / (F.col("dx") + F.col("dy") - F.col("cn"))
            ).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), "x", "y")
        .limit(50)
    )
