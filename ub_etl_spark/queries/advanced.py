"""Advanced analytics shapes: skyline/Pareto frontier, exact regression,
marketing attribution, equi-depth quantiles, inequality metrics, and the
banded theta join.

Each operator pairs a scale-honest Spark formulation with an ANSI oracle:
order statistics that need a global sort (equi-depth buckets, Gini rank)
say so and name the approximate scale path; the skyline and theta join
implement their scale algorithms outright (two-phase local/global
frontier, bucketed band candidates).  Float discipline as everywhere:
exact integer sums, DECIMAL(38,0) promotion for cross-sums, one double
division in a shared textual order — and never a + b*c in a float
(engines disagree on FMA fusion; see graph_pagerank_trade).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ub_etl_spark.functions.exact import cents, csum, sql_cents, sql_csum
from ub_etl_spark.registry import register
from ub_etl_spark.session import tracked_persist
from ub_etl_spark.sources.tables import load_table as T

_D38 = "decimal(38,0)"


def _d(c) -> F.Column:
    return c.cast(_D38)


# ---------------------------------------------------------------------------
# Skyline / Pareto frontier
# ---------------------------------------------------------------------------


@register(
    "skyline_pareto_frontier",
    tier="B",
    oracle="""
    SELECT p.p_partkey, p.p_retailprice, p.p_size
    FROM part p
    WHERE NOT EXISTS (
      SELECT 1 FROM part q
      WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
        AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size)
    )
    """,
)
def skyline_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline query (Pareto frontier minimizing price, maximizing size):
    the multi-objective shortlist shape.  The oracle is the textbook
    NOT-EXISTS domination check (O(n^2)); the Spark plan is the
    divide-and-conquer skyline: a LOCAL frontier inside each of 8 hash
    partitions (window over cents-price with a RANGE frame — strictly
    cheaper rows — plus an equal-price max), then the same two windows
    globally over the survivors.  Domination is transitive, so local
    pruning preserves the global frontier exactly.  The global pass is
    single-partition but runs on the already-pruned survivor set — the
    standard skyline scale shape (worst case all points are on the
    frontier, in which case no algorithm avoids the global pass)."""
    p = T(spark, sf_dir, "part").select(
        "p_partkey", "p_retailprice", "p_size", cents("p_retailprice").alias("price_c")
    )

    def frontier(df: DataFrame, part_cols: list[str]) -> DataFrame:
        w_cheaper = (
            Window.partitionBy(*part_cols)
            .orderBy("price_c")
            .rangeBetween(Window.unboundedPreceding, -1)
            if part_cols
            else Window.orderBy("price_c").rangeBetween(Window.unboundedPreceding, -1)
        )
        w_equal = Window.partitionBy(*(part_cols + ["price_c"]))
        return (
            df.withColumn("__mx_cheaper", F.max("p_size").over(w_cheaper))
            .withColumn("__mx_equal", F.max("p_size").over(w_equal))
            .filter(
                (
                    F.col("__mx_cheaper").isNull()
                    | (F.col("__mx_cheaper") < F.col("p_size"))
                )
                & (F.col("__mx_equal") <= F.col("p_size"))
            )
            .drop("__mx_cheaper", "__mx_equal")
        )

    local = frontier(
        p.withColumn("__salt", F.pmod(F.xxhash64("p_partkey"), F.lit(8))), ["__salt"]
    ).drop("__salt")
    return frontier(local, []).select("p_partkey", "p_retailprice", "p_size")


# ---------------------------------------------------------------------------
# Exact per-group linear regression
# ---------------------------------------------------------------------------


@register(
    "agg_linear_regression",
    tier="B",
    oracle=f"""
    WITH s AS (
      SELECT l_returnflag, COUNT(*) AS n,
             SUM({sql_cents("l_quantity")}) AS sx,
             SUM({sql_cents("l_extendedprice")}) AS sy,
             SUM({sql_cents("l_quantity")} * {sql_cents("l_quantity")}) AS sxx,
             SUM({sql_cents("l_quantity")} * {sql_cents("l_extendedprice")}) AS sxy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           CAST(CAST(n AS DECIMAL(38,0)) * CAST(sxy AS DECIMAL(38,0))
                  - CAST(sx AS DECIMAL(38,0)) * CAST(sy AS DECIMAL(38,0))
                AS DOUBLE)
             / CAST(CAST(n AS DECIMAL(38,0)) * CAST(sxx AS DECIMAL(38,0))
                      - CAST(sx AS DECIMAL(38,0)) * CAST(sx AS DECIMAL(38,0))
                    AS DOUBLE) AS slope,
           CAST(CAST(sy AS DECIMAL(38,0)) * CAST(sxx AS DECIMAL(38,0))
                  - CAST(sx AS DECIMAL(38,0)) * CAST(sxy AS DECIMAL(38,0))
                AS DOUBLE)
             / CAST(CAST(n AS DECIMAL(38,0)) * CAST(sxx AS DECIMAL(38,0))
                      - CAST(sx AS DECIMAL(38,0)) * CAST(sx AS DECIMAL(38,0))
                    AS DOUBLE) / 100.0 AS intercept
    FROM s
    """,
)
def agg_linear_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group least-squares regression (extendedprice on quantity) via
    the closed form over exact integer power sums (n, Σx, Σy, Σx², Σxy
    in long cents — one map-side-combined aggregate, same family as
    agg_corr_exact).  Built-in regr_slope sums doubles and is order-
    dependent; here the normal-equation numerators/denominators promote
    to DECIMAL(38,0) (the long envelope would overflow at n·Σxy scale)
    and each coefficient is ONE double division of two exact integers —
    engine- and partitioning-identical.  The intercept uses the
    all-integer form (Σy·Σx² - Σx·Σxy)/den, not ȳ - slope·x̄, which
    would hit the cross-engine FMA hazard."""
    li = T(spark, sf_dir, "lineitem")
    xc, yc = cents("l_quantity"), cents("l_extendedprice")
    s = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(xc).alias("sx"),
        F.sum(yc).alias("sy"),
        F.sum(xc * xc).alias("sxx"),
        F.sum(xc * yc).alias("sxy"),
    )
    n, sx, sy, sxx, sxy = (F.col(c) for c in ("n", "sx", "sy", "sxx", "sxy"))
    den = (_d(n) * _d(sxx) - _d(sx) * _d(sx)).cast("double")
    slope = (_d(n) * _d(sxy) - _d(sx) * _d(sy)).cast("double") / den
    intercept = (_d(sy) * _d(sxx) - _d(sx) * _d(sxy)).cast("double") / den / 100.0
    return s.select(
        "l_returnflag", "n", slope.alias("slope"), intercept.alias("intercept")
    )


# ---------------------------------------------------------------------------
# Last-touch attribution
# ---------------------------------------------------------------------------


@register(
    "events_attribution_last_touch",
    tier="B",
    oracle=f"""
    WITH attributed AS (
      SELECT event_type, value,
             LAST_VALUE(CASE WHEN event_type <> 'purchase' THEN event_type END
                        IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS channel
      FROM events
    )
    SELECT COALESCE(channel, 'direct') AS channel,
           COUNT(*) AS n_purchases,
           {sql_csum("value", "total_value")}
    FROM attributed
    WHERE event_type = 'purchase'
    GROUP BY COALESCE(channel, 'direct')
    """,
)
def events_attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: each purchase credits the most
    recent preceding non-purchase event of the same user ('direct' when
    none precedes).  One window pass per user (ignore-nulls LAST_VALUE
    over the unbounded-preceding frame — no self-join against the event
    history) followed by a tiny channel aggregate; the only fact shuffle
    is the user_id exchange the window needs.  Ties in ts are broken by
    event_id so the 'most recent' is total-ordered and engine-stable."""
    e = T(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    channel = F.last(
        F.when(F.col("event_type") != "purchase", F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    return (
        e.withColumn("channel", channel)
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.coalesce("channel", F.lit("direct")).alias("channel"))
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            csum("value", "total_value"),
        )
    )


# ---------------------------------------------------------------------------
# Equi-depth quantile buckets
# ---------------------------------------------------------------------------


# shared by the windowed reference form and the registered two-phase scale
# form below — identical output contract, one oracle text
_EQUIDEPTH_ORACLE = f"""
    WITH b AS (
      SELECT o_totalprice,
             NTILE(10) OVER (ORDER BY o_totalprice, o_orderkey) AS bucket
      FROM orders
    )
    SELECT bucket, COUNT(*) AS n_orders,
           MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi,
           {sql_csum("o_totalprice", "total")}
    FROM b GROUP BY bucket
    """


def _equidepth_bucket_agg(bucketed: DataFrame) -> DataFrame:
    """Per-bucket count/bounds/exact sum — the shared tail of both
    equi-depth forms (bucket column name is the contract)."""
    return bucketed.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
        csum("o_totalprice", "total"),
    )


@register(
    "quantile_bucket_equidepth",
    tier="B",
    oracle=_EQUIDEPTH_ORACLE,
)
def quantile_bucket_equidepth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth decile bucketing (the histogram/feature-binning
    primitive): NTILE over a total order (price, orderkey tiebreak) then
    per-bucket count/bounds/exact sum.  This windowed form is the
    oracle-shaped REFERENCE: Spark plans the un-keyed ordered window as
    Exchange SinglePartition + one global sort (the documented
    watch-item; SCALING.md equidepth_ntile_global 111x@100x).  The
    registered DEFAULT at scale is quantile_bucket_equidepth_2phase
    below — same rows, no single-partition collapse — with
    quantile_bucket_approx as the sketch path when approximate depths
    suffice."""
    o = T(spark, sf_dir, "orders")
    w = Window.orderBy("o_totalprice", "o_orderkey")
    return _equidepth_bucket_agg(o.withColumn("bucket", F.ntile(10).over(w)))


@register(
    "quantile_bucket_equidepth_2phase",
    tier="B",
    oracle=_EQUIDEPTH_ORACLE,
    cost_note=(
        "the registered scale form of quantile_bucket_equidepth: "
        "range-partition sampling + local seq + stats-frame agg + broadcast "
        "offsets = 3-4 chained jobs whose per-stage floors dominate at bench "
        "scale (~1.8 s warm vs the windowed form's 0.65 s; oracle is "
        "sub-floor). The shape is the point: the windowed form is Exchange "
        "SinglePartition on the fact; the trade is 3.15 s vs 36.8 s at 100x "
        "(SCALING.md equidepth_ntile_2phase 4.9x vs 111x windowed)"
    ),
)
def quantile_bucket_equidepth_2phase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact equi-depth deciles WITHOUT the global-sort collapse — the
    registered scale default for equi-depth binning (SURVEY §2 B96;
    r7 verdict task 1: promote the lever from measured sidecar to
    driver-hash-checked query).  ntile_two_phase (operators/selection.py) range-partitions
    on (price, orderkey), numbers rows locally, and broadcasts
    per-partition offsets: one full-data range exchange, two local
    sorts, zero Exchange SinglePartition — controlled 100x measurement
    3.15 s vs the windowed form's 36.8 s (SCALING.md
    equidepth_ntile_2phase 4.9x@100x vs 111x@100x).  Output is
    row-identical to the windowed form (the (price, orderkey) tiebreak
    is a unique total order, so NTILE arithmetic reproduces bucket
    boundaries exactly); equality is pinned both by
    tests/test_global_order.py and by this query sharing the windowed
    form's oracle."""
    from ub_etl_spark.operators.selection import ntile_two_phase

    o = T(spark, sf_dir, "orders").select("o_totalprice", "o_orderkey")
    bucketed = ntile_two_phase(
        o, 10, ["o_totalprice", "o_orderkey"], out="bucket"
    )
    return _equidepth_bucket_agg(bucketed)


# ---------------------------------------------------------------------------
# Gini concentration
# ---------------------------------------------------------------------------


@register(
    "agg_gini_concentration",
    tier="B",
    oracle=f"""
    WITH r AS (
      SELECT o_custkey, SUM({sql_cents("o_totalprice")}) AS rev
      FROM orders GROUP BY o_custkey
    ), ranked AS (
      SELECT rev, ROW_NUMBER() OVER (ORDER BY rev, o_custkey) AS i FROM r
    ), s AS (
      SELECT COUNT(*) AS n,
             SUM(CAST(i AS DECIMAL(38,0)) * CAST(rev AS DECIMAL(38,0))) AS sir,
             SUM(CAST(rev AS DECIMAL(38,0))) AS sr
      FROM ranked
    )
    SELECT n AS n_customers,
           CAST(CAST(2 AS DECIMAL(38,0)) * sir
                  - CAST(n + 1 AS DECIMAL(38,0)) * sr AS DOUBLE)
             / CAST(CAST(n AS DECIMAL(38,0)) * sr AS DOUBLE) AS gini
    FROM s
    """,
)
def agg_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of revenue concentration across customers (the
    inequality/imbalance metric for corpus source distribution or
    revenue skew): G = (2·Σi·rᵢ - (n+1)·Σrᵢ) / (n·Σrᵢ) over
    ascending-ranked exact-cents revenues.  All sums are exact integers
    promoted to DECIMAL(38,0); G is one double division.  The rank is a
    global order statistic (same watch-item as equi-depth buckets); at
    scale the two-phase distributed rank (per-partition counts ->
    offset + local row_number) replaces the single-partition window —
    the per-customer aggregate before it already shrank the data to one
    row per customer."""
    o = T(spark, sf_dir, "orders")
    r = o.groupBy("o_custkey").agg(F.sum(cents("o_totalprice")).alias("rev"))
    ranked = r.withColumn(
        "i", F.row_number().over(Window.orderBy("rev", "o_custkey"))
    )
    s = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(_d(F.col("i")) * _d(F.col("rev"))).alias("sir"),
        F.sum(_d(F.col("rev"))).alias("sr"),
    )
    n, sir, sr = F.col("n"), F.col("sir"), F.col("sr")
    gini = (F.lit(2).cast(_D38) * sir - (n + 1).cast(_D38) * sr).cast("double") / (
        _d(n) * sr
    ).cast("double")
    return s.select(n.alias("n_customers"), gini.alias("gini"))


# ---------------------------------------------------------------------------
# Banded theta join
# ---------------------------------------------------------------------------


@register(
    "join_theta_band",
    tier="B",
    oracle=f"""
    SELECT s1.s_suppkey AS suppkey_a, s2.s_suppkey AS suppkey_b,
           ABS({sql_cents("s1.s_acctbal")} - {sql_cents("s2.s_acctbal")}) / 100.0
             AS bal_diff
    FROM supplier s1
    JOIN supplier s2
      ON s2.s_acctbal >= s1.s_acctbal - 5.0
     AND s2.s_acctbal <= s1.s_acctbal + 5.0
     AND s1.s_suppkey < s2.s_suppkey
    """,
)
def join_theta_band(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded theta join (|balance difference| <= 5.00): the inequality-
    join shape Spark has no native operator for, made scale-safe by
    bucketed candidate generation.  Each left row explodes to its bucket
    and both neighbors (bucket width = band width, so every qualifying
    pair shares a bucket exactly once — no dedup needed); the join is
    then a plain EQUI join on the bucket key (hash exchange, never the
    nested-loop cross product the oracle's inequality condition would
    plan naively), and the exact band filter runs post-join on the ~3x
    candidate set.  Work is O(n · band density), not O(n²)."""
    s = T(spark, sf_dir, "supplier").select(
        "s_suppkey", cents("s_acctbal").alias("bal_c")
    )
    band_c = 500  # 5.00 in cents == the bucket width
    bucket = F.floor(F.col("bal_c") / band_c)
    left = s.select(
        F.col("s_suppkey").alias("suppkey_a"),
        F.col("bal_c").alias("bal_a"),
        F.explode(
            F.array(bucket - 1, bucket, bucket + 1)
        ).alias("bucket"),
    )
    right = s.select(
        F.col("s_suppkey").alias("suppkey_b"),
        F.col("bal_c").alias("bal_b"),
        bucket.alias("bucket"),
    )
    return (
        left.join(right, "bucket")
        .filter(
            (F.abs(F.col("bal_a") - F.col("bal_b")) <= band_c)
            & (F.col("suppkey_a") < F.col("suppkey_b"))
        )
        .select(
            "suppkey_a",
            "suppkey_b",
            (F.abs(F.col("bal_a") - F.col("bal_b")) / 100.0).alias("bal_diff"),
        )
    )


@register(
    "hierarchy_flatten_paths",
    tier="B",
    oracle="""
    WITH RECURSIVE h AS (
      SELECT c_custkey AS k, c_custkey AS root, 0 AS depth,
             CAST(c_custkey AS VARCHAR) AS path
      FROM customer WHERE c_custkey < 10
      UNION ALL
      SELECT c.c_custkey, h.root, h.depth + 1,
             h.path || '>' || CAST(c.c_custkey AS VARCHAR)
      FROM customer c
      JOIN h ON c.c_custkey // 10 = h.k AND c.c_custkey >= 10
    )
    SELECT k, root, depth, path FROM h
    """,
)
def hierarchy_flatten_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive hierarchy flattening (org chart / bill-of-materials):
    every node's root, depth, and full ancestor path — the WITH
    RECURSIVE shape Spark SQL lacks, emulated as level-synchronous
    frontier expansion: join the child relation against the previous
    frontier once per level until the frontier drains (bounded by the
    hierarchy depth, here log10(n) via the digit-shift parent function
    parent(k) = k div 10, roots k < 10).  The oracle IS the textbook
    recursive CTE.  Each level is one equi join shuffled on the parent
    key — the same dataflow a Pregel-style traversal runs at a
    billion-node hierarchy; the per-level isEmpty check is a tiny
    driver-side action on an already-computed frontier, and the result
    unions all levels without recomputing them (each frontier is
    persisted until its successor materializes)."""
    c = T(spark, sf_dir, "customer").select("c_custkey")
    frontier = c.filter(F.col("c_custkey") < 10).select(
        F.col("c_custkey").alias("k"),
        F.col("c_custkey").alias("root"),
        F.lit(0).alias("depth"),
        F.col("c_custkey").cast("string").alias("path"),
    )
    frontier = tracked_persist(frontier)
    levels = [frontier]
    for _ in range(20):  # backstop; real bound = hierarchy depth
        nxt = (
            c.filter(F.col("c_custkey") >= 10)
            .join(frontier, F.floor(F.col("c_custkey") / 10) == F.col("k"))
            .select(
                F.col("c_custkey").alias("child_k"),
                "root",
                (F.col("depth") + 1).alias("depth"),
                F.concat(
                    "path", F.lit(">"), F.col("c_custkey").cast("string")
                ).alias("path"),
            )
            .withColumnRenamed("child_k", "k")
        )
        nxt = tracked_persist(nxt)
        if nxt.isEmpty():
            nxt.unpersist()
            break
        levels.append(nxt)
        frontier = nxt
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    # leave the per-level caches in place for THIS plan's execution —
    # unpersisting here would drop them before the returned DataFrame
    # executes; they are registered via tracked_persist so the harness
    # (or session.release_persisted) frees them after materialization
    return out


# The scale path quantile_bucket_equidepth's docstring promises: bucket
# BOUNDARIES from a mergeable percentile sketch (one pass, bounded
# memory), broadcast into a codegen bucket-assignment projection — no
# global sort anywhere.  Rows-only under the driver gate (GK boundary
# values are sketch-dependent); depth balance vs the exact variant is
# pinned in tests/test_advanced.py, and tools/scale_smoke.py measures it
# beside the exact form (which runs ~linear at 100x: SCALING.md 95.8x).
@register("quantile_bucket_approx", tier="B", oracle=None)
def quantile_bucket_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-depth decile bucketing WITHOUT the global sort: nine
    percentile_approx boundaries (GK sketch, accuracy 10000) computed in
    one map-side-combined aggregate, broadcast as a single row, and each
    order assigned by counting boundaries below its price — an array HOF
    over 9 elements inside whole-stage codegen.  Two passes over the
    fact, zero sorts, both exchanges carry one row; depths are
    approximate within the sketch's rank error where the exact NTILE
    form is perfectly balanced but ~linear-cost at scale."""
    o = T(spark, sf_dir, "orders")
    cuts = o.agg(
        F.percentile_approx(
            "o_totalprice", [i / 10.0 for i in range(1, 10)], 10000
        ).alias("cuts")
    )
    bucket = (
        F.lit(1)
        + F.size(
            F.filter("cuts", lambda c: F.col("o_totalprice") > c)
        )
    ).alias("bucket")
    return (
        o.crossJoin(F.broadcast(cuts))
        .select("o_totalprice", bucket)
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
            csum("o_totalprice", "total"),
        )
    )


# ---------------------------------------------------------------------------
# Theil inequality index
# ---------------------------------------------------------------------------


@register(
    "agg_theil_inequality",
    tier="B",
    oracle=f"""
    WITH cust AS (
      SELECT o_custkey, SUM({sql_cents("o_totalprice")}) AS rev_c
      FROM orders GROUP BY o_custkey
    ), g AS (SELECT COUNT(*) AS n, SUM(rev_c) AS s FROM cust),
    terms AS (
      SELECT CAST(FLOOR(
               (CAST(rev_c * n AS DOUBLE) / s)
               * CAST(FLOOR(ln(CAST(rev_c * n AS DOUBLE) / s) * 1000000)
                      AS BIGINT)
             ) AS BIGINT) AS t_u, n
      FROM cust, g
    )
    SELECT ANY_VALUE(n) AS n_customers,
           SUM(t_u) / 1000000.0 / ANY_VALUE(n) AS theil_t
    FROM terms
    """,
)
def agg_theil_inequality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality index of customer revenue — the entropy-based
    concentration metric beside the rank-based Gini
    (agg_gini_concentration): T = (1/n) Σ r·ln(r), r = x_i/μ.  No global
    sort at all (Gini needs ranks; Theil is a pure aggregate — at scale
    this is the cheaper inequality number).  Determinism: r = x·n/S is
    one shared-order double division of exact longs; ln QUANTIZES to
    integer micro-units first (the repo-wide ln rule), the single r·L
    float product has bit-identical operands both engines, and the
    per-term floor makes the final sum order-independent.  Shuffles:
    one |customers| agg + a 1-row broadcast back."""
    o = T(spark, sf_dir, "orders")
    cust = o.groupBy("o_custkey").agg(F.sum(cents("o_totalprice")).alias("rev_c"))
    g = cust.agg(F.count(F.lit(1)).alias("n"), F.sum("rev_c").alias("s"))
    r = (F.col("rev_c") * F.col("n")).cast("double") / F.col("s")
    l_u = F.floor(F.log(r) * 1e6).cast("bigint")
    t_u = F.floor(r * l_u).cast("bigint")
    return (
        cust.crossJoin(F.broadcast(g))
        .select(t_u.alias("t_u"), "n")
        .agg(
            F.any_value("n").alias("n_customers"),
            (F.sum("t_u") / 1e6 / F.any_value("n")).alias("theil_t"),
        )
    )


# ---------------------------------------------------------------------------
# Two-sample Kolmogorov-Smirnov distance (bucketed CDFs)
# ---------------------------------------------------------------------------

_KS_BUCKETS = 1000
_KS_WIDTH_C = 60000  # $600 per bucket in cents: covers o_totalprice's range


@register(
    "agg_ks_test_bucketed",
    tier="B",
    oracle=f"""
    WITH tagged AS (
      SELECT LEAST({_KS_BUCKETS - 1},
                   {sql_cents("o.o_totalprice")} // {_KS_WIDTH_C}) AS b,
             CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS s1,
             CASE WHEN c.c_mktsegment = 'MACHINERY' THEN 1 ELSE 0 END AS s2
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      WHERE c.c_mktsegment IN ('BUILDING', 'MACHINERY')
    ), bucketed AS (
      SELECT b, SUM(s1) AS n1, SUM(s2) AS n2 FROM tagged GROUP BY b
    ), tot AS (SELECT SUM(n1) AS t1, SUM(n2) AS t2 FROM bucketed),
    cdf AS (
      SELECT b,
             SUM(n1) OVER (ORDER BY b) AS c1,
             SUM(n2) OVER (ORDER BY b) AS c2, t1, t2
      FROM bucketed, tot
    )
    SELECT MAX(ABS(CAST(c1 * t2 - c2 * t1 AS DOUBLE))) / (SELECT t1 * CAST(t2 AS DOUBLE) FROM tot)
             AS ks_distance,
           (SELECT CAST(t1 AS BIGINT) FROM tot) AS n_building,
           (SELECT CAST(t2 AS BIGINT) FROM tot) AS n_machinery
    FROM cdf
    """,
)
def agg_ks_test_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov distance between the order-value
    distributions of two customer segments — the distribution-drift
    test (train/serve skew, A/B sanity, cohort comparison), computed
    over 1000 fixed-width bucketed CDFs: max |F1−F2| evaluated at
    bucket edges.  Bucketing in exact integer cents DIV; the deviation
    |c1·t2 − c2·t1| stays an exact integer (cross-multiplied — NO
    per-bucket float division), one double division by t1·t2 at the
    end.  The cumulative window runs over the 1000-row bucket spine
    AFTER the fact collapses; exact-value KS (sort over all distinct
    values) is the oracle-checkable reference this approximates at
    bucket resolution — at 100 TB the bucket form is the only sane
    shape (the spine is constant-size regardless of data)."""
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    tagged = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .filter(F.col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .select(
            F.least(
                F.lit(_KS_BUCKETS - 1).cast("long"),
                F.expr(
                    f"CAST(FLOOR((o_totalprice) * 100 + 0.5) AS BIGINT) DIV {_KS_WIDTH_C}"
                ),
            ).alias("b"),
            F.when(F.col("c_mktsegment") == "BUILDING", 1).otherwise(0).alias("s1"),
            F.when(F.col("c_mktsegment") == "MACHINERY", 1).otherwise(0).alias("s2"),
        )
    )
    bucketed = tagged.groupBy("b").agg(
        F.sum("s1").alias("n1"), F.sum("s2").alias("n2")
    )
    tot = bucketed.agg(F.sum("n1").alias("t1"), F.sum("n2").alias("t2"))
    from pyspark.sql import Window as W

    wc = W.orderBy("b")
    cdf = bucketed.crossJoin(F.broadcast(tot)).select(
        F.sum("n1").over(wc).alias("c1"),
        F.sum("n2").over(wc).alias("c2"),
        "t1",
        "t2",
    )
    dev = F.abs((F.col("c1") * F.col("t2") - F.col("c2") * F.col("t1")).cast("double"))
    return cdf.agg(
        (F.max(dev) / (F.any_value("t1") * F.any_value("t2").cast("double"))).alias(
            "ks_distance"
        ),
        F.any_value("t1").alias("n_building"),
        F.any_value("t2").alias("n_machinery"),
    )


# ---------------------------------------------------------------------------
# Winsorized mean
# ---------------------------------------------------------------------------


@register(
    "agg_winsorized_mean",
    tier="B",
    oracle=f"""
    WITH v AS (SELECT {sql_cents("o_totalprice")} AS c FROM orders),
    ranked AS (
      SELECT c, ROW_NUMBER() OVER (ORDER BY c) AS rn,
             COUNT(*) OVER () AS n
      FROM v
    ), bounds AS (
      SELECT MIN(CASE WHEN 20 * rn >= n THEN c END) AS lo,
             MIN(CASE WHEN 20 * rn >= 19 * n THEN c END) AS hi
      FROM ranked
    )
    SELECT SUM(LEAST(GREATEST(c, lo), hi)) / 100.0 / COUNT(*) AS winsorized_mean,
           SUM(c) / 100.0 / COUNT(*) AS raw_mean,
           lo AS p05_cents, hi AS p95_cents
    FROM v, bounds
    GROUP BY lo, hi
    """,
    cost_note=(
        "two-phase distributed selection (quantile_disc_two_phase: coarse "
        "bucket agg + spine walk + broadcast-targeted fine pass + final agg) "
        "= several chained jobs whose per-stage floors dominate at bench "
        "scale; samples hover at the gate (1.37-1.58 s). The shape is the "
        "point: the one-window textbook form is Exchange SinglePartition on "
        "the fact, the scale hazard SCALING.md's quantile_disc_2phase cell "
        "(2.4x@100x) certifies this plan avoids"
    ),
)
def agg_winsorized_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean of order value (5%/95% clamp) — the outlier-
    robust center feature pipelines prefer over raw means when heavy
    tails poison models.  The clamp bounds are DISCRETE (type-1)
    quantiles selected by an all-integer rank rule (smallest value whose
    rank rn satisfies 20*rn >= n, resp. >= 19*n): actual data values,
    tie-invariant, no interpolation — so no FLOOR(interpolated double)
    boundary for a cross-engine ulp to flip (the r03 red-row hazard
    class; interpolated quantiles with fractional f are NOT exact even
    on integer inputs because 0.05 itself is not representable).  The
    rank rule runs DISTRIBUTED via two-phase bucket selection
    (operators/selection.py): a coarse bucket-count pass plus a fine
    pass over only the two quantiles' buckets — no global-order window
    funneling every row through one partition.  The clamped sum is pure
    long arithmetic with two double divisions at output in shared
    operand order (the proven cavg pattern).  Scale: percentile_approx
    replaces the exact rank pass at extreme cardinality (the B96/B122
    lever); the clamp-sum pass is map-side-combined either way."""
    from ub_etl_spark.operators.selection import quantile_disc_two_phase

    o = T(spark, sf_dir, "orders")
    v = o.select(cents("o_totalprice").alias("c"))
    bounds = quantile_disc_two_phase(v, "c", [("lo", 1, 20), ("hi", 19, 20)])
    clamped = F.least(F.greatest(F.col("c"), F.col("lo")), F.col("hi"))
    return (
        v.crossJoin(F.broadcast(bounds))
        .groupBy("lo", "hi")
        .agg(
            (F.sum(clamped) / 100.0 / F.count(F.lit(1))).alias("winsorized_mean"),
            (F.sum("c") / 100.0 / F.count(F.lit(1))).alias("raw_mean"),
        )
        .select(
            "winsorized_mean",
            "raw_mean",
            F.col("lo").alias("p05_cents"),
            F.col("hi").alias("p95_cents"),
        )
    )


# ---------------------------------------------------------------------------
# 2D grid-bucketed spatial join
# ---------------------------------------------------------------------------

_GRID_R = 4.0  # distance threshold == cell width (one-ring adjacency covers)


@register(
    "join_spatial_grid",
    tier="B",
    oracle=f"""
    WITH pts AS (
      SELECT p_partkey AS id, CAST(p_size AS DOUBLE) AS x,
             p_retailprice / 250.0 AS y
      FROM part
    )
    SELECT a.id AS id_a, b.id AS id_b,
           floor(sqrt((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y))
                 * 1000000) / 1000000 AS dist
    FROM pts a JOIN pts b
      ON a.id < b.id
     AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
         <= {_GRID_R} * {_GRID_R}
    """,
    cost_note=(
        "real distance-pair work: the qualifying set is ~27M pairs (13.5% of "
        "all pairs: r=4 on an effectively-1D strip), so both engines are "
        "output-bound; the equi-join grid plan runs 3-7x faster than the "
        "O(n^2) oracle. The oracle side is the bench's biggest noise source: "
        "DuckDB's 27M-row fetchall swings 20-67 s across sessions (66.8 s in "
        "one run, 27.3 s min-of-3 in another), moving aggregate_ratio by ~1x "
        "on its own; read the aggregate with the floor/exception "
        "decomposition, not raw. SCALING.md cell 6.6x@100x"
    ),
)
def join_spatial_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2D grid-bucketed distance join: all point pairs within distance r
    in the (size, scaled-price) plane — the geospatial-join shape
    (points-within-radius, store-catchment overlap, sensor
    co-location) with no native Spark operator.  Cell width == r, so a
    qualifying pair sits in the same or one-ring-adjacent cells: side A
    keys on its own cell, side B explodes to a DIRECTED half-ring —
    same cell plus the 4 positive-direction neighbors (0,1),(1,-1),
    (1,0),(1,1) — so each geometric pair is candidate-tested EXACTLY
    once: cross-cell pairs meet only through the one directed offset
    (the offset set contains no inverses), same-cell pairs dedup on
    id < id_b.  That is 5x B-side duplication instead of the textbook
    undirected 9x, and HALF the distance evaluations (the undirected
    form tests every pair from both ends and discards one by the id
    order).  The join is plain EQUI hash on cell id, the exact distance
    predicate filters after — O(n x local density), never the oracle's
    O(n²) cross product; the 1D theta-band bucketing (B98) lifted to
    2D.  Output ids order as least/greatest (cross-cell candidates
    arrive in arbitrary id order).  Distances floor to 6dp (sqrt ulp
    rule).  Scale: skewed hot cells split by AQE like any hash join; at
    planetary scale swap the uniform grid for a geohash at the same
    cell-width-=r discipline."""
    p = T(spark, sf_dir, "part")
    r = _GRID_R
    pts = p.select(
        F.col("p_partkey").alias("id"),
        F.col("p_size").cast("double").alias("x"),
        (F.col("p_retailprice") / 250.0).alias("y"),
    )
    cx = F.floor(F.col("x") / r).cast("long")
    cy = F.floor(F.col("y") / r).cast("long")
    # r15 perf: the exploded side broadcasts, so WITHOUT an exchange the
    # probe side inherits the scan's partitioning — one row group at bench
    # scale = ONE task generating all ~27M qualifying pairs (guide §2: the
    # heavy work here is per-CANDIDATE compute + output materialization,
    # which input-byte-based split sizing cannot see).  Round-robin
    # repartition to the session's parallelism spreads the probe rows
    # evenly (output-bound stage, no key skew possible); the exchange
    # itself moves only |points| rows.  Measured at sf0.1 (r15): 8.2 s
    # (bench) -> 1.07 s min-of-3 together with the POWER->multiply
    # rewrite below; value parity re-verified at sf0.01 and sf0.1 (and
    # recorded in plans/r16/join_spatial_grid_parity.txt, r15 ADVICE).  At
    # cluster scale the scan arrives multi-split and the exchange stays
    # |points|-cheap.
    #
    # PRECONDITION (r15 ADVICE): this repartition pays off while the
    # exploded side `b` broadcasts (its post-explode size estimate sits
    # under the broadcast threshold here, and AQE confirms at runtime).
    # If a deployment's points table outgrows broadcast, the join falls
    # back to shuffle on (cx, cy), `a` is immediately re-shuffled by key,
    # and this round-robin exchange becomes a pure extra pass over the
    # points — drop it in that regime.  No F.broadcast(b) hint on
    # purpose: pinning a 5x-exploded side to broadcast is exactly the
    # 100 TB hazard §3.1 warns about; the size-based auto decision is the
    # correct selector in both regimes.
    a = pts.select("id", "x", "y", cx.alias("cx"), cy.alias("cy")).repartition(
        spark.sparkContext.defaultParallelism
    )
    offsets = [(0, 0), (0, 1), (1, -1), (1, 0), (1, 1)]
    b = pts.select(
        F.col("id").alias("id_b"),
        F.col("x").alias("xb"),
        F.col("y").alias("yb"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        (cx + F.lit(dx)).alias("cx"),
                        (cy + F.lit(dy)).alias("cy"),
                        F.lit(dx == 0 and dy == 0).alias("same"),
                    )
                    for dx, dy in offsets
                ]
            )
        ).alias("cell"),
    ).select(
        "id_b",
        "xb",
        "yb",
        F.col("cell.cx").alias("cx"),
        F.col("cell.cy").alias("cy"),
        F.col("cell.same").alias("same"),
    )
    # d2 as explicit self-multiplication, NOT `** 2`: Column.__pow__
    # compiles to POWER(x, 2.0) = one java.lang.Math.pow libm call per
    # candidate per axis; the multiply is a single codegen'd fp
    # instruction and is the oracle's own formulation ((a.x-b.x)*(a.x-b.x)),
    # so the engines agree bit-for-bit by construction.
    d2 = (F.col("x") - F.col("xb")) * (F.col("x") - F.col("xb")) + (
        F.col("y") - F.col("yb")
    ) * (F.col("y") - F.col("yb"))
    return (
        a.join(b, ["cx", "cy"])
        .filter(
            (~F.col("same") | (F.col("id") < F.col("id_b")))
            & (d2 <= F.lit(r * r))
        )
        .select(
            F.least("id", "id_b").alias("id_a"),
            F.greatest("id", "id_b").alias("id_b"),
            (F.floor(F.sqrt(d2) * 1e6) / 1e6).alias("dist"),
        )
    )
