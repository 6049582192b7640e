"""Warehouse-modeling operators: calendar dimension generation, RFM
customer segmentation, ABC (Pareto-cut) classification.

All three are global-order or generated-dimension shapes: the calendar
explodes a bounded date range (zero shuffle), RFM and ABC rank over
per-entity aggregates (data already shrunk to one row per entity before
any global window — the shared watch-item of global order statistics,
with the two-phase distributed rank as the named 100 TB path)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ub_etl_spark.functions.exact import cents, csum, sql_cents, sql_csum
from ub_etl_spark.registry import register
from ub_etl_spark.sources.tables import load_table as T


@register(
    "dim_date_generate",
    tier="B",
    oracle="""
    WITH bounds AS (
      SELECT CAST(MIN(o_orderdate) AS DATE) AS lo,
             CAST(MAX(o_orderdate) AS DATE) AS hi
      FROM orders
    ), days AS (
      SELECT CAST(UNNEST(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS d
      FROM bounds
    ), ord AS (
      SELECT CAST(o_orderdate AS DATE) AS d, COUNT(*) AS n_orders
      FROM orders GROUP BY 1
    )
    SELECT days.d, YEAR(days.d) AS y, QUARTER(days.d) AS q,
           MONTH(days.d) AS m, DATE_PART('dow', days.d) AS dow,
           DATE_PART('dow', days.d) IN (0, 6) AS is_weekend,
           COALESCE(ord.n_orders, 0) AS n_orders
    FROM days LEFT JOIN ord ON days.d = ord.d
    """,
)
def dim_date_generate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-dimension generation (the date dim every star schema
    needs): one F.sequence explode over the observed [min, max] order-
    date range with derived attributes, left-joined to per-day order
    counts so ZERO-activity days stay visible (an inner join on the fact
    would silently drop them).  The range bounds come from a 1-row
    aggregate — generation is a single Generate over one row, no
    shuffle; the per-day counts aggregate map-side on a date key.  DOW
    is normalized to DuckDB's 0=Sunday convention (Spark's dayofweek is
    1=Sunday)."""
    o = T(spark, sf_dir, "orders")
    bounds = o.agg(
        F.min(F.col("o_orderdate").cast("date")).alias("lo"),
        F.max(F.col("o_orderdate").cast("date")).alias("hi"),
    )
    days = bounds.select(
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))).alias("d")
    )
    ord_ = (
        o.groupBy(F.col("o_orderdate").cast("date").alias("od"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    dow = F.dayofweek("d") - 1
    return (
        days.join(ord_, days.d == ord_.od, "left_outer")
        .select(
            "d",
            F.year("d").alias("y"),
            F.quarter("d").alias("q"),
            F.month("d").alias("m"),
            dow.alias("dow"),
            dow.isin(0, 6).alias("is_weekend"),
            F.coalesce("n", F.lit(0)).alias("n_orders"),
        )
    )


@register(
    "orders_rfm_segmentation",
    tier="B",
    oracle=f"""
    WITH per_cust AS (
      SELECT o_custkey,
             MAX(o_orderdate) AS last_order,
             COUNT(*) AS frequency,
             SUM({sql_cents("o_totalprice")}) AS monetary_c
      FROM orders GROUP BY o_custkey
    )
    SELECT o_custkey, last_order, frequency, monetary_c / 100.0 AS monetary,
           r_q, f_q, m_q,
           CAST(r_q AS VARCHAR) || CAST(f_q AS VARCHAR) || CAST(m_q AS VARCHAR)
             AS segment
    FROM (
      SELECT *,
             NTILE(5) OVER (ORDER BY last_order DESC, o_custkey) AS r_q,
             NTILE(5) OVER (ORDER BY frequency DESC, o_custkey) AS f_q,
             NTILE(5) OVER (ORDER BY monetary_c DESC, o_custkey) AS m_q
      FROM per_cust
    )
    """,
)
def orders_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation (recency / frequency / monetary
    quintiles, quintile 1 = best): the marketing-segmentation staple.
    The fact table shrinks to one row per customer in a map-side-
    combined aggregate BEFORE the three global NTILE rankings (the
    global-order watch-item; two-phase distributed rank at 100 TB), and
    all three quintiles compute over the same per-customer frame —
    Spark plans the three differently-ordered windows as sorts over one
    exchange, not three scans.  Monetary in exact cents; every ordering
    tie-broken by custkey."""
    o = T(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(cents("o_totalprice")).alias("monetary_c"),
    )
    r_q = F.ntile(5).over(Window.orderBy(F.desc("last_order"), F.asc("o_custkey")))
    f_q = F.ntile(5).over(Window.orderBy(F.desc("frequency"), F.asc("o_custkey")))
    m_q = F.ntile(5).over(Window.orderBy(F.desc("monetary_c"), F.asc("o_custkey")))
    return (
        per_cust.withColumn("r_q", r_q)
        .withColumn("f_q", f_q)
        .withColumn("m_q", m_q)
        .select(
            "o_custkey",
            "last_order",
            "frequency",
            (F.col("monetary_c") / 100.0).alias("monetary"),
            "r_q",
            "f_q",
            "m_q",
            F.concat(
                F.col("r_q").cast("string"),
                F.col("f_q").cast("string"),
                F.col("m_q").cast("string"),
            ).alias("segment"),
        )
    )


@register(
    "orders_abc_classification",
    tier="B",
    oracle=f"""
    WITH per_part AS (
      SELECT l_partkey, SUM({sql_cents("l_extendedprice")}) AS rev_c
      FROM lineitem GROUP BY l_partkey
    ), ranked AS (
      SELECT l_partkey, rev_c,
             SUM(rev_c) OVER (ORDER BY rev_c DESC, l_partkey
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum_c,
             SUM(rev_c) OVER () AS tot_c
      FROM per_part
    )
    SELECT l_partkey, rev_c / 100.0 AS revenue,
           CASE WHEN cum_c * 5 <= tot_c THEN 'A'
                WHEN cum_c * 2 <= tot_c THEN 'B'
                ELSE 'C' END AS abc_class
    FROM ranked
    """,
)
def orders_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto-cut classification: parts whose cumulative revenue
    share (ranked best-first) stays within 20% are class A, within 50%
    class B, the tail C — the inventory-prioritization primitive.  The
    cut conditions are INTEGER inequalities (cum*5 <= tot instead of
    cum/tot <= 0.2), so classification is exact with no float division
    anywhere.  Per-part aggregation shrinks the fact before the global
    cumulative window (same watch-item + two-phase-rank scale path as
    RFM/Gini)."""
    li = T(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(
        F.sum(cents("l_extendedprice")).alias("rev_c")
    )
    w_cum = (
        Window.orderBy(F.desc("rev_c"), F.asc("l_partkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy()
    ranked = per_part.select(
        "l_partkey",
        "rev_c",
        F.sum("rev_c").over(w_cum).alias("cum_c"),
        F.sum("rev_c").over(w_tot).alias("tot_c"),
    )
    return ranked.select(
        "l_partkey",
        (F.col("rev_c") / 100.0).alias("revenue"),
        F.when(F.col("cum_c") * 5 <= F.col("tot_c"), "A")
        .when(F.col("cum_c") * 2 <= F.col("tot_c"), "B")
        .otherwise("C")
        .alias("abc_class"),
    )


@register(
    "pipeline_customer_features",
    tier="B",
    oracle=f"""
    WITH per_cust AS (
      SELECT o_custkey,
             MAX(o_orderdate) AS last_order,
             COUNT(*) AS frequency,
             SUM({sql_cents("o_totalprice")}) AS monetary_c
      FROM orders GROUP BY o_custkey
    ), gaps AS (
      SELECT o_custkey,
             DATE_DIFF('day',
                       LAG(o_orderdate) OVER (PARTITION BY o_custkey
                                              ORDER BY o_orderdate, o_orderkey),
                       o_orderdate) AS gap_days
      FROM orders
    ), gap_stats AS (
      SELECT o_custkey,
             CAST(SUM(gap_days) AS DOUBLE) / COUNT(*) AS avg_gap_days
      FROM gaps WHERE gap_days IS NOT NULL GROUP BY o_custkey
    ), seg_stats AS (
      SELECT c_mktsegment AS seg, COUNT(c_acctbal) AS n,
             SUM({sql_cents("c_acctbal")}) AS s1
      FROM customer GROUP BY c_mktsegment
    )
    SELECT c.c_custkey,
           p.frequency,
           p.monetary_c / 100.0 AS monetary,
           COALESCE(g.avg_gap_days, 0.0) AS avg_gap_days,
           {sql_cents("c.c_acctbal")} / 100.0 - (st.s1 / 100.0 / st.n)
             AS acctbal_centered,
           CASE WHEN c.c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS is_building,
           CASE WHEN p.frequency >= 10 THEN 1 ELSE 0 END AS is_frequent
    FROM customer c
    JOIN per_cust p ON c.c_custkey = p.o_custkey
    LEFT JOIN gap_stats g ON c.c_custkey = g.o_custkey
    JOIN seg_stats st ON c.c_mktsegment = st.seg
    """,
)
def pipeline_customer_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end customer feature-store build as ONE Catalyst plan: RFM
    base stats, inter-purchase cadence, segment-centered balance, and
    binary flags — the composite that feeds a churn/LTV model, composed
    from the same expression shapes as orders_rfm_segmentation,
    orders_interpurchase_gaps and feature_scale_standard without
    materializing any intermediate.  Both per-customer aggregates and
    the gap window share the o_custkey exchange; segment stats broadcast
    (25 rows); customers without a second order keep avg_gap_days = 0
    via the LEFT join (an inner join would silently drop one-order
    customers from the feature table — the classic training-data bug).
    All floats are exact-integer-derived except the final divisions."""
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    per_cust = o.groupBy("o_custkey").agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum(cents("o_totalprice")).alias("monetary_c"),
    )
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gap_stats = (
        o.select(
            "o_custkey",
            F.datediff(F.col("o_orderdate"), F.lag("o_orderdate").over(w)).alias(
                "gap_days"
            ),
        )
        .filter(F.col("gap_days").isNotNull())
        .groupBy("o_custkey")
        .agg(
            (F.sum("gap_days").cast("double") / F.count(F.lit(1))).alias(
                "avg_gap_days"
            )
        )
    )
    seg_stats = c.groupBy(F.col("c_mktsegment").alias("seg")).agg(
        F.count("c_acctbal").alias("n"), F.sum(cents("c_acctbal")).alias("s1")
    )
    return (
        c.join(per_cust, c.c_custkey == per_cust.o_custkey)
        .join(
            gap_stats.withColumnRenamed("o_custkey", "g_custkey"),
            F.col("c_custkey") == F.col("g_custkey"),
            "left_outer",
        )
        .join(F.broadcast(seg_stats), F.col("c_mktsegment") == F.col("seg"))
        .select(
            "c_custkey",
            "frequency",
            (F.col("monetary_c") / 100.0).alias("monetary"),
            F.coalesce("avg_gap_days", F.lit(0.0)).alias("avg_gap_days"),
            (
                cents("c_acctbal") / 100.0
                - (F.col("s1") / 100.0 / F.col("n"))
            ).alias("acctbal_centered"),
            F.when(F.col("c_mktsegment") == "BUILDING", 1).otherwise(0).alias(
                "is_building"
            ),
            F.when(F.col("frequency") >= 10, 1).otherwise(0).alias("is_frequent"),
        )
    )


@register(
    "orders_open_backlog_daily",
    tier="B",
    oracle="""
    WITH deltas AS (
      SELECT CAST(o_orderdate AS DATE) AS d, 1 AS delta FROM orders
      UNION ALL
      SELECT CAST(o_orderdate + INTERVAL 30 DAY AS DATE) AS d, -1 AS delta
      FROM orders
    ), per_day AS (
      SELECT d, SUM(delta) AS net FROM deltas GROUP BY d
    )
    SELECT d, CAST(SUM(net) OVER (ORDER BY d
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS open_orders
    FROM per_day
    """,
)
def orders_open_backlog_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily open-order backlog via sweep-line event differencing: each
    order contributes +1 at open and -1 at close (open + 30 days), the
    deltas aggregate per day, and one cumulative window over ~|days|
    rows reconstructs the backlog curve.  The naive formulation — join
    every day against every interval containing it — is O(orders x
    open-days) and re-shuffles the fact per day range; this is O(orders)
    with the only window running over the tiny day spine.  The same
    pattern prices concurrent-session peaks and inventory levels at
    100 TB.  All integers; the cumulative sum is exact."""
    o = T(spark, sf_dir, "orders")
    opens = o.select(F.col("o_orderdate").cast("date").alias("d"), F.lit(1).alias("delta"))
    closes = o.select(
        (F.col("o_orderdate") + F.expr("INTERVAL 30 DAY")).cast("date").alias("d"),
        F.lit(-1).alias("delta"),
    )
    per_day = opens.unionByName(closes).groupBy("d").agg(F.sum("delta").alias("net"))
    w = Window.orderBy("d").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return per_day.select("d", F.sum("net").over(w).alias("open_orders"))


@register(
    "lineitem_yoy_growth",
    tier="B",
    oracle=f"""
    WITH monthly AS (
      SELECT YEAR(l_shipdate) AS y, MONTH(l_shipdate) AS m,
             SUM({sql_cents("l_extendedprice")}) AS rev_c
      FROM lineitem GROUP BY YEAR(l_shipdate), MONTH(l_shipdate)
    )
    SELECT y, m, rev_c / 100.0 AS revenue,
           CAST(rev_c AS DOUBLE)
             / LAG(rev_c, 12) OVER (ORDER BY y, m) - 1.0 AS yoy_growth
    FROM monthly
    """,
)
def lineitem_yoy_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Year-over-year monthly revenue growth: exact monthly cents
    aggregates, then LAG(12) over the month spine — growth is one
    double division of two exact longs minus one (NULL for the first
    twelve months rather than a fake 0).  The fact aggregates to
    |months| rows before the global-order window, so the watch-item
    window is ~84 rows; the month key (y, m) avoids date-truncation
    functions whose month-boundary semantics differ across engines."""
    li = T(spark, sf_dir, "lineitem")
    monthly = li.groupBy(
        F.year("l_shipdate").alias("y"), F.month("l_shipdate").alias("m")
    ).agg(F.sum(cents("l_extendedprice")).alias("rev_c"))
    w = Window.orderBy("y", "m")
    return monthly.select(
        "y",
        "m",
        (F.col("rev_c") / 100.0).alias("revenue"),
        (
            F.col("rev_c").cast("double") / F.lag("rev_c", 12).over(w) - 1.0
        ).alias("yoy_growth"),
    )


# ---------------------------------------------------------------------------
# Interval coalescing (gaps-and-islands with variable-length intervals)
# ---------------------------------------------------------------------------


# shared by the windowed reference form and the registered Arrow scale
# form — identical output contract, one oracle text
_EPISODES_ORACLE = """
    WITH iv AS (
      SELECT o.o_custkey, o.o_orderkey,
             o.o_orderdate AS iv_start, MAX(l.l_shipdate) AS iv_end
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_custkey, o.o_orderkey, o.o_orderdate
    ), flagged AS (
      SELECT o_custkey, o_orderkey, iv_start, iv_end,
             CASE WHEN iv_start > MAX(iv_end) OVER (
                    PARTITION BY o_custkey
                    ORDER BY iv_start, iv_end, o_orderkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  OR MAX(iv_end) OVER (
                    PARTITION BY o_custkey
                    ORDER BY iv_start, iv_end, o_orderkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
                  THEN 1 ELSE 0 END AS new_ep
      FROM iv
    ), numbered AS (
      -- the cumulative-sum order MUST repeat the flag window's FULL
      -- (iv_start, iv_end, o_orderkey) total order: with exact duplicate
      -- intervals per customer, (iv_start, iv_end) alone leaves tied rows
      -- order-ambiguous, and a tie swap moves the flagged row's episode
      -- boundary (caught by sf1 value parity r15: Spark's non-stable
      -- window sort emitted 28270 episodes vs 28300 under a stable sort)
      SELECT o_custkey, iv_start, iv_end,
             CAST(SUM(new_ep) OVER (PARTITION BY o_custkey
                               ORDER BY iv_start, iv_end, o_orderkey
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS episode
      FROM flagged
    )
    SELECT o_custkey, episode,
           MIN(iv_start) AS episode_start, MAX(iv_end) AS episode_end,
           COUNT(*) AS n_orders
    FROM numbered
    GROUP BY o_custkey, episode
    ORDER BY o_custkey, episode
    """


def _order_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(o_custkey, iv_start, iv_end) per order — the shared interval
    build of both episode forms.  Pre-aggregate the fact to per-order
    MAX(shipdate) BEFORE joining orders: the join then moves |orders|
    rows instead of |lineitem| rows carrying customer/date columns
    through the wide shuffle (the 4x-fact-reduction that matters at
    100 TB; same result — max is per-orderkey either side of the
    join)."""
    o = T(spark, sf_dir, "orders")
    li = T(spark, sf_dir, "lineitem")
    last_ship = li.groupBy(F.col("l_orderkey").alias("o_orderkey")).agg(
        F.max("l_shipdate").alias("iv_end")
    )
    return o.select(
        "o_custkey", "o_orderkey", F.col("o_orderdate").alias("iv_start")
    ).join(last_ship, "o_orderkey")


@register(
    "orders_active_episodes",
    tier="B",
    oracle=_EPISODES_ORACLE,
    cost_note=(
        "join + 2 keyed window sorts + agg = 4 stages; lineitem is "
        "pre-aggregated to per-order MAX(shipdate) before the join (1.45 s -> "
        "1.00 s, and the 4x fact reduction that matters at scale); the "
        "remaining gap is per-stage latency vs DuckDB's 0.17 s single-node "
        "run"
    ),
    ratio_exception=True,
)
def orders_active_episodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval coalescing / gaps-and-islands over VARIABLE-LENGTH
    intervals: each order spans [orderdate, last shipment]; overlapping
    or touching spans per customer merge into one 'active episode' (the
    session-consolidation shape for maintenance windows, coverage
    periods, engagement spells).  Unlike fixed-gap sessionization
    (stream_session_window's lag+cumsum), variable ends need a RUNNING
    MAX of interval end — a lag of the previous end misses an earlier
    long interval that still covers this start.  One custkey-keyed
    shuffle carries the interval build (agg), the two windows, and the
    episode aggregate; nothing global.  Ordering is totalized by
    (start, end, orderkey); tied starts can swap flag attribution
    between the tied rows but never change episode MEMBERSHIP (either
    tied row's end >= the shared start), so the per-episode aggregate is
    order-stable.  Scale note: keyed windows keep the plan shape at 1e9
    customers, but per-key interval counts grow with fact volume and the
    window sort rides its n log n envelope (SCALING.md
    active_episodes cell, 69.6x@100x after the r15 tie fix — the
    totalized order lets both windows share ONE sort; the pre-fix
    two-sort form read 115.7x, and the r15 same-session A/B measured
    old-vs-new 86.4s vs 62.9s at 100x) — the registered scale DEFAULT is
    orders_active_episodes_arrow below (15.3x@100x, same rows); this
    windowed form stays as the oracle-shaped reference.

    Tie discipline (r15, caught by sf1 VALUE parity): BOTH windows
    totalize their order with (iv_start, iv_end, o_orderkey).  The
    earlier form ordered the cumulative sum by (iv_start, iv_end) only,
    which is ambiguous when a customer holds exact duplicate intervals —
    a tie swap relative to the flag window moves the new_ep=1 row across
    the boundary and re-partitions episode membership (Spark's
    non-stable window sort emitted 28270 vs 28300 rows at sf1; identical
    at sf0.001-0.1 only because the physical row order happened to
    agree).  With one total order shared by both windows the result is
    engine- and scale-invariant, and equals the order-free interval
    union the Arrow twin computes."""
    iv = _order_intervals(spark, sf_dir)
    w_prev = (
        Window.partitionBy("o_custkey")
        .orderBy("iv_start", "iv_end", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_max = F.max("iv_end").over(w_prev)
    flagged = iv.select(
        "o_custkey",
        "o_orderkey",
        "iv_start",
        "iv_end",
        F.when(
            prev_max.isNull() | (F.col("iv_start") > prev_max), F.lit(1)
        )
        .otherwise(F.lit(0))
        .alias("new_ep"),
    )
    w_cum = (
        Window.partitionBy("o_custkey")
        .orderBy("iv_start", "iv_end", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    numbered = flagged.select(
        "o_custkey",
        "iv_start",
        "iv_end",
        F.sum("new_ep").over(w_cum).alias("episode"),
    )
    return (
        numbered.groupBy("o_custkey", "episode")
        .agg(
            F.min("iv_start").alias("episode_start"),
            F.max("iv_end").alias("episode_end"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("o_custkey", "episode")
    )


@register(
    "orders_active_episodes_arrow",
    tier="B",
    oracle=_EPISODES_ORACLE,
    cost_note=(
        "the registered scale form of orders_active_episodes: same join + "
        "hash exchange + local sort, then one mapInPandas scan instead of two "
        "WindowExecs. At sf0.1 the Python-worker spin-up and Arrow transfer "
        "are fixed costs (~0.3-0.5 s) the windowed form doesn't pay, so it "
        "reads slightly slower here; the trade is 22.4 s vs 46.6 s at 100x "
        "(SCALING.md active_episodes_arrow 15.3x vs 112x windowed). Same "
        "sub-second oracle floor story as orders_active_episodes"
    ),
    ratio_exception=True,
)
def orders_active_episodes_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval coalescing as ONE vectorized Arrow pass — the registered
    scale default for gaps-and-islands episode stitching (SURVEY §2
    B133; r7 verdict task 1: promote the lever from measured sidecar to
    driver-hash-checked query).  coalesce_intervals_arrow
    (operators/intervals.py) pays exactly the exchange + local sort a
    keyed WindowExec would (hash repartition by custkey,
    sortWithinPartitions), then replaces the per-row window machinery
    with a numpy maximum.accumulate/reduceat scan carrying open-episode
    state across Arrow batches — O(n) per partition after the sort.
    Controlled 100x: 22.4 s vs the windowed form's 46.6 s (SCALING.md
    active_episodes_arrow 15.3x@100x vs the windowed 69.6x); also fastest at 1x.
    Output is row-identical to orders_active_episodes (equality pinned
    in tests/test_intervals.py; the forced cross-batch carry path is
    pinned against a Python model in tests/test_properties_intervals.py)
    and shares its oracle; intervals come from inner joins so the
    operator's non-null guard is vacuously satisfied."""
    from ub_etl_spark.operators.intervals import coalesce_intervals_arrow

    iv = _order_intervals(spark, sf_dir)
    return coalesce_intervals_arrow(iv, "o_custkey", "iv_start", "iv_end")


# ---------------------------------------------------------------------------
# OTIF (on-time-in-full) fulfillment rate
# ---------------------------------------------------------------------------


@register(
    "lineitem_otif_rate",
    tier="B",
    oracle="""
    WITH per_order AS (
      SELECT o.o_orderkey, o.o_orderpriority,
             CASE WHEN MAX(l.l_shipdate) <= o.o_orderdate + INTERVAL 90 DAY
                  THEN 1 ELSE 0 END AS otif
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderkey, o.o_orderpriority, o.o_orderdate
    )
    SELECT o_orderpriority, COUNT(*) AS n_orders,
           CAST(SUM(otif) AS BIGINT) AS n_otif,
           CAST(SUM(otif) AS DOUBLE) / COUNT(*) AS otif_rate
    FROM per_order GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    cost_note=(
        "per-order MAX pre-agg + priority join + ppm rate agg = 3 stages; "
        "0.72 s absolute; the pre-agg is the 4x fact reduction documented in "
        "the query's docstring"
    ),
    ratio_exception=True,
)
def lineitem_otif_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """On-time-in-full rate per order priority — the supply-chain
    fulfillment KPI: an order counts only when its LAST line ships
    within 90 days of order date (per-order MAX, not per-line — the
    'in full' part).  The fact PRE-AGGREGATES to its per-order
    MAX(l_shipdate) before the join — the partial agg combines map-side,
    so the join exchange moves one 2-column row per order instead of
    every line (4x fewer shuffled rows here, |lines|/|orders| fewer at
    100 TB); the otif flag then computes against the joined order row.
    Flags are exact integers, the rate is one double division.
    Semantics are join-order-safe because the groupBy key IS the join
    key and orders are unique per key."""
    o = T(spark, sf_dir, "orders")
    li = T(spark, sf_dir, "lineitem")
    last_ship = li.groupBy("l_orderkey").agg(
        F.max("l_shipdate").alias("last_ship")
    )
    per_order = last_ship.join(
        o, last_ship.l_orderkey == o.o_orderkey
    ).select(
        "o_orderpriority",
        F.when(
            F.col("last_ship")
            <= F.col("o_orderdate") + F.expr("INTERVAL 90 DAY"),
            1,
        )
        .otherwise(0)
        .alias("otif"),
    )
    return (
        per_order.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("otif").cast("bigint").alias("n_otif"),
            (F.sum("otif").cast("double") / F.count(F.lit(1))).alias("otif_rate"),
        )
        .orderBy("o_orderpriority")
    )


# ---------------------------------------------------------------------------
# Herfindahl-Hirschman concentration index
# ---------------------------------------------------------------------------


@register(
    "supplier_concentration_hhi",
    tier="B",
    oracle=f"""
    WITH rev AS (
      SELECT l_suppkey, SUM({sql_cents("l_extendedprice")}) AS r
      FROM lineitem GROUP BY l_suppkey
    ), tot AS (SELECT SUM(r) AS t, COUNT(*) AS n FROM rev),
    shares AS (
      SELECT CAST(FLOOR(CAST(r AS DOUBLE) * 1000000 / t) AS BIGINT) AS s_u, n
      FROM rev, tot
    )
    SELECT SUM(s_u * s_u) / 1000000000000.0 AS hhi,
           ANY_VALUE(n) AS n_suppliers,
           1.0 / ANY_VALUE(n) AS hhi_floor
    FROM shares
    """,
)
def supplier_concentration_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration of supplier revenue — the
    market-concentration / vendor-risk metric (HHI 1/n = perfectly
    even, 1.0 = monopoly; procurement teams alarm above ~0.25).  Each
    share QUANTIZES to integer millionths via one shared-order double
    division before squaring, so the sum of squares is exact long
    arithmetic (a double share² sum would be order-dependent); the
    only divisions are the share quantization and the final 1e-12
    rescale.  One |suppliers| aggregate + a 1-row total broadcast.
    Scale: concentration state is |suppliers| rows; same HHI shape
    serves source-mix balance in a training-data pipeline
    (mix_weighted_sources' diagnostic twin)."""
    li = T(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_suppkey").agg(F.sum(cents("l_extendedprice")).alias("r"))
    tot = rev.agg(F.sum("r").alias("t"), F.count(F.lit(1)).alias("n"))
    s_u = F.floor(F.col("r").cast("double") * 1e6 / F.col("t")).cast("bigint")
    return (
        rev.crossJoin(F.broadcast(tot))
        .select(s_u.alias("s_u"), "n")
        .agg(
            (F.sum(F.col("s_u") * F.col("s_u")) / 1e12).alias("hhi"),
            F.any_value("n").alias("n_suppliers"),
            (F.lit(1.0) / F.any_value("n")).alias("hhi_floor"),
        )
    )


# ---------------------------------------------------------------------------
# Repeat-purchase cohort rate
# ---------------------------------------------------------------------------


@register(
    "orders_repeat_purchase_rate",
    tier="B",
    oracle="""
    WITH firsts AS (
      SELECT o_custkey, MIN(o_orderdate) AS first_dt
      FROM orders GROUP BY o_custkey
    ), flags AS (
      SELECT f.o_custkey,
             CAST(date_trunc('month', f.first_dt) AS DATE) AS cohort_month,
             MAX(CASE WHEN o.o_orderdate > f.first_dt
                       AND o.o_orderdate <= f.first_dt + INTERVAL 90 DAY
                      THEN 1 ELSE 0 END) AS repeated
      FROM firsts f JOIN orders o ON o.o_custkey = f.o_custkey
      GROUP BY f.o_custkey, date_trunc('month', f.first_dt)
    )
    SELECT cohort_month, COUNT(*) AS n_customers,
           CAST(SUM(repeated) AS BIGINT) AS n_repeated,
           CAST(SUM(repeated) AS DOUBLE) / COUNT(*) AS repeat_rate
    FROM flags GROUP BY cohort_month
    ORDER BY cohort_month
    """,
)
def orders_repeat_purchase_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """90-day repeat-purchase rate by acquisition-month cohort — the
    commerce loyalty metric (the orders-side sibling of the events
    retention matrix: did the customer come BACK within the window).
    Per-customer first order via one MIN agg; the orders scan re-joins
    keyed on o_custkey with the window condition riding the join and
    collapses to one repeat flag per customer; monthly rollup is tiny.
    Both shuffles co-key on o_custkey (AQE broadcasts the firsts side
    while it fits).  Exact flags, one division."""
    o = T(spark, sf_dir, "orders")
    firsts = o.groupBy("o_custkey").agg(F.min("o_orderdate").alias("first_dt")).select(
        F.col("o_custkey").alias("f_cust"), "first_dt"
    )
    flags = (
        o.join(firsts, o.o_custkey == F.col("f_cust"))
        .groupBy(
            "f_cust",
            F.date_trunc("month", F.col("first_dt")).cast("date").alias("cohort_month"),
        )
        .agg(
            F.max(
                F.when(
                    (F.col("o_orderdate") > F.col("first_dt"))
                    & (
                        F.col("o_orderdate")
                        <= F.col("first_dt") + F.expr("INTERVAL 90 DAY")
                    ),
                    1,
                ).otherwise(0)
            ).alias("repeated")
        )
    )
    return (
        flags.groupBy("cohort_month")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("repeated").cast("bigint").alias("n_repeated"),
            (F.sum("repeated").cast("double") / F.count(F.lit(1))).alias("repeat_rate"),
        )
        .orderBy("cohort_month")
    )


# ---------------------------------------------------------------------------
# Leakage-safe churn training set
# ---------------------------------------------------------------------------


@register(
    "pipeline_churn_training_set",
    tier="B",
    oracle=f"""
    WITH bounds AS (
      SELECT MAX(o_orderdate) - INTERVAL 365 DAY AS cutoff FROM orders
    ), feat AS (
      SELECT o.o_custkey,
             COUNT(*) AS n_orders_hist,
             SUM({sql_cents("o.o_totalprice")}) AS spend_hist_c,
             MAX(o.o_orderdate) AS last_order_dt,
             CAST(date_diff('day', MAX(o.o_orderdate), b.cutoff) AS BIGINT)
               AS recency_days
      FROM orders o, bounds b
      WHERE o.o_orderdate <= b.cutoff
      GROUP BY o.o_custkey, b.cutoff
    ), label AS (
      SELECT DISTINCT o.o_custkey, 0 AS churned
      FROM orders o, bounds b WHERE o.o_orderdate > b.cutoff
    )
    SELECT f.o_custkey, f.n_orders_hist,
           CAST(f.spend_hist_c AS DOUBLE) / 100.0 AS spend_hist,
           f.recency_days,
           COALESCE(l.churned, 1) AS churned
    FROM feat f LEFT JOIN label l ON f.o_custkey = l.o_custkey
    ORDER BY f.o_custkey
    """,
)
def pipeline_churn_training_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe churn training-set builder: features computed ONLY
    from orders at-or-before the cutoff (history window), the label
    ONLY from orders after it (observation window) — the temporal
    split every churn/LTV model needs and the classic silent bug when
    skipped (features that peek past the cutoff make offline metrics
    fiction).  Cutoff = corpus max date − 365d (a 1-row broadcast);
    features are one history-side aggregate (counts, exact-cents
    spend, recency vs cutoff in integer days); the label is an
    anti-join-shaped LEFT join against the distinct post-cutoff
    customer set (absent ⇒ churned=1).  Customers first seen AFTER
    the cutoff are correctly absent from the training set (no history
    ⇒ no feature row).  Scale: two keyed aggregates + one keyed
    join, nothing global."""
    o = T(spark, sf_dir, "orders")
    bounds = o.agg(
        (F.max("o_orderdate") - F.expr("INTERVAL 365 DAY")).alias("cutoff")
    )
    w = o.crossJoin(F.broadcast(bounds))
    feat = (
        w.filter(F.col("o_orderdate") <= F.col("cutoff"))
        .groupBy("o_custkey", "cutoff")
        .agg(
            F.count(F.lit(1)).alias("n_orders_hist"),
            F.sum(cents("o_totalprice")).alias("spend_hist_c"),
            F.max("o_orderdate").alias("last_order_dt"),
        )
        .select(
            "o_custkey",
            "n_orders_hist",
            "spend_hist_c",
            F.datediff(F.col("cutoff"), F.col("last_order_dt"))
            .cast("bigint")
            .alias("recency_days"),
        )
    )
    active = (
        w.filter(F.col("o_orderdate") > F.col("cutoff"))
        .select("o_custkey")
        .distinct()
        .withColumn("churned", F.lit(0))
    )
    return (
        feat.join(active, "o_custkey", "left")
        .select(
            "o_custkey",
            "n_orders_hist",
            (F.col("spend_hist_c").cast("double") / 100.0).alias("spend_hist"),
            "recency_days",
            F.coalesce(F.col("churned"), F.lit(1)).alias("churned"),
        )
        .orderBy("o_custkey")
    )


# ---------------------------------------------------------------------------
# Backlog aging snapshot
# ---------------------------------------------------------------------------


@register(
    "orders_backlog_aging",
    tier="B",
    oracle=f"""
    WITH ref AS (SELECT MAX(o_orderdate) AS ref_dt FROM orders),
    open_orders AS (
      SELECT o.o_orderkey, o.o_totalprice,
             CAST(date_diff('day', o.o_orderdate, r.ref_dt) AS BIGINT) AS age_d
      FROM orders o, ref r WHERE o.o_orderstatus = 'O'
    )
    SELECT LEAST(CAST(age_d // 90 AS BIGINT), 8) AS age_bucket_90d,
           COUNT(*) AS n_orders,
           {sql_csum("o_totalprice", "open_value")}
    FROM open_orders
    GROUP BY 1 ORDER BY 1
    """,
)
def orders_backlog_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open-order backlog aging at a snapshot date (90-day buckets,
    capped at 2 years) — the AR-style aging report every operations
    review reads, and the point-in-time companion to the sweep-line
    daily backlog (orders_open_backlog_daily answers 'how did backlog
    evolve'; this answers 'how OLD is what's open right now').  Age in
    exact integer days against a 1-row broadcast reference; bucket by
    integer DIV; one map-side-combined aggregate with exact-cents
    value.  Scale: |buckets| rows move."""
    o = T(spark, sf_dir, "orders")
    ref = o.agg(F.max("o_orderdate").alias("ref_dt"))
    open_o = (
        o.filter(F.col("o_orderstatus") == "O")
        .crossJoin(F.broadcast(ref))
        .select(
            "o_totalprice",
            F.datediff(F.col("ref_dt"), F.col("o_orderdate"))
            .cast("bigint")
            .alias("age_d"),
        )
    )
    bucket = F.least(F.expr("age_d DIV 90"), F.lit(8).cast("bigint"))
    return (
        open_o.groupBy(bucket.alias("age_bucket_90d"))
        .agg(F.count(F.lit(1)).alias("n_orders"), csum("o_totalprice", "open_value"))
        .orderBy("age_bucket_90d")
    )


# ---------------------------------------------------------------------------
# Nation trade balance
# ---------------------------------------------------------------------------


@register(
    "nation_trade_balance",
    tier="B",
    oracle=f"""
    -- MATERIALIZED: the flow CTE feeds two marginals; DuckDB's default
    -- inlining re-evaluates the 4-way join per reference (measured 37 s
    -- vs 0.1 s at sf0.1) — pin the sane plan so the oracle time is a
    -- fair single-node reference
    WITH flows AS MATERIALIZED (
      SELECT s.s_nationkey AS exporter, c.c_nationkey AS importer,
             SUM({sql_cents("l.l_extendedprice")}) AS v
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      WHERE s.s_nationkey <> c.c_nationkey
      GROUP BY s.s_nationkey, c.c_nationkey
    ), exp AS (
      SELECT exporter AS nk, SUM(v) AS ex FROM flows GROUP BY exporter
    ), imp AS (
      SELECT importer AS nk, SUM(v) AS im FROM flows GROUP BY importer
    )
    SELECT n.n_nationkey, n.n_name,
           COALESCE(e.ex, 0) / 100.0 AS exports,
           COALESCE(i.im, 0) / 100.0 AS imports,
           (COALESCE(e.ex, 0) - COALESCE(i.im, 0)) / 100.0 AS balance
    FROM nation n
    LEFT JOIN exp e ON n.n_nationkey = e.nk
    LEFT JOIN imp i ON n.n_nationkey = i.nk
    ORDER BY n.n_nationkey
    """,
    cost_note=(
        "fused one-fact-pass shape: 4-way dim join + two-sided explode feeds "
        "exporter+importer marginals from one lineitem scan (docstring: 14 -> "
        "10 scans), then constant-size |nations|^2 matrix math; 0.81-0.94 s "
        "vs a ~0.1 s MATERIALIZED-CTE oracle. The fact join + first agg "
        "absorb the volume: SCALING.md trade_balance ~10x@100x controlled; "
        "the absolute bench cost is stage machinery on 580KB, not a growth "
        "term"
    ),
)
def nation_trade_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation trade balance over the cross-border flow matrix
    (supplier nation exports to customer nation) — the directional
    rollup of the PageRank/BFS trade graph and the q7 nation-pair
    volume generalized to every nation at once.  One fact pass builds
    the |nations|² flow matrix in exact cents; exports/imports
    re-aggregate the MATRIX (25² rows), never the fact; LEFT joins off
    the nation dim keep zero-trade nations visible at 0 (the
    dim_date_generate gapless-coverage rule).  Division by 100 once
    per output column."""
    li = T(spark, sf_dir, "lineitem")
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    s = T(spark, sf_dir, "supplier")
    n = T(spark, sf_dir, "nation")
    flows = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c.select("c_custkey", "c_nationkey")), o.o_custkey == F.col("c_custkey"))
        .join(F.broadcast(s.select("s_suppkey", "s_nationkey")), li.l_suppkey == F.col("s_suppkey"))
        .filter(F.col("s_nationkey") != F.col("c_nationkey"))
        .groupBy(
            F.col("s_nationkey").alias("exporter"),
            F.col("c_nationkey").alias("importer"),
        )
        .agg(F.sum(cents("l_extendedprice")).alias("v"))
    )
    # ONE pass over the matrix (r6): exploding each flow row into an
    # exporter-side and an importer-side entry fuses the exports and
    # imports rollups into a single groupBy — the previous two-consumer
    # shape duplicated the whole fact subtree in the physical plan
    # (14 parquet scans, ReuseExchange fired on only one branch; same
    # double-evaluation trap the oracle's MATERIALIZED hint guards).
    sides = flows.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("exporter").alias("nk"),
                    F.col("v").alias("ex"),
                    F.lit(0).cast("long").alias("im"),
                ),
                F.struct(
                    F.col("importer").alias("nk"),
                    F.lit(0).cast("long").alias("ex"),
                    F.col("v").alias("im"),
                ),
            )
        ).alias("e")
    ).select("e.*")
    tot = sides.groupBy("nk").agg(
        F.sum("ex").alias("ex"), F.sum("im").alias("im")
    )
    return (
        n.join(tot, n.n_nationkey == tot.nk, "left")
        .select(
            "n_nationkey",
            "n_name",
            (F.coalesce(F.col("ex"), F.lit(0)) / 100.0).alias("exports"),
            (F.coalesce(F.col("im"), F.lit(0)) / 100.0).alias("imports"),
            (
                (F.coalesce(F.col("ex"), F.lit(0)) - F.coalesce(F.col("im"), F.lit(0)))
                / 100.0
            ).alias("balance"),
        )
        .orderBy("n_nationkey")
    )


# ---------------------------------------------------------------------------
# Basket-size distribution
# ---------------------------------------------------------------------------


@register(
    "orders_lines_per_order_hist",
    tier="B",
    oracle=f"""
    WITH sizes AS (
      SELECT l_orderkey, COUNT(*) AS n_lines,
             SUM({sql_cents("l_extendedprice")}) AS v
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT n_lines, COUNT(*) AS n_orders,
           SUM(v) / 100.0 AS total_value,
           CAST(SUM(v) AS DOUBLE) / 100.0 / COUNT(*) AS avg_order_value
    FROM sizes GROUP BY n_lines ORDER BY n_lines
    """,
)
def orders_lines_per_order_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Basket-size distribution (lines per order, with order value per
    size class) — the merchandising histogram behind bundle pricing and
    the sanity input for every basket-bounded scale argument in this
    repo (market_basket_pairs' 'pair explosion is linear because
    baskets are bounded' claim gets its measured distribution here).
    Two map-side-combined aggregates: per-order sizes on the fact's own
    key, then the tiny size-class rollup in exact cents."""
    li = T(spark, sf_dir, "lineitem")
    sizes = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(cents("l_extendedprice")).alias("v"),
    )
    return (
        sizes.groupBy("n_lines")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            (F.sum("v") / 100.0).alias("total_value"),
            (F.sum("v").cast("double") / 100.0 / F.count(F.lit(1))).alias(
                "avg_order_value"
            ),
        )
        .orderBy("n_lines")
    )
