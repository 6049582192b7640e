"""Warehouse-analytics composites (SURVEY.md §2 B41-B45): deep multi-way
join (TPC-H Q5 shape), cohort retention, fixed-width histogram, grouped
top-k, and priority-ranked canonical dedup.

These are the day-2 queries a user of the reference's warehouse schema
(hub/dim/bridge/fact — course_catalog_database.sql) runs once the tables
exist: revenue by geography, user retention by signup cohort, value
distributions, per-group leaders, and cross-source record survivorship.
Each is one declarative Catalyst plan — broadcasts for the dim chain,
exact-cents money arithmetic (functions/exact.py), deterministic
tie-breaks so the oracle hash is stable across engines and partitionings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

from ub_etl_spark.functions.exact import cents_disc, csum, sql_cents, sql_cents_disc, sql_csum
from ub_etl_spark.operators.training import normalize_text, survivorship_dedup
from ub_etl_spark.registry import register
from ub_etl_spark.sources.tables import load_table as T


# B41: TPC-H Q5 shape — the deepest join chain in the flagship tier
# (region -> nation -> customer + supplier -> orders -> lineitem, with the
# local-supplier condition c_nationkey = s_nationkey).  Exercises CBO/AQE
# join ordering: region/nation/supplier are broadcast (tiny dims), the
# orders⋈lineitem shuffle on l_orderkey carries the plan, and the
# customer-nation restriction prunes before the fact join.
@register(
    "tpch_q5_local_supplier",
    tier="B",
    oracle=f"""
    SELECT n.n_name,
           SUM({sql_cents_disc("l.l_extendedprice", "l.l_discount")}) / 10000.0
             AS revenue,
           COUNT(*) AS n_items
    FROM region r
    JOIN nation n   ON n.n_regionkey = r.r_regionkey
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o   ON o.o_custkey   = c.c_custkey
    JOIN lineitem l ON l.l_orderkey  = o.o_orderkey
    JOIN supplier s ON l.l_suppkey   = s.s_suppkey
                   AND s.s_nationkey = c.c_nationkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1995-01-01'
    GROUP BY n.n_name
    """,
    cost_note=(
        "the 6-table TPC-H join chain "
        "(lineitem-orders-customer-supplier-nation-region with the dual "
        "nation equality) + agg = 6-7 chained stages, ~1.0 s absolute vs "
        "DuckDB 0.07 s single-node; the same heaviest-kept-TPC-H-shape story "
        "as tpch_q21_waiting_suppliers: stages scale out while the oracle's "
        "advantage is bench-size constant factors"
    ),
)
def tpch_q5_local_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 (local supplier volume): revenue per nation where the
    supplier is in the customer's nation.  The three dims (region 5,
    nation 25, supplier |S|) broadcast; lineitem⋈orders is the one real
    shuffle (on l_orderkey).  At 100 TB the same plan holds — supplier
    broadcast gives way to a shuffle join via AQE only past the broadcast
    threshold, and the dim-side filters (r_name, o_orderdate) prune
    before any fact-table data moves."""
    r = T(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = T(spark, sf_dir, "nation")
    c = T(spark, sf_dir, "customer")
    s = T(spark, sf_dir, "supplier")
    o = T(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp")
    )
    li = T(spark, sf_dir, "lineitem")
    asian_cust = c.join(
        F.broadcast(n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)),
        c.c_nationkey == n.n_nationkey,
    ).select("c_custkey", "c_nationkey", "n_name")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(asian_cust, o.o_custkey == F.col("c_custkey"))
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (s.s_nationkey == F.col("c_nationkey")),
        )
        .groupBy("n_name")
        .agg(
            (F.sum(cents_disc("l_extendedprice", "l_discount")) / 10000.0).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# B42: weekly cohort retention — the canonical product-analytics rollup
# over an event stream.  Both week truncations land on Monday in Spark
# and DuckDB; the offset is an exact multiple of 7 days so the /7 is
# exact in doubles before the long cast.
@register(
    "events_retention_cohort",
    tier="B",
    oracle="""
    WITH firsts AS (
      SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
      FROM events GROUP BY user_id
    ), activity AS (
      SELECT DISTINCT e.user_id, f.cohort_week,
             CAST(date_diff('day', f.cohort_week,
                            CAST(date_trunc('week', e.ts) AS DATE)) / 7 AS BIGINT)
               AS week_offset
      FROM events e JOIN firsts f ON e.user_id = f.user_id
    )
    SELECT cohort_week, week_offset, COUNT(*) AS n_users
    FROM activity GROUP BY cohort_week, week_offset
    """,
)
def events_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort = Monday of each user's first event week; one row per
    (cohort_week, week_offset) counting users still active.  Two shuffles
    on user_id (first-event agg, then the activity distinct — co-keyed,
    so AQE can reuse the exchange partitioning), one final small agg on
    (cohort, offset).  The events⋈firsts join is per-user keyed: AQE
    broadcasts `firsts` while it fits and falls back to a co-partitioned
    shuffle join at 1e9 users — no hint pinned, deliberately."""
    e = T(spark, sf_dir, "events")
    week = lambda c: F.date_trunc("week", c).cast("date")  # noqa: E731
    firsts = (
        e.groupBy("user_id")
        .agg(week(F.min("ts")).alias("cohort_week"))
        .select(F.col("user_id").alias("f_user"), "cohort_week")
    )
    activity = (
        e.join(firsts, e.user_id == F.col("f_user"))
        .select(
            "user_id",
            "cohort_week",
            (F.datediff(week(F.col("ts")), F.col("cohort_week")) / 7)
            .cast("bigint")
            .alias("week_offset"),
        )
        .distinct()
    )
    return activity.groupBy("cohort_week", "week_offset").agg(
        F.count(F.lit(1)).alias("n_users")
    )


# B43: fixed-width histogram of order value.  Bucketing runs in exact
# integer cents (quantize -> integer DIV), so bucket assignment is
# bit-identical across engines — no width_bucket float edge cases.  One
# map-side-combined aggregation; the shuffle moves |buckets| rows.
@register(
    "agg_histogram_fixed_width",
    tier="B",
    oracle=f"""
    SELECT LEAST(19, {sql_cents("o_totalprice")} // 2500000) AS bucket,
           COUNT(*) AS n_orders,
           {sql_csum("o_totalprice", "sum_total")}
    FROM orders
    GROUP BY 1
    """,
)
def agg_histogram_fixed_width(spark: SparkSession, sf_dir: str) -> DataFrame:
    """20-bucket $25k-wide histogram of o_totalprice: bucket index is
    least(19, cents DIV 2_500_000) — pure long arithmetic after the one
    quantize, exact and associative, so partial aggregation on 1000
    executors reproduces the single-node answer bit-for-bit."""
    o = T(spark, sf_dir, "orders")
    # integer division via expr: Column has no DIV operator in the Python API
    o2 = o.select(
        F.least(
            F.lit(19).cast("long"),
            F.expr("CAST(FLOOR((o_totalprice) * 100 + 0.5) AS BIGINT) DIV 2500000"),
        ).alias("bucket"),
        "o_totalprice",
    )
    return o2.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n_orders"),
        csum("o_totalprice", "sum_total"),
    )


# B44: grouped top-k — the per-group twin of sort_limit_topk (global).
# Revenue ranks are computed from exact-cents sums, tie-broken on the
# key, so rank boundaries agree across engines.
@register(
    "window_topk_per_group",
    tier="B",
    oracle=f"""
    SELECT n_name, c_custkey, revenue, rn FROM (
      SELECT n.n_name, c.c_custkey,
             SUM({sql_cents("o.o_totalprice")}) / 100.0 AS revenue,
             ROW_NUMBER() OVER (
               PARTITION BY n.n_name
               ORDER BY SUM({sql_cents("o.o_totalprice")}) DESC, c.c_custkey
             ) AS rn
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n   ON c.c_nationkey = n.n_nationkey
      GROUP BY n.n_name, c.c_custkey
    ) t WHERE rn <= 3
    """,
)
def window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 customers by lifetime order value per nation: fact⋈dim join,
    exact-cents revenue agg keyed (nation, customer), then a rank window
    partitioned on nation — every window partition is bounded by the
    nation's customer count, never the fact-row count, so the sort state
    stays small at any scale.  Deterministic: ties broken by c_custkey."""
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    n = T(spark, sf_dir, "nation")
    rev = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name", "c_custkey")
        .agg(csum("o_totalprice", "revenue"))
    )
    w = W.partitionBy("n_name").orderBy(F.desc("revenue"), F.asc("c_custkey"))
    return (
        rev.select("n_name", "c_custkey", "revenue", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= 3)
    )


# B45: cross-source survivorship — when the same document arrives from
# several sources, keep the copy from the most-trusted source (lowest
# source rank), tie-broken on doc_id.  The pick is a single min_by over a
# composite long ordinal (rank * 2^33 + doc_id — unique, so min_by is
# deterministic), one hash aggregation on the 8-byte normalized-text key.
@register(
    "dedup_source_priority",
    tier="B",
    oracle="""
    SELECT arg_min(doc_id, source_rank * 8589934592 + doc_id) AS doc_id,
           arg_min(source, source_rank * 8589934592 + doc_id) AS source,
           COUNT(*) AS n_members
    FROM (
      SELECT doc_id, source,
             CAST(substr(source, 4) AS BIGINT) AS source_rank,
             trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                                 ' +', ' ', 'g')) AS norm
      FROM documents
    ) t
    GROUP BY norm
    """,
)
def dedup_source_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship dedup: group on the normalized-text key, keep the row
    from the lowest-ranked (= most trusted) source.  The group key is
    engine-local (Spark shuffles the 8-byte xxhash64 of the normalized
    form — operators/training.dedup_normalized_exact rationale — while
    the oracle groups the string itself), so the key is NOT an output
    column; the checked multiset (doc_id, source, n_members) is identical
    because both engines group on the same normalized preimage."""
    d = T(spark, sf_dir, "documents")
    rank = F.substring("source", 4, 10).cast("bigint")
    return survivorship_dedup(d, "doc_id", "source", rank, "text")


# B47: event-type transition counts (first-order Markov edge weights) —
# the path-analysis primitive behind funnels and next-action models.
# One user_id-keyed window (same shuffle the sessionization family
# uses), then a tiny (prev, next) aggregation.
@register(
    "events_transition_counts",
    tier="B",
    oracle="""
    SELECT prev_type, event_type AS next_type, COUNT(*) AS n_transitions
    FROM (
      SELECT event_type,
             LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_type
      FROM events
    ) t WHERE prev_type IS NOT NULL
    GROUP BY 1, 2
    """,
)
def events_transition_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user event-order transition matrix: lag window over (ts,
    event_id) — deterministic ordering — then count per (prev, next)
    pair.  Window partitions are per-user (bounded), the final agg is
    |event_types|^2 rows; both stages map-side-combine."""
    e = T(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        e.select(
            F.col("event_type").alias("next_type"),
            F.lag("event_type").over(w).alias("prev_type"),
        )
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", "next_type")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )


# B48: robust anomaly counting via median absolute deviation — the
# outlier gate that, unlike mean/stddev, a single corrupt batch can't
# drag.  Two exact-percentile aggregations (per event_type — group count
# is small, so exact sort-based percentile is fine; the 100 TB path for
# high-cardinality groups is agg_approx_percentile's GK sketch) with the
# tiny per-type stats broadcast back onto the scan by AQE.
#
# Determinism (r03 red row): the whole computation runs in the integer
# cents domain.  A median of integers is a half-integer, so 2x the
# median is an exact BIGINT on both engines regardless of which
# interpolation formula ((1-f)*a+f*b vs a+f*(b-a)) the engine version
# uses — at f=0.5 on integer operands both are IEEE-exact.  The 3-sigma
# gate is likewise an all-integer comparison: dev > 3*1.4826*mad becomes
# 20000*dev2 > 44478*mad2 with dev2 = 2*dev_cents and mad2 = 2*med(dev2)
# (so mad_currency = mad2/400, dev_currency = dev2/200).  No raw
# interpolated double ever reaches an output column or a comparison.
@register(
    "events_anomaly_mad",
    tier="B",
    oracle=f"""
    WITH q AS (
      SELECT event_type, {sql_cents("value")} AS vc FROM events
    ), m AS (
      SELECT event_type, CAST(2 * quantile_cont(vc, 0.5) AS BIGINT) AS med2
      FROM q GROUP BY 1
    ), d AS (
      SELECT q.event_type, m.med2, ABS(2 * q.vc - m.med2) AS dev2
      FROM q JOIN m USING (event_type)
    ), s AS (
      SELECT event_type, CAST(2 * quantile_cont(dev2, 0.5) AS BIGINT) AS mad2
      FROM d GROUP BY 1
    )
    SELECT d.event_type,
           MIN(d.med2) AS med_x2_cents,
           MIN(s.mad2) AS mad_x2_cents,
           COUNT(*) AS n_events,
           CAST(SUM(CASE WHEN 20000 * d.dev2 > 44478 * s.mad2
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
    FROM d JOIN s USING (event_type)
    GROUP BY d.event_type
    """,
)
def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type median + MAD, then count events beyond 3 robust sigmas
    (MAD * 1.4826 ~ sigma under normality).  All arithmetic — the two
    medians, the deviations, and the threshold compare — happens on
    exact longs (cents x2), so the result is bit-identical across
    engines, engine versions, and partitionings.  med_x2_cents / 200.0
    recovers the currency-unit median for presentation."""
    from ub_etl_spark.functions.exact import cents

    e = T(spark, sf_dir, "events").select(
        "event_type", cents("value").alias("vc")
    )
    # round() before the long cast: the doubled median of integers is
    # exactly integral, but percentile() computes it in doubles — a
    # stray-ulp result like 123.99999999999999 would truncate toward
    # zero while the oracle's CAST(double AS BIGINT) rounds.
    m = e.groupBy("event_type").agg(
        F.round(2 * F.percentile("vc", 0.5)).cast("long").alias("med2")
    )
    d = e.join(m, "event_type").select(
        "event_type", "med2", F.abs(2 * F.col("vc") - F.col("med2")).alias("dev2")
    )
    s = d.groupBy("event_type").agg(
        F.round(2 * F.percentile("dev2", 0.5)).cast("long").alias("mad2")
    )
    return (
        d.join(s, "event_type")
        .groupBy("event_type")
        .agg(
            F.min("med2").alias("med_x2_cents"),
            F.min("mad2").alias("mad_x2_cents"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.when(
                    20000 * F.col("dev2") > 44478 * F.col("mad2"), 1
                ).otherwise(0)
            ).alias("n_anomalies"),
        )
    )


# B50: incremental batch dedup — tonight's batch against the already-
# ingested corpus.  Within-batch survivors (min id per normalized form)
# anti-join the corpus's normalized-hash index; every exchange carries
# 8-byte keys.  At 100 TB the corpus side is a maintained hash index
# table (bucketed on __nh), so the nightly cost is the batch shuffle plus
# a co-partitioned anti-join probe — never a corpus rescan per batch
# (the rescan here stands in for reading that index).
@register(
    "dedup_incremental_batch",
    tier="B",
    oracle="""
    WITH norm AS (
      SELECT doc_id,
             trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                                 ' +', ' ', 'g')) AS norm
      FROM documents
    ), b AS (
      SELECT norm, MIN(doc_id) AS doc_id, COUNT(*) AS n_members
      FROM norm WHERE doc_id % 10 = 0 GROUP BY norm
    )
    SELECT b.doc_id, b.n_members FROM b
    WHERE NOT EXISTS (
      SELECT 1 FROM norm c WHERE c.doc_id % 10 <> 0 AND c.norm = b.norm
    )
    """,
)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """New-batch dedup: batch docs (doc_id % 10 = 0) fold within the
    batch (min id per normalized hash), then drop any form the corpus
    (doc_id % 10 <> 0) already contains, via left-anti on the 8-byte
    normalized-text hash."""
    d = T(spark, sf_dir, "documents")
    key = F.xxhash64(normalize_text(F.col("text"))).alias("__nh")
    batch = (
        d.filter(F.col("doc_id") % 10 == 0)
        .select("doc_id", key)
        .groupBy("__nh")
        .agg(F.min("doc_id").alias("doc_id"), F.count(F.lit(1)).alias("n_members"))
    )
    corpus = d.filter(F.col("doc_id") % 10 != 0).select(key)
    return batch.join(corpus, "__nh", "left_anti").select("doc_id", "n_members")


# B51: windowed trending top-k — the "what's hot today" rollup and the
# batch twin of a streaming trending feed.  Daily tumbling counts then a
# rank window partitioned on the day: window state is bounded by
# |event_types| per day, and the count aggregation map-side-combines, so
# the plan is one |buckets|-row shuffle plus a tiny ranked projection.
@register(
    "stream_topk_trending",
    tier="B",
    oracle="""
    SELECT day, event_type, n, rn FROM (
      SELECT day, event_type, n,
             ROW_NUMBER() OVER (PARTITION BY day ORDER BY n DESC, event_type)
               AS rn
      FROM (
        SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
               COUNT(*) AS n
        FROM events GROUP BY 1, 2
      ) c
    ) r WHERE rn <= 3
    """,
)
def stream_topk_trending(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 event types per day, deterministically tie-broken (count
    desc, type asc)."""
    e = T(spark, sf_dir, "events")
    counts = (
        e.groupBy(
            F.date_trunc("day", "ts").alias("day"),
            "event_type",
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = W.partitionBy("day").orderBy(F.desc("n"), F.asc("event_type"))
    return counts.select(
        "day", "event_type", "n", F.row_number().over(w).alias("rn")
    ).filter(F.col("rn") <= 3)


# B62: Bloom-prefiltered semi join — the runtime-filter pattern made
# explicit.  A KB-sized bitmap built from the selective side in one
# bit_or aggregation prunes the fact scan BEFORE the join shuffle (pure
# codegen probe, no false negatives); the exact semi join then removes
# the bloom's false positives, so the result is exact and the oracle is
# the plain IN-subquery.
@register(
    "join_bloom_prefilter",
    tier="B",
    oracle="""
    SELECT l_returnflag, COUNT(*) AS n,
           SUM(CAST(FLOOR((l_extendedprice) * 100 + 0.5) AS BIGINT)) / 100.0
             AS total
    FROM lineitem
    WHERE l_orderkey IN (
      SELECT o_orderkey FROM orders
      WHERE o_orderpriority = '1-URGENT' AND o_orderstatus = 'F'
    )
    GROUP BY 1
    """,
    cost_note=(
        "3 chained jobs by construction: bloom bitmap build (one bit_or agg), "
        "broadcast of the bitmap, codegen probe+join; at bench scale the two "
        "extra job floors dominate, at 100TB the build is amortized once "
        "against a multi-TB probe-side scan saving. Min-of-3: 1.63 s steady "
        "(a 2.30 s sample carried first-run noise)"
    ),
)
def join_bloom_prefilter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ub_etl_spark.operators.bloom import bloom_build, bloom_might_contain

    li = T(spark, sf_dir, "lineitem")
    o = T(spark, sf_dir, "orders").filter(
        (F.col("o_orderpriority") == "1-URGENT") & (F.col("o_orderstatus") == "F")
    )
    bitmap = bloom_build(o, F.col("o_orderkey"))
    pruned = li.filter(bloom_might_contain(bitmap, F.col("l_orderkey")))
    return (
        pruned.join(o.select("o_orderkey"), pruned.l_orderkey == F.col("o_orderkey"), "left_semi")
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"), csum("l_extendedprice", "total"))
    )


# B74: funnel conversion-rate summary — the stage-count rollup over the
# per-user funnel (B28 emits per-user rows; this is the executive
# number).  Stage membership via per-user conditional MINs, then ONE
# scalar aggregation: three exact counts + two conversion rates emitted
# as floor-divided parts-per-million longs (integer DIV on both engines,
# per the repo determinism rule — no raw division double in the output).
@register(
    "events_funnel_rates",
    tier="B",
    oracle="""
    WITH stages AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      FROM events GROUP BY user_id
    ), flags AS (
      SELECT CASE WHEN t_signup IS NOT NULL THEN 1 ELSE 0 END AS s,
             CASE WHEN t_signup IS NOT NULL AND t_view > t_signup
                  THEN 1 ELSE 0 END AS v,
             CASE WHEN t_signup IS NOT NULL AND t_view > t_signup
                       AND t_purchase > t_view
                  THEN 1 ELSE 0 END AS p
      FROM stages
    )
    SELECT CAST(SUM(s) AS BIGINT) AS n_signup,
           CAST(SUM(v) AS BIGINT) AS n_view_after,
           CAST(SUM(p) AS BIGINT) AS n_purchase_after,
           CAST((1000000 * SUM(v)) // NULLIF(SUM(s), 0) AS BIGINT)
             AS view_rate_ppm,
           CAST((1000000 * SUM(p)) // NULLIF(SUM(s), 0) AS BIGINT)
             AS purchase_rate_ppm
    FROM flags
    """,
)
def events_funnel_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOTE the simplified ordering check (first view after first signup,
    first purchase after first view) — a summary-level approximation of
    B28's exact per-stage recursion, chosen because it needs only ONE
    per-user aggregation; both engines compute the identical rule."""
    e = T(spark, sf_dir, "events")
    stages = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("t_signup"),
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias("t_view"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "t_purchase"
        ),
    )
    s = F.when(F.col("t_signup").isNotNull(), 1).otherwise(0)
    v = F.when(
        F.col("t_signup").isNotNull() & (F.col("t_view") > F.col("t_signup")), 1
    ).otherwise(0)
    p = F.when(
        F.col("t_signup").isNotNull()
        & (F.col("t_view") > F.col("t_signup"))
        & (F.col("t_purchase") > F.col("t_view")),
        1,
    ).otherwise(0)
    return (
        stages.select(s.alias("s"), v.alias("v"), p.alias("p"))
        .agg(
            F.sum("s").alias("n_signup"),
            F.sum("v").alias("n_view_after"),
            F.sum("p").alias("n_purchase_after"),
        )
        # rates as exact floor-divided parts-per-million longs: integer
        # DIV on both engines (// in DuckDB), so no raw double crosses
        # the hash — and NULLIF keeps the zero-signup edge NULL, not an
        # ANSI abort (r2 ADVICE).  view_rate_ppm / 1e6 presents the ratio.
        .select(
            "n_signup",
            "n_view_after",
            "n_purchase_after",
            F.expr(
                "CAST((1000000 * n_view_after) DIV NULLIF(n_signup, 0) AS BIGINT)"
            ).alias("view_rate_ppm"),
            F.expr(
                "CAST((1000000 * n_purchase_after) DIV NULLIF(n_signup, 0) AS BIGINT)"
            ).alias("purchase_rate_ppm"),
        )
    )


# B81: exact weighted median (and total weight) per group — the
# token-weighted corpus statistic ("median document cost weighted by
# token count") exact percentiles can't express.  Formulation: values
# quantized to cents, ONE hash aggregation per (group, value) collapses
# duplicate values (shuffle carries |group x distinct value|, never
# |rows|), then a cumulative-weight window picks the smallest value whose
# cumulative weight reaches half the total.  All-integer arithmetic ->
# engine-identical; at 100 TB the pre-aggregation is the scale lever (the
# window sees distinct values only), and a t-digest/GK sketch is the
# named fallback when even distinct values explode.
@register(
    "agg_weighted_median",
    tier="Q",
    oracle=f"""
    WITH wagg AS (
      SELECT l_returnflag, {sql_cents("l_extendedprice")} AS pc,
             SUM({sql_cents("l_quantity", 0)}) AS w
      FROM lineitem GROUP BY 1, 2
    ), c AS (
      SELECT l_returnflag, pc, w,
             SUM(w) OVER (PARTITION BY l_returnflag ORDER BY pc
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cw,
             SUM(w) OVER (PARTITION BY l_returnflag) AS tw
      FROM wagg
    )
    SELECT l_returnflag, MIN(pc) AS weighted_median_cents,
           CAST(MAX(tw) AS BIGINT) AS total_weight
    FROM c WHERE 2 * cw >= tw GROUP BY l_returnflag
    """,
    cost_note=(
        "two-phase exact weighted median: per-group cumulative-weight window "
        "+ threshold pick = 2 keyed sorts + final agg; cost is the "
        "exact-answer contract (sketch twin agg_approx_percentile is sub-0.3 "
        "s); ~1.0 s steady; SCALING weighted_median_2phase 11.2x@100x"
    ),
    ratio_exception=True,
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase distributed selection (the oracle keeps the one-window
    textbook form; results identical).  Phase 1 aggregates weights into
    coarse 100-unit value buckets — a tiny keyed agg + window — and
    locates, per group, the single bucket containing the weighted median
    plus the cumulative weight BEFORE it.  Phase 2 re-scans, keeps only
    that bucket's rows (broadcast semi filter: ~1/1000th of the data),
    and runs the exact per-value cumulative window there.  Replaces one
    global near-|rows| sort per group (extendedprice is near-unique, so
    the old distinct-value collapse didn't collapse anything — measured
    3.3 s at sf0.1) with two map-side-combined aggs whose windows only
    ever see |buckets| or |one bucket| rows.  That is the selection-
    algorithm shape that survives 100 TB."""
    from ub_etl_spark.functions.exact import cents
    from ub_etl_spark.operators.selection import weighted_median_two_phase

    li = T(spark, sf_dir, "lineitem")
    return weighted_median_two_phase(
        li,
        "l_returnflag",
        cents("l_extendedprice"),
        cents("l_quantity", scale=0),
    )
