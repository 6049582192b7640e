"""Behavioral / sequence analytics and containment dedup: event-path
mining, market-basket co-occurrence, keyed watermark lateness accounting,
and asymmetric n-gram containment — the session-and-sequence tier a
product-analytics user of the reference's activity pipeline
(scripts/user_course_activity.py) runs next.

Determinism: paths order by (ts, event_id) so sequences are total-
ordered; counts are integers; the containment ratio divides two exact
integers once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ub_etl_spark.functions.exact import cents, csum, sql_cents, sql_csum
from ub_etl_spark.registry import register
from ub_etl_spark.sources.tables import load_table as T


@register(
    "events_path_topk",
    tier="B",
    oracle="""
    WITH paths AS (
      SELECT user_id,
             array_to_string(list(event_type ORDER BY ts, event_id)[1:8], '>')
               AS path
      FROM events GROUP BY user_id
    )
    SELECT path, COUNT(*) AS n_users
    FROM paths GROUP BY path
    ORDER BY n_users DESC, path
    LIMIT 20
    """,
)
def events_path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k behavior paths: each user's first 8 event types joined into
    a path string, counted across users (the funnel-discovery /
    clickstream-mining primitive).  One shuffle on user_id; the ordered
    collect is sort_array over (ts, event_id, type) structs — fully
    codegen, no window, no second exchange (the path agg and the
    truncation happen in the same hash aggregate); the path-count agg
    runs on one short string per user; top-20 is TakeOrderedAndProject.
    Ties (same ts) are broken by event_id so the sequence is total-
    ordered and engine-identical."""
    e = T(spark, sf_dir, "events")
    ordered = F.sort_array(
        F.collect_list(F.struct("ts", "event_id", "event_type"))
    )
    path = F.concat_ws(
        ">", F.slice(F.transform(ordered, lambda s: s["event_type"]), 1, 8)
    )
    return (
        e.groupBy("user_id")
        .agg(path.alias("path"))
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .orderBy(F.desc("n_users"), F.asc("path"))
        .limit(20)
    )


@register(
    "market_basket_pairs",
    tier="B",
    oracle="""
    WITH pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
      FROM (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) a
      JOIN (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem) b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
    ), counted AS (
      SELECT part_a, part_b, COUNT(*) AS n_orders FROM pairs
      GROUP BY part_a, part_b
    )
    SELECT part_a, part_b, n_orders FROM (
      SELECT part_a, part_b, n_orders,
             ROW_NUMBER() OVER (PARTITION BY part_a
                                ORDER BY n_orders DESC, part_b) AS rn
      FROM counted
    ) WHERE rn <= 3
    """,
    cost_note=(
        "basket-bounded pair counts via one vectorized Arrow pass that "
        "pre-aggregates inside the worker (buffered np.unique drain: sf1 17.6 "
        "s -> 8.3 s, sf0.1 4.1 s -> ~3.0-3.6 s; the exchange moves counts, "
        "never pair instances), no self-join: the join form measured 15.8 s "
        "at sf1, and a repartition+sortWithinPartitions worker-grouping "
        "kernel 11.8 vs 8.8 s same-session (the sort costs more than the "
        "collect_set agg it replaces). The sf1 residual is the basket "
        "exchange (3.1 s) plus a count exchange that key-shifted "
        "amplification keeps near pair-instance cardinality; the oracle keeps "
        "the join form in-process. Measured non-change: fusing the count "
        "exchange into the window's part_a exchange (6 -> 4 exchanges, "
        "bit-equal output) read 7.4 vs 6.0 s min-of-3 same-session at sf1; "
        "per-worker kernel and agg/sort work is the bottleneck, not the "
        "exchanges, and it is already one vectorized np.unique over packed "
        "int64 keys. The remaining sf1 gap is single-node constant factor; "
        "SCALING.md 8.5x@100x (sub-linear). Boundedness measured by "
        "orders_lines_per_order_hist"
    ),
    ratio_exception=True,
)
def market_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence (top-3 'bought with' partners per
    part): the recommendation-candidate primitive.  NO self-join: each
    order's basket collects once (collect_set dedups duplicate part
    lines; sort_array orders it); pair COUNTS then come out of one
    vectorized Arrow pass that pre-aggregates inside the worker
    (operators/selection.basket_pair_counts_arrow — r11 rework, sf1
    profiling: 17.6 s -> 9.7 s at 6 M lineitem, 4.1 s -> ~3.0 s at
    bench sf0.1; row-for-row equality with the HOF form pinned in
    tests/test_behavior.py), so the count exchange moves distinct-pair
    counts, never pair instances.  The oracle's self-join formulation
    materializes every joined row through a second exchange (measured
    2.5x slower than the HOF form at sf0.1, 15.8 s at sf1) and its join
    output is basket-squared wide.  The per-part top-3 is a rank-limited
    window (WindowGroupLimit: partial top-k per partition).  Scale
    lever: baskets are bounded (lines per order ~ O(10)), so pair work
    is linear in orders, never quadratic in the catalog.

    Perf adjudication CLOSED r12 after a third measured non-change
    (exchange fusion via repartition(part_a): 6 -> 4 exchanges but
    7.4s vs 6.0s same-session sf1 min-of-3) — the sf1 residual is
    worker-side kernel+agg constant factor on an already-minimal plan,
    not a shuffle or growth term; full disposition in the
    cost_note above, scale evidence in the 100x SCALING cell."""
    from ub_etl_spark.operators.selection import basket_pair_counts_arrow

    li = T(spark, sf_dir, "lineitem")
    counted = basket_pair_counts_arrow(li, "l_orderkey", "l_partkey")
    w = Window.partitionBy("part_a").orderBy(F.desc("n_orders"), F.asc("part_b"))
    return (
        counted.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("part_a", "part_b", "n_orders")
    )


@register(
    "stream_late_data_accounting",
    tier="B",
    oracle="""
    WITH arr AS (
      SELECT event_type, ts,
             MAX(ts) OVER (PARTITION BY user_id ORDER BY event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS wm_high
      FROM events
    )
    SELECT event_type,
           CAST(SUM(CASE WHEN ts < wm_high - INTERVAL 1 HOUR THEN 1 ELSE 0 END)
                AS BIGINT) AS n_late,
           CAST(SUM(CASE WHEN ts >= wm_high - INTERVAL 1 HOUR OR wm_high IS NULL
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_ontime
    FROM arr GROUP BY event_type
    """,
)
def stream_late_data_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark lateness accounting, batch twin: an event is LATE when
    its event time trails the per-key high watermark (max event time
    seen earlier in arrival order, arrival = event_id) by more than the
    1-hour delay — exactly the rows `withWatermark('ts', '1 hour')`
    would drop from a keyed stateful op.  The keyed (per-user) watermark
    is the deterministic, scale-safe emulation: one window pass over the
    user_id exchange (a GLOBAL watermark twin would need a single-
    partition running max — the executor-wide min-of-max the streaming
    runtime tracks has no order-free batch analogue).  First event per
    key has no watermark yet and counts on-time, as in the runtime."""
    e = T(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    arr = e.withColumn("wm_high", F.max("ts").over(w))
    late = F.col("ts") < F.col("wm_high") - F.expr("INTERVAL 1 HOUR")
    return arr.groupBy("event_type").agg(
        F.sum(F.when(late, 1).otherwise(0)).alias("n_late"),
        F.sum(F.when(~late | F.col("wm_high").isNull(), 1).otherwise(0)).alias(
            "n_ontime"
        ),
    )


@register(
    "text_containment_dedup",
    tier="B",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents
    ), grams AS (
      SELECT DISTINCT doc_id,
             array_to_string(t[g.i:g.i+3], ' ') AS gram
      FROM toks, LATERAL (
        SELECT UNNEST(range(1, GREATEST(len(t) - 3, 0) + 1)) AS i
      ) g
    ), sized AS (
      SELECT doc_id, COUNT(*) AS n_grams FROM grams GROUP BY doc_id
    ), overlap AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
      FROM grams a JOIN grams b ON a.gram = b.gram AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT o.id_a, o.id_b,
           CAST(o.n_shared AS DOUBLE) / LEAST(sa.n_grams, sb.n_grams)
             AS containment
    FROM overlap o
    JOIN sized sa ON o.id_a = sa.doc_id
    JOIN sized sb ON o.id_b = sb.doc_id
    WHERE CAST(o.n_shared AS DOUBLE) / LEAST(sa.n_grams, sb.n_grams) >= 0.8
    """,
    cost_note=(
        "4-shuffle inverted-index pipeline (gram distinct, sized agg, gram "
        "self-join, overlap agg). Grams are re-keyed by xxhash64 before the "
        "distinct and the hashed frame is persisted for its three consumers: "
        "sf1 same-session 9.0-11.0 s -> 3.3 s, sidecar 10.2 s -> 4.1 s (15.9x "
        "-> 6.3x floor-adjusted; collision budget in the docstring). At sf0.1 "
        "the lever is a wash: a cold single-query session measured the "
        "hashed+persist form ~1.3-1.7x off the string form (persist "
        "materialization is floor-priced there), while a quiet-box suite pass "
        "read 1.71 s vs 1.63 s (~1.05x). The registered form is the scale "
        "form, same policy as equidepth_2phase / episodes_arrow. The plan is "
        "the LSH-family probe shape, never all-pairs, and linear in "
        "SCALING.md"
    ),
    ratio_exception=True,
)
def text_containment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment dedup: |grams(A) ∩ grams(B)| / min(|grams(A)|,
    |grams(B)|) over 4-token shingles — scores 1.0 when the smaller
    document sits inside the larger, the quote-inclusion/prefix-copy
    case symmetric Jaccard (dedup_fuzzy) under-scores when lengths
    diverge.  Candidates come from the gram-
    keyed equi join (the inverted-index probe shape shared with the LSH
    family — never all-pairs); gram sets are DISTINCT per doc before the
    join so duplicate windows can't inflate the overlap; the ratio is
    one double division of two exact counts.  The gram subplan uses the
    shingle_rows posexplode+element_at shape (pure codegen expressions —
    measured 1.25x faster end-to-end than the transform() HOF
    formulation here).

    r11 sf1 perf pass (the named-task profile): grams are keyed by
    xxhash64 BEFORE the distinct — gram STRINGS never enter any
    exchange (the distinct, the self-join and the sized agg all move
    fixed-width longs) — and the hashed distinct frame IS persisted for
    its three consumers.  Measured same-session at sf1 (6 MB corpus,
    2.56 M distinct grams): string-keyed no-persist (the pre-r11 form)
    9.0-11.0 s; hash-first no-persist 6.0 s; hash-first + persist 3.3 s
    (materialization paid inside the measurement; the sf0.1 finding
    that persist is 1.7x SLOWER reverses once the corpus outgrows the
    per-stage floor — persisting 8-byte keys is not persisting ~20x
    string bytes).

    r12 (ADVICE close): the key is a 2x64-bit COMPOSITE —
    (xxhash64(gram), xxhash64(gram, lit(1))) — so a count perturbation
    needs the same gram pair to collide under BOTH independent hashes
    (~2^-128 per pair; ~1e-14 expected colliding pairs even at a
    1e12-gram corpus), restoring by-construction hash_match with the
    string-keyed oracle at any conceivable scale while keeping the
    exchange at 16 fixed-width bytes/row (vs ~80-byte gram strings).
    Same-session sf1 A/B at the promotion: single-key 3.10 s vs
    composite 3.94 s min-of-3 (+27%, the second hash evaluation plus
    the wider exchange), accepted for the exactness guarantee on a
    hash-checked oracle query.  The output never exposes the gram, so the hash is
    invisible to the oracle absent a double collision.  Scale lever
    beyond this: banding when the corpus outgrows the gram join — built
    as the registered twin text_containment_banded (see below), which
    minhash-bands doc gram-sets to candidate pairs and verifies exact
    containment on candidates only; this exact gram-join form is its
    recall reference."""
    from ub_etl_spark.operators.dedup import shingle_rows
    from ub_etl_spark.session import tracked_persist

    d = T(spark, sf_dir, "documents")
    # the SHARED gram subplan (operators/dedup.shingle_rows with the
    # containment conventions: lowercase fold, short docs contribute NO
    # grams — mirroring the oracle's empty generate_series for
    # len(t) < 4).  r12: single-sourced with the banded twin so the
    # twins' tokenization cannot drift; Catalyst collapses the hash
    # projection into the generate stage, so the physical plan is the
    # inlined form's (verified at the refactor).  hash-first: the gram
    # string exists only inside this stage; the 2x64-bit composite key
    # (second hash salted with lit(1)) is exact-by-construction vs the
    # string oracle at 16 bytes/row.
    grams = tracked_persist(
        shingle_rows(d, "doc_id", "text", n=4, distinct=False, lower=True, short_docs=False)
        .select(
            "doc_id",
            F.xxhash64(F.col("shingle")).alias("gram"),
            F.xxhash64(F.col("shingle"), F.lit(1)).alias("gram2"),
        )
        .distinct()
    )
    sized = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    a = grams.select(F.col("doc_id").alias("id_a"), "gram", "gram2")
    b = grams.select(F.col("doc_id").alias("id_b"), "gram", "gram2")
    overlap = (
        a.join(b, ["gram", "gram2"])
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        overlap.join(
            sized.select(F.col("doc_id").alias("id_a"), F.col("n_grams").alias("na")),
            "id_a",
        )
        .join(
            sized.select(F.col("doc_id").alias("id_b"), F.col("n_grams").alias("nb")),
            "id_b",
        )
        .withColumn(
            "containment",
            F.col("n_shared").cast("double") / F.least("na", "nb"),
        )
        .filter(F.col("containment") >= 0.8)
        .select("id_a", "id_b", "containment")
    )


# B102 scale path (r11 verdict task 2): banded candidate generation +
# exact containment verify over the FULL corpus — the twin pattern the
# repo uses when the oracle-shaped exact form stops scaling
# (equidepth_2phase, episodes_arrow).  Rows-only: xxhash64 band seeds
# have no portable oracle and recall is probabilistic; the quantitative
# claim lives in BOUNDS.json (pair recall vs the registered exact form
# at threshold 0.8, precision 1.0 by construction) and is pinned in
# tests/test_behavior.py.  The exact gram-join form above stays
# registered as the recall reference.
# Evidence (r12 verdict task 4, measured r13): recall 1.0 at BOTH
# sf0.01 (BOUNDS.json bounds: 25 true pairs) and sf0.1 (BOUNDS.json
# bounds_sf0.1: 256 true pairs — banding recall is corpus-size-
# sensitive, so the bench scale carries its own row); sf1 sidecar
# sf1_bench.json: spark_s 2.65 for this plan vs the exact twin's 3.69
# (the twin's row re-measured --fresh on its shipped composite-key
# plan, r13) — absolutely faster at every measured scale (SCALING.md
# containment_banded 8.3x@10x cell for the growth story).
@register(
    "text_containment_banded",
    tier="B",
    oracle=None,
    cost_note=(
        "rows-only (no oracle; recall 1.0 vs the exact registered form pinned "
        "in BOUNDS.json at sf0.01 and sf0.1, plus a deterministic "
        "size-skew-limitation fixture test): same stage decomposition as "
        "dedup_minhash_lsh, gram explode -> 16-perm minhash signature agg "
        "(persisted, tracked) -> 8-band bucket self-join for candidates -> "
        "exact per-pair containment verify on candidates only, never "
        "all-pairs. The persisted signature aggregate plus the band join are "
        "the absolute cost at sf0.1 (~1.85 s); per-band stage floors dominate "
        "on a 580KB corpus. Scale story: SCALING.md containment_banded "
        "8.3x@10x on a byte-dominated small cell, and absolutely faster than "
        "the exact inverted-index twin at both measured scales; the banding "
        "bounds candidates at corpus scale, which bench-scale stage machinery "
        "cannot show"
    ),
)
def text_containment_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ub_etl_spark.operators.dedup import containment_banded_pairs

    docs = T(spark, sf_dir, "documents")
    return containment_banded_pairs(
        docs, "doc_id", "text", n=4, num_perm=16, bands=8, threshold=0.8
    )


@register(
    "events_sequence_match",
    tier="B",
    oracle="""
    WITH paths AS (
      SELECT user_id,
             string_agg(event_type, '>' ORDER BY ts, event_id) AS path
      FROM events GROUP BY user_id
    )
    SELECT COUNT(*) AS n_users,
           CAST(SUM(CASE WHEN regexp_matches(path, 'signup.*view.*purchase')
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
           CAST(SUM(CASE WHEN regexp_matches(path, 'purchase.*signup')
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_inverted
    FROM paths
    """,
)
def events_sequence_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-pattern matching over per-user event histories (the
    MATCH_RECOGNIZE / sequenceMatch shape): users whose ordered event
    stream matches signup→…→view→…→purchase, and the inverted sanity
    pattern.  The whole history compiles to ONE path string per user
    inside the same hash aggregate that shuffles user_id once (no
    window, no self-join per stage — an L-stage funnel via joins costs
    L passes; the regex costs one), then the pattern is a codegen RLIKE
    over ~|users| short strings.  The trade: paths materialize per user,
    so per-key history must be bounded (cap the collect or bucket by
    time at 100 TB); tie-break by event_id keeps the sequence total-
    ordered."""
    e = T(spark, sf_dir, "events")
    path = F.concat_ws(
        ">",
        F.transform(
            F.sort_array(F.collect_list(F.struct("ts", "event_id", "event_type"))),
            lambda s: s["event_type"],
        ),
    )
    paths = e.groupBy("user_id").agg(path.alias("path"))
    return paths.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(
            F.when(F.col("path").rlike("signup.*view.*purchase"), 1).otherwise(0)
        ).alias("n_matched"),
        F.sum(
            F.when(F.col("path").rlike("purchase.*signup"), 1).otherwise(0)
        ).alias("n_inverted"),
    )


@register(
    "agg_share_of_parent",
    tier="B",
    oracle=f"""
    WITH per_nation AS (
      SELECT n.n_name AS nation, r.r_name AS region,
             SUM({sql_cents("l.l_extendedprice")}) AS rev_c
      FROM lineitem l
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      JOIN nation n ON s.s_nationkey = n.n_nationkey
      JOIN region r ON n.n_regionkey = r.r_regionkey
      GROUP BY n.n_name, r.r_name
    )
    SELECT nation, region, rev_c / 100.0 AS revenue,
           CAST(rev_c AS DOUBLE)
             / SUM(rev_c) OVER (PARTITION BY region) AS region_share
    FROM per_nation
    """,
)
def agg_share_of_parent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share-of-parent rollup (ratio_to_report): each nation's fraction
    of its region's supplier revenue — the BI percent-of-total
    primitive.  The fact aggregates to |nations| rows first (dims
    resolve broadcast-side), so the parent-total window runs over 25
    rows, not the fact; the share divides an exact long by an exact
    long-sum once, double both engines."""
    li = T(spark, sf_dir, "lineitem")
    supp = (
        T(spark, sf_dir, "supplier")
        .join(F.broadcast(T(spark, sf_dir, "nation")), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(T(spark, sf_dir, "region")), F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", F.col("n_name").alias("nation"), F.col("r_name").alias("region"))
    )
    per_nation = (
        li.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("nation", "region")
        .agg(F.sum(cents("l_extendedprice")).alias("rev_c"))
    )
    w = Window.partitionBy("region")
    return per_nation.select(
        "nation",
        "region",
        (F.col("rev_c") / 100.0).alias("revenue"),
        (F.col("rev_c").cast("double") / F.sum("rev_c").over(w)).alias(
            "region_share"
        ),
    )


@register(
    "orders_interpurchase_gaps",
    tier="B",
    oracle="""
    WITH gaps AS (
      SELECT o_custkey,
             DATE_DIFF('day',
                       LAG(o_orderdate) OVER (PARTITION BY o_custkey
                                              ORDER BY o_orderdate, o_orderkey),
                       o_orderdate) AS gap_days
      FROM orders
    )
    SELECT o_custkey, COUNT(*) AS n_gaps,
           CAST(SUM(gap_days) AS BIGINT) AS total_days,
           CAST(SUM(gap_days) AS DOUBLE) / COUNT(*) AS avg_gap_days,
           MIN(gap_days) AS min_gap, MAX(gap_days) AS max_gap
    FROM gaps WHERE gap_days IS NOT NULL
    GROUP BY o_custkey
    """,
)
def orders_interpurchase_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-purchase gap statistics per customer (the
    churn-risk/repurchase-cycle feature): day gaps between consecutive
    orders via one LAG over the customer partition, aggregated to
    count/sum/avg/min/max.  Gaps are exact integer day differences, so
    the average is one double division of exact integers; the window and
    the aggregate share the o_custkey exchange (one fact shuffle);
    (orderdate, orderkey) ordering totalizes same-day orders."""
    o = T(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    gaps = o.select(
        "o_custkey",
        F.datediff(
            F.col("o_orderdate"), F.lag("o_orderdate").over(w)
        ).alias("gap_days"),
    ).filter(F.col("gap_days").isNotNull())
    return gaps.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.sum("gap_days").alias("total_days"),
        (F.sum("gap_days").cast("double") / F.count(F.lit(1))).alias("avg_gap_days"),
        F.min("gap_days").alias("min_gap"),
        F.max("gap_days").alias("max_gap"),
    )


@register(
    "events_ab_test_zscore",
    tier="B",
    oracle="""
    WITH assign AS (
      SELECT user_id, user_id % 2 AS grp,
             CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                       >= 15 THEN 1 ELSE 0 END AS converted
      FROM events GROUP BY user_id
    ), s AS (
      SELECT SUM(CASE WHEN grp = 0 THEN converted ELSE 0 END) AS x_a,
             CAST(SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             SUM(CASE WHEN grp = 1 THEN converted ELSE 0 END) AS x_b,
             CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
      FROM assign
    )
    SELECT n_a, n_b,
           CAST(x_a AS DOUBLE) / n_a AS rate_a,
           CAST(x_b AS DOUBLE) / n_b AS rate_b,
           CASE WHEN x_a + x_b > 0 AND x_a + x_b < n_a + n_b THEN
             (CAST(x_a AS DOUBLE) / n_a - CAST(x_b AS DOUBLE) / n_b)
               / SQRT((CAST(x_a + x_b AS DOUBLE) / (n_a + n_b))
                        * (1.0 - CAST(x_a + x_b AS DOUBLE) / (n_a + n_b))
                        * (1.0 / n_a + 1.0 / n_b))
           END AS z_score
    FROM s
    """,
)
def events_ab_test_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion A/B test (conversion-rate lift + pooled z
    statistic) with deterministic hash assignment (user_id parity):
    the experiment-analysis primitive.  Per-user conversion collapses
    in one user_id aggregate, the four cell counts in a second 1-row
    conditional aggregate — two map-side-combined passes, no joins.
    Every input to the z formula is an exact integer; the float
    expression is written in one shared textual order with no a + b·c
    site (the cross-engine FMA hazard), so the statistic hash-matches."""
    e = T(spark, sf_dir, "events")
    assign = e.groupBy("user_id").agg(
        F.when(
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)) >= 15,
            1,
        )
        .otherwise(0)
        .alias("converted")
    ).withColumn("grp", F.col("user_id") % 2)
    s = assign.agg(
        F.sum(F.when(F.col("grp") == 0, F.col("converted")).otherwise(0)).alias("x_a"),
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("grp") == 1, F.col("converted")).otherwise(0)).alias("x_b"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).alias("n_b"),
    )
    x_a, n_a, x_b, n_b = (F.col(c) for c in ("x_a", "n_a", "x_b", "n_b"))
    rate_a = x_a.cast("double") / n_a
    rate_b = x_b.cast("double") / n_b
    pooled = (x_a + x_b).cast("double") / (n_a + n_b)
    # NULL (not an ANSI divide-by-zero abort) when the pooled rate is
    # degenerate (0 or 1) — the z statistic is undefined there
    z = F.when(
        ((x_a + x_b) > 0) & ((x_a + x_b) < (n_a + n_b)),
        (x_a.cast("double") / n_a - x_b.cast("double") / n_b)
        / F.sqrt(pooled * (1.0 - pooled) * (1.0 / n_a + 1.0 / n_b)),
    )
    return s.select(
        "n_a",
        "n_b",
        rate_a.alias("rate_a"),
        rate_b.alias("rate_b"),
        z.alias("z_score"),
    )


@register(
    "events_burst_detection",
    tier="B",
    oracle="""
    WITH sec AS (
      SELECT user_id, event_id,
             DATE_PART('epoch', ts) AS es
      FROM events
    ), windowed AS (
      SELECT user_id,
             COUNT(*) OVER (PARTITION BY user_id ORDER BY es
                            RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
               AS n_in_hour
      FROM sec
    )
    SELECT user_id, MAX(n_in_hour) AS max_burst
    FROM windowed GROUP BY user_id
    HAVING MAX(n_in_hour) >= 3
    """,
)
def events_burst_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst/bot detection: a user's maximum event count inside any
    trailing 1-hour window, flagged at >= 3 (non-vacuous at every sf of this sparse fixture) — the rate-anomaly gate
    (same policy family as the reference's rate limiting, README.md,
    applied to observed traffic rather than outbound calls).  The
    trailing count is a RANGE frame over integer epoch seconds (value-
    based frame, so simultaneous events all land in each other's
    window regardless of row order — a ROWS frame would be order-
    sensitive under ties); one window pass + one aggregate share the
    user_id exchange; HAVING prunes to the rare flagged users."""
    e = T(spark, sf_dir, "events")
    sec = e.select(
        "user_id",
        F.col("ts").cast("timestamp").cast("long").alias("es"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("es")
        .rangeBetween(-3600, Window.currentRow)
    )
    return (
        sec.withColumn("n_in_hour", F.count(F.lit(1)).over(w))
        .groupBy("user_id")
        .agg(F.max("n_in_hour").alias("max_burst"))
        .filter(F.col("max_burst") >= 3)
    )


@register(
    "events_user_entropy",
    tier="B",
    oracle="""
    WITH counts AS (
      SELECT user_id, event_type, COUNT(*) AS c
      FROM events GROUP BY user_id, event_type
    ), tot AS (
      SELECT user_id, SUM(c) AS n FROM counts GROUP BY user_id
    ), terms AS (
      SELECT counts.user_id,
             CAST(FLOOR(-(CAST(c AS DOUBLE) / n)
                          * LN(CAST(c AS DOUBLE) / n) * 1000000.0)
                  AS BIGINT) AS term_u
      FROM counts JOIN tot ON counts.user_id = tot.user_id
    )
    SELECT user_id, SUM(term_u) / 1000000.0 AS entropy
    FROM terms GROUP BY user_id
    """,
)
def events_user_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of each user's event-type distribution (the
    behavioral-diversity feature: 0 = single-type bot-like, high =
    varied usage).  Probabilities come from exact counts; each -p·ln p
    term QUANTIZES to integer micro-units before the per-user sum (the
    repo-wide rule for ln outputs: a raw double sum of transcendental
    terms is order-dependent; the floor-6dp quantization is the same
    operating point text_tfidf pins).  The per-user total is a window
    sum over the (user, event_type) counts, and the window's user_id
    exchange also serves the final per-user sum: no join, so AQE has no
    build side to pick at run time and every run executes the same plan
    (the oracle's counts JOIN tot form let the broadcast side flip)."""
    e = T(spark, sf_dir, "events")
    counts = e.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("c"))
    n = F.sum("c").over(Window.partitionBy("user_id"))
    p = F.col("c").cast("double") / n
    term_u = F.floor(-p * F.log(p) * 1e6).cast("long")
    return (
        counts.select("user_id", term_u.alias("term_u"))
        .groupBy("user_id")
        .agg((F.sum("term_u") / 1e6).alias("entropy"))
    )


@register(
    "agg_bitwise_flags",
    tier="B",
    oracle="""
    WITH flagged AS (
      SELECT user_id, DATE_TRUNC('week', ts) AS wk,
             BIT_OR(CASE event_type
                      WHEN 'signup' THEN 1 WHEN 'view' THEN 2
                      WHEN 'purchase' THEN 4 WHEN 'click' THEN 8
                      ELSE 16 END) AS flags,
             BIT_AND(CASE event_type
                       WHEN 'signup' THEN 1 WHEN 'view' THEN 2
                       WHEN 'purchase' THEN 4 WHEN 'click' THEN 8
                       ELSE 16 END) AS common_bits
      FROM events GROUP BY user_id, DATE_TRUNC('week', ts)
    )
    SELECT flags, COUNT(*) AS n_users,
           CAST(SUM(CASE WHEN common_bits <> 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_single_type
    FROM flagged GROUP BY flags
    """,
)
def agg_bitwise_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise aggregate surface (bit_or / bit_and): event types encode
    to flag bits, per-(user, week) OR gives the weekly activity
    signature, AND exposes single-type weeks (nonzero only when every
    event mapped to the same bit) — the feature-flag/capability-mask
    rollup shape.  Weekly grain keeps the signature space non-degenerate
    (full-history OR saturates to all-bits for every user here).
    Bitwise aggregates are exact, associative, order-free integers:
    deterministic with zero quantization machinery.  One keyed aggregate
    + one tiny signature-histogram aggregate."""
    e = T(spark, sf_dir, "events")
    bit = (
        F.when(F.col("event_type") == "signup", 1)
        .when(F.col("event_type") == "view", 2)
        .when(F.col("event_type") == "purchase", 4)
        .when(F.col("event_type") == "click", 8)
        .otherwise(16)
    )
    flagged = e.groupBy("user_id", F.date_trunc("week", "ts").alias("wk")).agg(
        F.bit_or(bit).alias("flags"), F.bit_and(bit).alias("common_bits")
    )
    return flagged.groupBy("flags").agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum(F.when(F.col("common_bits") != 0, 1).otherwise(0)).alias(
            "n_single_type"
        ),
    )


@register(
    "events_survival_curve",
    tier="B",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             MIN(ts) AS t0,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_conv
      FROM events GROUP BY user_id
    ), offsets AS (
      SELECT user_id,
             CASE WHEN t_conv IS NULL THEN NULL
                  ELSE DATE_DIFF('day', CAST(t0 AS DATE), CAST(t_conv AS DATE))
             END AS conv_day
      FROM per_user
    ), spine AS (
      SELECT DISTINCT conv_day AS d FROM offsets WHERE conv_day IS NOT NULL
    ), cum AS (
      SELECT s.d,
             (SELECT COUNT(*) FROM offsets o
              WHERE o.conv_day IS NOT NULL AND o.conv_day <= s.d) AS n_conv,
             (SELECT COUNT(*) FROM offsets) AS n_total
      FROM spine s
    )
    SELECT d AS day_offset, n_conv,
           1.0 - CAST(n_conv AS DOUBLE) / n_total AS surviving_fraction
    FROM cum
    """,
)
def events_survival_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-conversion survival curve (Kaplan-Meier step function
    without censoring weights): the fraction of users still unconverted
    at each day offset from their first event — the
    activation/time-to-value analysis.  Per-user first-event and
    first-purchase collapse in ONE conditional-MIN aggregate; conversion
    counts aggregate per day offset and one cumulative window over the
    tiny offset spine builds the curve (the oracle keeps the textbook
    per-day correlated subquery).  Survival = one double division of
    exact integers per spine row.  Never-converting users stay in the
    denominator at every offset, as survival analysis requires — an
    inner join on conversions would overstate the conversion rate."""
    e = T(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.min("ts").alias("t0"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "t_conv"
        ),
    )
    offsets = per_user.select(
        F.datediff(F.col("t_conv").cast("date"), F.col("t0").cast("date")).alias(
            "conv_day"
        )
    )
    n_total = offsets.agg(F.count(F.lit(1)).alias("n_total"))
    per_day = (
        offsets.filter(F.col("conv_day").isNotNull())
        .groupBy(F.col("conv_day").alias("day_offset"))
        .agg(F.count(F.lit(1)).alias("n_day"))
    )
    w = Window.orderBy("day_offset").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return (
        per_day.withColumn("n_conv", F.sum("n_day").over(w))
        .crossJoin(F.broadcast(n_total))
        .select(
            "day_offset",
            "n_conv",
            (1.0 - F.col("n_conv").cast("double") / F.col("n_total")).alias(
                "surviving_fraction"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Time-bounded funnel
# ---------------------------------------------------------------------------


@register(
    "events_funnel_windowed",
    tier="B",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'signup' THEN ts END) AS signup_ts
      FROM events GROUP BY user_id
    ), conv AS (
      SELECT p.user_id, p.signup_ts,
             MIN(CASE WHEN e.event_type = 'purchase'
                       AND e.ts > p.signup_ts
                       AND e.ts <= p.signup_ts + INTERVAL 7 DAY
                      THEN e.ts END) AS conv_ts
      FROM per_user p JOIN events e ON e.user_id = p.user_id
      WHERE p.signup_ts IS NOT NULL
      GROUP BY p.user_id, p.signup_ts
    )
    SELECT COUNT(*) AS n_signup,
           COUNT(conv_ts) AS n_converted_7d,
           CAST(COUNT(conv_ts) AS DOUBLE) / COUNT(*) AS conv_rate,
           CAST(SUM(date_diff('second', signup_ts, conv_ts)) AS BIGINT)
             AS total_latency_s
    FROM conv
    """,
)
def events_funnel_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bounded conversion funnel: signup -> purchase WITHIN 7 days
    (events_funnel and events_funnel_rates count any later purchase; real
    activation metrics bound the window, otherwise conversion creeps to
    100% as history grows).  Per-user first signup via one conditional
    MIN, then the purchase scan joins per-user on user_id with the time
    bound riding the join -> a second conditional MIN; one scalar rollup.
    Both shuffles are user_id-keyed (AQE broadcasts the signup side while
    it fits).  Latency sums in exact integer seconds; the only double is
    one n/n division.  Scale: state per user is one timestamp; no window
    over raw events, no cross-history self-join beyond the keyed join."""
    e = T(spark, sf_dir, "events")
    signups = (
        e.groupBy("user_id")
        .agg(F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("signup_ts"))
        .filter(F.col("signup_ts").isNotNull())
        .select(F.col("user_id").alias("s_user"), "signup_ts")
    )
    conv = (
        e.join(signups, e.user_id == F.col("s_user"))
        .groupBy("s_user", "signup_ts")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("ts") > F.col("signup_ts"))
                    & (F.col("ts") <= F.col("signup_ts") + F.expr("INTERVAL 7 DAY")),
                    F.col("ts"),
                )
            ).alias("conv_ts")
        )
    )
    # TIMESTAMP_NTZ has no direct long cast; hop through TIMESTAMP for
    # epoch seconds (the streaming_batch.py convention)
    lat = F.col("conv_ts").cast("timestamp").cast("long") - F.col(
        "signup_ts"
    ).cast("timestamp").cast("long")
    return conv.agg(
        F.count(F.lit(1)).alias("n_signup"),
        F.count("conv_ts").alias("n_converted_7d"),
        (F.count("conv_ts").cast("double") / F.count(F.lit(1))).alias("conv_rate"),
        F.sum(lat).cast("bigint").alias("total_latency_s"),
    )


# ---------------------------------------------------------------------------
# Cohort LTV curve
# ---------------------------------------------------------------------------


@register(
    "events_cohort_ltv",
    tier="B",
    oracle=f"""
    WITH firsts AS (
      SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
      FROM events GROUP BY user_id
    ), sizes AS (
      SELECT cohort_week, COUNT(*) AS cohort_users FROM firsts
      GROUP BY cohort_week
    ), rev AS (
      SELECT f.cohort_week,
             CAST(date_diff('day', f.cohort_week,
                            CAST(date_trunc('week', e.ts) AS DATE)) / 7 AS BIGINT)
               AS week_offset,
             SUM({sql_cents("e.value")}) AS rev_c
      FROM events e JOIN firsts f ON e.user_id = f.user_id
      WHERE e.event_type = 'purchase'
      GROUP BY 1, 2
    )
    SELECT r.cohort_week, r.week_offset, s.cohort_users,
           CAST(SUM(r.rev_c) OVER (PARTITION BY r.cohort_week
                                   ORDER BY r.week_offset) AS DOUBLE)
             / 100.0 / s.cohort_users AS cum_ltv
    FROM rev r JOIN sizes s ON r.cohort_week = s.cohort_week
    ORDER BY r.cohort_week, r.week_offset
    """,
)
def events_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curve: cumulative purchase revenue per user
    by (cohort week x week offset) — the revenue twin of
    events_retention_cohort and the payback-period input.  Purchase
    revenue aggregates to the tiny (cohort, offset) grid in exact cents
    BEFORE the cumulative window (which therefore runs over ~weeks^2
    rows, not events); cohort sizes join back broadcast.  cum_ltv is one
    double division of an exact long by (100 x users) in shared textual
    order.  Monday-aligned week truncation on both engines (the
    events_retention_cohort convention)."""
    e = T(spark, sf_dir, "events")
    week = lambda c: F.date_trunc("week", c).cast("date")  # noqa: E731
    firsts = (
        e.groupBy("user_id")
        .agg(week(F.min("ts")).alias("cohort_week"))
        .select(F.col("user_id").alias("f_user"), "cohort_week")
    )
    sizes = firsts.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("cohort_users")
    ).select(F.col("cohort_week").alias("s_week"), "cohort_users")
    rev = (
        e.join(firsts, e.user_id == F.col("f_user"))
        .filter(F.col("event_type") == "purchase")
        .groupBy(
            "cohort_week",
            (F.datediff(week(F.col("ts")), F.col("cohort_week")) / 7)
            .cast("bigint")
            .alias("week_offset"),
        )
        .agg(F.sum(cents("value")).alias("rev_c"))
    )
    w = Window.partitionBy("cohort_week").orderBy("week_offset")
    return (
        rev.join(F.broadcast(sizes), rev.cohort_week == F.col("s_week"))
        .select(
            "cohort_week",
            "week_offset",
            "cohort_users",
            (
                F.sum("rev_c").over(w).cast("double")
                / 100.0
                / F.col("cohort_users")
            ).alias("cum_ltv"),
        )
        .orderBy("cohort_week", "week_offset")
    )


# ---------------------------------------------------------------------------
# Association-rule lift
# ---------------------------------------------------------------------------


@register(
    "market_basket_lift",
    tier="B",
    oracle="""
    WITH baskets AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ), n_orders AS (SELECT COUNT(DISTINCT l_orderkey) AS n FROM baskets),
    item AS (SELECT l_partkey, COUNT(*) AS ni FROM baskets GROUP BY 1),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS nab
      FROM baskets a JOIN baskets b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    )
    SELECT part_a, part_b, nab,
           (CAST(nab AS DOUBLE) * n.n) / (CAST(ia.ni AS DOUBLE) * ib.ni)
             AS lift,
           CAST(nab AS DOUBLE) / ia.ni AS confidence_a_to_b
    FROM pairs
    JOIN item ia ON pairs.part_a = ia.l_partkey
    JOIN item ib ON pairs.part_b = ib.l_partkey
    CROSS JOIN n_orders n
    WHERE nab >= 3
    ORDER BY lift DESC, part_a, part_b
    LIMIT 50
    """,
    cost_note=(
        "embeds the same Arrow pre-agg pair-count kernel as "
        "market_basket_pairs (counts through the exchange, never pair "
        "instances) over one persisted basket_arrays shuffle that also feeds "
        "supports + basket count"
    ),
    ratio_exception=True,
)
def market_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule mining metrics over co-purchase pairs: lift
    (P(ab)/(P(a)P(b))) and confidence — the actual recommendation
    scores market_basket_pairs' raw counts feed (count-ranked partners
    are just popular items; lift-ranked partners are genuinely
    associated).  The pair counts come from the Arrow pre-agg kernel
    (never a fact self-join — the oracle keeps the textbook join
    form).  The per-order collect_set is the ONE shuffle the whole
    query pays: the pair-count kernel, item supports (explode of the
    arrays), and the basket count all branch from the same persisted
    basket_arrays frame instead of re-aggregating the fact three times.
    Support >= 3 prunes noise pairs BEFORE the lift join; item supports
    are |parts|-sized and broadcast; every ratio is a shared-order
    double division of exact longs.  Top-50 by lift is
    TakeOrderedAndProject.  Scale: |pairs| is linear in baskets
    (bounded basket size); at a corpus where |parts| outgrows broadcast
    the support joins co-key on the pair columns (AQE)."""
    from ub_etl_spark.operators.selection import (
        basket_arrays,
        basket_pair_counts_arrow_from_arrays,
    )
    from ub_etl_spark.session import tracked_persist

    li = T(spark, sf_dir, "lineitem")
    # tracked_persist: the cache is registered so release_persisted()
    # frees it — a bare persist here would pin the basket arrays for the
    # rest of the session.
    arrays = tracked_persist(basket_arrays(li, "l_orderkey", "l_partkey"))
    n_orders = arrays.agg(F.count(F.lit(1)).alias("n"))
    item = (
        arrays.select(F.explode("parts").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("ni"))
    )
    # r11.3: the pair branch uses the Arrow pre-agg kernel over the SAME
    # persisted arrays frame (counts through the exchange, never pair
    # instances — the market_basket_pairs rework applied to the shared-
    # frame plan; equality pinned in tests/test_behavior.py)
    pairs = (
        basket_pair_counts_arrow_from_arrays(arrays)
        .withColumnRenamed("n_orders", "nab")
        .filter(F.col("nab") >= 3)
    )
    ia = item.select(F.col("l_partkey").alias("part_a"), F.col("ni").alias("ni_a"))
    ib = item.select(F.col("l_partkey").alias("part_b"), F.col("ni").alias("ni_b"))
    return (
        pairs.join(F.broadcast(ia), "part_a")
        .join(F.broadcast(ib), "part_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a",
            "part_b",
            "nab",
            (
                (F.col("nab").cast("double") * F.col("n"))
                / (F.col("ni_a").cast("double") * F.col("ni_b"))
            ).alias("lift"),
            (F.col("nab").cast("double") / F.col("ni_a")).alias("confidence_a_to_b"),
        )
        .orderBy(F.desc("lift"), "part_a", "part_b")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Any-order (set-based) funnel
# ---------------------------------------------------------------------------


@register(
    "events_funnel_any_order",
    tier="B",
    oracle="""
    WITH per_user AS (
      SELECT user_id,
             MAX(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS s,
             MAX(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS v,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p
      FROM events GROUP BY user_id
    )
    SELECT COUNT(*) AS n_users,
           CAST(SUM(s) AS BIGINT) AS did_signup,
           CAST(SUM(s * v) AS BIGINT) AS did_signup_view,
           CAST(SUM(s * v * p) AS BIGINT) AS did_all_three,
           CAST(SUM(s * v * p) AS DOUBLE) / COUNT(*) AS completion_rate
    FROM per_user
    """,
)
def events_funnel_any_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-based funnel: users who performed ALL of {signup, view,
    purchase} in ANY order — the engagement-breadth metric next to the
    ordered funnels (events_funnel requires the sequence; this only
    membership; both belong in a funnel suite because ordered-only
    undercounts users who purchased before browsing).  One per-user
    conditional-MAX aggregate + one scalar rollup — the flag products
    (s·v·p) are exact 0/1 integer arithmetic; one division.  Scale:
    per-user state is three bits; both aggregates map-side-combine."""
    e = T(spark, sf_dir, "events")
    flag = lambda t: F.max(F.when(F.col("event_type") == t, 1).otherwise(0))  # noqa: E731
    per_user = e.groupBy("user_id").agg(
        flag("signup").alias("s"), flag("view").alias("v"), flag("purchase").alias("p")
    )
    svp = F.col("s") * F.col("v") * F.col("p")
    return per_user.agg(
        F.count(F.lit(1)).alias("n_users"),
        F.sum("s").cast("bigint").alias("did_signup"),
        F.sum(F.col("s") * F.col("v")).cast("bigint").alias("did_signup_view"),
        F.sum(svp).cast("bigint").alias("did_all_three"),
        (F.sum(svp).cast("double") / F.count(F.lit(1))).alias("completion_rate"),
    )


# ---------------------------------------------------------------------------
# Difference-in-differences
# ---------------------------------------------------------------------------


@register(
    "events_impact_diff_in_diff",
    tier="B",
    oracle=f"""
    WITH tagged AS (
      SELECT CASE WHEN ((user_id * 2654435761) % 4294967296) % 100 < 50
                  THEN 1 ELSE 0 END AS treated,
             CASE WHEN ts >= TIMESTAMP '2024-01-16 00:00:00' THEN 1 ELSE 0 END
               AS post,
             {sql_cents("value")} AS v
      FROM events WHERE event_type = 'purchase'
    ), cells AS (
      SELECT treated, post, COUNT(*) AS n, SUM(v) AS s FROM tagged
      GROUP BY treated, post
    ), m AS (
      SELECT
        MAX(CASE WHEN treated = 1 AND post = 1 THEN CAST(s AS DOUBLE) / n END) AS t_post,
        MAX(CASE WHEN treated = 1 AND post = 0 THEN CAST(s AS DOUBLE) / n END) AS t_pre,
        MAX(CASE WHEN treated = 0 AND post = 1 THEN CAST(s AS DOUBLE) / n END) AS c_post,
        MAX(CASE WHEN treated = 0 AND post = 0 THEN CAST(s AS DOUBLE) / n END) AS c_pre,
        CAST(SUM(n) AS BIGINT) AS n_purchases
      FROM cells
    )
    SELECT t_pre / 100.0 AS t_pre, t_post / 100.0 AS t_post,
           c_pre / 100.0 AS c_pre, c_post / 100.0 AS c_post,
           ((t_post - t_pre) - (c_post - c_pre)) / 100.0 AS did_estimate,
           n_purchases
    FROM m
    """,
)
def events_impact_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences impact estimate on purchase value:
    deterministic 50/50 hash assignment (the events_ab_test_zscore
    machinery) × pre/post period split — DiD subtracts the control
    group's secular trend from the treated group's change, the
    work-horse causal estimator when randomization happens at rollout
    time.  Four cell means from ONE conditional aggregate over exact
    cents (each mean is a shared-order double division); the estimate
    is pure arithmetic on the four already-identical doubles.  No
    joins, no windows; scale state is 4 cells."""
    e = T(spark, sf_dir, "events")
    treated = (
        F.pmod((F.col("user_id") * F.lit(2654435761)) % F.lit(2**32), F.lit(100)) < 50
    ).cast("int")
    post = (F.col("ts") >= F.lit("2024-01-16 00:00:00").cast("timestamp")).cast("int")
    cells = (
        e.filter(F.col("event_type") == "purchase")
        .select(treated.alias("treated"), post.alias("post"), cents("value").alias("v"))
        .groupBy("treated", "post")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
    )
    cell = lambda t, p: F.max(  # noqa: E731
        F.when(
            (F.col("treated") == t) & (F.col("post") == p),
            F.col("s").cast("double") / F.col("n"),
        )
    )
    m = cells.agg(
        cell(1, 1).alias("t_post"),
        cell(1, 0).alias("t_pre"),
        cell(0, 1).alias("c_post"),
        cell(0, 0).alias("c_pre"),
        F.sum("n").cast("bigint").alias("n_purchases"),
    )
    return m.select(
        (F.col("t_pre") / 100.0).alias("t_pre"),
        (F.col("t_post") / 100.0).alias("t_post"),
        (F.col("c_pre") / 100.0).alias("c_pre"),
        (F.col("c_post") / 100.0).alias("c_post"),
        (
            (
                (F.col("t_post") - F.col("t_pre"))
                - (F.col("c_post") - F.col("c_pre"))
            )
            / 100.0
        ).alias("did_estimate"),
        "n_purchases",
    )


# ---------------------------------------------------------------------------
# Day-of-week x hour activity heatmap
# ---------------------------------------------------------------------------


@register(
    "events_dow_hour_heatmap",
    tier="B",
    oracle=f"""
    SELECT CAST(dayofweek(ts) AS BIGINT) AS dow_sunday0,
           CAST(hour(ts) AS BIGINT) AS hr,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           {sql_csum("value", "total_value")}
    FROM events GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def events_dow_hour_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-of-week × hour activity heatmap (events, distinct users,
    exact value) — the ops-dashboard grid behind staffing, batch-window
    placement, and anomaly eyeballing.  DOW extraction pinned to the
    Sunday=1 convention on BOTH engines explicitly (dayofweek agrees;
    ISO dow would differ — the events_retention_cohort Monday-alignment
    lesson applied at the API level).  One aggregate; the grid is a
    constant 7×24 regardless of volume."""
    e = T(spark, sf_dir, "events")
    return (
        e.groupBy(
            (F.dayofweek("ts") - 1).cast("bigint").alias("dow_sunday0"),
            F.hour("ts").cast("bigint").alias("hr"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            csum("value", "total_value"),
        )
        .orderBy("dow_sunday0", "hr")
    )


# ---------------------------------------------------------------------------
# Sessionized bounce rate
# ---------------------------------------------------------------------------


@register(
    "events_bounce_rate",
    tier="B",
    oracle="""
    WITH marked AS (
      SELECT user_id, event_id, ts,
             CASE WHEN LAG(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) IS NULL
                       OR ts - LAG(ts) OVER (PARTITION BY user_id
                                             ORDER BY ts, event_id)
                          > INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM events
    ), sess AS (
      SELECT user_id, event_id,
             SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS sid,
             ts
      FROM marked
    ), sized AS (
      SELECT user_id, sid, COUNT(*) AS n_events,
             CAST(MIN(ts) AS DATE) AS d
      FROM sess GROUP BY user_id, sid
    )
    SELECT d, COUNT(*) AS n_sessions,
           CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bounces,
           CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*) AS bounce_rate
    FROM sized GROUP BY d ORDER BY d
    """,
)
def events_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily bounce rate over 30-minute-gap sessions (single-event
    sessions / all sessions) — the canonical engagement-quality KPI on
    top of the sessionization machinery (stream_session_window computes
    the windows; this consumes them into the metric product teams
    actually chart).  Gap sessionization is the lag+cumsum pair sharing
    one user_id exchange; session sizes aggregate on (user, sid); the
    daily rollup keys sessions by their START day (a session spanning
    midnight counts once, where a per-event day grouping would split
    it).  Exact counts, one division."""
    e = T(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("timestamp").cast("long") - F.lag(
        F.col("ts").cast("timestamp").cast("long")
    ).over(w)
    new_s = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    w_cum = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    sess = e.select("user_id", "ts", "event_id", new_s.alias("new_s")).select(
        "user_id", "ts", F.sum("new_s").over(w_cum).alias("sid")
    )
    sized = sess.groupBy("user_id", "sid").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("ts").cast("date").alias("d"),
    )
    bounce = F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
    return (
        sized.groupBy("d")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            bounce.cast("bigint").alias("n_bounces"),
            (bounce.cast("double") / F.count(F.lit(1))).alias("bounce_rate"),
        )
        .orderBy("d")
    )


# ---------------------------------------------------------------------------
# Growth accounting: new vs returning users per day
# ---------------------------------------------------------------------------


@register(
    "events_new_vs_returning",
    tier="B",
    oracle="""
    WITH firsts AS (
      SELECT user_id, CAST(MIN(ts) AS DATE) AS first_d FROM events
      GROUP BY user_id
    ), daily AS (
      SELECT DISTINCT CAST(e.ts AS DATE) AS d, e.user_id, f.first_d
      FROM events e JOIN firsts f ON e.user_id = f.user_id
    )
    SELECT d,
           CAST(SUM(CASE WHEN d = first_d THEN 1 ELSE 0 END) AS BIGINT)
             AS n_new,
           CAST(SUM(CASE WHEN d > first_d THEN 1 ELSE 0 END) AS BIGINT)
             AS n_returning,
           COUNT(*) AS n_active
    FROM daily GROUP BY d ORDER BY d
    """,
)
def events_new_vs_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily growth accounting: active users split into NEW (first ever
    seen that day) vs RETURNING — the decomposition every growth chart
    starts from (DAU alone hides whether growth is acquisition or
    retention; events_retention_cohort gives the matrix, this gives the
    daily headline).  First-seen dates from one per-user MIN; the
    day-grain distinct joins back keyed on user_id; the daily rollup
    compares each active day to the user's first day in exact date
    arithmetic.  Both shuffles co-key on user_id (AQE broadcasts the
    firsts side while it fits); counts exact."""
    e = T(spark, sf_dir, "events")
    firsts = e.groupBy("user_id").agg(
        F.min("ts").cast("date").alias("first_d")
    ).select(F.col("user_id").alias("f_user"), "first_d")
    daily = (
        e.join(firsts, e.user_id == F.col("f_user"))
        .select(F.col("ts").cast("date").alias("d"), "user_id", "first_d")
        .distinct()
    )
    return (
        daily.groupBy("d")
        .agg(
            F.sum(F.when(F.col("d") == F.col("first_d"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_new"),
            F.sum(F.when(F.col("d") > F.col("first_d"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_returning"),
            F.count(F.lit(1)).alias("n_active"),
        )
        .orderBy("d")
    )
