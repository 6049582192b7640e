"""Behavior/sequence analytics invariants (queries/behavior.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from ub_etl_spark.queries.behavior import (
    events_path_topk,
    market_basket_pairs,
    stream_late_data_accounting,
    text_containment_dedup,
)
from ub_etl_spark.sources.tables import load_table


def test_paths_are_truncated_and_counted(spark, sf_dir):
    """Paths hold at most 8 hops, counts are positive, and the top path's
    user count can't exceed the total user count."""
    rows = events_path_topk(spark, sf_dir).collect()
    n_users = load_table(spark, sf_dir, "events").select("user_id").distinct().count()
    assert rows
    for r in rows:
        assert 1 <= len(r.path.split(">")) <= 8
        assert 0 < r.n_users <= n_users


def test_basket_pairs_symmetric_source_and_topk(spark, sf_dir):
    """part_a < part_b always; at most 3 partners per part_a; each count
    matches an independent recount for a sampled pair."""
    df = market_basket_pairs(spark, sf_dir)
    rows = df.collect()
    assert rows and all(r.part_a < r.part_b for r in rows)
    per_a: dict[int, int] = {}
    for r in rows:
        per_a[r.part_a] = per_a.get(r.part_a, 0) + 1
    assert max(per_a.values()) <= 3
    # spot-check one pair against a direct count
    r0 = rows[0]
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey").distinct()
    a = li.filter(F.col("l_partkey") == r0.part_a).select("l_orderkey")
    b = li.filter(F.col("l_partkey") == r0.part_b).select("l_orderkey")
    assert a.join(b, "l_orderkey").count() == r0.n_orders


def test_late_accounting_partitions_all_events(spark, sf_dir):
    """late + ontime across event types equals the table row count (every
    event is classified exactly once)."""
    rows = stream_late_data_accounting(spark, sf_dir).collect()
    total = load_table(spark, sf_dir, "events").count()
    assert sum(r.n_late + r.n_ontime for r in rows) == total


def test_containment_detects_planted_prefix_copy(spark, tmp_path):
    """A short doc fully contained in a longer one scores 1.0; an
    unrelated doc pairs with nothing.  Runs the REGISTERED query against
    a planted fixture dir."""
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "alpha beta gamma delta epsilon"),  # prefix of 1
            (3, "one two three four five six seven"),
        ],
        "doc_id long, text string",
    )
    docs.write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = text_containment_dedup(spark, str(tmp_path)).collect()
    pairs = {(r.id_a, r.id_b): r.containment for r in out}
    # doc 2's 2 grams are both inside doc 1's 5 -> min-normalized 1.0
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0
    assert not any(3 in p for p in pairs)


def test_containment_registered_query_short_doc_safe(spark, sf_dir):
    """The registered query runs without the descending-sequence trap on
    whatever doc lengths the fixture has (just executes + sane range)."""
    rows = text_containment_dedup(spark, sf_dir).collect()
    assert all(0.8 <= r.containment <= 1.0 for r in rows)


def test_containment_hashed_keys_equal_string_keys(spark, sf_dir):
    """The r11 hash-first rework (xxhash64 gram keys, strings never
    enter an exchange) must produce the same (id_a, id_b, containment)
    rows as a string-keyed reference build — the collision budget says
    equality is certain at any testable scale, so a mismatch here means
    the plan rework broke semantics, not that a collision happened."""
    d = load_table(spark, sf_dir, "documents")
    base = d.select("doc_id", F.split(F.lower(F.col("text")), " ").alias("t"))
    grams = (
        base.select("doc_id", "t", F.posexplode("t").alias("p", "tok"))
        .filter(F.col("p") <= F.size("t") - 4)
        .select(
            "doc_id",
            F.concat_ws(
                " ", *[F.element_at("t", F.col("p") + j + 1) for j in range(4)]
            ).alias("gram"),
        )
        .distinct()
    )
    sized = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_grams"))
    a = grams.select(F.col("doc_id").alias("id_a"), "gram")
    b = grams.select(F.col("doc_id").alias("id_b"), "gram")
    overlap = (
        a.join(b, "gram")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    ref = (
        overlap.join(
            sized.select(F.col("doc_id").alias("id_a"), F.col("n_grams").alias("na")),
            "id_a",
        )
        .join(
            sized.select(F.col("doc_id").alias("id_b"), F.col("n_grams").alias("nb")),
            "id_b",
        )
        .withColumn(
            "containment", F.col("n_shared").cast("double") / F.least("na", "nb")
        )
        .filter(F.col("containment") >= 0.8)
        .select("id_a", "id_b", "containment")
    )
    got = sorted(map(tuple, text_containment_dedup(spark, sf_dir).collect()))
    want = sorted(map(tuple, ref.collect()))
    assert got == want


def test_containment_banded_recall_and_precision(spark, sf_dir):
    """The banded twin (r12, B102 scale path) vs the registered exact
    form: precision must be 1.0 by construction (verified candidates
    only, so banded ⊆ exact), recall pinned >= 0.9 at the registered
    operating point (the corpus's true pairs are near-identical twins,
    where the S-curve sits at ~1.0), and scores on recalled pairs must
    be bit-equal (both sides divide the same two exact counts)."""
    from ub_etl_spark.queries.behavior import text_containment_banded

    exact = {
        (r.id_a, r.id_b): r.containment
        for r in text_containment_dedup(spark, sf_dir).collect()
    }
    banded = {
        (r.id_a, r.id_b): r.containment
        for r in text_containment_banded(spark, sf_dir).collect()
    }
    assert set(banded) <= set(exact)  # precision 1.0
    assert len(banded) / max(len(exact), 1) >= 0.9  # recall
    assert all(banded[k] == exact[k] for k in banded)  # exact scores


def test_containment_banded_skew_limitation_pinned(spark):
    """Pin the operator docstring's recall-decay claim with planted
    high-skew fixtures: a 20-token prefix of a 200-token doc has
    containment 1.0 but pair-jaccard ~0.086 (17 shared of 197 grams),
    so each band collides only when that seed's min-gram of the BIG doc
    falls inside the 17 shared grams (P ~ 0.086/seed, ~6% over 8
    bands).  xxhash64 is deterministic, so per-fixture outcomes are
    pinnable: vocabulary seed 1 MISSES (the documented limitation made
    visible), vocabulary seed 7 catches (the collision is luck, not
    correctness — which is why recall is claimed only where measured:
    BOUNDS.json pins 1.0 on the near-identical-twin corpora, and the
    exact gram-join form remains the reference for skewed corpora)."""
    import random

    from ub_etl_spark.operators.dedup import containment_banded_pairs

    def planted(vocab_seed):
        rng = random.Random(vocab_seed)
        words = [f"w{rng.randrange(10**6)}" for _ in range(200)]
        docs = spark.createDataFrame(
            [(1, " ".join(words)), (2, " ".join(words[:20]))],
            "doc_id long, text string",
        )
        return containment_banded_pairs(docs, "doc_id", "text").collect()

    assert planted(1) == []  # the S-curve miss, pinned
    caught = planted(7)
    assert [(r.id_a, r.id_b, r.containment) for r in caught] == [(1, 2, 1.0)]


def test_sequence_match_superset_of_strict_funnel(spark, sf_dir):
    """Every user completing the strict funnel (signup < first view <
    first purchase) must ALSO match the regex pattern; the match count
    is bounded by the user count."""
    from ub_etl_spark.queries.behavior import events_sequence_match
    from ub_etl_spark.queries.flagship import events_funnel

    row = events_sequence_match(spark, sf_dir).collect()[0]
    funnel_users = events_funnel(spark, sf_dir).count()
    assert funnel_users <= row.n_matched <= row.n_users


def test_share_of_parent_sums_to_one_per_region(spark, sf_dir):
    from ub_etl_spark.queries.behavior import agg_share_of_parent

    rows = agg_share_of_parent(spark, sf_dir).collect()
    by_region: dict[str, float] = {}
    for r in rows:
        by_region[r.region] = by_region.get(r.region, 0.0) + r.region_share
    assert by_region and all(abs(s - 1.0) < 1e-9 for s in by_region.values())


def test_interpurchase_gap_counts(spark, sf_dir):
    """A customer with n orders has exactly n-1 gaps; min <= avg <= max."""
    from ub_etl_spark.queries.behavior import orders_interpurchase_gaps

    rows = orders_interpurchase_gaps(spark, sf_dir).collect()
    o = load_table(spark, sf_dir, "orders")
    n_per_cust = {r.o_custkey: r["count"] for r in o.groupBy("o_custkey").count().collect()}
    for r in rows[:100]:
        assert r.n_gaps == n_per_cust[r.o_custkey] - 1
        assert r.min_gap <= r.avg_gap_days <= r.max_gap


def test_ab_test_cells_partition_users_and_z_sign(spark, sf_dir):
    """Cell counts partition the user population; the z statistic's sign
    matches the rate difference's sign (or both are ~0)."""
    from ub_etl_spark.queries.behavior import events_ab_test_zscore

    r = events_ab_test_zscore(spark, sf_dir).collect()[0]
    e = load_table(spark, sf_dir, "events")
    assert r.n_a + r.n_b == e.select("user_id").distinct().count()
    assert 0.0 <= r.rate_a <= 1.0 and 0.0 <= r.rate_b <= 1.0
    if r.z_score is not None and abs(r.rate_a - r.rate_b) > 1e-12:
        assert (r.z_score > 0) == (r.rate_a > r.rate_b)


def test_burst_detection_matches_direct_recount(spark, sf_dir):
    """A flagged user's max_burst equals a direct per-user recount of
    the densest trailing hour."""
    from pyspark.sql import functions as F  # noqa: F811

    from ub_etl_spark.queries.behavior import events_burst_detection

    rows = events_burst_detection(spark, sf_dir).collect()
    assert rows  # threshold chosen non-vacuous
    probe = rows[0]
    e = load_table(spark, sf_dir, "events")
    times = sorted(
        r.es
        for r in e.filter(F.col("user_id") == probe.user_id)
        .select(F.col("ts").cast("timestamp").cast("long").alias("es"))
        .collect()
    )
    best = max(
        sum(1 for t in times if cur - 3600 <= t <= cur) for cur in times
    )
    assert probe.max_burst == best


def test_entropy_bounds_and_single_type_zero(spark, sf_dir):
    """Entropy lies in [0, ln(#event_types)]; a user with one event type
    would score exactly 0 (quantized terms of p=1 vanish)."""
    import math

    from ub_etl_spark.queries.behavior import events_user_entropy

    rows = events_user_entropy(spark, sf_dir).collect()
    n_types = load_table(spark, sf_dir, "events").select("event_type").distinct().count()
    hi = math.log(n_types) + 1e-9
    assert rows and all(0.0 <= r.entropy <= hi for r in rows)


def test_entropy_plan_has_no_join(spark, sf_dir):
    """The per-user total is a window sum, not a join back to the counts:
    with no join in the plan AQE has no broadcast side to pick at run
    time, so every run executes the same plan, at any partition count."""
    from ub_etl_spark.queries.behavior import events_user_entropy

    conf = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(conf)
    try:
        for n in ("2", "8"):
            spark.conf.set(conf, n)
            df = events_user_entropy(spark, sf_dir)
            df.collect()
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "Join" not in plan, f"{n} shuffle partitions:\n{plan}"
    finally:
        spark.conf.set(conf, prev)


def test_bitwise_flags_partition_user_weeks(spark, sf_dir):
    """Signature histogram covers every (user, week) cell; single-type
    cells are exactly the power-of-two signatures' AND-nonzero count."""
    from pyspark.sql import functions as F  # noqa: F811

    from ub_etl_spark.queries.behavior import agg_bitwise_flags

    rows = agg_bitwise_flags(spark, sf_dir).collect()
    e = load_table(spark, sf_dir, "events")
    cells = e.select("user_id", F.date_trunc("week", "ts")).distinct().count()
    assert sum(r.n_users for r in rows) == cells
    for r in rows:
        if r.flags & (r.flags - 1):  # multi-bit signature
            assert r.n_single_type == 0
        else:  # single-bit signature: every cell is single-type
            assert r.n_single_type == r.n_users


def test_survival_curve_monotone_and_bounded(spark, sf_dir):
    """Surviving fraction is non-increasing in day offset, within [0, 1),
    and the final point equals 1 - total_converters / total_users."""
    from pyspark.sql import functions as F  # noqa: F811

    from ub_etl_spark.queries.behavior import events_survival_curve

    rows = sorted(events_survival_curve(spark, sf_dir).collect(), key=lambda r: r.day_offset)
    assert rows
    fracs = [r.surviving_fraction for r in rows]
    assert all(0.0 <= f < 1.0 for f in fracs)
    assert all(a >= b for a, b in zip(fracs, fracs[1:]))
    e = load_table(spark, sf_dir, "events")
    n_users = e.select("user_id").distinct().count()
    n_conv = (
        e.filter(F.col("event_type") == "purchase").select("user_id").distinct().count()
    )
    assert abs(fracs[-1] - (1.0 - n_conv / n_users)) < 1e-12


def test_basket_pair_counts_arrow_equals_hof(spark, sf_dir):
    """The r11 Arrow pair-count rework must be row-for-row equal to the
    HOF expansion form it replaced in market_basket_pairs — including a
    tiny maxRecordsPerBatch pass so the cross-batch accumulator carry
    actually runs, and a planted >=2^31 id so the packed-key fallback
    path is exercised."""
    from ub_etl_spark.operators.selection import (
        basket_pair_counts,
        basket_pair_counts_arrow,
    )

    li = load_table(spark, sf_dir, "lineitem")
    hof = basket_pair_counts(li, "l_orderkey", "l_partkey")
    arrow = basket_pair_counts_arrow(li, "l_orderkey", "l_partkey")
    assert hof.exceptAll(arrow).count() == 0
    assert arrow.exceptAll(hof).count() == 0

    # cross-batch carry: force 2-row Arrow batches on one partition
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    try:
        small = li.limit(500).repartition(1)
        a = sorted(map(tuple, basket_pair_counts_arrow(small, "l_orderkey", "l_partkey").collect()))
        b = sorted(map(tuple, basket_pair_counts(small, "l_orderkey", "l_partkey").collect()))
        assert a == b
    finally:
        if old is None:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        else:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)

    # packed-key guard: ids beyond 2^31 take the pandas-groupby fallback
    big_ids = spark.createDataFrame(
        [(1, 1 << 32), (1, (1 << 32) + 1), (1, 5), (2, 1 << 32), (2, 5)],
        "basket bigint, item bigint",
    )
    got = sorted(
        map(tuple, basket_pair_counts_arrow(big_ids, "basket", "item").collect())
    )
    want = sorted(
        map(tuple, basket_pair_counts(big_ids, "basket", "item").collect())
    )
    assert got == want and len(got) == 3


def test_basket_edges_equals_canonical_hof_edges(spark, sf_dir):
    """operators/graph.basket_edges (the r11 Arrow edge build behind
    graph_jaccard/graph_triangle_count) must produce exactly the
    canonical edge set the HOF-expansion + distinct route produced:
    u < v, distinct, no self-loops."""
    from ub_etl_spark.operators.graph import basket_edges, canonical_edges
    from ub_etl_spark.operators.selection import basket_pairs

    li = load_table(spark, sf_dir, "lineitem")
    old = canonical_edges(
        basket_pairs(li, "l_orderkey", "l_partkey"), "part_a", "part_b"
    )
    new = basket_edges(li, "l_orderkey", "l_partkey")
    assert new.exceptAll(old).count() == 0
    assert old.exceptAll(new).count() == 0
    bad = new.filter(F.col("u") >= F.col("v")).count()
    assert bad == 0
