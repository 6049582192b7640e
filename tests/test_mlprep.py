"""ML-prep / governance semantic invariants (queries/mlprep.py):
properties the oracle hash alone doesn't pin — profile completeness,
scaler statistics, sample determinism, PageRank conservation."""

from __future__ import annotations

import math
import os

from pyspark.sql import functions as F

from ub_etl_spark.queries.mlprep import (
    dq_expectation_checks,
    feature_decay_rolling,
    feature_onehot_encode,
    feature_scale_standard,
    graph_pagerank_trade,
    privacy_k_anonymity,
    profile_table_stats,
    sample_reservoir_hash,
)
from ub_etl_spark.sources.tables import load_table


def test_profile_counts_and_null_arithmetic(spark, sf_dir):
    """Every profiled column reports the same row count, nulls + non-null
    distinct counts stay within it, and min <= max."""
    rows = profile_table_stats(spark, sf_dir).collect()
    n = load_table(spark, sf_dir, "orders").count()
    assert len(rows) == 6
    for r in rows:
        assert r.n_rows == n
        assert 0 <= r.n_nulls <= n
        assert 0 < r.n_distinct <= n
        assert r.min_num <= r.max_num


def test_dq_violation_counts_match_independent_recount(spark, sf_dir):
    """The four structural rules hold on the driver testdata (0
    violations); the temporal rule genuinely fires there (shipdate is
    generated independently of orderdate) and its count must equal an
    independent recount — the gate reports violations, it doesn't assume
    a clean fixture."""
    rows = {r.rule: r.n_violations for r in dq_expectation_checks(spark, sf_dir).collect()}
    assert len(rows) == 5
    for rule in (
        "totalprice_positive",
        "orderdate_not_null",
        "status_in_domain",
        "custkey_fk_resolves",
    ):
        assert rows[rule] == 0, rule
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    truth = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") < F.col("o_orderdate"))
        .count()
    )
    assert truth > 0
    assert rows["lineitem_ships_after_order"] == truth


def test_zscore_stats_per_group(spark, sf_dir):
    """Within each segment the z-scores must have mean ~0 and sample
    std ~1 (the defining property of standardization), and minmax spans
    exactly [0, 1]."""
    rows = feature_scale_standard(spark, sf_dir).collect()
    by_seg: dict[str, list] = {}
    for r in rows:
        by_seg.setdefault(r.c_mktsegment, []).append(r)
    for seg, grp in by_seg.items():
        zs = [r.zscore for r in grp]
        n = len(zs)
        mean = sum(zs) / n
        var = sum((z - mean) ** 2 for z in zs) / (n - 1)
        assert abs(mean) < 1e-9, seg
        assert abs(math.sqrt(var) - 1.0) < 1e-9, seg
        mm = [r.minmax for r in grp]
        assert min(mm) == 0.0 and max(mm) == 1.0


def test_onehot_rows_one_hot(spark, sf_dir):
    """Exactly one indicator fires per row (including the is_other
    fallback), so the encoding is a partition of the category space."""
    df = feature_onehot_encode(spark, sf_dir)
    ind_cols = [c for c in df.columns if c.startswith("is_")]
    bad = df.withColumn(
        "__s", sum(F.col(c) for c in ind_cols)
    ).filter(F.col("__s") != 1)
    assert bad.count() == 0


def test_decay_rolling_first_event_is_identity(spark, sf_dir):
    """A user's first event has no lags, so its decay average equals its
    own (cents-quantized) value."""
    df = feature_decay_rolling(spark, sf_dir)
    e = load_table(spark, sf_dir, "events")
    w_first = (
        e.groupBy("user_id").agg(F.min_by("event_id", F.struct("ts", "event_id")).alias("event_id"),
                                 F.min_by("value", F.struct("ts", "event_id")).alias("value"))
    )
    joined = df.join(w_first, ["user_id", "event_id"])
    mismatch = joined.filter(
        F.abs(F.col("decay_avg") - F.floor(F.col("value") * 100 + 0.5) / 100.0)
        > 1e-12
    )
    assert joined.count() > 0
    assert mismatch.count() == 0


def test_reservoir_k_per_group_and_stable(spark, sf_dir):
    """At most 20 rows per segment, and two independent runs return the
    identical sample (the determinism rand()-sampling lacks)."""
    a = sample_reservoir_hash(spark, sf_dir)
    counts = a.groupBy("c_mktsegment").count().collect()
    assert counts and all(r["count"] <= 20 for r in counts)
    b = sample_reservoir_hash(spark, sf_dir)
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_k_anonymity_flags_exactly_the_small_groups(spark, sf_dir):
    """Recompute group sizes independently: the flagged set must be
    exactly the groups under k, each with its true size."""
    rows = privacy_k_anonymity(spark, sf_dir).collect()
    c = load_table(spark, sf_dir, "customer")
    truth = {
        (r.c_nationkey, r.c_mktsegment): r["count"]
        for r in c.groupBy("c_nationkey", "c_mktsegment").count().collect()
        if r["count"] < 10
    }
    got = {(r.c_nationkey, r.c_mktsegment): r.group_size for r in rows}
    assert got == truth


def test_pagerank_is_a_probability_distribution(spark, sf_dir):
    """Ranks are positive and sum to ~1 (conservation up to the 1e-12
    quantization), and the node set is exactly the nation table."""
    rows = graph_pagerank_trade(spark, sf_dir).collect()
    nations = load_table(spark, sf_dir, "nation").count()
    assert len(rows) == nations
    total = sum(r.pagerank for r in rows)
    assert all(r.pagerank > 0 for r in rows)
    # each quantization floors away <1e-12 per edge per iteration
    assert abs(total - 1.0) < 1e-6


def test_pagerank_edges_freed_by_release_persisted(spark, sf_dir, tmp_path):
    """The persisted edge list is tracked: after the query runs,
    release_persisted() alone (no clearCache) leaves no persisted RDD
    behind, so every bench sample rebuilds and persists the same plan.  A
    fresh directory (links to the fixture tables) rules out a frame left
    by an earlier call on the shared fixture path."""
    from ub_etl_spark.session import release_persisted

    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    for t in ("lineitem", "orders", "customer", "supplier", "nation"):
        os.symlink(os.path.join(sf_dir, f"{t}.parquet"), tmp_path / f"{t}.parquet")
    release_persisted()
    spark.catalog.clearCache()
    before = persisted()
    graph_pagerank_trade(spark, str(tmp_path)).write.mode("overwrite").format("noop").save()
    assert persisted() != before
    release_persisted()
    assert persisted() == before
