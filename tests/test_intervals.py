"""The Arrow interval scan (operators/intervals.py) must equal the
windowed episode and session queries it is the scale form of."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F


def _rows(df):
    return sorted(
        (
            r[0],
            r.episode,
            r.episode_start,
            r.episode_end,
            r.n_orders,
        )
        for r in df.collect()
    )


def test_arrow_form_matches_windowed_on_corpus(spark, sf_dir):
    from ub_etl_spark.operators.intervals import coalesce_intervals_arrow
    from ub_etl_spark.registry import load_all

    windowed = _rows(load_all()["orders_active_episodes"].fn(spark, sf_dir))
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    last_ship = li.groupBy(F.col("l_orderkey").alias("o_orderkey")).agg(
        F.max("l_shipdate").alias("iv_end")
    )
    iv = o.select(
        "o_custkey", F.col("o_orderdate").alias("iv_start"), "o_orderkey"
    ).join(last_ship, "o_orderkey")
    got = _rows(coalesce_intervals_arrow(iv, "o_custkey", "iv_start", "iv_end"))
    assert got == windowed


def test_null_precondition_raises_in_both_forms(spark):
    """r7 ADVICE: a NULL key/start/end must fail loudly and identically in
    both interval operators (the Arrow scan and the token-span fold),
    never silently mis-stitch."""
    import pytest

    from ub_etl_spark.operators.intervals import (
        coalesce_intervals_arrow,
        coalesce_token_spans,
    )

    ts = lambda s: datetime.fromisoformat(s)  # noqa: E731
    df = spark.createDataFrame(
        [
            (1, ts("2024-01-01"), ts("2024-01-05")),
            (1, None, ts("2024-02-05")),
        ],
        "k bigint, s timestamp, e timestamp",
    )
    spans = spark.createDataFrame([(1, 0), (1, None)], "k bigint, pos bigint")
    with pytest.raises(Exception, match="non-null precondition"):
        coalesce_intervals_arrow(df, "k", "s", "e").collect()
    with pytest.raises(Exception, match="non-null precondition"):
        coalesce_token_spans(spans, "k", "pos", 3).collect()
    # the guard passes clean frames through untouched
    clean = df.filter(F.col("s").isNotNull())
    assert coalesce_intervals_arrow(clean, "k", "s", "e").count() == 1
    clean_spans = spans.filter(F.col("pos").isNotNull())
    assert coalesce_token_spans(clean_spans, "k", "pos", 3).count() == 1


def test_session_gap_boundary_synthetic(spark):
    """r8 ADVICE: pin the 30-minute session-gap boundary with a synthetic
    frame instead of relying on the fixture corpus containing exact
    30-minute ties.  An EXACT 30-minute gap merges (touching intervals;
    the lag form's ``gap <= INTERVAL 30 MINUTES``); 30min+1s splits.
    The Arrow scan reads the same rows as [ts, ts + 30 min] intervals in
    tests/test_properties_intervals.py::test_session_gap_boundary."""
    from datetime import timedelta

    from pyspark.sql import Window as W

    ts = lambda s: datetime.fromisoformat(s)  # noqa: E731
    gap = timedelta(minutes=30)
    df = spark.createDataFrame(
        [
            (1, ts("2024-01-01 00:00:00")),
            (1, ts("2024-01-01 00:30:00")),  # exactly 30 min -> same session
            (2, ts("2024-01-01 00:00:00")),
            (2, ts("2024-01-01 00:30:01")),  # 30 min + 1 s -> new session
        ],
        "k bigint, ts timestamp",
    )
    want = [
        (1, 1, ts("2024-01-01 00:00:00"), ts("2024-01-01 01:00:00"), 2),
        (2, 1, ts("2024-01-01 00:00:00"), ts("2024-01-01 00:30:00"), 1),
        (2, 2, ts("2024-01-01 00:30:01"), ts("2024-01-01 01:00:01"), 1),
    ]
    # the lag-based sessionization (stream_session_window's exact shape)
    # agrees with the interval episodes at both boundaries:
    # session_end == episode_end - gap.
    w = W.partitionBy("k").orderBy("ts")
    lag_gap = F.col("ts") - F.lag("ts").over(w)
    sess = (
        df.select(
            "k",
            "ts",
            F.when(lag_gap <= F.expr("INTERVAL 30 MINUTES"), F.lit(0))
            .otherwise(F.lit(1))
            .alias("is_new"),
        )
        .select(
            "k",
            "ts",
            F.sum("is_new")
            .over(w.rowsBetween(W.unboundedPreceding, W.currentRow))
            .alias("sid"),
        )
        .groupBy("k", "sid")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("ts").alias("s0"),
            F.max("ts").alias("e0"),
        )
    )
    got_sessions = sorted((r.k, r.sid, r.s0, r.e0, r.n) for r in sess.collect())
    want_sessions = [(k, ep, s0, e0 - gap, n) for (k, ep, s0, e0, n) in want]
    assert got_sessions == want_sessions


def test_session_window_as_interval_coalescing(spark, sf_dir):
    """Sessions ARE coalesced [ts, ts+gap] intervals (the registered
    session_window_arrow query's premise): equal-length intervals make the running
    max the previous end, so 'touching or overlapping' == gap <= 30 min —
    the Arrow interval scan must reproduce stream_session_window
    row-for-row."""
    from ub_etl_spark.operators.intervals import coalesce_intervals_arrow
    from ub_etl_spark.registry import load_all
    from ub_etl_spark.sources.tables import load_table

    windowed = sorted(
        (r.user_id, r.session_id, r.n_events, r.session_start, r.session_end)
        for r in load_all()["stream_session_window"].fn(spark, sf_dir).collect()
    )
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.col("ts").alias("iv_start"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("iv_end"),
    )
    eps = coalesce_intervals_arrow(e, "user_id", "iv_start", "iv_end")
    arrow = sorted(
        (
            r.user_id,
            r.episode,
            r.n_orders,
            r.episode_start,
            r.episode_end - __import__("datetime").timedelta(minutes=30),
        )
        for r in eps.collect()
    )
    assert arrow == windowed


def test_duplicate_interval_ties_stable_across_forms(spark):
    """Exact duplicate intervals per key — the tie shape that broke
    orders_active_episodes at sf1 (r15): the cumulative-sum window's
    order must repeat the flag window's FULL total order, or a tie swap
    re-partitions episode membership.  Pin the windowed form against the
    order-free interval union (written out below) on a fixture built
    entirely of such ties, across several physical orderings."""
    from datetime import date

    from ub_etl_spark.registry import load_all

    rows = [
        # custkey, orderkey, orderdate, shipdate: dup intervals back to back
        (1, 101, date(2024, 1, 1), date(2024, 1, 5)),
        (1, 102, date(2024, 1, 1), date(2024, 1, 5)),  # exact dup of 101
        (1, 103, date(2024, 1, 10), date(2024, 1, 12)),
        (1, 104, date(2024, 1, 10), date(2024, 1, 12)),  # exact dup of 103
        (1, 105, date(2024, 1, 11), date(2024, 1, 20)),
        (2, 201, date(2024, 2, 1), date(2024, 2, 2)),
        (2, 202, date(2024, 2, 1), date(2024, 2, 2)),  # dup, singleton episode
    ]
    expected = [
        (1, 1, date(2024, 1, 1), date(2024, 1, 5), 2),
        (1, 2, date(2024, 1, 10), date(2024, 1, 20), 3),
        (2, 1, date(2024, 2, 1), date(2024, 2, 2), 2),
    ]
    import tempfile

    for order in (rows, rows[::-1], rows[3:] + rows[:3]):
        with tempfile.TemporaryDirectory(prefix="ub_etl_tie_") as d:
            spark.createDataFrame(
                [(c, k, od) for c, k, od, _ in order],
                "o_custkey long, o_orderkey long, o_orderdate date",
            ).repartition(4).write.parquet(f"{d}/orders.parquet")
            spark.createDataFrame(
                [(k, sd) for _, k, _, sd in order],
                "l_orderkey long, l_shipdate date",
            ).repartition(4).write.parquet(f"{d}/lineitem.parquet")
            got = _rows(load_all()["orders_active_episodes"].fn(spark, d))
            assert got == expected, f"ordering {order[0]}: {got}"


def _shuffle_read_partitions(df):
    """Partition count of each AQEShuffleRead in df's executed final plan."""
    out, todo = [], [df._jdf.queryExecution().executedPlan().executedPlan()]
    while todo:
        node = todo.pop()
        if node.nodeName() == "AQEShuffleRead":
            out.append(node.partitionSpecs().size())
        if node.nodeName().endswith("QueryStage"):
            todo.append(node.plan())
        kids = node.children()
        todo += [kids.apply(i) for i in range(kids.size())]
    return out


def test_arrow_scan_exchange_is_coalesced_by_aqe(spark, sf_dir):
    """The key exchange takes no fixed partition count, so AQE coalesces
    it to the data size: at 32 shuffle partitions the fixture's intervals
    are read back in fewer than 32 partitions."""
    from ub_etl_spark.operators.intervals import coalesce_intervals_arrow

    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    start = F.col("o_orderdate").cast("timestamp")
    iv = o.select(
        "o_custkey",
        start.alias("iv_start"),
        (start + F.expr("INTERVAL 30 DAYS")).alias("iv_end"),
    )
    conf = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, "32")
    try:
        df = coalesce_intervals_arrow(iv, "o_custkey", "iv_start", "iv_end")
        df.collect()
        reads = _shuffle_read_partitions(df)
    finally:
        spark.conf.set(conf, prev)
    assert reads and max(reads) < 32, reads
