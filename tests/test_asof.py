"""As-of join semantics tests: backward-inclusive, NULL on no-match,
forward and nearest directions, agreement with pandas merge_asof."""

from __future__ import annotations

from datetime import datetime

from ub_etl_spark.operators.asof import asof_join


def ts(m):
    return datetime(2024, 1, 1, 0, m)


def fixtures(spark):
    left = spark.createDataFrame(
        [(1, ts(5), "p1"), (1, ts(10), "p2"), (2, ts(3), "p3"), (3, ts(1), "p4")],
        "user_id long, ts timestamp, pid string",
    )
    right = spark.createDataFrame(
        [(1, ts(5), 100), (1, ts(8), 101), (2, ts(2), 102), (2, ts(9), 103)],
        "user_id long, rts timestamp, rid int",
    )
    return left, right


EXPECTED = {
    ("p1", 100),  # equal ts matches (inclusive)
    ("p2", 101),  # latest <= 00:10 is 00:08
    ("p3", 102),  # 00:09 is in the future -> 00:02 wins
    ("p4", None),  # user 3 has no right rows
}


def test_asof_window_variant(spark):
    left, right = fixtures(spark)
    out = asof_join(left, right, ["user_id"], "ts", "rts", ["rid"])
    assert {(r.pid, r.rid) for r in out.collect()} == EXPECTED
    assert out.count() == left.count()


def test_asof_forward_picks_earliest_at_or_after(spark):
    """Forward direction: inclusive on equal ts, earliest match wins,
    NULL when no right row at-or-after."""
    from ub_etl_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 10), (1, 25), (1, 40)], "k long, lts long"
    )
    right = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (1, 30, "c")], "k long, rts long, v string"
    )
    out = {
        r.lts: r.v
        for r in asof_join(
            left, right, ["k"], "lts", "rts", ["v"], direction="forward"
        ).collect()
    }
    assert out == {10: "a", 25: "c", 40: None}


def test_asof_null_left_ts_yields_null_both_directions(spark):
    """A NULL left timestamp matches nothing in either direction (ADVICE
    r2: desc's default nulls-last made forward mode hand a NULL-ts row
    the smallest right ts)."""
    left = spark.createDataFrame([(1, None), (1, 25)], "k long, lts long")
    right = spark.createDataFrame(
        [(1, 10, "a"), (1, 30, "c")], "k long, rts long, v string"
    )
    for direction in ("backward", "forward"):
        rows = asof_join(
            left, right, ["k"], "lts", "rts", ["v"], direction=direction
        ).collect()
        got = {r.lts: r.v for r in rows}
        assert got[None] is None, direction
        assert got[25] == ("a" if direction == "backward" else "c")


def test_asof_nearest_picks_closer_side_ties_backward(spark):
    """Nearest: closest right row either direction; exact tie prefers the
    at-or-before match (pd.merge_asof nearest semantics)."""
    left = spark.createDataFrame(
        [(1, 10), (1, 14), (1, 19), (1, 25), (2, 5)], "k long, lts long"
    )
    right = spark.createDataFrame(
        [(1, 8, "a"), (1, 20, "b")], "k long, rts long, v string"
    )
    out = {
        r.lts: r.v
        for r in asof_join(
            left, right, ["k"], "lts", "rts", ["v"], direction="nearest"
        ).collect()
    }
    # 10: |10-8|=2 < |10-20|=10 -> a; 14: 6 == 6 tie -> backward a
    # 19: |19-20|=1 -> b; 25: only-before? both exist, |25-20|=5 -> b
    # k=2 has no right rows -> NULL
    assert out == {10: "a", 14: "a", 19: "b", 25: "b", 5: None}


def test_asof_nearest_agrees_with_pandas_merge_asof(spark):
    """Property check vs pd.merge_asof(direction='nearest') on a random
    numeric fixture (pandas breaks ties backward the same way)."""
    import numpy as np
    import pandas as pd

    rng = np.random.RandomState(7)
    lp = pd.DataFrame(
        {"k": rng.randint(0, 3, 60), "lts": rng.choice(1000, 60, replace=False).astype("int64")}
    )
    rp = pd.DataFrame(
        {"k": rng.randint(0, 3, 40), "rts": rng.choice(1000, 40, replace=False).astype("int64")}
    )
    rp["v"] = rp["rts"].astype(str)
    expected = pd.merge_asof(
        lp.sort_values("lts"),
        rp.sort_values("rts"),
        left_on="lts",
        right_on="rts",
        by="k",
        direction="nearest",
    )
    got = asof_join(
        spark.createDataFrame(lp, "k long, lts long"),
        spark.createDataFrame(rp, "k long, rts long, v string"),
        ["k"],
        "lts",
        "rts",
        ["v"],
        direction="nearest",
    ).toPandas()
    e = {(r.k, r.lts): r.v for r in expected.itertuples()}
    g = {(r.k, r.lts): r.v for r in got.itertuples()}
    # normalize NaN/None
    e = {k: (None if v != v else v) if not isinstance(v, str) else v for k, v in e.items()}
    assert g == e


def test_nearest_accepts_date_columns(spark):
    """direction='nearest' must work on DateType time columns like
    backward/forward do (DATE routes through TIMESTAMP for the distance
    arithmetic)."""
    import datetime as dt

    from pyspark.sql import functions as F

    from ub_etl_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, dt.date(2024, 1, 10))], "k int, d date"
    )
    right = spark.createDataFrame(
        [(1, dt.date(2024, 1, 1), "early"), (1, dt.date(2024, 1, 12), "late")],
        "k int, d date, v string",
    )
    out = asof_join(left, right, ["k"], "d", "d", ["v"], direction="nearest")
    rows = out.collect()
    assert len(rows) == 1 and rows[0].v == "late"
