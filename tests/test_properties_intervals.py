"""The Arrow interval scan against a pure-Python sweep-line model: a
randomized property test plus the hand-picked hard cases (cross-month
chains, a covering interval, episodes carried across Arrow batches, the
exact 30-minute session boundary).  Every input also runs with 2-row
Arrow batches in one partition, so the scan's cross-batch carry path is
exercised on each case (deterministic seeds; few Spark jobs per test, the
test_properties_* convention).  The random generator is biased toward the
hard cases: touching boundaries (end == next start merges), equal starts,
containment chains (a long interval covering several later ones — the
running-max case a previous-end lag gets wrong), and single-row keys."""

from __future__ import annotations

from datetime import datetime, timedelta

import numpy as np

from ub_etl_spark.operators.intervals import coalesce_intervals_arrow

_T0 = datetime(2024, 1, 1)


def _py_model(rows):
    """Sweep per key in (start, end) order; merge while start <= running
    max end; episodes numbered 1-based per key."""
    out = []
    by_key: dict[int, list[tuple[datetime, datetime]]] = {}
    for k, s, e in rows:
        by_key.setdefault(k, []).append((s, e))
    for k, ivs in by_key.items():
        ep = 0
        cur_s = cur_e = None
        n = 0
        for s, e in sorted(ivs):
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    out.append((k, ep, cur_s, cur_e, n))
                ep += 1
                cur_s, cur_e, n = s, e, 1
            else:
                cur_e = max(cur_e, e)
                n += 1
        out.append((k, ep, cur_s, cur_e, n))
    return sorted(out)


def _gen(rng: np.random.RandomState, n_rows: int):
    """Hard-case-biased intervals: hour-granular starts so touching and
    equal starts actually occur; geometric lengths so some intervals
    contain many successors."""
    rows = []
    for _ in range(n_rows):
        k = int(rng.randint(0, 12))
        start_h = int(rng.randint(0, 200))
        # 30% long covering intervals, else short
        length_h = int(rng.choice([1, 2, 3, 50, 120], p=[0.3, 0.2, 0.2, 0.2, 0.1]))
        s = _T0 + timedelta(hours=start_h)
        rows.append((k, s, s + timedelta(hours=length_h)))
    return rows


def _assert_matches_model(spark, rows, batch_rows=2):
    """The Arrow form equals the model under default batching and under
    ``batch_rows``-row Arrow batches in ONE shuffle partition (every key
    change then falls inside a partition stream: the hardest carry case).
    Returns the model's episodes."""
    df = spark.createDataFrame(rows, "k bigint, s timestamp, e timestamp")
    want = _py_model(rows)

    def got():
        return sorted(
            (r.k, r.episode, r.episode_start, r.episode_end, r.n_orders)
            for r in coalesce_intervals_arrow(df, "k", "s", "e").collect()
        )

    assert got() == want
    confs = {
        "spark.sql.execution.arrow.maxRecordsPerBatch": str(batch_rows),
        "spark.sql.shuffle.partitions": "1",
    }
    prev = {c: spark.conf.get(c) for c in confs}
    for c, v in confs.items():
        spark.conf.set(c, v)
    try:
        assert got() == want
    finally:
        for c, v in prev.items():
            spark.conf.set(c, v)
    return want


def test_arrow_form_matches_python_model_random(spark):
    _assert_matches_model(spark, _gen(np.random.RandomState(29), 600), batch_rows=3)


def test_cross_month_chain_and_gap(spark):
    """An episode chaining across three months comes out as ONE episode,
    a true gap splits, and a long first interval COVERS a later short one
    (running max, not lag — the case a previous-end lag gets wrong)."""
    ts = lambda s: datetime.fromisoformat(s)  # noqa: E731
    rows = [
        # key 1: [Jan10, Feb05] -> [Feb01, Mar03] -> [Mar03, Mar20] chain
        (1, ts("2024-01-10"), ts("2024-02-05")),
        (1, ts("2024-02-01"), ts("2024-03-03")),
        (1, ts("2024-03-03"), ts("2024-03-20")),
        # key 1: gap, then a second episode
        (1, ts("2024-06-01"), ts("2024-06-02")),
        # key 2: covering interval, then a gap episode
        (2, ts("2024-01-01"), ts("2024-05-01")),
        (2, ts("2024-02-01"), ts("2024-02-02")),
        (2, ts("2024-07-01"), ts("2024-07-02")),
    ]
    assert _assert_matches_model(spark, rows) == [
        (1, 1, ts("2024-01-10"), ts("2024-03-20"), 3),
        (1, 2, ts("2024-06-01"), ts("2024-06-02"), 1),
        (2, 1, ts("2024-01-01"), ts("2024-05-01"), 2),
        (2, 2, ts("2024-07-01"), ts("2024-07-02"), 1),
    ]


def test_arrow_cross_batch_carry(spark):
    """Episodes that span Arrow batches and keys that change at batch
    boundaries: the carry path must hold the open episode and the key's
    episode count across batches and flush at iterator end."""
    ts = lambda s: datetime.fromisoformat(s)  # noqa: E731
    rows = []
    # key 1: one long chain of 7 touching intervals -> ONE episode that
    # must survive several batch carries, then a gap episode
    for d in range(7):
        rows.append((1, ts(f"2024-01-{10 + d:02d}"), ts(f"2024-01-{11 + d:02d}")))
    rows.append((1, ts("2024-05-01"), ts("2024-05-02")))
    # key 2: starts mid-batch; covering interval then far gap
    rows.append((2, ts("2024-01-01"), ts("2024-04-01")))
    rows.append((2, ts("2024-02-01"), ts("2024-02-02")))
    rows.append((2, ts("2024-06-01"), ts("2024-06-02")))
    # key 3: single row (open episode flushed at iterator end)
    rows.append((3, ts("2024-03-01"), ts("2024-03-05")))
    assert _assert_matches_model(spark, rows) == [
        (1, 1, ts("2024-01-10"), ts("2024-01-17"), 7),
        (1, 2, ts("2024-05-01"), ts("2024-05-02"), 1),
        (2, 1, ts("2024-01-01"), ts("2024-04-01"), 2),
        (2, 2, ts("2024-06-01"), ts("2024-06-02"), 1),
        (3, 1, ts("2024-03-01"), ts("2024-03-05"), 1),
    ]


def test_session_gap_boundary(spark):
    """Sessions as [ts, ts + 30 min] intervals: an EXACT 30-minute gap
    touches and merges, 30 min + 1 s splits (the lag form's side of the
    same rows is tests/test_intervals.py::test_session_gap_boundary_synthetic)."""
    ts = lambda s: datetime.fromisoformat(s)  # noqa: E731
    gap = timedelta(minutes=30)
    starts = [
        (1, ts("2024-01-01 00:00:00")),
        (1, ts("2024-01-01 00:30:00")),
        (2, ts("2024-01-01 00:00:00")),
        (2, ts("2024-01-01 00:30:01")),
    ]
    rows = [(k, t, t + gap) for k, t in starts]
    assert _assert_matches_model(spark, rows) == [
        (1, 1, ts("2024-01-01 00:00:00"), ts("2024-01-01 01:00:00"), 2),
        (2, 1, ts("2024-01-01 00:00:00"), ts("2024-01-01 00:30:00"), 1),
        (2, 2, ts("2024-01-01 00:30:01"), ts("2024-01-01 01:00:01"), 1),
    ]
