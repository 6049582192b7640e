"""Interval coalescing (gaps-and-islands): overlapping-or-touching
[start, end] intervals per key merge into numbered episodes.

Two operators share one merge rule (an interval whose start is > the
key's running max end opens a new episode; anything else merges):

- coalesce_intervals_arrow: variable-length intervals.  Hash exchange by
  key, one in-partition sort, then one O(n) vectorized Arrow scan.  It is
  the scale form of the windowed stitch in
  queries/warehouse.orders_active_episodes, which pays n log n window
  sorts per partition (the SCALING.md active_episodes cell).
- coalesce_token_spans: equal-length integer offset spans.  One hash
  aggregate per key and a fold (_stitch_fold) over the key's sorted
  offsets, which stay bounded by the key's token count.

Both enforce the same non-null precondition (_require_non_null).
tests/test_properties_intervals.py checks the Arrow scan against a
pure-Python sweep model; tests/test_intervals.py checks it against the
windowed queries on the fixture corpus.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _require_non_null(df: DataFrame, cols: list[str]) -> DataFrame:
    """Loud shared precondition (r7 ADVICE): a NULL key/start/end would
    degrade DIFFERENTLY per form — the windowed running max treats NULL
    as vacuous, the fold's struct sort moves it, and the Arrow scan's
    numpy compares go all-False — silently breaking the episode
    boundaries.  Enforce identically in every operator form: a codegen
    filter whose failing branch raises (a filter, not a dropped
    assert_true projection, so Catalyst cannot prune it).  Cost: one
    null-check per row inside the existing scan stage — no extra
    exchange."""
    ok = None
    for c in cols:
        cond = F.col(c).isNotNull()
        ok = cond if ok is None else (ok & cond)
    return df.filter(
        F.when(ok, F.lit(True)).otherwise(
            F.raise_error(
                F.lit(
                    "coalesce_intervals: NULL in one of ("
                    + ", ".join(cols)
                    + ") violates the documented non-null precondition; "
                    "filter nulls upstream"
                )
            )
        )
    )


def _stitch_fold(eps: Column) -> Column:
    """Fold a start-sorted array<struct<s,e,n>> into coalesced episodes.

    Merge rule matches the windowed query exactly: an element whose start
    is > the running max end (the last accumulated episode's ``e``, which
    greatest() keeps as the running max) opens a new episode; anything
    else merges, extending the end and summing ``n``.  slice(eps, 1, 0)
    supplies a type-correct empty accumulator without naming the
    timestamp/date element type."""
    last = lambda acc: F.element_at(acc, -1)  # noqa: E731
    return F.aggregate(
        eps,
        F.slice(eps, 1, 0),
        lambda acc, x: F.when(
            (F.size(acc) == 0) | (x["s"] > last(acc)["e"]),
            F.concat(acc, F.array(x)),
        ).otherwise(
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(
                    F.struct(
                        last(acc)["s"].alias("s"),
                        F.greatest(last(acc)["e"], x["e"]).alias("e"),
                        (last(acc)["n"] + x["n"]).alias("n"),
                    )
                ),
            )
        ),
    )


def coalesce_token_spans(
    df: DataFrame,
    key: str,
    pos_col: str,
    k: int,
) -> DataFrame:
    """Merge equal-length [pos, pos+k) integer offset intervals per key.

    The substring-span dedup shape (operators/dedup.substring_spans):
    every matched token offset contributes the interval [pos, pos+k);
    overlapping-or-touching intervals union into maximal duplicated
    spans.  Uses _stitch_fold — one hash-agg shuffle on the key, fold
    over the per-key sorted offset array (bounded by the key's token
    count, never total data volume), zero WindowExec.  With equal
    lengths and sorted starts the running-max end the fold keeps is
    just prev_pos + k, so the merge rule degenerates to "gap <= k" —
    the property the SQL oracle's lag() formulation relies on.

    Output: (<key>, span_start, span_end, span_tokens, n_grams) with
    span_end exclusive and n_grams = number of k-gram hits merged.
    """
    iv = _require_non_null(df, [key, pos_col]).select(
        F.col(key).alias("k"),
        F.struct(
            F.col(pos_col).cast("bigint").alias("s"),
            (F.col(pos_col) + k).cast("bigint").alias("e"),
            F.lit(1).cast("bigint").alias("n"),
        ).alias("iv"),
    )
    merged = iv.groupBy("k").agg(
        _stitch_fold(F.array_sort(F.collect_list("iv"))).alias("eps")
    )
    return merged.select(F.col("k").alias(key), F.explode("eps").alias("ep")).select(
        key,
        F.col("ep.s").alias("span_start"),
        F.col("ep.e").alias("span_end"),
        (F.col("ep.e") - F.col("ep.s")).alias("span_tokens"),
        F.col("ep.n").alias("n_grams"),
    )


def coalesce_intervals_arrow(
    df: DataFrame,
    key: str,
    start_col: str,
    end_col: str,
) -> DataFrame:
    """Coalesce overlapping-or-touching [start, end] intervals per key
    into numbered episodes, as ONE vectorized Arrow pass — the 100TB
    shape for interval coalescing.

    Output matches orders_active_episodes' schema contract: (<key>,
    episode 1-based in start order, episode_start, episode_end, n_orders).

    Why not a fold: _stitch_fold is an interpreted higher-order
    aggregate whose accumulator copy makes each group's fold O(g^2), and
    per-key interval counts g grow linearly with fact volume (keys do
    not amplify).  Here the heavy lifting is hash-partition by key +
    sortWithinPartitions (exactly the exchange+local-sort a keyed
    WindowExec pays, nothing more), then a single mapInPandas scan:
    numpy maximum.accumulate finds the running max end, episode
    boundaries are one vector compare, and maximum.reduceat/diff
    aggregate each episode — O(n) per partition after the sort, no
    per-row JVM window machinery, no O(g^2) folds.  Arrow moves only
    (key, start, end).

    Precondition (shared with the windowed query): key/start/end are
    non-null — the windowed stitch's running max and this scan's numpy
    compares both treat NULL/NaT as vacuous, so callers filter nulls
    upstream (the registered episode query builds intervals from inner
    joins, which cannot produce them).  ENFORCED, not just documented (r7
    ADVICE): _require_non_null raises loudly instead of letting a NULL
    produce silently wrong episode boundaries.

    Cross-batch state: a partition streams in as multiple Arrow batches
    (same key may span batches — batch size is a config, not a grouping
    guarantee), so the scan carries the last OPEN episode and the key's
    emitted-episode count across batches and flushes on iterator end.
    tests/test_properties_intervals.py pins it against a pure-Python
    sweep model, including a tiny maxRecordsPerBatch so the carry path
    actually runs; tests/test_intervals.py pins it against the windowed
    queries.
    """
    in_types = dict(df.dtypes)
    out_schema = (
        f"{key} {in_types[key]}, episode bigint, "
        f"episode_start {in_types[start_col]}, "
        f"episode_end {in_types[end_col]}, n_orders bigint"
    )

    def stitch(batches):
        import numpy as np
        import pandas as pd

        carry = None  # (key, ep_start, ep_end, n, episodes_already_emitted)

        def emit(k, s, e, n, ep_idx):
            return pd.DataFrame(
                {
                    key: k,
                    "episode": ep_idx,
                    "episode_start": s,
                    "episode_end": e,
                    "n_orders": n,
                }
            )

        for pdf in batches:
            if len(pdf) == 0:
                continue
            k = pdf[key].to_numpy()
            s = pdf[start_col].to_numpy()
            e = pdf[end_col].to_numpy()
            n = np.ones(len(pdf), dtype="int64")
            base = np.zeros(len(pdf), dtype="int64")  # episodes emitted before
            if carry is not None:
                ck, cs, ce, cn, cemitted = carry
                if ck == k[0]:
                    # prepend the open episode as one pre-merged interval
                    k = np.concatenate(([ck], k))
                    s = np.concatenate(([cs], s))
                    e = np.concatenate(([ce], e))
                    n = np.concatenate(([cn], n))
                    base = np.concatenate(([0], base))
                    base[k == ck] = cemitted
                else:
                    yield emit([ck], [cs], [ce], [cn], [cemitted + 1])
                carry = None
            new_key = np.empty(len(k), dtype=bool)
            new_key[0] = True
            new_key[1:] = k[1:] != k[:-1]
            # boundary mask: a new episode opens on a new key, or where
            # start exceeds the key's running max end.  numpy has no
            # RESETTING cummax, so run the accumulate per key RUN — one
            # python iteration per distinct key in the batch, each fully
            # vectorized (sorted input makes runs contiguous; a batch
            # holds few runs when keys carry many rows, and tiny numpy
            # slices when they don't)
            boundary = new_key.copy()
            run_starts = np.flatnonzero(new_key)
            run_ends = np.append(run_starts[1:], len(k))
            for a, b in zip(run_starts, run_ends):
                if b - a > 1:
                    cm = np.maximum.accumulate(e[a:b])
                    boundary[a + 1 : b] = s[a + 1 : b] > cm[: b - a - 1]
            idx = np.flatnonzero(boundary)
            ep_s = s[idx]
            ep_e = np.maximum.reduceat(e, idx)
            ep_n_rows = np.diff(np.append(idx, len(k)))
            # n may exceed 1 for the carried pre-merged interval: sum n
            # per episode, not count rows
            ep_n = np.add.reduceat(n, idx)
            ep_k = k[idx]
            ep_base = base[idx]
            # episode index within key: 1-based cumulative position among
            # this batch's episodes of the same key, offset by base
            key_start = np.empty(len(idx), dtype=bool)
            key_start[0] = True
            key_start[1:] = ep_k[1:] != ep_k[:-1]
            pos = np.arange(len(idx), dtype="int64")
            run_start = np.maximum.accumulate(np.where(key_start, pos, 0))
            ep_idx = pos - run_start + 1 + ep_base
            # hold back the LAST episode — the next batch may extend it
            carry = (
                ep_k[-1],
                ep_s[-1],
                ep_e[-1],
                int(ep_n[-1]),
                int(ep_idx[-1] - 1),
            )
            if len(idx) > 1:
                yield emit(
                    ep_k[:-1], ep_s[:-1], ep_e[:-1], ep_n[:-1], ep_idx[:-1]
                )
        if carry is not None:
            ck, cs, ce, cn, cemitted = carry
            yield emit([ck], [cs], [ce], [cn], [cemitted + 1])

    # no partition count: AQE coalesces this exchange to the data size,
    # which it never does for a repartition given an explicit count
    return (
        _require_non_null(
            df.select(F.col(key), F.col(start_col), F.col(end_col)),
            [key, start_col, end_col],
        )
        .repartition(F.col(key))
        .sortWithinPartitions(key, start_col, end_col)
        .mapInPandas(stitch, out_schema)
    )
