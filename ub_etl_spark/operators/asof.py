"""As-of (time-travel) join — an operator Spark lacks natively.

Implemented as a composition of existing DataFrame ops (the preferred
path): tag both sides, union, and carry the most recent right-side row
forward with last(ignorenulls) over a (key, time) window.  One shuffle on
(key), no per-row Python — scales as a single sort-merge pass.  Ties
(right.ts == left.ts) match, i.e. backward-inclusive, same as DuckDB's
ASOF JOIN and pandas merge_asof(direction='backward', allow_exact=True).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

_SIDE = "__side"


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: Sequence[str],
    left_ts: str,
    right_ts: str,
    value_cols: Sequence[str],
    direction: str = "backward",
) -> DataFrame:
    """Left as-of join: every left row + the latest right row with
    right.ts <= left.ts ("backward", default), the EARLIEST right row
    with right.ts >= left.ts ("forward" — time-to-next-event queries),
    or whichever of the two is CLOSER in time ("nearest"; ties prefer
    backward), in the same key group (NULLs when none).  Inclusive on
    ties.

    Forward is the same single window pass with the traversal reversed
    (ts descending): "last right seen so far" then means the smallest
    right ts at-or-after the left row.  Nearest computes both carried
    structs over the SAME unioned frame — one shuffle on the key, two
    sorts — and picks per row by absolute distance.

    ``value_cols`` are the right-side columns to carry.  Right-side rows
    must be unique per (key, ts) for deterministic results — pre-dedupe if
    not.
    """
    if direction == "nearest":
        return _asof_nearest(left, right, key, left_ts, right_ts, value_cols)
    if direction not in ("backward", "forward"):
        raise ValueError(
            f"direction must be backward|forward|nearest, got {direction!r}"
        )
    keys = list(key)
    l_tag = left.withColumn(_SIDE, F.lit(1))
    # All value_cols ride in ONE struct: the struct itself is non-null for
    # every right row, so last(ignorenulls) picks the matched row atomically
    # — a legitimately-NULL value column in that row stays NULL instead of
    # being skipped in favor of an older non-null value (which would diverge
    # from pd.merge_asof on nullable payloads).
    r_tag = right.select(
        *keys,
        F.col(right_ts).alias(left_ts),
        F.struct(*[F.col(c) for c in value_cols]).alias("__asof_p"),
    ).withColumn(_SIDE, F.lit(0))
    # align schemas: left gets a null payload struct, right gets null left-payload
    left_payload = [c for c in left.columns if c not in keys + [left_ts]]
    l_tag = l_tag.withColumn(
        "__asof_p", F.lit(None).cast(r_tag.schema["__asof_p"].dataType)
    )
    for c in left_payload:
        r_tag = r_tag.withColumn(c, F.lit(None).cast(left.schema[c].dataType))
    unioned = l_tag.unionByName(r_tag)
    # right rows sort before left rows at equal ts -> inclusive match;
    # forward reverses the ts traversal (side ordering unchanged).
    # desc_nulls_first mirrors asc's nulls-first: a NULL left ts must see
    # no right rows in either direction and yield NULL (with desc's
    # default nulls-last it would sort after every right row and pick up
    # the smallest right ts as its "next event").
    ts_order = (
        F.col(left_ts)
        if direction == "backward"
        else F.col(left_ts).desc_nulls_first()
    )
    w = (
        W.partitionBy(*keys)
        .orderBy(ts_order, F.col(_SIDE))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    carried = unioned.select(
        "*", F.last("__asof_p", ignorenulls=True).over(w).alias("__asof_m")
    )
    return (
        carried.filter(F.col(_SIDE) == 1)
        .select(
            *keys,
            left_ts,
            *left_payload,
            *[F.col(f"__asof_m.{c}").alias(c) for c in value_cols],
        )
    )


def _asof_nearest(
    left: DataFrame,
    right: DataFrame,
    key: Sequence[str],
    left_ts: str,
    right_ts: str,
    value_cols: Sequence[str],
) -> DataFrame:
    """Nearest-direction as-of: both traversals over ONE unioned frame
    (single key shuffle, two in-partition sorts), then a per-row pick by
    absolute time distance; ties prefer the backward (at-or-before)
    match, mirroring pd.merge_asof(direction='nearest')."""
    from pyspark.sql.types import DateType, TimestampNTZType, TimestampType

    keys = list(key)
    l_tag = left.withColumn(_SIDE, F.lit(1))
    # carried struct includes the matched right ts (__rts) so the picker
    # can measure distance after the window pass
    r_tag = right.select(
        *keys,
        F.col(right_ts).alias(left_ts),
        F.struct(
            F.col(right_ts).alias("__rts"), *[F.col(c) for c in value_cols]
        ).alias("__asof_p"),
    ).withColumn(_SIDE, F.lit(0))
    left_payload = [c for c in left.columns if c not in keys + [left_ts]]
    l_tag = l_tag.withColumn(
        "__asof_p", F.lit(None).cast(r_tag.schema["__asof_p"].dataType)
    )
    for c in left_payload:
        r_tag = r_tag.withColumn(c, F.lit(None).cast(left.schema[c].dataType))
    unioned = l_tag.unionByName(r_tag)
    wb = (
        W.partitionBy(*keys)
        .orderBy(F.col(left_ts), F.col(_SIDE))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    wf = (
        W.partitionBy(*keys)
        .orderBy(F.col(left_ts).desc_nulls_first(), F.col(_SIDE))
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    carried = unioned.select(
        "*",
        F.last("__asof_p", ignorenulls=True).over(wb).alias("__asof_b"),
        F.last("__asof_p", ignorenulls=True).over(wf).alias("__asof_f"),
    )

    is_ts = isinstance(
        left.schema[left_ts].dataType,
        (TimestampType, TimestampNTZType, DateType),
    )

    def num(c):
        # NTZ and DATE cast through TIMESTAMP (session TZ pinned UTC)
        # for unix_micros — DATE cannot cast to double directly, which
        # made nearest mode reject date columns backward/forward accept;
        # numeric ts columns compare as doubles directly
        return F.unix_micros(c.cast("timestamp")) if is_ts else c.cast("double")

    dist_b = F.abs(num(F.col(left_ts)) - num(F.col("__asof_b.__rts")))
    dist_f = F.abs(num(F.col(left_ts)) - num(F.col("__asof_f.__rts")))
    chosen = (
        F.when(F.col("__asof_b").isNull(), F.col("__asof_f"))
        .when(F.col("__asof_f").isNull(), F.col("__asof_b"))
        .when(dist_f < dist_b, F.col("__asof_f"))
        .otherwise(F.col("__asof_b"))
    )
    return (
        carried.filter(F.col(_SIDE) == 1)
        .withColumn("__asof_m", chosen)
        .select(
            *keys,
            left_ts,
            *left_payload,
            *[F.col(f"__asof_m.{c}").alias(c) for c in value_cols],
        )
    )
