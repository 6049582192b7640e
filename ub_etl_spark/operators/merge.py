"""Set-oriented merge semantics (SURVEY.md A10/A11/A18).

The reference does per-record ``INSERT ... ON CONFLICT DO NOTHING``
(scripts/course_catalog.py:99) and ``ON CONFLICT (user_id, course_id) DO
UPDATE`` (scripts/user_course_activity.py:81-102) — one DB round-trip per
row.  The Spark-native equivalents are set-oriented:

  - insert-if-absent  -> left anti-join + union (one shuffle, no per-row IO)
  - upsert latest-wins -> union + ranking window, or (scale path) partition-
    scoped overwrite / Delta MERGE when a transactional table format is on
    the classpath.

At 100 TB the anti-join/window shuffles hash-partition on the merge key, so
each task holds one key range; AQE splits skewed keys.  The window dedup is
a single shuffle — same cost class as the MERGE's join.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

_VERSION_COL = "__version"
_RN_COL = "__rn"


def scd2_history(
    df: DataFrame,
    keys: Sequence[str],
    tracked: Sequence[str],
    order_by: Sequence[str],
    valid_from_col: str,
) -> DataFrame:
    """Compress an ordered change stream into SCD Type-2 dimension history.

    The reference's upsert (scripts/user_course_activity.py:81-102) keeps
    only the latest row per key; Type 2 is the audit-history variant every
    production dimension eventually needs: one row per *distinct run* of
    the tracked attributes, with [valid_from, valid_to) intervals and an
    is_current flag.

    Two windows, both partitioned on ``keys`` — a single hash shuffle on
    the dimension key, and the change-compression filter shrinks the data
    before the second (interval-stitching) window, so the expensive sort
    runs once over the full stream and once over the much smaller change
    set.  No global window, so this scales with key cardinality at 100 TB.

    Change detection is null-safe on the whole tracked-attribute struct:
    a run boundary is any row whose tracked values differ (NULL-aware)
    from the previous row's in the per-key ``order_by`` order.
    """
    w = W.partitionBy(*keys).orderBy(*order_by)
    cur = F.struct(*[F.col(c) for c in tracked])
    changed = ~cur.eqNullSafe(F.lag(cur).over(w))  # lag NULL (first row) -> True
    change_rows = df.withColumn("__chg", changed).filter(F.col("__chg")).drop("__chg")
    valid_to = F.lead(valid_from_col).over(w)
    return change_rows.select(
        *keys,
        *tracked,
        F.col(valid_from_col).alias("valid_from"),
        valid_to.alias("valid_to"),
        valid_to.isNull().alias("is_current"),
    )


def insert_if_absent(existing: DataFrame, incoming: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Idempotent append: keep existing rows, add only unseen keys.

    Spark-native ON CONFLICT DO NOTHING (scripts/course_catalog.py:99):
    first writer wins, re-application is a fixpoint.
    """
    fresh = incoming.join(existing.select(*keys).dropDuplicates(list(keys)), list(keys), "left_anti")
    return existing.unionByName(fresh)


def upsert_latest_wins(
    existing: DataFrame,
    updates: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[str] | None = None,
) -> DataFrame:
    """Merge with update-wins semantics on ``keys``.

    Spark-native ON CONFLICT DO UPDATE (scripts/user_course_activity.py:81-102).

    Without ``order_by``: updates unconditionally beat existing rows (the
    reference's DO UPDATE SET ... = EXCLUDED.*).

    With ``order_by`` (recency columns, descending, compared
    lexicographically): the NEWEST row wins regardless of which side it
    came from, and on an exact recency tie the existing row is kept —
    strict-newer update semantics, so an older replayed batch can never
    regress a newer stored row (tests/test_merge.py).

    Deterministic as long as (keys + order_by) is a total order per key group.
    """
    lhs = existing.withColumn(_VERSION_COL, F.lit(0))
    rhs = updates.withColumn(_VERSION_COL, F.lit(1))
    all_rows = lhs.unionByName(rhs)
    if order_by:
        # recency first; tie -> existing (version 0) wins = strictly-newer
        order_cols = [F.desc(c) for c in order_by] + [F.asc(_VERSION_COL)]
    else:
        order_cols = [F.desc(_VERSION_COL)]
    w = W.partitionBy(*keys).orderBy(*order_cols)
    return (
        all_rows.withColumn(_RN_COL, F.row_number().over(w))
        .filter(F.col(_RN_COL) == 1)
        .drop(_RN_COL, _VERSION_COL)
    )


def table_diff(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    compare_cols: Sequence[str],
) -> DataFrame:
    """Reconciliation diff of two keyed snapshots: one row per key that is
    ``added`` (only in right), ``removed`` (only in left), ``changed``
    (present in both, any compare_col differs null-safely) or ``same``.

    The plan is a single full-outer equi-join on the keys (one shuffle on
    each side, co-partitioned) and a codegen CASE — at 100 TB both sides
    hash-partition on the same keys, so the join never widens beyond its
    inputs and the diff streams.  Comparison uses <=> (null-safe) per
    column, so a NULL -> value transition counts as a change, and NULL =
    NULL does not.  Output carries every key (coalesced) plus old_/new_
    versions of the compared columns; callers filter status != 'same' for
    the usual reconcile report (migration validation: "a user of the
    reference could switch and verify row-for-row").
    """
    l = left.alias("__diff_l")
    r = right.alias("__diff_r")
    lc = lambda c: F.col(f"__diff_l.{c}")  # noqa: E731
    rc = lambda c: F.col(f"__diff_r.{c}")  # noqa: E731
    cond = None
    for k in keys:
        c = lc(k) == rc(k)
        cond = c if cond is None else cond & c
    in_left = lc(keys[0]).isNotNull()
    in_right = rc(keys[0]).isNotNull()
    changed = None
    for c in compare_cols:
        d = ~lc(c).eqNullSafe(rc(c))
        changed = d if changed is None else changed | d
    status = (
        F.when(~in_left, F.lit("added"))
        .when(~in_right, F.lit("removed"))
        .when(changed, F.lit("changed"))
        .otherwise(F.lit("same"))
    )
    return l.join(r, cond, "full_outer").select(
        *[F.coalesce(lc(k), rc(k)).alias(k) for k in keys],
        status.alias("status"),
        *[lc(c).alias(f"old_{c}") for c in compare_cols],
        *[rc(c).alias(f"new_{c}") for c in compare_cols],
    )


def merge_agg_state(
    state: DataFrame,
    delta: DataFrame,
    keys: Sequence[str],
    sum_cols: Sequence[str] = (),
    count_col: str | None = None,
    max_cols: Sequence[str] = (),
    min_cols: Sequence[str] = (),
) -> DataFrame:
    """Merge two partial-aggregate states (algebraic incremental refresh):
    because SUM/COUNT/MIN/MAX are associative+commutative, aggregating the
    union of partials equals aggregating the union of the raw inputs — so
    a stored rollup is refreshed by aggregating ONLY the new batch and
    merging, never rescanning history.  At 100 TB this is the difference
    between a nightly job reading one day and one reading three years.

    Sum columns must already be exact (decimal) partials; keeping them
    decimal through the merge keeps the refreshed state bit-identical to a
    from-scratch recompute under any partitioning — the registered query
    value-checks exactly that equivalence.  AVG is intentionally absent:
    it is not algebraic — derive it from (sum, count) at read time.
    """
    both = state.unionByName(delta)
    aggs = (
        [F.sum(c).alias(c) for c in sum_cols]
        + ([F.sum(count_col).alias(count_col)] if count_col else [])
        + [F.max(c).alias(c) for c in max_cols]
        + [F.min(c).alias(c) for c in min_cols]
    )
    return both.groupBy(*keys).agg(*aggs)


def scd2_apply_changes(
    history: DataFrame,
    batch: DataFrame,
    keys: Sequence[str],
    tracked: Sequence[str],
    order_by: Sequence[str],
    valid_from_col: str,
) -> DataFrame:
    """Incrementally maintain SCD Type-2 history: apply a LATER batch of
    raw change rows to an existing history WITHOUT rebuilding from the
    full stream — the nightly-dimension-maintenance operator, contracted
    (and oracle-checked in queries/merge.py) to equal scd2_history over
    base ∪ batch exactly.

    Contract: every batch row's ``valid_from_col`` is at or after the
    key's last history row (a nightly batch is strictly newer).  Steps:
    (1) compress the batch alone with scd2_history (per-key windows);
    (2) stitch the boundary per key — if the batch's first run carries
    the SAME tracked values as the key's current history row, that run
    is redundant (no version boundary in a full rebuild): drop it and
    extend the current row to the batch's second run start (or leave it
    current); if the values CHANGED, close the current row at the
    batch's first run start; (3) unseen keys' runs insert as-is, closed
    history rows pass through untouched.  All joins/windows are keyed on
    the dimension key — one key-shuffle family, no global op — and the
    cost is proportional to the BATCH, not the accumulated history
    (only current rows of touched keys are rewritten)."""
    mini = scd2_history(batch, keys, tracked, order_by, valid_from_col)
    kl = list(keys)
    w = W.partitionBy(*kl).orderBy("valid_from")
    mini_rn = mini.withColumn("__rn", F.row_number().over(w))
    first = mini_rn.filter(F.col("__rn") == 1).select(
        *kl,
        *[F.col(c).alias(f"__f_{c}") for c in tracked],
        F.col("valid_from").alias("__f_vf"),
        F.col("valid_to").alias("__f_vt"),
        F.lit(1).alias("__in_batch"),
    )
    cur = history.filter(F.col("is_current"))
    closed = history.filter(~F.col("is_current"))
    j = cur.join(first, kl, "left")
    same = F.struct(*[F.col(c) for c in tracked]).eqNullSafe(
        F.struct(*[F.col(f"__f_{c}") for c in tracked])
    )
    adj_to = (
        F.when(F.col("__in_batch").isNull(), F.col("valid_to"))
        .when(same, F.col("__f_vt"))
        .otherwise(F.col("__f_vf"))
    )
    adj_cur = j.select(
        *kl,
        *tracked,
        F.col("valid_from"),
        adj_to.alias("valid_to"),
        adj_to.isNull().alias("is_current"),
    )
    # batch runs to keep: run 1 drops iff the key HAS a current row with
    # identical tracked values (its interval merged into that row above)
    cur_tag = cur.select(
        *kl,
        *[F.col(c).alias(f"__c_{c}") for c in tracked],
        F.lit(1).alias("__has_cur"),
    )
    m = mini_rn.join(cur_tag, kl, "left")
    redundant_first = (
        (F.col("__rn") == 1)
        & F.col("__has_cur").isNotNull()
        & F.struct(*[F.col(c) for c in tracked]).eqNullSafe(
            F.struct(*[F.col(f"__c_{c}") for c in tracked])
        )
    )
    kept = m.filter(~redundant_first).select(
        *kl, *tracked, "valid_from", "valid_to", "is_current"
    )
    return closed.select(
        *kl, *tracked, "valid_from", "valid_to", "is_current"
    ).unionByName(adj_cur).unionByName(kept)
