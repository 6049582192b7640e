"""Merge tier (SURVEY.md A11): latest-wins upsert emulated Spark-natively.

The reference's per-row ``ON CONFLICT (user_id, course_id) DO UPDATE``
(scripts/user_course_activity.py:81-102) becomes a set-oriented union +
ranking window (operators/merge.py).  Fixpoint/idempotence properties are
asserted in tests/test_merge.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ub_etl_spark.operators import merge as M
from ub_etl_spark.registry import register
from ub_etl_spark.sources.tables import load_table as T


@register(
    "upsert_merge",
    tier="A",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice, gen FROM (
      SELECT t.*, ROW_NUMBER() OVER (PARTITION BY o_orderkey ORDER BY gen DESC) AS rn
      FROM (
        SELECT o_orderkey, o_custkey, o_totalprice, 1 AS gen FROM orders
        UNION ALL
        SELECT o_orderkey, o_custkey, o_totalprice * 2 AS o_totalprice, 2 AS gen
        FROM orders WHERE o_orderkey % 5 = 0
      ) t
    ) ranked WHERE rn = 1
    """,
)
def upsert_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    existing = o.withColumn("gen", F.lit(1))
    updates = (
        o.filter(F.col("o_orderkey") % 5 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") * 2)
        .withColumn("gen", F.lit(2))
    )
    return M.upsert_latest_wins(existing, updates, keys=["o_orderkey"], order_by=["gen"])


# SCD Type-2 dimension history (SURVEY.md B33): the audit-history
# extension of the reference's latest-wins upsert — each customer's
# order-priority timeline compressed to distinct runs with
# [valid_from, valid_to) intervals and an is_current flag.
@register(
    "dim_scd2_history",
    tier="B",
    oracle="""
    WITH ranked AS (
      SELECT o_custkey, o_orderkey, o_orderdate, o_orderpriority,
             LAG(o_orderpriority) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ) AS prev
      FROM orders
    ), changes AS (
      SELECT o_custkey, o_orderkey, o_orderdate, o_orderpriority
      FROM ranked WHERE prev IS NULL OR prev <> o_orderpriority
    )
    SELECT o_custkey,
           o_orderpriority,
           o_orderdate AS valid_from,
           LEAD(o_orderdate) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ) AS valid_to,
           LEAD(o_orderdate) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ) IS NULL AS is_current
    FROM changes
    """,
    cost_note=(
        "SCD2 build: change-detect window + validity-interval window + "
        "current-flag projection = 2 keyed sorts over one exchange; 0.57 s "
        "absolute"
    ),
    ratio_exception=True,
)
def dim_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"
    )
    return M.scd2_history(
        o,
        keys=["o_custkey"],
        tracked=["o_orderpriority"],
        order_by=["o_orderdate", "o_orderkey"],
        valid_from_col="o_orderdate",
    )


# B39: snapshot reconciliation diff (operators/merge.table_diff).  The
# "incoming" snapshot is derived deterministically from orders itself —
# keys %13==0 dropped, %7==0 repriced, %11==3 re-keyed into a disjoint id
# space (appearing as adds) — so the full added/removed/changed/same
# classification is value-checked against a DuckDB FULL JOIN that makes
# the same edits.  This is the query a reference user runs to verify a
# migration row-for-row.
@register(
    "table_diff_reconcile",
    tier="B",
    oracle="""
    WITH incoming AS (
      SELECT CASE WHEN o_orderkey % 11 = 3
                  THEN o_orderkey + 1000000000 ELSE o_orderkey END AS o_orderkey,
             CASE WHEN o_orderkey % 7 = 0
                  THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) + 10 AS DOUBLE)
                  ELSE o_totalprice END AS o_totalprice,
             o_orderstatus
      FROM orders WHERE o_orderkey % 13 <> 0
    )
    SELECT COALESCE(c.o_orderkey, i.o_orderkey) AS o_orderkey,
           CASE WHEN c.o_orderkey IS NULL THEN 'added'
                WHEN i.o_orderkey IS NULL THEN 'removed'
                WHEN c.o_totalprice IS DISTINCT FROM i.o_totalprice
                  OR c.o_orderstatus IS DISTINCT FROM i.o_orderstatus
                THEN 'changed' ELSE 'same' END AS status,
           c.o_totalprice AS old_o_totalprice,
           i.o_totalprice AS new_o_totalprice,
           c.o_orderstatus AS old_o_orderstatus,
           i.o_orderstatus AS new_o_orderstatus
    FROM orders c FULL JOIN incoming i ON c.o_orderkey = i.o_orderkey
    WHERE NOT (c.o_orderkey IS NOT NULL AND i.o_orderkey IS NOT NULL
               AND c.o_totalprice IS NOT DISTINCT FROM i.o_totalprice
               AND c.o_orderstatus IS NOT DISTINCT FROM i.o_orderstatus)
    """,
)
def table_diff_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    cur = T(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus"
    )
    incoming = (
        cur.filter(F.col("o_orderkey") % 13 != 0)
        .select(
            F.when(
                F.col("o_orderkey") % 11 == 3, F.col("o_orderkey") + 1000000000
            ).otherwise(F.col("o_orderkey")).alias("o_orderkey"),
            F.when(
                F.col("o_orderkey") % 7 == 0,
                (F.col("o_totalprice").cast("decimal(18,2)") + 10).cast("double"),
            ).otherwise(F.col("o_totalprice")).alias("o_totalprice"),
            "o_orderstatus",
        )
    )
    diff = M.table_diff(
        cur, incoming, keys=["o_orderkey"], compare_cols=["o_totalprice", "o_orderstatus"]
    )
    return diff.filter(F.col("status") != "same")


# B40: incremental aggregate refresh (operators/merge.merge_agg_state).
# History (event_id % 10 < 7) is pre-aggregated into a stored state; the
# "new batch" (% 10 >= 7) aggregates alone and merges.  The oracle
# recomputes the rollup from the FULL raw table — a hash match proves the
# incremental path is exactly equivalent to a from-scratch rebuild (the
# batch twin of A18's streaming incremental refresh).  Decimal partials
# keep the merged sums bit-identical under any partitioning.
@register(
    "agg_incremental_refresh",
    tier="B",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
           MAX(value) AS max_value,
           MIN(value) AS min_value,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_value
    FROM events GROUP BY event_type
    """,
)
def agg_incremental_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "events").select("event_id", "event_type", "value")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("event_type").agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("total_dec"),
            F.max("value").alias("max_value"),
            F.min("value").alias("min_value"),
        )

    state = partial(e.filter(F.col("event_id") % 10 < 7))
    delta = partial(e.filter(F.col("event_id") % 10 >= 7))
    merged = M.merge_agg_state(
        state,
        delta,
        keys=["event_type"],
        sum_cols=["total_dec"],
        count_col="n_events",
        max_cols=["max_value"],
        min_cols=["min_value"],
    )
    return merged.select(
        "event_type",
        "n_events",
        F.col("total_dec").cast("double").alias("total_value"),
        "max_value",
        "min_value",
        (F.col("total_dec").cast("double") / F.col("n_events")).alias("avg_value"),
    )


# B55: point-in-time (as-of) join against the SCD2 dimension — the query
# the history table exists for: "which version was in effect for this
# key at time T".  Equi-join on the dim key carries the one shuffle; the
# validity-interval predicate rides as a join condition (each probe ts
# falls in at most one [valid_from, valid_to) interval, so no fan-out).
# Probe timestamps are order dates shifted +3 days, so they land both
# inside and between version intervals.
@register(
    "dim_scd2_point_in_time",
    tier="B",
    oracle="""
    WITH ranked AS (
      SELECT o_custkey, o_orderkey, o_orderdate, o_orderpriority,
             LAG(o_orderpriority) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ) AS prev
      FROM orders
    ), changes AS (
      SELECT o_custkey, o_orderkey, o_orderdate, o_orderpriority
      FROM ranked WHERE prev IS NULL OR prev <> o_orderpriority
    ), dim AS (
      SELECT o_custkey,
             o_orderpriority,
             o_orderdate AS valid_from,
             LEAD(o_orderdate) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ) AS valid_to
      FROM changes
    )
    SELECT p.o_orderkey, p.as_of_ts,
           d.o_orderpriority AS effective_priority,
           d.valid_from
    FROM (
      SELECT o_orderkey, o_custkey, o_orderdate + INTERVAL 3 DAY AS as_of_ts
      FROM orders
    ) p
    JOIN dim d
      ON p.o_custkey = d.o_custkey
     AND p.as_of_ts >= d.valid_from
     AND (d.valid_to IS NULL OR p.as_of_ts < d.valid_to)
    """,
    cost_note=(
        "SCD2 history build (dim_scd2_history's 2-window plan) plus the "
        "as-of-date range probe join = 4 stages; 0.89 s absolute"
    ),
    ratio_exception=True,
)
def dim_scd2_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"
    )
    dim = M.scd2_history(
        o,
        keys=["o_custkey"],
        tracked=["o_orderpriority"],
        order_by=["o_orderdate", "o_orderkey"],
        valid_from_col="o_orderdate",
    ).select(
        F.col("o_custkey").alias("d_custkey"),
        F.col("o_orderpriority").alias("effective_priority"),
        "valid_from",
        "valid_to",
    )
    probe = o.select(
        "o_orderkey",
        "o_custkey",
        (F.col("o_orderdate") + F.make_dt_interval(days=F.lit(3))).alias("as_of_ts"),
    )
    return (
        probe.join(
            dim,
            (probe.o_custkey == dim.d_custkey)
            & (F.col("as_of_ts") >= F.col("valid_from"))
            & (F.col("valid_to").isNull() | (F.col("as_of_ts") < F.col("valid_to"))),
        )
        .select("o_orderkey", "as_of_ts", "effective_priority", "valid_from")
    )


# B63: CDC apply — merge an ordered change feed (I/U/D per key, seq
# order) onto a base snapshot: the changefeed-consumption twin of A11's
# upsert (which has no deletes).  Latest change per key wins (one keyed
# window), deletes drop the key, inserts/updates replace the row; one
# shuffle on the key for the window + co-keyed anti-join/union.  The
# feed and base both derive deterministically from orders so the whole
# apply is value-checked.
@register(
    "cdc_apply_changes",
    tier="B",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 2 = 0
    ), changes AS (
      SELECT o_orderkey, 'U' AS op,
             CAST(CAST(o_totalprice AS DECIMAL(18,2)) + 5 AS DOUBLE) AS o_totalprice,
             1 AS seq
      FROM orders WHERE o_orderkey % 4 = 0
      UNION ALL
      SELECT o_orderkey, 'D', NULL, 2 FROM orders WHERE o_orderkey % 8 = 0
      UNION ALL
      SELECT o_orderkey, 'I', o_totalprice, 1 FROM orders WHERE o_orderkey % 2 = 1
    ), latest AS (
      SELECT o_orderkey, op, o_totalprice FROM (
        SELECT c.*, ROW_NUMBER() OVER (
          PARTITION BY o_orderkey ORDER BY seq DESC) AS rn
        FROM changes c
      ) t WHERE rn = 1
    )
    SELECT o_orderkey, o_totalprice FROM latest WHERE op IN ('I', 'U')
    UNION ALL
    SELECT b.o_orderkey, b.o_totalprice FROM base b
    WHERE NOT EXISTS (SELECT 1 FROM latest l WHERE l.o_orderkey = b.o_orderkey)
    """,
)
def cdc_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    o = T(spark, sf_dir, "orders")
    base = o.filter(F.col("o_orderkey") % 2 == 0).select("o_orderkey", "o_totalprice")
    upd = o.filter(F.col("o_orderkey") % 4 == 0).select(
        "o_orderkey",
        F.lit("U").alias("op"),
        (F.col("o_totalprice").cast("decimal(18,2)") + 5).cast("double").alias("o_totalprice"),
        F.lit(1).alias("seq"),
    )
    dele = o.filter(F.col("o_orderkey") % 8 == 0).select(
        "o_orderkey", F.lit("D").alias("op"),
        F.lit(None).cast("double").alias("o_totalprice"), F.lit(2).alias("seq"),
    )
    ins = o.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey", F.lit("I").alias("op"), "o_totalprice", F.lit(1).alias("seq")
    )
    changes = upd.unionByName(dele).unionByName(ins)
    w = W.partitionBy("o_orderkey").orderBy(F.desc("seq"))
    latest = (
        changes.select("*", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") == 1)
        .drop("rn", "seq")
    )
    survivors = latest.filter(F.col("op").isin("I", "U")).select(
        "o_orderkey", "o_totalprice"
    )
    untouched = base.join(latest.select("o_orderkey"), "o_orderkey", "left_anti")
    return survivors.unionByName(untouched)


# ---------------------------------------------------------------------------
# Incremental SCD2 maintenance
# ---------------------------------------------------------------------------


# Oracle = the FULL-stream rebuild (dim_scd2_history's formulation over
# all of orders): the strongest possible check for an incremental
# operator — apply(base-history, later-batch) must equal rebuild(base ∪
# batch) bit-for-bit, the same split-invariance contract
# agg_incremental_refresh pins for algebraic aggregates, here for the
# non-algebraic interval-stitching case.
@register(
    "dim_scd2_apply_changes",
    tier="B",
    oracle="""
    WITH ranked AS (
      SELECT o_custkey, o_orderkey, o_orderdate, o_orderpriority,
             LAG(o_orderpriority) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
             ) AS prev
      FROM orders
    ), changes AS (
      SELECT o_custkey, o_orderkey, o_orderdate, o_orderpriority
      FROM ranked WHERE prev IS NULL OR prev <> o_orderpriority
    )
    SELECT o_custkey,
           o_orderpriority,
           o_orderdate AS valid_from,
           LEAD(o_orderdate) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ) AS valid_to,
           LEAD(o_orderdate) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ) IS NULL AS is_current
    FROM changes
    """,
    cost_note=(
        "performs the real two-phase incremental maintenance (base "
        "compression via scd2_history, then per-key batch stitch with "
        "boundary merge) = 3 window stages + union + joins; the oracle "
        "rebuilds once from the full stream. At scale the stitch touches only "
        "the nightly delta, while the from-scratch rebuild re-reads 3 years "
        "of history"
    ),
    ratio_exception=True,
)
def dim_scd2_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nightly SCD2 maintenance: the orders stream splits at 1998-01-01
    into an accumulated base (compressed once into history) and a later
    batch, and operators/merge.scd2_apply_changes stitches the batch in
    WITHOUT touching the base stream again — per-key boundary logic:
    same-valued first batch run merges into the open current row,
    changed values close it; unseen keys insert.  Cost is proportional
    to the batch + touched keys' current rows (at 100 TB: the nightly
    delta, not three years of history).  The oracle rebuilds from the
    FULL stream, so every stitch case is value-checked against the
    from-scratch answer."""
    o = T(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"
    )
    cutoff = F.lit("1998-01-01").cast("timestamp")
    base = o.filter(F.col("o_orderdate") < cutoff)
    batch = o.filter(F.col("o_orderdate") >= cutoff)
    history = M.scd2_history(
        base,
        keys=["o_custkey"],
        tracked=["o_orderpriority"],
        order_by=["o_orderdate", "o_orderkey"],
        valid_from_col="o_orderdate",
    )
    return M.scd2_apply_changes(
        history,
        batch,
        keys=["o_custkey"],
        tracked=["o_orderpriority"],
        order_by=["o_orderdate", "o_orderkey"],
        valid_from_col="o_orderdate",
    )
