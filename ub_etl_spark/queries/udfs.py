"""UDF surface (SURVEY.md B7): the sanctioned slow-path escapes.

Demonstrates each Python-extension point with Arrow-vectorized
implementations (never row-at-a-time Python UDFs in the hot path):
  - pandas_udf scalar (vectorized numpy arithmetic)
  - applyInPandas grouped map (per-group pandas frame)
  - mapInPandas partition iterator

Each keeps the computation integer/floor-exact so results are
deterministic and oracle-checkable despite crossing the Arrow boundary.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ub_etl_spark.functions.exact import cents, sql_cents
from ub_etl_spark.registry import register
from ub_etl_spark.sources.tables import load_table as T


# Vectorized scalar pandas_udf: floor-to-cents discounted price, then an
# exact decimal aggregate on top — UDF output feeds a JVM-side agg.
@register(
    "udf_surface",
    tier="B",
    oracle=f"""
    SELECT l_returnflag,
           COUNT(*) AS n,
           SUM({sql_cents("floor(l_extendedprice * (1 - l_discount) * 100) / 100")}) / 100.0
               AS total_disc
    FROM lineitem GROUP BY l_returnflag
    """,
    cost_note=(
        "pandas_udf API-surface proof: Arrow round-trip cost; the scalar "
        "codegen twin is scalar_math_case"
    ),
    ratio_exception=True,
)
def udf_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    @F.pandas_udf("double")
    def disc_price(price: pd.Series, disc: pd.Series) -> pd.Series:
        return pd.Series(np.floor(price.to_numpy() * (1 - disc.to_numpy()) * 100) / 100)

    li = T(spark, sf_dir, "lineitem")
    return (
        li.withColumn("dp", disc_price("l_extendedprice", "l_discount"))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(cents("dp")) / 100.0).alias("total_disc"),
        )
    )


# Grouped-map applyInPandas: per-group rank computed in pandas (integer
# output — order-independent, hence deterministic across shuffles)
@register(
    "udf_grouped_map",
    tier="B",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice,
           ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                              ORDER BY o_totalprice, o_orderkey) AS rn
    FROM orders
    """,
    cost_note=(
        "applyInPandas grouped-map API-surface proof; the codegen twin is "
        "window_rank/window_analytic"
    ),
    ratio_exception=True,
)
def udf_grouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    def rank_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["o_totalprice", "o_orderkey"]).reset_index(drop=True)
        pdf["rn"] = range(1, len(pdf) + 1)
        return pdf

    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
    return o.groupBy("o_orderstatus").applyInPandas(
        rank_group,
        schema="o_orderkey long, o_orderstatus string, o_totalprice double, rn long",
    )


# Partition-iterator mapInPandas: filter + derive in Arrow batches
@register(
    "udf_map_in_pandas",
    tier="B",
    oracle="""
    SELECT event_id, user_id, value, floor(value / 10) * 10 AS value_bucket
    FROM events WHERE value > 100
    """,
    cost_note=(
        "mapInPandas API-surface proof; the codegen twin is scan_parquet "
        "projection"
    ),
    ratio_exception=True,
)
def udf_map_in_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    def bucketize(batches):
        for pdf in batches:
            out = pdf[pdf["value"] > 100].copy()
            out["value_bucket"] = np.floor(out["value"].to_numpy() / 10) * 10
            yield out[["event_id", "user_id", "value", "value_bucket"]]

    e = T(spark, sf_dir, "events").select("event_id", "user_id", "value")
    return e.mapInPandas(
        bucketize, schema="event_id long, user_id long, value double, value_bucket double"
    )


# Grouped-aggregate pandas_udf (the full-UDAF surface: Series -> scalar,
# Arrow-batched per group).  Median of integer cents is deterministic:
# numpy's even-count interpolation (a+b)/2 and DuckDB's quantile_cont
# lower+(upper-lower)*0.5 are both exact on half-integers — and the
# output is 2x that half-integer as an exact BIGINT (the repo
# determinism rule: no interpolated double and no BIGINT/decimal-literal
# division, whose result type varies across DuckDB versions, ever
# reaches an oracle-hashed column).  med_x2_cents / 200.0 presents the
# currency-unit median.
@register(
    "udaf_grouped_agg",
    tier="B",
    oracle=f"""
    SELECT o_orderpriority,
           CAST(2 * MEDIAN({sql_cents("o_totalprice")}) AS BIGINT)
             AS med_x2_cents
    FROM orders GROUP BY o_orderpriority
    """,
)
def udaf_grouped_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom UDAF via pandas_udf GROUPED_AGG (Series -> scalar): exact
    per-priority median order value.  This is the sanctioned way to write
    a Python UDAF — Arrow ships each group's column once, numpy computes
    vectorized, and the JVM plans it as a real aggregate (partial=false,
    one hash exchange on the group key) rather than a collect.  Note the
    per-group Series materializes in one python worker — for
    heavy-tailed groups prefer an algebraic decomposition (power sums)
    or the two-phase selection shape (agg_weighted_median)."""
    import numpy as np

    @F.pandas_udf("long")
    def median2_cents(v: pd.Series) -> int:
        # 2 * median of longs is an exact integer (median of ints is a
        # half-integer); round() guards the cast against a stray ulp.
        return int(round(2.0 * float(np.median(v.to_numpy()))))

    o = T(spark, sf_dir, "orders")
    return (
        o.withColumn("tc", cents("o_totalprice"))
        .groupBy("o_orderpriority")
        .agg(median2_cents("tc").alias("med_x2_cents"))
    )


# ---------------------------------------------------------------------------
# Co-grouped map (cogroup().applyInPandas)
# ---------------------------------------------------------------------------


@register(
    "udf_cogrouped_map",
    tier="B",
    oracle="""
    WITH purchases AS (
      SELECT user_id, ts, event_id, value FROM events
      WHERE event_type = 'purchase'
    ), signups AS (
      SELECT user_id, ts AS signup_ts, max(event_id) AS signup_event_id
      FROM events WHERE event_type = 'signup' GROUP BY user_id, ts
    )
    SELECT p.user_id, p.event_id, p.value, s.signup_event_id
    FROM purchases p
    ASOF LEFT JOIN signups s
      ON p.user_id = s.user_id AND s.signup_ts <= p.ts
    """,
    cost_note=(
        "applyInPandas cogroup API-surface proof: Arrow serialization is the "
        "cost; the codegen fast path for the same semantics is join_asof (see "
        "the queries/udfs.py module docstring)"
    ),
    ratio_exception=True,
)
def udf_cogrouped_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CO-GROUPED pandas surface (cogroup().applyInPandas — the last
    member of the Pandas-UDF family beside scalar/grouped-map/grouped-
    agg/mapInPandas/UDTF): both sides hash-partition on the key and
    each key's two pandas frames arrive together in one Arrow batch —
    here running pd.merge_asof per user, value-checked against DuckDB's
    native ASOF JOIN (and against the repo's own window-based asof_join
    via the shared oracle).  The sanctioned use is per-key logic that
    needs BOTH sides as materialized frames (model scoring against a
    per-key reference curve, custom reconciliation); for plain as-of
    semantics the codegen window formulation (operators/asof.py)
    remains the fast path — this entry exists to prove the API surface
    under the same correctness gate.  One co-partitioned shuffle per
    side, group state bounded by per-user history."""
    import pandas as pd

    e = T(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id", "value"
    )
    signups = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("signup_event_id"))
        .select("user_id", F.col("ts").alias("signup_ts"), "signup_event_id")
    )

    def merge(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        # per-group frames are tiny (per-user history): pd.merge_asof
        # costs ~1.5 ms of machinery per CALL, which dominates at 1500
        # groups; a numpy searchsorted does the identical backward as-of
        # in ~50 us (measured 2x end-to-end on the sf0.1 bench entry)
        out = left[["user_id", "event_id", "value"]].copy()
        if right.empty:
            out["signup_event_id"] = pd.array([None] * len(out), dtype="Int64")
            return out
        r = right.sort_values("signup_ts")
        idx = (
            np.searchsorted(
                r["signup_ts"].to_numpy(), left["ts"].to_numpy(), side="right"
            )
            - 1
        )
        ids = r["signup_event_id"].to_numpy()
        vals = pd.array(
            [None if i < 0 else int(ids[i]) for i in idx], dtype="Int64"
        )
        out["signup_event_id"] = vals
        return out

    return purchases.groupBy("user_id").cogroup(signups.groupBy("user_id")).applyInPandas(
        merge,
        schema="user_id long, event_id long, value double, signup_event_id long",
    )
