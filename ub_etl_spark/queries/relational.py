"""Core relational operator inventory (SURVEY.md §2 Tier A + Q1-Q17).

Each query is a declarative DataFrame plan — Catalyst handles pushdown,
pruning, join strategy, and AQE re-planning; nothing here hand-schedules
what the optimizer already does (SURVEY.md §4).

Reference parity notes are cited per-query as file:line into
/root/reference (the surveyed ETL pipeline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ub_etl_spark.functions.exact import (
    cavg,
    cents,
    cents_disc,
    csum,
    sql_cavg,
    sql_cents,
    sql_cents_disc,
    sql_csum,
)
from ub_etl_spark.registry import register
from ub_etl_spark.sources.tables import load_table as T


# ---------------------------------------------------------------------------
# A2: columnar scan with pushdown (reference: parse-everything JSON loop,
# scripts/course_catalog.py:187,208 — replaced by parquet scan + pushdown)
# ---------------------------------------------------------------------------
@register(
    "scan_parquet",
    tier="A",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_shipdate
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1998-01-01'
    """,
)
def scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection + predicate that must reach the parquet scan
    (PushedFilters + 4-column ReadSchema in .explain)."""
    return (
        T(spark, sf_dir, "lineitem")
        .filter(F.col("l_shipdate") >= F.lit("1998-01-01").cast("timestamp"))
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_shipdate")
    )


# ---------------------------------------------------------------------------
# Q1: filter with comparison + boolean predicates
# (reference: WHERE title = %s, scripts/course_catalog.py:69)
# ---------------------------------------------------------------------------
@register(
    "filter_predicate",
    tier="Q",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_discount
    FROM lineitem
    WHERE l_quantity > 30 AND l_discount <= 0.05 AND l_returnflag = 'R'
    """,
)
def filter_predicate(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    return li.filter(
        (F.col("l_quantity") > 30)
        & (F.col("l_discount") <= 0.05)
        & (F.col("l_returnflag") == "R")
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_discount")


# ---------------------------------------------------------------------------
# Q2: inner equi-join (FK resolution; reference bridge tables,
# course_catalog_database.sql:90-94)
# ---------------------------------------------------------------------------
@register(
    "join_inner_equi",
    tier="Q",
    oracle=f"""
    SELECT o_orderstatus,
           COUNT(*) AS n_rows,
           SUM({sql_cents_disc("l_extendedprice", "l_discount")}) / 10000.0 AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderstatus
    """,
)
def join_inner_equi(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    o = T(spark, sf_dir, "orders")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey, "inner")
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            (F.sum(cents_disc("l_extendedprice", "l_discount")) / 10000.0).alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# Q3: left outer join (reference: optional child tables,
# scripts/course_catalog.py:138)
# ---------------------------------------------------------------------------
@register(
    "join_left_outer",
    tier="Q",
    oracle="""
    SELECT o_orderkey, COUNT(l_partkey) AS n_big_items
    FROM orders
    LEFT JOIN (SELECT * FROM lineitem WHERE l_quantity >= 49) li
      ON o_orderkey = li.l_orderkey
    GROUP BY o_orderkey
    """,
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders")
    li = T(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 49)
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left")
        .groupBy("o_orderkey")
        .agg(F.count("l_partkey").alias("n_big_items"))
    )


# ---------------------------------------------------------------------------
# Q4: semi / anti join (reference: get_or_insert existence check,
# scripts/course_catalog.py:69-72; ON CONFLICT skip :99)
# ---------------------------------------------------------------------------
@register(
    "join_semi_anti",
    tier="Q",
    oracle="""
    SELECT c_custkey, TRUE AS has_orders FROM customer
    WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    UNION ALL
    SELECT c_custkey, FALSE AS has_orders FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    """,
)
def join_semi_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = T(spark, sf_dir, "customer")
    o = T(spark, sf_dir, "orders")
    semi = (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .select("c_custkey")
        .withColumn("has_orders", F.lit(True))
    )
    anti = (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey")
        .withColumn("has_orders", F.lit(False))
    )
    return semi.unionByName(anti)


# ---------------------------------------------------------------------------
# Q5: broadcast join of small dims (reference: tiny categories dim,
# scripts/course_catalog.py:111-120)
# ---------------------------------------------------------------------------
@register(
    "join_broadcast",
    tier="Q",
    oracle=f"""
    SELECT r_name,
           COUNT(*) AS n_customers,
           {sql_csum("c_acctbal", "total_acctbal")}
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)
def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = T(spark, sf_dir, "customer")
    n = T(spark, sf_dir, "nation")
    r = T(spark, sf_dir, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), F.col("n_regionkey") == r.r_regionkey)
        .groupBy("r_name")
        .agg(F.count(F.lit(1)).alias("n_customers"), csum("c_acctbal", "total_acctbal"))
    )


# ---------------------------------------------------------------------------
# Q6: hash aggregation — the flagship TPC-H-Q1-shaped query.
# Partial (map-side) + final aggregation is automatic in Spark.
# ---------------------------------------------------------------------------
AGG_GROUPBY_ORACLE = f"""
    SELECT l_returnflag, l_linestatus,
           {sql_csum("l_quantity", "sum_qty")},
           {sql_csum("l_extendedprice", "sum_base_price")},
           SUM({sql_cents_disc("l_extendedprice", "l_discount")}) / 10000.0 AS sum_disc_price,
           {sql_cavg("l_quantity", "avg_qty")},
           {sql_cavg("l_extendedprice", "avg_price")},
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-02'
    GROUP BY l_returnflag, l_linestatus
"""


@register("agg_groupby", tier="Q", oracle=AGG_GROUPBY_ORACLE)
def agg_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2001-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            csum("l_quantity", "sum_qty"),
            csum("l_extendedprice", "sum_base_price"),
            (F.sum(cents_disc("l_extendedprice", "l_discount")) / 10000.0).alias(
                "sum_disc_price"
            ),
            cavg("l_quantity", "avg_qty"),
            cavg("l_extendedprice", "avg_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# Q7: exact distinct aggregation (UNIQUE-constraint semantics,
# user_course_activity_database.sql:24)
# ---------------------------------------------------------------------------
@register(
    "agg_count_distinct",
    tier="Q",
    oracle="""
    SELECT o_orderstatus,
           COUNT(DISTINCT o_custkey) AS n_customers,
           COUNT(*) AS n_orders
    FROM orders GROUP BY o_orderstatus
    """,
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        T(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


# approx_count_distinct: HLL sketch parameters differ across engines, so no
# value-oracle exists by construction — rows-only check; the exact-distinct
# twin above is the correctness anchor.
@register("agg_approx_distinct", tier="Q", oracle=None)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        T(spark, sf_dir, "lineitem")
        .agg(
            F.approx_count_distinct("l_partkey").alias("approx_parts"),
            F.countDistinct("l_partkey").alias("exact_parts"),
        )
    )


# ---------------------------------------------------------------------------
# Q8: rollup (category -> subcategory hierarchy,
# course_catalog_database.sql:90-106)
# ---------------------------------------------------------------------------
@register(
    "agg_rollup_cube",
    tier="Q",
    oracle=f"""
    SELECT COALESCE(o_orderstatus, 'ALL') AS status,
           COALESCE(o_orderpriority, 'ALL') AS priority,
           COUNT(*) AS n,
           {sql_csum("o_totalprice", "total")}
    FROM orders
    GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
    """,
)
def agg_rollup_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        T(spark, sf_dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"), csum("o_totalprice", "total"))
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n",
            "total",
        )
    )


# ---------------------------------------------------------------------------
# Q9: ranking windows (dedup-to-latest shape of the reference upsert,
# scripts/user_course_activity.py:81-102)
# ---------------------------------------------------------------------------
@register(
    "window_rank",
    tier="Q",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice,
           CAST(rn AS INTEGER) AS rn, CAST(rnk AS INTEGER) AS rnk,
           CAST(drnk AS INTEGER) AS drnk
    FROM (
      SELECT o_orderkey, o_orderstatus, o_totalprice,
             ROW_NUMBER() OVER w AS rn,
             RANK() OVER w AS rnk,
             DENSE_RANK() OVER w AS drnk
      FROM orders
      WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC, o_orderkey)
    ) t WHERE rn <= 3
    """,
)
def window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = W.partitionBy("o_orderstatus").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        T(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            "o_orderstatus",
            "o_totalprice",
            F.row_number().over(w).alias("rn"),
            F.rank().over(w).alias("rnk"),
            F.dense_rank().over(w).alias("drnk"),
        )
        .filter(F.col("rn") <= 3)
    )


# ---------------------------------------------------------------------------
# Q10: analytic windows — running sum (exact decimal frame sum) + lag/lead
# over the order lifecycle (user_course_activity_database.sql:14-18)
# ---------------------------------------------------------------------------
@register(
    "window_analytic",
    tier="Q",
    oracle=f"""
    SELECT o_custkey, o_orderkey, o_totalprice,
           SUM({sql_cents("o_totalprice")}) OVER (
               PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) / 100.0 AS running_total,
           LAG(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS prev_price,
           LEAD(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS next_price
    FROM orders
    """,
    cost_note=(
        "canonical minimal plan: one exchange by o_custkey + one sort + one "
        "WindowExec computing all three functions (shared window spec), then "
        "materializing the full 150k-row table through the noop sink; nothing "
        "to shave. Quiet-box warm min-of-3: 0.42 s vs oracle 0.146 s; the "
        "floor-adjusted ratio (~2.4) is row-materialization + scheduling "
        "machinery on a full-table window. At sf1 it reads 1.35 "
        "floor-adjusted (SCALING.md sf1 ratio table: 2.75 s vs oracle 1.97 s "
        "at 10x the rows), under the 2x gate: the machinery amortizes"
    ),
)
def window_analytic(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return T(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        (
            F.sum(cents("o_totalprice")).over(
                w.rowsBetween(W.unboundedPreceding, W.currentRow)
            )
            / 100.0
        ).alias("running_total"),
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
    )


# ---------------------------------------------------------------------------
# Q11: global sort + top-k (Spark plans TakeOrderedAndProject — no full sort
# of all partitions; reference paging contract scripts/course_catalog.py:237)
# ---------------------------------------------------------------------------
@register(
    "sort_limit_topk",
    tier="Q",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice
    FROM lineitem
    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
    LIMIT 100
    """,
)
def sort_limit_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        T(spark, sf_dir, "lineitem")
        .orderBy(F.desc("l_extendedprice"), "l_orderkey", "l_linenumber")
        .limit(100)
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
    )


# ---------------------------------------------------------------------------
# Q12: set operations (child-row dedup semantics,
# scripts/course_catalog.py:124)
# ---------------------------------------------------------------------------
@register(
    "set_union_distinct",
    tier="Q",
    oracle="""
    SELECT nationkey, 'union' AS op FROM
      (SELECT c_nationkey AS nationkey FROM customer
       UNION SELECT s_nationkey FROM supplier)
    UNION ALL
    SELECT nationkey, 'intersect' AS op FROM
      (SELECT c_nationkey AS nationkey FROM customer
       INTERSECT SELECT s_nationkey FROM supplier)
    UNION ALL
    SELECT nationkey, 'except' AS op FROM
      (SELECT c_nationkey AS nationkey FROM customer
       EXCEPT SELECT s_nationkey FROM supplier)
    """,
)
def set_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = T(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = T(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    u = c.union(s).distinct().withColumn("op", F.lit("union"))
    i = c.intersect(s).withColumn("op", F.lit("intersect"))
    e = c.subtract(s).withColumn("op", F.lit("except"))
    return u.unionByName(i).unionByName(e)


# ---------------------------------------------------------------------------
# Q13: string functions (TEXT-heavy reference schema,
# course_catalog_database.sql:3-5,18)
# ---------------------------------------------------------------------------
@register(
    "scalar_string_funcs",
    tier="Q",
    oracle="""
    SELECT p_partkey,
           lower(p_name) AS name_lc,
           upper(p_brand) AS brand_uc,
           substring(p_type, 1, 5) AS type_pfx,
           concat_ws('|', p_brand, p_type) AS brand_type,
           CAST(length(p_name) AS BIGINT) AS name_len,
           replace(p_name, ' ', '_') AS name_us,
           (p_type LIKE '%BRASS%') AS is_brass,
           regexp_extract(p_brand, '([0-9]+)', 1) AS brand_num,
           CAST(len(string_split(p_type, ' ')) AS BIGINT) AS n_words,
           trim(p_name) AS name_trim
    FROM part
    """,
)
def scalar_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = T(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.lower("p_name").alias("name_lc"),
        F.upper("p_brand").alias("brand_uc"),
        F.substring("p_type", 1, 5).alias("type_pfx"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.length("p_name").cast("bigint").alias("name_len"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("name_us"),
        F.col("p_type").like("%BRASS%").alias("is_brass"),
        F.regexp_extract("p_brand", r"([0-9]+)", 1).alias("brand_num"),
        F.size(F.split("p_type", " ")).cast("bigint").alias("n_words"),
        F.trim("p_name").alias("name_trim"),
    )


# ---------------------------------------------------------------------------
# Q14: date/time functions (five TIMESTAMP lifecycle columns,
# user_course_activity_database.sql:14-19)
# ---------------------------------------------------------------------------
@register(
    "scalar_date_funcs",
    tier="Q",
    oracle="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INTEGER) AS yr,
           CAST(month(o_orderdate) AS INTEGER) AS mon,
           CAST(quarter(o_orderdate) AS INTEGER) AS qtr,
           CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
           CAST(date_diff('day', DATE '1995-01-01', o_orderdate) AS INTEGER) AS days_since,
           CAST(isodow(o_orderdate) AS INTEGER) AS iso_dow,
           CAST(o_orderdate + INTERVAL 1 MONTH AS DATE) AS next_month,
           CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s
    FROM orders
    """,
)
def scalar_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mon"),
        F.quarter("o_orderdate").alias("qtr"),
        F.date_trunc("month", F.col("o_orderdate")).alias("month_start"),
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date")).alias("days_since"),
        (F.weekday("o_orderdate") + F.lit(1)).alias("iso_dow"),
        F.add_months(F.col("o_orderdate"), 1).alias("next_month"),
        F.unix_timestamp("o_orderdate").alias("epoch_s"),
    )


# ---------------------------------------------------------------------------
# Q15: math + conditional (FLOAT ratio columns,
# user_course_activity_database.sql:11-13)
# ---------------------------------------------------------------------------
@register(
    "scalar_math_case",
    tier="Q",
    oracle=f"""
    SELECT l_orderkey, l_linenumber,
           ({sql_cents_disc("l_extendedprice", "l_discount")}) / 10000.0 AS disc_price,
           abs(l_quantity - 25.0) AS abs_diff,
           sqrt(l_quantity) AS sq,
           floor(ln(l_extendedprice) * 1000000) / 1000000 AS lg,
           pow(l_quantity, 2.0) AS pw,
           CASE WHEN l_quantity < 10 THEN 'low'
                WHEN l_quantity < 35 THEN 'mid'
                ELSE 'high' END AS bucket,
           l_orderkey % 7 AS mod7,
           floor(l_quantity / 7.0 * 1000) / 1000 AS ratio3,
           CAST(ceil(l_discount * 100) AS BIGINT) AS disc_pct
    FROM lineitem
    """,
)
def scalar_math_case(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        (cents_disc("l_extendedprice", "l_discount") / 10000.0).alias("disc_price"),
        F.abs(F.col("l_quantity") - 25.0).alias("abs_diff"),
        F.sqrt("l_quantity").alias("sq"),
        # ln is not correctly-rounded in IEEE: engines differ in the last ulp,
        # so expose a floor-to-6dp value (deterministic in both)
        (F.floor(F.log(F.col("l_extendedprice")) * 1e6) / 1e6).alias("lg"),
        F.pow("l_quantity", 2.0).alias("pw"),
        F.when(F.col("l_quantity") < 10, "low")
        .when(F.col("l_quantity") < 35, "mid")
        .otherwise("high")
        .alias("bucket"),
        (F.col("l_orderkey") % 7).alias("mod7"),
        (F.floor(F.col("l_quantity") / 7.0 * 1000) / 1000).alias("ratio3"),
        F.ceil(F.col("l_discount") * 100).alias("disc_pct"),
    )


# ---------------------------------------------------------------------------
# Q16: JSON extraction (whole reference source is JSON,
# scripts/course_catalog.py:187); testdata fixture: events.props
# ---------------------------------------------------------------------------
@register(
    "scalar_json_funcs",
    tier="Q",
    oracle="""
    SELECT event_id,
           json_extract_string(props, '$.k') AS k_str,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_int,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_parsed,
           (json_extract_string(props, '$.k') IS NOT NULL) AS has_k
    FROM events
    """,
)
def scalar_json_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k")
    return e.select(
        "event_id",
        k.alias("k_str"),
        k.cast("int").alias("k_int"),
        # structured parse path: from_json with an explicit schema (§1.3 —
        # declared schemas, never inference at scale)
        F.from_json("props", "k INT").getField("k").alias("k_parsed"),
        k.isNotNull().alias("has_k"),
    )


# ---------------------------------------------------------------------------
# Q17: array/map functions — inverse of the reference's explode surface
# (collect_list reconstructs what scripts/course_catalog.py:123-161 explode)
# ---------------------------------------------------------------------------
@register(
    "array_map_funcs",
    tier="Q",
    oracle="""
    SELECT l_orderkey,
           COUNT(*) AS n_items,
           COUNT(DISTINCT l_partkey) AS n_uniq,
           bool_or(l_partkey = 1) AS has_p1,
           MIN(l_partkey) AS min_part,
           MAX(l_partkey) AS max_part
    FROM lineitem GROUP BY l_orderkey
    """,
    cost_note=(
        "collect_list agg builds per-order arrays, then array/map HOF chain + "
        "re-agg = 2 shuffles around a Python-free HOF projection; 0.85 s "
        "absolute, oracle 0.29 s single-node"
    ),
    ratio_exception=True,
)
def array_map_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_orderkey")
        .agg(F.collect_list("l_partkey").alias("parts"))
        .select(
            "l_orderkey",
            F.size("parts").cast("bigint").alias("n_items"),
            F.size(F.array_distinct("parts")).cast("bigint").alias("n_uniq"),
            F.array_contains("parts", F.lit(1)).alias("has_p1"),
            F.array_min("parts").alias("min_part"),
            F.array_max("parts").alias("max_part"),
        )
    )


# ---------------------------------------------------------------------------
# A14: record counting / job metrics (total_inserted contract,
# scripts/course_catalog.py:210,224)
# ---------------------------------------------------------------------------
@register(
    "count_running_total",
    tier="A",
    oracle=f"""
    SELECT COUNT(*) AS n_rows,
           COUNT(DISTINCT l_orderkey) AS n_orders,
           {sql_csum("l_quantity", "total_qty")}
    FROM lineitem
    """,
)
def count_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T(spark, sf_dir, "lineitem").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        csum("l_quantity", "total_qty"),
    )


# ---------------------------------------------------------------------------
# A13: schema-directed type coercion (psycopg2 adaptation -> explicit casts;
# DDL type system course_catalog_database.sql:1-106)
# ---------------------------------------------------------------------------
@register(
    "cast_types",
    tier="A",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(l_orderkey AS VARCHAR) AS key_str,
           CAST(floor(l_quantity) AS BIGINT) AS qty_int,
           CAST(l_shipdate AS VARCHAR) AS ship_str,
           CAST(CAST(l_shipdate AS VARCHAR) AS TIMESTAMP) AS ship_rt,
           (l_returnflag = 'R') AS flag_is_r,
           CAST(CAST(l_extendedprice AS DECIMAL(12,2)) AS DOUBLE) AS price_dec
    FROM lineitem
    """,
)
def cast_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_orderkey").cast("string").alias("key_str"),
        F.floor("l_quantity").cast("bigint").alias("qty_int"),
        F.col("l_shipdate").cast("string").alias("ship_str"),
        F.col("l_shipdate").cast("string").cast("timestamp").alias("ship_rt"),
        (F.col("l_returnflag") == "R").alias("flag_is_r"),
        # decimal(12,2) semantics under test, but emitted as double: raw
        # DECIMAL hashes differently across Spark (Decimal) and DuckDB
        # (float64) clients even when values are identical.
        F.col("l_extendedprice").cast("decimal(12,2)").cast("double").alias("price_dec"),
    )


# ---------------------------------------------------------------------------
# A12: ISO-8601 timestamp parse with 'Z' and null-through
# (scripts/user_course_activity.py:181-185)
# ---------------------------------------------------------------------------
@register(
    "cast_timestamp",
    tier="A",
    oracle="""
    SELECT event_id, iso,
           strptime(iso, '%Y-%m-%dT%H:%M:%S.%fZ') AS parsed
    FROM (
      SELECT event_id,
             CASE WHEN event_id % 50 = 0 THEN NULL
                  ELSE strftime(ts, '%Y-%m-%dT%H:%M:%S.%fZ') END AS iso
      FROM events
    ) t
    """,
)
def cast_timestamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "events")
    fmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS'Z'"
    iso = F.when(F.col("event_id") % 50 == 0, F.lit(None).cast("string")).otherwise(
        F.date_format("ts", fmt)
    )
    return e.select(
        "event_id",
        iso.alias("iso"),
        F.to_timestamp(iso, fmt).alias("parsed"),
    )


# ---------------------------------------------------------------------------
# Pivot: wide reshape (common OLAP pattern on the produced star schema)
# ---------------------------------------------------------------------------
@register(
    "pivot_wide",
    tier="Q",
    oracle=f"""
    SELECT l_returnflag,
           SUM(CASE WHEN l_linestatus = 'O' THEN {sql_cents("l_quantity")} END) / 100.0 AS O,
           SUM(CASE WHEN l_linestatus = 'F' THEN {sql_cents("l_quantity")} END) / 100.0 AS F
    FROM lineitem GROUP BY l_returnflag
    """,
)
def pivot_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum(cents("l_quantity")) / 100.0)
    )


# ---------------------------------------------------------------------------
# df.stat surface: crosstab
# ---------------------------------------------------------------------------


@register(
    "stat_crosstab_segments",
    tier="Q",
    oracle="""
    SELECT c.c_mktsegment AS segment,
           CAST(SUM(CASE WHEN o.o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS n_urgent,
           CAST(SUM(CASE WHEN o.o_orderpriority = '2-HIGH' THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
           CAST(SUM(CASE WHEN o.o_orderpriority = '3-MEDIUM' THEN 1 ELSE 0 END) AS BIGINT) AS n_medium,
           CAST(SUM(CASE WHEN o.o_orderpriority = '4-NOT SPECIFIED' THEN 1 ELSE 0 END) AS BIGINT) AS n_notspec,
           CAST(SUM(CASE WHEN o.o_orderpriority = '5-LOW' THEN 1 ELSE 0 END) AS BIGINT) AS n_low
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    ORDER BY segment
    """,
)
def stat_crosstab_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DataFrameStatFunctions surface: df.stat.crosstab builds the
    segment × priority contingency table in one pass (the same grid
    agg_mutual_information scores; crosstab is its API-front-door
    sibling and the two-variable EDA primitive).  Column names are
    re-aliased to fixed identifiers — crosstab emits the raw category
    values as column names ('1-URGENT'), which no cross-engine
    comparison should depend on.  Exact counts; Spark plans the same
    Expand-free conditional aggregate the oracle states.  Scale: output
    is |X| rows × |Y| columns — crosstab is only for dim×dim pairs
    (the long-form (x, y, n) grid is the high-cardinality shape)."""
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    joined = o.join(F.broadcast(c), o.o_custkey == c.c_custkey).select(
        "c_mktsegment", "o_orderpriority"
    )
    ct = joined.stat.crosstab("c_mktsegment", "o_orderpriority")
    # crosstab's first column is "c_mktsegment_o_orderpriority"
    first = ct.columns[0]
    renames = {
        "1-URGENT": "n_urgent",
        "2-HIGH": "n_high",
        "3-MEDIUM": "n_medium",
        "4-NOT SPECIFIED": "n_notspec",
        "5-LOW": "n_low",
    }
    out = ct.select(
        F.col(f"`{first}`").alias("segment"),
        *[F.col(f"`{src}`").cast("bigint").alias(dst) for src, dst in renames.items()],
    )
    return out.orderBy("segment")
