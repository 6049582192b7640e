"""Nested-data tier (SURVEY.md A3-A7): struct projection, array/map
explosion, null guards.

The testdata star schema is flat, so each query *builds* the nested shape
(collect_list/struct/map_from_entries — the inverse of the reference's
flattening at scripts/course_catalog.py:90-161), then explodes it back and
checks the round-trip against a flat oracle.  This proves both directions
of the reference's normalize pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ub_etl_spark.registry import register
from ub_etl_spark.sources.tables import load_table as T


# A3: projection incl. nested struct access (locale.locale,
# primary_category.title — scripts/course_catalog.py:107,112,118)
@register(
    "project_struct_access",
    tier="A",
    oracle="""
    SELECT c_custkey, c_name AS name, c_mktsegment AS segment, c_acctbal AS acctbal
    FROM customer
    """,
)
def project_struct_access(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = T(spark, sf_dir, "customer")
    nested = c.select(
        "c_custkey",
        F.struct(
            F.col("c_name").alias("name"),
            F.struct(
                F.col("c_mktsegment").alias("segment"),
                F.col("c_acctbal").alias("acctbal"),
            ).alias("fin"),
        ).alias("info"),
    )
    # descend two struct levels; nested-schema pruning keeps the scan narrow
    return nested.select(
        "c_custkey",
        F.col("info.name").alias("name"),
        F.col("info.fin.segment").alias("segment"),
        F.col("info.fin.acctbal").alias("acctbal"),
    )


# A4: array-of-struct explosion (topics/promo_video_url/caption_locales,
# scripts/course_catalog.py:123-125,128-130,159-161)
@register(
    "explode_array_struct",
    tier="A",
    oracle="""
    SELECT l_orderkey, l_linenumber AS ln, l_partkey AS pk, l_quantity AS qty
    FROM lineitem
    """,
    cost_note=(
        "nest-then-explode roundtrip proof: collect_list into array<struct> "
        "then Generate back out = agg shuffle + explode; 1.0 s absolute, "
        "oracle 0.35 s; the nested-build side is the point of the A4 surface "
        "row"
    ),
    ratio_exception=True,
)
def explode_array_struct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    nested = li.groupBy("l_orderkey").agg(
        F.collect_list(
            F.struct(
                F.col("l_linenumber").alias("ln"),
                F.col("l_partkey").alias("pk"),
                F.col("l_quantity").alias("qty"),
            )
        ).alias("items")
    )
    return nested.select("l_orderkey", F.explode("items").alias("it")).select(
        "l_orderkey",
        F.col("it.ln").alias("ln"),
        F.col("it.pk").alias("pk"),
        F.col("it.qty").alias("qty"),
    )


# A5: array-of-scalar explosion with explode_outer for absent arrays
# (instructors/requirements.list guard, scripts/course_catalog.py:133-146)
@register(
    "explode_array_scalar",
    tier="A",
    oracle="""
    SELECT o_orderkey, li.l_partkey AS partkey
    FROM orders
    LEFT JOIN (SELECT * FROM lineitem WHERE l_quantity >= 48) li
      ON o_orderkey = li.l_orderkey
    """,
)
def explode_array_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders")
    li = T(spark, sf_dir, "lineitem").filter(F.col("l_quantity") >= 48)
    arrs = li.groupBy("l_orderkey").agg(F.collect_list("l_partkey").alias("parts"))
    joined = o.join(arrs, o.o_orderkey == arrs.l_orderkey, "left")
    # explode_outer keeps orders whose array is absent (NULL row), mirroring
    # the reference's `if 'requirements' in course` guard
    return joined.select("o_orderkey", F.explode_outer("parts").alias("partkey"))


# A6: map explosion (images dict -> (size, url) rows,
# scripts/course_catalog.py:149-151)
@register(
    "explode_map",
    tier="A",
    oracle="""
    SELECT p_brand, p_type, COUNT(*) AS n
    FROM part GROUP BY p_brand, p_type
    """,
)
def explode_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = T(spark, sf_dir, "part")
    cnt = p.groupBy("p_brand", "p_type").agg(F.count(F.lit(1)).alias("n"))
    maps = cnt.groupBy("p_brand").agg(
        F.map_from_entries(F.collect_list(F.struct("p_type", "n"))).alias("m")
    )
    return maps.select("p_brand", F.explode("m").alias("p_type", "n"))


# A7: predicate / existence+type guard (requirements guard,
# scripts/course_catalog.py:138)
@register(
    "filter_null_guard",
    tier="A",
    oracle="""
    SELECT event_id, CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
    FROM events
    WHERE json_extract_string(props, '$.k') IS NOT NULL
      AND event_type IN ('error', 'purchase')
    """,
)
def filter_null_guard(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k")
    return (
        e.filter(k.isNotNull() & F.col("event_type").isin("error", "purchase"))
        .select("event_id", k.cast("int").alias("k"))
    )
