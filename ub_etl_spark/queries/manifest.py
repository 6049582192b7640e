"""Capstone composition queries (SURVEY.md §2 B30-B31).

pipeline_training_manifest chains the full curation surface — quality
gate, normalized-exact dedup, benchmark-contamination filter, weighted
source mixing, deterministic split — into ONE Catalyst plan whose output
is the training-ready corpus manifest, hash-checked end-to-end against a
DuckDB oracle that recomputes every stage.  This is the query a real
pipeline materializes nightly; composing it as one plan (instead of N
materialized passes) lets Catalyst share the documents scan across the
quality/dedup/contamination branches and prune columns globally.

join_interval_overlap adds the interval x interval join shape (overlap
pairs), distinct from point-in-range (join_range_bucket) and as-of
(join_asof): bucketize one side's intervals, equi-join on
(partition key, bucket), dedupe double-counted pairs, exact-filter —
the scale pattern that avoids a BroadcastNestedLoopJoin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ub_etl_spark.operators.curation import (
    contamination_check,
    gopher_quality,
    mix_weighted_sources,
)
from ub_etl_spark.operators.training import (
    dedup_normalized_exact,
    sql_hash_bucket,
    sql_mix_bucket,
    train_val_test_split,
)
from ub_etl_spark.registry import register
from ub_etl_spark.sources.tables import load_table as T


@register(
    "pipeline_training_manifest",
    tier="B",
    oracle=f"""
    WITH stats AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
             1.0 - len(list_distinct(string_split(text, ' ')))
                   / CAST(len(string_split(text, ' ')) AS BIGINT) AS dup_word_ratio,
             length(replace(text, ' ', ''))
                   / CAST(len(string_split(text, ' ')) AS BIGINT) AS mean_word_len
      FROM documents
      WHERE len(string_split(text, ' ')) >= 2
    ), bg AS (
      SELECT doc_id, t[i] || ' ' || t[i+1] AS bigram
      FROM (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
           UNNEST(generate_series(1, len(t) - 1)) AS g(i)
    ), top AS (
      SELECT doc_id, MAX(cnt) AS top FROM (
        SELECT doc_id, bigram, COUNT(*) AS cnt FROM bg GROUP BY 1, 2
      ) GROUP BY doc_id
    ), keepq AS (
      SELECT s.doc_id, n_tokens
      FROM stats s JOIN top USING (doc_id)
      WHERE dup_word_ratio <= 0.6 AND top / (n_tokens - 1) <= 0.2
        AND mean_word_len >= 2.0 AND mean_word_len <= 12.0
    ), canon AS (
      SELECT MIN(doc_id) AS doc_id
      FROM (
        SELECT doc_id,
               trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                                   ' +', ' ', 'g')) AS norm
        FROM documents
      ) t GROUP BY norm
    ), toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), grams AS (
      SELECT DISTINCT doc_id,
             t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
                  || ' ' || t[i+4] AS g
      FROM (SELECT * FROM toks WHERE len(t) >= 5),
           UNNEST(generate_series(1, len(t) - 4)) AS s(i)
    ), bench AS (
      SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0
    ), cont AS (
      SELECT c.doc_id, COUNT(b.g) / COUNT(*) AS contamination
      FROM (SELECT * FROM grams WHERE doc_id % 97 <> 0) c
      LEFT JOIN bench b ON c.g = b.g
      GROUP BY c.doc_id
    )
    SELECT d.doc_id, d.source,
           CASE WHEN {sql_hash_bucket("d.doc_id")} < 80 THEN 'train'
                WHEN {sql_hash_bucket("d.doc_id")} < 90 THEN 'val'
                ELSE 'test' END AS split,
           k.n_tokens,
           COALESCE(c.contamination, 0.0) AS contamination
    FROM documents d
    JOIN keepq k ON k.doc_id = d.doc_id
    JOIN canon n ON n.doc_id = d.doc_id
    LEFT JOIN cont c ON c.doc_id = d.doc_id
    WHERE d.doc_id % 97 <> 0
      AND COALESCE(c.contamination, 0.0) <= 0.5
      AND {sql_mix_bucket("d.doc_id", "1000003*(CAST(substr(d.source, 4) AS INT)+1)", 100)}
          < 100 - CAST(substr(d.source, 4) AS INT) * 5
    """,
    cost_note=(
        "deliberately composes three curation stages (gopher gate, "
        "normalized-exact dedup, contamination check) plus mix+split into one "
        "Catalyst plan; its cost is the sum of its stages' sanctioned "
        "constants on the same 580KB corpus, and each stage's standalone twin "
        "carries its own measured rationale"
    ),
    ratio_exception=True,
)
def pipeline_training_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus manifest: Gopher quality gate -> normalized-exact
    dedup (canonical docs only) -> benchmark-contamination filter (<= 0.5,
    benchmark docs excluded) -> weighted source mixing -> deterministic
    split.  One composed plan; every stage's arithmetic is the same
    expression tree as its standalone query, so the whole chain stays
    under the driver hash."""
    docs = T(spark, sf_dir, "documents")
    keepq = (
        gopher_quality(docs, "doc_id", "text")
        .filter(F.col("keep"))
        .select("doc_id", "n_tokens")
    )
    canon = dedup_normalized_exact(docs, "doc_id", "text").select("doc_id")
    cont = contamination_check(
        docs.filter(F.col("doc_id") % 97 != 0),
        docs.filter(F.col("doc_id") % 97 == 0),
        "doc_id",
        "text",
        n=5,
    ).select("doc_id", "contamination")
    idx = F.substring("source", 4, 8).cast("int")
    base = (
        docs.filter(F.col("doc_id") % 97 != 0)
        .select("doc_id", "source")
        .join(keepq, "doc_id")
        .join(canon, "doc_id")
        .join(cont, "doc_id", "left")
        .withColumn("contamination", F.coalesce("contamination", F.lit(0.0)))
        .filter(F.col("contamination") <= 0.5)
    )
    mixed = mix_weighted_sources(
        base,
        "doc_id",
        F.lit(100) - idx * 5,
        decorrelate=F.lit(1000003).cast("bigint") * (idx + 1),
    )
    return train_val_test_split(mixed, "doc_id").select(
        "doc_id", "source", "split", "n_tokens", "contamination"
    )


@register(
    "join_interval_overlap",
    tier="B",
    oracle="""
    WITH iv AS (
      SELECT o_orderkey, o_custkey, o_orderdate AS lo,
             o_orderdate + ((o_orderkey % 5) + 1) * INTERVAL 1 DAY AS hi
      FROM orders WHERE o_orderdate >= TIMESTAMP '2001-06-01'
    )
    SELECT a.o_orderkey AS key_a, b.o_orderkey AS key_b, a.o_custkey
    FROM iv a JOIN iv b
      ON a.o_custkey = b.o_custkey AND a.o_orderkey < b.o_orderkey
     AND a.lo <= b.hi AND b.lo <= a.hi
    """,
)
def join_interval_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap self-join: orders become per-customer intervals
    [orderdate, orderdate + 1..5 days]; output overlapping pairs.

    Scale shape: explode each interval into the week buckets it covers,
    equi-join on (custkey, bucket) — never a nested-loop over raw
    intervals — then dropDuplicates (a pair can co-occur in 2 buckets)
    and the exact overlap filter.  Shuffle key (custkey, week) is
    near-uniform; bucket width trades explode factor vs candidate density.
    """
    o = T(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.lit("2001-06-01").cast("timestamp")
    )
    iv = o.select(
        "o_orderkey",
        "o_custkey",
        F.col("o_orderdate").alias("lo"),
        (
            F.col("o_orderdate")
            + F.make_dt_interval(days=(F.col("o_orderkey") % 5 + 1).cast("int"))
        ).alias("hi"),
    )
    week = 604800  # seconds
    withb = iv.select(
        "*",
        F.sequence(
            (F.unix_timestamp("lo") / week).cast("long"),
            (F.unix_timestamp("hi") / week).cast("long"),
        ).alias("__weeks"),
    ).select("o_orderkey", "o_custkey", "lo", "hi", F.explode("__weeks").alias("__wk"))
    a = withb.alias("a")
    b = withb.alias("b")
    return (
        a.join(
            b,
            (F.col("a.o_custkey") == F.col("b.o_custkey"))
            & (F.col("a.__wk") == F.col("b.__wk"))
            & (F.col("a.o_orderkey") < F.col("b.o_orderkey")),
        )
        .filter(
            (F.col("a.lo") <= F.col("b.hi")) & (F.col("b.lo") <= F.col("a.hi"))
        )
        .select(
            F.col("a.o_orderkey").alias("key_a"),
            F.col("b.o_orderkey").alias("key_b"),
            F.col("a.o_custkey").alias("o_custkey"),
        )
        .dropDuplicates(["key_a", "key_b"])
    )
