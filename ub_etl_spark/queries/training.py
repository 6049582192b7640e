"""Training-data-pipeline queries (corpus splitting, near-exact dedup,
vocabulary counts, embedding compression, end-to-end dedup apply).

These wrap operators/training.py over the documents/embeddings tables —
the remaining standard passes of an LLM data pipeline alongside the
dedup (B2), similarity (B3/B4) and text-analysis (B5) tiers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ub_etl_spark.operators import dedup as D
from ub_etl_spark.operators.training import (
    dedup_normalized_exact,
    l2_normalize_quantize,
    ngram_counts,
    sql_hash_bucket,
    train_val_test_split,
)
from ub_etl_spark.registry import register
from ub_etl_spark.sources.tables import load_table as T


# Deterministic hash-of-id corpus split: reproducible membership, map-only
# (no shuffle, no sampling state).  The oracle runs the identical integer
# arithmetic, so the assignment itself is value-checked.
@register(
    "split_train_val_test",
    tier="B",
    oracle=f"""
    SELECT doc_id,
           CASE WHEN {sql_hash_bucket("doc_id")} < 80 THEN 'train'
                WHEN {sql_hash_bucket("doc_id")} < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """,
)
def split_train_val_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    return train_val_test_split(d, "doc_id").select("doc_id", "split")


# Near-exact dedup on case/punctuation/whitespace-folded text — the cheap
# pass that runs before MinHash in a real pipeline.
@register(
    "dedup_normalized_exact",
    tier="B",
    oracle="""
    SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n_members
    FROM (
      SELECT doc_id,
             trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                                 ' +', ' ', 'g')) AS norm
      FROM documents
    ) t
    GROUP BY norm
    """,
)
def dedup_normalized_exact_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    return dedup_normalized_exact(d, "doc_id", "text")


# Corpus bigram vocabulary, top-200 (tokenizer-training count pass).
@register(
    "text_ngram_vocab",
    tier="B",
    oracle="""
    WITH toks AS (
      SELECT string_split(text, ' ') AS t FROM documents
    ), grams AS (
      SELECT t[i] || ' ' || t[i+1] AS ngram
      FROM toks, UNNEST(generate_series(1, len(t) - 1)) AS g(i)
    )
    SELECT ngram, COUNT(*) AS n_occurrences
    FROM grams GROUP BY ngram
    ORDER BY n_occurrences DESC, ngram LIMIT 200
    """,
)
def text_ngram_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    return ngram_counts(d, "text", n=2, top_k=200)


# Embedding L2-normalize + int8 quantization (pre-ANN compression).
# Emitted LONG-FORM (vec_id, pos, qval, inv_norm) — same shape as
# embedding_centroid_per_label — because the driver's pandas-based
# canonicalizer cannot sort ArrayType cells (r2 red row was exactly that
# crash, not a math mismatch).  The array-shaped operator itself is
# unchanged (operators/training.l2_normalize_quantize) and remains the
# production API; this query is its value-checkable projection.
@register(
    "embedding_quantize",
    tier="B",
    oracle="""
    WITH n AS (
      SELECT vec_id,
             CAST(embedding AS DOUBLE[]) AS v,
             sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]), y -> y * y))) AS norm
      FROM embeddings
    )
    SELECT vec_id,
           CAST(i - 1 AS INTEGER) AS pos,
           CAST(floor(v[i] / norm * 127) AS INTEGER) AS qval,
           floor(1000000 / norm) / 1000000 AS inv_norm
    FROM n, UNNEST(generate_series(1, len(v))) AS g(i)
    """,
    cost_note=(
        "one Arrow pandas_udf pass (l2_normalize_quantize: per-vector norm + "
        "int8 scale) + posexplode to the per-dimension contract rows (2000 "
        "vecs x 64 dims -> 128k rows): the Python-worker spin-up and Arrow "
        "round-trip are the fixed cost (same class as the udf_* surface "
        "proofs), the explode is the output contract; 0.88-1.10 s vs a "
        "0.14-0.17 s oracle. Scales with vector count; the UDF is the "
        "vectorized-batch fast path, not a per-row fallback"
    ),
)
def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "embeddings")
    q = l2_normalize_quantize(e, "vec_id", "embedding", bits_scale=127)
    return q.select(
        "vec_id", F.posexplode("qvec").alias("pos", "qval"), "inv_norm"
    )


# End-to-end dedup APPLY: near-dup pairs -> connected components -> keep
# only each cluster's canonical (min-id) doc — the deduplicated training
# corpus itself, not just the pair/cluster report.  Oracle: the same
# recursive-CTE transitive closure as dedup_cluster_cc, joined back to
# documents.
@register(
    "dedup_apply_canonical",
    tier="B",
    oracle="""
    WITH RECURSIVE toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents WHERE doc_id < 400
    ), sh AS (
      SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
      FROM toks, UNNEST(generate_series(1, len(t) - 2)) AS g(i)
      WHERE len(t) >= 3
    ), sizes AS (
      SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
    ), common AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), pairs AS (
      SELECT id_a, id_b
      FROM common
      JOIN sizes sa ON sa.doc_id = id_a
      JOIN sizes sb ON sb.doc_id = id_b
      WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= 0.25
    ), edges AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION
      SELECT id_b AS src, id_a AS dst FROM pairs
    ), reach(id, label) AS (
      SELECT doc_id, doc_id FROM documents
      WHERE doc_id < 400 AND len(string_split(text, ' ')) >= 3
      UNION
      SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id
    ), canon AS (
      SELECT id FROM reach GROUP BY id HAVING id = MIN(label)
    )
    SELECT d.doc_id, d.n_chars
    FROM documents d JOIN canon c ON c.id = d.doc_id
    """,
    cost_note=(
        "chains cluster build (iterative CC) + canonical pick + broadcast "
        "remap = multiple jobs by construction; the remap itself is one "
        "broadcast hash join, sub-second"
    ),
)
def dedup_apply_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents").filter(
        (F.col("doc_id") < 400) & (F.size(F.split("text", " ")) >= 3)
    )
    pairs = D.exact_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.25).select(
        "id_a", "id_b"
    )
    cc = D.connected_components(docs, pairs, "doc_id")
    keep = cc.filter(F.col("doc_id") == F.col("cluster_id")).select("doc_id")
    full = T(spark, sf_dir, "documents").select("doc_id", "n_chars")
    return full.join(keep, "doc_id")


# End-to-end corpus preparation: quality-gate the documents (reusing the
# exact text_quality_score expressions — engine-identical doubles, so the
# threshold picks identical sets) and attach the deterministic split —
# the final "training-ready corpus manifest" a pipeline materializes.
from ub_etl_spark.operators.text import STOPWORDS  # noqa: E402

_EN = "[" + ", ".join(f"'{w}'" for w in STOPWORDS["en"]) + "]"


@register(
    "pipeline_corpus_prepare",
    tier="B",
    oracle=f"""
    SELECT doc_id,
           CASE WHEN {sql_hash_bucket("doc_id")} < 80 THEN 'train'
                WHEN {sql_hash_bucket("doc_id")} < 90 THEN 'val'
                ELSE 'test' END AS split,
           n_tokens, quality
    FROM (
      SELECT doc_id, n_tokens,
             0.4 * least(1.0, n_tokens / 100.0)
               + 0.3 * (1.0 - least(1.0, punct_ratio * 10.0))
               + 0.3 * least(1.0, stopword_ratio * 5.0) AS quality
      FROM (
        SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
               len(list_filter(string_split(text, ' '),
                   x -> list_contains({_EN}, lower(x))))
                 / len(string_split(text, ' ')) AS stopword_ratio,
               length(regexp_replace(text, '[^.,;:!?]', '', 'g')) / length(text)
                 AS punct_ratio
        FROM documents
      ) f
    ) q
    WHERE quality >= 0.5 AND n_tokens >= 20
    """,
)
def pipeline_corpus_prepare(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), " ")
    en = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    n_tok = F.size(toks)
    feats = d.select(
        "doc_id",
        n_tok.cast("bigint").alias("n_tokens"),
        (
            F.size(F.filter(toks, lambda x: F.array_contains(en, F.lower(x)))) / n_tok
        ).alias("stopword_ratio"),
        (F.length(F.regexp_replace("text", r"[^.,;:!?]", "")) / F.length("text")).alias(
            "punct_ratio"
        ),
    )
    quality = (
        0.4 * F.least(F.lit(1.0), F.col("n_tokens") / 100.0)
        + 0.3 * (F.lit(1.0) - F.least(F.lit(1.0), F.col("punct_ratio") * 10.0))
        + 0.3 * F.least(F.lit(1.0), F.col("stopword_ratio") * 5.0)
    )
    gated = feats.select("doc_id", "n_tokens", quality.alias("quality")).filter(
        (F.col("quality") >= 0.5) & (F.col("n_tokens") >= 20)
    )
    return train_val_test_split(gated, "doc_id").select(
        "doc_id", "split", "n_tokens", "quality"
    )


# Exact stratified sampling: exactly min(n, |group|) docs per label, chosen
# by a deterministic hash order — balanced training subsets with reproducible
# membership (df.sampleBy is only approximate).  One window shuffle on the
# label; at 100 TB pre-aggregate group counts and sample via the same hash
# threshold instead of a full sort when groups are huge.
@register(
    "sample_stratified_exact",
    tier="B",
    oracle=f"""
    SELECT doc_id, lang
    FROM (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY {sql_hash_bucket("doc_id", 1 << 30)}, doc_id
             ) AS rn
      FROM documents
    ) t WHERE rn <= 25
    """,
)
def sample_stratified_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from ub_etl_spark.operators.training import hash_bucket

    d = T(spark, sf_dir, "documents")
    w = W.partitionBy("lang").orderBy(hash_bucket(F.col("doc_id"), 1 << 30), "doc_id")
    return (
        d.select("doc_id", "lang")
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= 25)
        .drop("__rn")
    )


# Group-aware split: every EVENT follows its USER's fold — the leakage-
# safe split for behavioral data (a row-level split would scatter one
# user's history across train and test, leaking user identity into
# evaluation).  Same deterministic multiplicative hash as
# split_train_val_test, applied to the GROUP key; map-only, value-checked
# end to end.  The summary proves the grouping invariant structurally:
# each user lands in exactly one split.
@register(
    "split_group_aware",
    tier="B",
    oracle=f"""
    WITH tagged AS (
      SELECT user_id, event_id,
             CASE WHEN {sql_hash_bucket("user_id")} < 80 THEN 'train'
                  WHEN {sql_hash_bucket("user_id")} < 90 THEN 'val'
                  ELSE 'test' END AS split
      FROM events
    )
    SELECT split, COUNT(DISTINCT user_id) AS n_users,
           COUNT(*) AS n_events
    FROM tagged GROUP BY split
    ORDER BY split
    """,
)
def split_group_aware(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "events")
    tagged = train_val_test_split(e, "user_id")
    return (
        tagged.groupBy("split")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("split")
    )
