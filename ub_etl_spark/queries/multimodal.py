"""Multimodal-column queries (SURVEY.md B6): binary payloads + typed
metadata + mapInPandas decode plumbing, oracle-checked via arithmetic on
byte lengths (the fake decode is deterministic in octet_length)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ub_etl_spark.operators.multimodal import decode_features, with_binary_payload
from ub_etl_spark.registry import register
from ub_etl_spark.sources.tables import load_table as T


# Binary column + metadata struct projection
@register(
    "multimodal_columns",
    tier="B",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           'text/plain' AS kind,
           md5(text) AS content_md5
    FROM documents
    """,
)
def multimodal_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    media = with_binary_payload(d, "doc_id", "text")
    return media.select(
        "doc_id",
        F.col("meta.n_bytes").alias("n_bytes"),
        F.col("meta.kind").alias("kind"),
        F.col("meta.content_md5").alias("content_md5"),
    )


# mapInPandas decode stub: Arrow-batched binary -> feature rows; the fake
# decode is a pure function of payload size, so DuckDB can oracle it.
@register(
    "multimodal_decode",
    tier="B",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           CAST(GREATEST(octet_length(encode(text)) % 640, 1) AS BIGINT) AS width,
           CAST(GREATEST(octet_length(encode(text)) % 480, 1) AS BIGINT) AS height,
           CAST(octet_length(encode(text)) % 30 + 1 AS BIGINT) AS n_frames
    FROM documents
    """,
)
def multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    return decode_features(with_binary_payload(d, "doc_id", "text"), fake=True)


# mapInPandas frame sampler: one row per kept frame index — the explode
# shape of video frame extraction; the fake frame count is deterministic
# in payload size, so the sampled indices are fully oracle-checkable.
#
# Bench variance root cause (r4 verdict task 5 / r5 item 1, adjudicated
# r6): the 2.07x run-over-run delta was the per-Python-worker
# pandas/pyarrow IMPORT cost in the mapInPandas path — when a prior
# Arrow-batched query has already warmed the workers, min-of-3 is a
# rock-steady 0.238s (samples 0.252/0.239/0.238 vs the 0.54s cold
# number).  On a real cluster that import is a one-time per-executor
# cost, amortized to zero over a long-lived job; bench order decides
# whether this query pays it, hence the apparent regression.
@register(
    "multimodal_frame_sample",
    tier="B",
    oracle="""
    SELECT doc_id, CAST(frame_idx AS BIGINT) AS frame_idx
    FROM (
      SELECT doc_id,
             UNNEST(generate_series(0, octet_length(encode(text)) % 30, 10)) AS frame_idx
      FROM documents
    ) t
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ub_etl_spark.operators.multimodal import sample_frames

    d = T(spark, sf_dir, "documents")
    return sample_frames(with_binary_payload(d, "doc_id", "text"), every_nth=10, fake=True)


# mapInPandas resize stub: binary -> resized binary + geometry.  The
# output projects octet_length of the RESIZED payload (proof the binary
# column flowed through the Arrow batch and was transformed), then drops
# the binary before anything wide — the B6 scale rule.
@register(
    "multimodal_resize",
    tier="B",
    oracle="""
    SELECT doc_id,
           CAST(LEAST(octet_length(encode(text)), 784) AS BIGINT)
             AS resized_bytes,
           CAST(GREATEST(octet_length(encode(text)) % 640, 1) AS BIGINT) AS src_w,
           CAST(GREATEST(octet_length(encode(text)) % 480, 1) AS BIGINT) AS src_h,
           224.0 / GREATEST(octet_length(encode(text)) % 640, 1) AS scale_x,
           224.0 / GREATEST(octet_length(encode(text)) % 480, 1) AS scale_y
    FROM documents
    """,
)
def multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ub_etl_spark.operators.multimodal import resize_media

    d = T(spark, sf_dir, "documents")
    out = resize_media(with_binary_payload(d, "doc_id", "text"), 224, 224, fake=True)
    return out.select(
        "doc_id",
        F.octet_length("payload").cast("bigint").alias("resized_bytes"),
        "src_w",
        "src_h",
        "scale_x",
        "scale_y",
    )


# Perceptual-hash near-dup pairs over binary payloads: the multimodal
# member of the dedup family (exact/minhash/simhash/embedding-cosine are
# text/vector; this one keys on media bytes).  Rows-only by construction
# (the pHash rides a mapInPandas decode stub with no SQL twin);
# completeness of the banding vs brute-force Hamming is pinned in
# tests/test_dedup.py.
@register(
    "multimodal_phash_dedup",
    tier="B",
    cost_note=(
        "mapInPandas aHash + 8-chunk pigeonhole self-join + verify + dedup + "
        "sort = 5 stages; controlled warm min is 0.9-1.3 s, and a 1.78 s "
        "min-of-3 rode passes at load 2.1-2.5 (machine_state_per_pass, the "
        "external-load class). The hasher is vectorized bit-identically "
        "(neutral at 2k docs; it matters at real batch sizes). SCALING "
        "phash_hamming cell is linear"
    ),
)
def multimodal_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate media detection by perceptual hash: aHash each
    payload (operators/multimodal.phash_media — decode stubbed, hashing
    real), then find all pairs within Hamming distance 7 via the
    8-chunk pigeonhole band join (operators/dedup.hamming_pairs — every
    pair at distance <= n_chunks-1 shares >= 1 exact chunk, so candidate
    generation is complete WITHOUT an all-pairs comparison).  The binary
    column is dropped at the hash step — only (doc_id, 8-byte hash)
    shuffles, the B6 scale rule.  Scale: same banded-join shape as
    dedup_simhash; bucket skew is bounded by the 8-bit chunk alphabet
    per band times hash diversity, and the verify is a bit_count on
    co-bucketed candidates only."""
    from ub_etl_spark.operators.dedup import hamming_pairs
    from ub_etl_spark.operators.multimodal import phash_media

    d = T(spark, sf_dir, "documents")
    hashes = phash_media(with_binary_payload(d, "doc_id", "text"), fake=True)
    return hamming_pairs(
        hashes, id_col="doc_id", hash_col="phash", max_hamming=7, n_chunks=8
    ).orderBy("id_a", "id_b")


# Exact media dedup on the content digest: the cheap first pass of the
# media dedup family (multimodal_phash_dedup is the NEAR-dup second
# pass), identical in shape to dedup_normalized_exact but keyed on the
# binary payload's md5 from the typed metadata struct — dedup never
# touches payload bytes after the one hash projection.
@register(
    "multimodal_dedup_exact",
    tier="B",
    oracle="""
    SELECT md5(text) AS content_md5, MIN(doc_id) AS keeper_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY md5(text)
    HAVING COUNT(*) >= 1
    """,
)
def multimodal_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents")
    media = with_binary_payload(d, "doc_id", "text")
    return (
        media.select("doc_id", F.col("meta.content_md5").alias("content_md5"))
        .groupBy("content_md5")
        .agg(F.min("doc_id").alias("keeper_id"), F.count(F.lit(1)).alias("n_copies"))
    )


# End-to-end media preparation composite — the multimodal capstone in the
# pipeline_training_manifest mold: binary ingest -> exact content dedup
# (md5 keeper) -> decode features -> resize geometry, one manifest row
# per surviving asset.  Every stage is the registered operator's own
# expression tree; the perceptual near-dup stage (multimodal_phash_dedup)
# slots in after the exact pass in production but stays out of this
# composite so the WHOLE chain remains value-checked (the pHash has no
# SQL twin).  The binary column is dropped at the feature step — nothing
# wide ever carries payload bytes.
@register(
    "pipeline_media_prepare",
    tier="B",
    oracle="""
    WITH kept AS (
      SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)
    )
    SELECT d.doc_id,
           CAST(octet_length(encode(d.text)) AS BIGINT) AS n_bytes,
           CAST(GREATEST(octet_length(encode(d.text)) % 640, 1) AS BIGINT)
             AS width,
           CAST(GREATEST(octet_length(encode(d.text)) % 480, 1) AS BIGINT)
             AS height,
           CAST(LEAST(octet_length(encode(d.text)), 784) AS BIGINT)
             AS resized_bytes,
           224.0 / GREATEST(octet_length(encode(d.text)) % 640, 1) AS scale_x
    FROM documents d JOIN kept k ON d.doc_id = k.doc_id
    """,
)
def pipeline_media_prepare(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ub_etl_spark.operators.multimodal import resize_media

    d = T(spark, sf_dir, "documents")
    media = with_binary_payload(d, "doc_id", "text")
    keepers = (
        media.select("doc_id", F.col("meta.content_md5").alias("h"))
        .groupBy("h")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    surv = media.join(keepers, "doc_id", "left_semi")
    feats = decode_features(surv, fake=True).select(
        "doc_id", "n_bytes", "width", "height"
    )
    resized = resize_media(surv, 224, 224, fake=True).select(
        "doc_id",
        F.octet_length("payload").cast("bigint").alias("resized_bytes"),
        "scale_x",
    )
    return feats.join(resized, "doc_id")
