"""Corpus-curation queries (SURVEY.md §2 B21-B25): PII redaction,
Gopher-style quality gates, benchmark contamination, sequence packing,
weighted source mixing — over the documents table, each hash-checked
against a DuckDB oracle running the identical arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ub_etl_spark.operators.curation import (
    contamination_check,
    gopher_quality,
    mix_weighted_sources,
    pack_sequences,
    pii_counts,
    redact_pii,
    sql_pii_counts,
    sql_redact_pii,
)
from ub_etl_spark.operators.training import sql_hash_bucket, sql_mix_bucket
from ub_etl_spark.registry import register
from ub_etl_spark.sources.tables import load_table as T

# The synthetic corpus contains no real PII, so the query plants a
# deterministic email/phone/IP per document (pure string concat of
# doc_id) and then redacts it — the redaction rules, counts, and
# pass-through of clean text all end up under the oracle hash.
_PII_SUFFIX_SQL = (
    "' contact user' || CAST(doc_id AS VARCHAR) || '@example.com or call "
    "555-' || CAST(1000 + doc_id % 9000 AS VARCHAR) || ' from 10.0.' || "
    "CAST(doc_id % 256 AS VARCHAR) || '.7'"
)


def _pii_suffix() -> F.Column:
    return F.concat(
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or call 555-"),
        (F.lit(1000) + F.col("doc_id") % 9000).cast("string"),
        F.lit(" from 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7"),
    )


@register(
    "text_pii_redact",
    tier="B",
    oracle=f"""
    SELECT doc_id,
           {sql_redact_pii("text || " + _PII_SUFFIX_SQL)} AS redacted,
           {sql_pii_counts("text || " + _PII_SUFFIX_SQL)}
    FROM documents
    """,
)
def text_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pass: mask emails / IPv4s / phone numbers with typed
    placeholders and report per-rule match counts.  Map-only regexp chain,
    fused into one codegen projection — the shape every real scrub pass
    (SSNs, credit cards, secrets) takes at 100 TB."""
    d = T(spark, sf_dir, "documents")
    pii_text = F.concat(F.col("text"), _pii_suffix())
    return d.select(
        "doc_id",
        redact_pii(pii_text).alias("redacted"),
        *pii_counts(pii_text),
    )


@register(
    "text_quality_gopher",
    tier="B",
    oracle="""
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
    )
    SELECT s.doc_id, n_tokens, dup_word_ratio,
           top / (n_tokens - 1) AS top_bigram_ratio, mean_word_len,
           (dup_word_ratio <= 0.6 AND top / (n_tokens - 1) <= 0.2
            AND mean_word_len >= 2.0 AND mean_word_len <= 12.0) AS keep
    FROM stats s JOIN top USING (doc_id)
    """,
)
def text_quality_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-based quality gates (Gopher rules): duplicate-word
    ratio, top-bigram fraction, mean word length, and the resulting keep
    decision — the filters that strip boilerplate/spam before training."""
    d = T(spark, sf_dir, "documents")
    return gopher_quality(d, "doc_id", "text")


@register(
    "contamination_ngram_check",
    tier="B",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), eligible AS (
      SELECT * FROM toks WHERE len(t) >= 5
    ), grams AS (
      SELECT DISTINCT doc_id,
             t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]
                  || ' ' || t[i+4] AS g
      FROM eligible, UNNEST(generate_series(1, len(t) - 4)) AS s(i)
    ), bench AS (
      SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0
    ), corpus AS (
      SELECT * FROM grams WHERE doc_id % 97 <> 0
    )
    SELECT c.doc_id, COUNT(*) AS n_grams, COUNT(b.g) AS n_shared,
           COUNT(b.g) / COUNT(*) AS contamination
    FROM corpus c LEFT JOIN bench b ON c.g = b.g
    GROUP BY c.doc_id
    """,
    cost_note=(
        "explode -> dropDuplicates -> broadcast join -> per-doc agg on 580KB "
        "of documents: two sub-second shuffles whose scheduling floor DuckDB "
        "(0.1 s) undercuts. Measured non-change: fusing the dedup into "
        "COUNT(DISTINCT) is 15% slower (expand doubles the shuffled rows; "
        "operators/curation.py docstring); the benchmark side broadcasts, the "
        "corpus never self-joins"
    ),
    ratio_exception=True,
)
def contamination_ngram_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark contamination: per corpus doc, the fraction of its
    distinct 5-grams appearing in a held-out benchmark set (here: every
    97th doc).  The benchmark gram set broadcasts; the corpus never
    shuffles except the per-doc count agg."""
    d = T(spark, sf_dir, "documents")
    bench = d.filter(F.col("doc_id") % 97 == 0)
    corpus = d.filter(F.col("doc_id") % 97 != 0)
    return contamination_check(corpus, bench, "doc_id", "text", n=5)


@register(
    "pack_sequences",
    tier="B",
    oracle=f"""
    SELECT doc_id, part,
           CAST(FLOOR((cum - n_tokens) / 256) AS BIGINT) AS seq_id, n_tokens
    FROM (
      SELECT doc_id, part, n_tokens,
             SUM(n_tokens) OVER (
               PARTITION BY part ORDER BY ord, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM (
        SELECT doc_id,
               {sql_hash_bucket("doc_id", 8)} AS part,
               {sql_hash_bucket("doc_id", 1 << 30)} AS ord,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents
      )
    )
    """,
)
def pack_sequences_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic greedy sequence packing to a 256-token budget inside
    hash partitions — the batch-construction pass between curation and the
    tokenizer.  Window-per-partition, so it parallelizes by n_parts."""
    d = T(spark, sf_dir, "documents")
    return pack_sequences(d, "doc_id", "text", budget=256, n_parts=8)


@register(
    "mix_weighted_sources",
    tier="B",
    oracle=f"""
    SELECT doc_id, source,
           100 - CAST(substr(source, 4) AS INT) * 5 AS weight_pct
    FROM documents
    WHERE {sql_mix_bucket("doc_id", "1000003*(CAST(substr(source, 4) AS INT)+1)", 100)}
          < 100 - CAST(substr(source, 4) AS INT) * 5
    """,
)
def mix_weighted_sources_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted source mixing: deterministically down-sample each source
    to a target percentage (src0 keeps 100%, src19 keeps 5%) with a
    hash decorrelated from the train/val/test split hash.  Map-only."""
    d = T(spark, sf_dir, "documents")
    idx = F.substring("source", 4, 8).cast("int")
    weight = (F.lit(100) - idx * 5).alias("weight_pct")
    return mix_weighted_sources(
        d.select("doc_id", "source", weight),
        "doc_id",
        F.col("weight_pct"),
        decorrelate=F.lit(1000003).cast("bigint") * (idx + 1),
    ).select("doc_id", "source", "weight_pct")


# B83: temperature-scaled source mixing — the multilingual-pretraining
# sampling rule (probability proportional to count^(1/T), T=2 here):
# low-resource sources are up-weighted RELATIVE to their size, capped at
# keeping every row.  Per-source keep-thresholds derive from one tiny
# aggregation (|sources| rows) broadcast back over the corpus; row
# membership is the same decorrelated integer hash as the weighted mixer
# (scaled to 1e6 buckets for threshold resolution), so the sample is
# deterministic, engine-identical, and stable under corpus growth
# everywhere except the source being resized.  The threshold double
# arithmetic (sqrt / mul / div) is written in ONE canonical order on
# both engines.
@register(
    "mix_temperature_sampling",
    tier="B",
    oracle=f"""
    WITH counts AS (
      SELECT source, CAST(COUNT(*) AS DOUBLE) AS c FROM documents GROUP BY 1
    ), tot AS (
      SELECT SUM(sqrt(c)) AS tw, SUM(c) AS n FROM counts
    ), thr AS (
      SELECT source,
             CAST(FLOOR(1000000 * LEAST(1.0, sqrt(c) * (0.5 * n) / tw / c))
                  AS BIGINT) AS keep_thr
      FROM counts CROSS JOIN tot
    )
    SELECT d.doc_id, d.source, t.keep_thr
    FROM documents d JOIN thr t USING (source)
    WHERE {sql_mix_bucket("d.doc_id", "1000003*(CAST(substr(d.source, 4) AS INT)+1)", 1000000)}
          < t.keep_thr
    """,
)
def mix_temperature_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ub_etl_spark.operators.training import mix_bucket

    d = T(spark, sf_dir, "documents")
    counts = d.groupBy("source").agg(F.count(F.lit(1)).cast("double").alias("c"))
    tot = counts.agg(
        F.sum(F.sqrt("c")).alias("tw"), F.sum("c").alias("n")
    )
    thr = (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "source",
            F.floor(
                1000000
                * F.least(
                    F.lit(1.0),
                    F.sqrt("c") * (0.5 * F.col("n")) / F.col("tw") / F.col("c"),
                )
            )
            .cast("bigint")
            .alias("keep_thr"),
        )
    )
    idx = F.substring("source", 4, 8).cast("int")
    salt = F.lit(1000003).cast("bigint") * (idx + 1)
    return (
        d.select("doc_id", "source")
        .join(F.broadcast(thr), "source")
        .filter(mix_bucket(F.col("doc_id"), salt, n_buckets=1000000) < F.col("keep_thr"))
        .select("doc_id", "source", "keep_thr")
    )


# ---------------------------------------------------------------------------
# Per-source corpus health report
# ---------------------------------------------------------------------------


@register(
    "pipeline_corpus_health",
    tier="B",
    oracle="""
    WITH norm AS (
      SELECT doc_id, source, lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
             trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                                 ' +', ' ', 'g')) AS norm_text
      FROM documents
    ), keepers AS (
      SELECT source, COUNT(DISTINCT norm_text) AS n_unique FROM norm
      GROUP BY source
    ), langs AS (
      SELECT source, lang, COUNT(*) AS nl FROM norm GROUP BY source, lang
    ), lang_cells AS (
      SELECT source,
             CAST(FLOOR((CAST(nl AS DOUBLE) / tot) * ln(CAST(nl AS DOUBLE) / tot)
                        * 1000000) AS BIGINT) AS h_cell
      FROM (SELECT source, nl,
                   SUM(nl) OVER (PARTITION BY source) AS tot FROM langs) t
    ), lang_ent AS (
      SELECT source, -SUM(h_cell) / 1000000.0 AS h_u FROM lang_cells
      GROUP BY source
    ), base AS (
      SELECT source, COUNT(*) AS n_docs,
             CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
             CAST(SUM(n_tok) AS DOUBLE) / COUNT(*) AS mean_tokens
      FROM norm GROUP BY source
    )
    SELECT b.source, b.n_docs, b.total_tokens, b.mean_tokens,
           k.n_unique,
           CAST(b.n_docs - k.n_unique AS BIGINT) AS n_exact_dupes,
           e.h_u AS lang_entropy
    FROM base b JOIN keepers k ON b.source = k.source
    JOIN lang_ent e ON b.source = e.source
    ORDER BY b.source
    """,
)
def pipeline_corpus_health(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus health report — the data-ops dashboard a corpus
    owner reads before every training run: volume (docs, tokens), exact-
    duplicate rate on normalized text (the dedup_normalized_exact
    folding), and language-mix entropy (0 = monolingual source; the
    events_user_entropy quantization rule, −p·ln p per cell floored to
    micro-units BEFORE the per-source sum).  One scan feeds every
    branch; aggregates key on source (and (source, lang) for the mix);
    the normalized-distinct is the only wide-ish shuffle and reuses the
    cheap-dedup pass's exact shape.  Scale: report state is
    |sources| x |langs| rows."""
    d = T(spark, sf_dir, "documents")
    norm_text = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9 ]", " "), " +", " "
        )
    )
    norm = d.select(
        "doc_id",
        "source",
        "lang",
        F.size(F.split("text", " ")).cast("bigint").alias("n_tok"),
        norm_text.alias("norm_text"),
    )
    base = norm.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tok").alias("total_tokens"),
        (F.sum("n_tok").cast("double") / F.count(F.lit(1))).alias("mean_tokens"),
    )
    keepers = norm.groupBy("source").agg(
        F.countDistinct("norm_text").alias("n_unique")
    )
    langs = norm.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("nl"))
    from pyspark.sql import Window as W

    tot = F.sum("nl").over(W.partitionBy("source"))
    p = F.col("nl").cast("double") / tot
    h_cell = F.floor(p * F.log(p) * 1e6).cast("bigint")
    lang_ent = (
        langs.select("source", h_cell.alias("h_cell"))
        .groupBy("source")
        .agg((-F.sum("h_cell") / 1e6).alias("lang_entropy"))
    )
    return (
        base.join(keepers, "source")
        .join(lang_ent, "source")
        .select(
            "source",
            "n_docs",
            "total_tokens",
            "mean_tokens",
            "n_unique",
            (F.col("n_docs") - F.col("n_unique")).cast("bigint").alias("n_exact_dupes"),
            "lang_entropy",
        )
        .orderBy("source")
    )
