"""Similarity-search tier (SURVEY.md B3/B4 + embedding near-dup).

Wraps operators/vectors.py.  Exact knn and cosine-pair queries are
oracle-checked against DuckDB's list_cosine_similarity; the LSH variant
uses engine-side hyperplanes (no portable oracle) and is recall-verified
against exact knn in tests/test_similarity.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ub_etl_spark.functions.exact import cavg, sql_cavg
from ub_etl_spark.operators import vectors as V
from ub_etl_spark.registry import register
from ub_etl_spark.sources.tables import load_table as T


# B3: brute-force exact top-k cosine
@register(
    "sim_knn_exact",
    tier="B",
    oracle="""
    SELECT query_id, neighbor_id,
           floor(score * 1000000) / 1000000 AS score,
           CAST(rank AS INTEGER) AS rank
    FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                    CAST(c.embedding AS DOUBLE[])) AS score,
             ROW_NUMBER() OVER (
               PARTITION BY q.vec_id
               ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                               CAST(c.embedding AS DOUBLE[])) DESC,
                        c.vec_id
             ) AS rank
      FROM (SELECT * FROM embeddings WHERE vec_id < 10) q
      CROSS JOIN embeddings c
      WHERE q.vec_id <> c.vec_id
    ) t WHERE rank <= 5
    """,
)
def sim_knn_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    out = V.knn_exact(q, e, k=5)
    # rank is computed on the raw score; expose a floor-6dp score so the
    # value hash is ulp-insensitive across engines
    return out.withColumn("score", F.floor(F.col("score") * 1e6) / 1e6)


# B4: approximate NN via random-hyperplane LSH buckets (rows-only).
# Operating point: 12 tables x 2 planes — per-table collision prob is high
# (few planes -> big buckets) and the table union drives pair recall to a
# measured 0.98 vs exact knn (pinned >= 0.9 in tests/test_similarity.py).
@register(
    "sim_ann_lsh",
    tier="B",
    oracle=None,
    cost_note=(
        "rows-only (no oracle): one Arrow pass computes all 12 tables' "
        "buckets (instead of ~1500 expression literals per build), bucket "
        "self-join, map-side cosine, then an (ids,score)-only dedup agg; "
        "never all-pairs (recall 1.0 pinned in BOUNDS.json); at 100TB the "
        "bucket join stays candidate-bounded (see queries/similarity.py). "
        "2.65 s -> ~1.3 s min-of-3 from the Arrow pass"
    ),
)
def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "embeddings")
    return V.knn_ann_lsh(
        e, k=5, dim=64, n_planes=2, n_tables=12, query_filter=F.col("id") < 10
    )


# B4 scale path #2: IVF — deterministic coarse quantizer (hash seeds +
# distributed Lloyd step), nprobe inverted-list probing, exact re-rank.
# Rows-only (quantizer has no SQL analogue); recall vs exact knn asserted
# in tests/test_similarity.py.  Every build trains its own quantizer: no
# memo carries a trained quantizer from one call to the next, so each
# bench sample pays the same plan.  A session that wants train-once /
# probe-many passes ``centroids=`` (from V.ivf_centroids) itself.


def clear_ann_caches() -> None:
    """No-op, kept because existing callers import it: the ANN builders
    hold no trained quantizer between calls, so there is nothing to
    clear."""


# nprobe=12/16 is an unusually high probe ratio: the synthetic embeddings
# are near-isotropic (IVF's worst case — no cluster structure to exploit),
# so hitting measured recall 0.90 (pinned >= 0.85 in tests) costs 3/4 of
# the lists.  On real clustered data the same >= 0.9 recall typically needs
# nprobe ~ nlist/8; the knob is the scale lever.
@register("sim_ann_ivf", tier="B", oracle=None)
def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "embeddings")
    return V.knn_ann_ivf(
        e,
        k=5,
        nlist=16,
        nprobe=12,
        query_filter=F.col("vec_id") < 10,
    )


# Embedding-cosine near-dup pairs, label-blocked
@register(
    "dedup_embedding_cosine",
    tier="B",
    oracle="""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           floor(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])) * 1000000)
             / 1000000 AS cos_sim
    FROM embeddings a
    JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                 CAST(b.embedding AS DOUBLE[])) >= 0.35
    """,
    cost_note=(
        "~1.2M blocked-pair cosines through the Arrow pandas_udf numpy path, "
        "measured ~100x faster than Spark's interpreted array HOFs for bulk "
        "pair scoring (operators/vectors.py cosine_batch docstring), so the "
        "residual ratio is the Arrow round-trip tax on real vector compute, "
        "bounded and scale-stable; the codegen HOF cosine remains the named "
        "alternative for per-row scoring (hybrid_search_rrf)"
    ),
    ratio_exception=True,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "embeddings")
    out = V.cosine_near_dup_pairs(e, threshold=0.35, block_col="label")
    return out.withColumn("cos_sim", F.floor(F.col("cos_sim") * 1e6) / 1e6)


# B49: per-label centroid of the embedding column — the cluster-profile /
# class-prototype aggregation (and the building block IVF coarse
# quantizers refresh with).  posexplode is pure codegen; the (label, pos)
# aggregation map-side-combines so the shuffle carries |labels| x dim
# rows regardless of corpus size.  Long-form output (label, pos, value)
# keeps the result hash-checkable with no array-ordering caveats;
# consumers reassemble with collect_list over pos when they need vectors.
@register(
    "embedding_centroid_per_label",
    tier="B",
    oracle=f"""
    SELECT label, CAST(i - 1 AS INTEGER) AS pos,
           {sql_cavg("CAST(embedding[i] AS DOUBLE)", "centroid_val", 6)}
    FROM embeddings, UNNEST(generate_series(1, len(embedding))) AS g(i)
    GROUP BY label, i
    """,
)
def embedding_centroid_per_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean embedding per label.  Components quantize to 1e-6 fixed-point
    longs (float32 carries ~7 significant digits at |v| <= 1, so this is
    lossless-in-practice; engines disagree on float->DECIMAL widening,
    which is why the decimal path is NOT used here), sum exactly, divide
    once by the member count — a 1000-executor partial-aggregate tree
    reproduces the single-node centroid bit-for-bit."""
    e = T(spark, sf_dir, "embeddings")
    return (
        e.select("label", F.posexplode("embedding").alias("pos", "val"))
        .groupBy("label", "pos")
        .agg(cavg(F.col("val").cast("double"), "centroid_val", scale=6))
    )


# B69: MMR diversity re-rank of exact-knn candidates (rows-only: the
# greedy selection has no SQL analogue; determinism + diversity
# properties are pinned against a pure-python reference in
# tests/test_similarity.py).  Sequential within a query, parallel across
# queries — the applyInPandas per-group-iterative pattern.
@register("sim_rerank_mmr", tier="B", oracle=None)
def sim_rerank_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 10)
    cand = V.knn_exact(q, e, k=20).select("query_id", "neighbor_id", "score")
    return V.mmr_rerank(cand, e, k=5, lam=0.7)


# B70: hybrid search — reciprocal-rank fusion of a lexical ranking
# (distinct shared terms) and an embedding ranking (cosine), the
# standard two-tower retrieval combiner.  Both component rankings are
# deterministic (exact term counts; floor-6dp cosine; id tie-breaks), so
# the WHOLE fusion is oracle-checked — rare for a retrieval op.  Fixture
# convention: embeddings.vec_id aligns with documents.doc_id (same
# entity).  Scale shape: lexical candidates come from a term-keyed join
# (inverted-index probe, never all-pairs); the dense side here scores
# all candidates because |queries| is bounded — at corpus scale both
# sides would feed top-N candidate lists into the same fusion.
@register(
    "hybrid_search_rrf",
    tier="B",
    oracle="""
    WITH qt AS (
      SELECT doc_id AS q_id,
             unnest(list_distinct(string_split(lower(text), ' '))) AS term
      FROM documents WHERE doc_id < 3
    ), dt AS (
      SELECT doc_id,
             unnest(list_distinct(string_split(lower(text), ' '))) AS term
      FROM documents
    ), lex AS (
      SELECT q.q_id, d.doc_id, COUNT(*) AS lex_score
      FROM qt q JOIN dt d USING (term)
      WHERE d.doc_id <> q.q_id
      GROUP BY 1, 2
    ), emb AS (
      SELECT q.vec_id AS q_id, c.vec_id AS doc_id,
             floor(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
                                          CAST(c.embedding AS DOUBLE[]))
                   * 1000000) / 1000000 AS cos
      FROM embeddings q CROSS JOIN embeddings c
      WHERE q.vec_id < 3 AND c.vec_id <> q.vec_id
    ), scored AS (
      SELECT e.q_id, e.doc_id,
             COALESCE(l.lex_score, 0) AS lex_score, e.cos
      FROM emb e LEFT JOIN lex l ON e.q_id = l.q_id AND e.doc_id = l.doc_id
    ), ranked AS (
      SELECT *,
             ROW_NUMBER() OVER (PARTITION BY q_id
                                ORDER BY lex_score DESC, doc_id) AS lex_rank,
             ROW_NUMBER() OVER (PARTITION BY q_id
                                ORDER BY cos DESC, doc_id) AS emb_rank
      FROM scored
    )
    SELECT q_id, doc_id, CAST(lex_rank AS INTEGER) AS lex_rank,
           CAST(emb_rank AS INTEGER) AS emb_rank, rrf
    FROM (
      SELECT *, 1.0 / (60 + lex_rank) + 1.0 / (60 + emb_rank) AS rrf,
             ROW_NUMBER() OVER (PARTITION BY q_id
               ORDER BY 1.0 / (60 + lex_rank) + 1.0 / (60 + emb_rank) DESC,
                        doc_id) AS rn
      FROM ranked
    ) t WHERE rn <= 5
    """,
    cost_note=(
        "two candidate pipelines (term-keyed inverted-index lexical join; "
        "bounded-|Q| dense cosine scoring) + left-join fusion + two ranking "
        "windows + RRF top-k = 5-6 chained stages vs a 0.14-0.15 s "
        "single-node pass; 0.78-0.89 s. Never all-pairs on the lexical side; "
        "the dense side is |Q|-bounded by construction (module docstring)"
    ),
)
def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window as W

    d = T(spark, sf_dir, "documents")
    e = T(spark, sf_dir, "embeddings")
    terms = d.select(
        "doc_id",
        F.explode(F.array_distinct(F.split(F.lower(F.col("text")), " "))).alias(
            "term"
        ),
    )
    qt = terms.filter(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("q_id"), "term"
    )
    lex = (
        qt.join(terms, "term")
        .filter(F.col("doc_id") != F.col("q_id"))
        .groupBy("q_id", "doc_id")
        .agg(F.count(F.lit(1)).alias("lex_score"))
    )
    q = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
    )
    emb = (
        e.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            F.col("vec_id").alias("doc_id"),
            (F.floor(V.cosine(F.col("q_vec"), F.col("embedding")) * 1e6) / 1e6).alias(
                "cos"
            ),
        )
    )
    scored = emb.join(lex, ["q_id", "doc_id"], "left").withColumn(
        "lex_score", F.coalesce("lex_score", F.lit(0))
    )
    wl = W.partitionBy("q_id").orderBy(F.desc("lex_score"), F.asc("doc_id"))
    we = W.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("doc_id"))
    ranked = scored.select(
        "q_id",
        "doc_id",
        F.row_number().over(wl).alias("lex_rank"),
        F.row_number().over(we).alias("emb_rank"),
    )
    rrf = 1.0 / (F.col("lex_rank") + 60) + 1.0 / (F.col("emb_rank") + 60)
    wr = W.partitionBy("q_id").orderBy(F.desc("rrf"), F.asc("doc_id"))
    return (
        ranked.withColumn("rrf", rrf)
        .withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") <= 5)
        .select("q_id", "doc_id", "lex_rank", "emb_rank", "rrf")
    )


# B4 scale path #3: product quantization (PQ) — asymmetric-distance
# scoring over 12-byte codes + exact shortlist re-rank; completes the
# ANN trio (hyperplane LSH / IVF inverted lists / PQ compressed codes),
# and composes with IVF as IVF-PQ at 1e9+ vectors.  Rows-only (the
# quantizer has no SQL analogue); recall vs exact knn pinned in
# tests/test_similarity.py.  Every build trains its codebooks (hash seeds
# + fixed-point Lloyd like IVF, so deterministic); a session that
# encodes-and-probes many times passes ``books=`` (from V.pq_codebooks).


# m=16 subspaces x 64 centroids = 6-bit codes x 16 = 12 bytes/vector, a
# 21x compression of the 64-dim float32 column; on the near-isotropic
# synthetic embeddings (the hard case for every quantizer here, cf. the
# sim_ann_ivf nprobe note) this setting measures recall 1.0 at
# shortlist=50 (1% of the corpus) vs exact knn.
@register(
    "sim_ann_pq",
    tier="B",
    cost_note=(
        "3 chained jobs by construction: bounded query-set collect, fused "
        "encode+ADC mapInPandas over the corpus (broadcast-built shortlist, "
        "batch-local exact top-shortlist pruning), exact re-rank join with "
        "the shortlist broadcast + top-k; per-job floors plus one Arrow stage "
        "dominate at bench scale (2000 vectors). Every bench sample pays "
        "codebook training: the builder keeps no trained codebooks between "
        "calls. Training costs ~+1.0 s "
        "(same-session cold 1.90/2.11 s vs warm 1.00-1.17 s), so the row "
        "reads ~2.5-3.5 s cold (samples [3.45, 3.59, 2.79]) against a warm "
        "1.1-1.5 s envelope. A 4.2-4.6 s slow mode is PQ-plan-specific, not a "
        "cold cache and not box-wide load: in two slow artifacts sim_ann_pq "
        "read 2.56x/2.75x its fast twins while the median query read "
        "1.17x/1.00x. Its three chained short-task Arrow stage barriers make "
        "it the bench's most straggler-sensitive plan, where one delayed "
        "worker gates the whole stage; the sidecar's per-pass samples show "
        "whether a slow min rode a sustained window. Measured non-change: "
        "speculative execution is worse on local[32] (min-of-4 rotated "
        "fresh-session: off 6.52 vs spec 7.59 s; family total 10.26 vs 11.35 "
        "s), since duplicated tasks compete for the same cores; re-evaluate "
        "on a real cluster where stragglers are node-local"
    ),
)
def sim_ann_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "embeddings")
    return V.knn_ann_pq(
        e,
        k=5,
        dim=64,
        m=16,
        ksub=64,
        shortlist=50,
        query_filter=F.col("vec_id") < 10,
    )
