"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Exact dedup + surrogate-key dimension build re-express the reference's
get_or_insert (scripts/course_catalog.py:65-87).  The fuzzy family is the
north-star LLM-pipeline surface (BASELINE.json): all are pure DataFrame
compositions — shingle -> hash -> band -> co-bucket join -> verify — with
no Python in the hot path (xxhash64 / bit ops are JVM codegen'd).

Scale notes (100 TB):
  - the LSH band join shuffles on (band_id, band_hash); band hashes are
    near-uniform so no skew. Candidate verification joins doc payloads
    back by id — a hash join on the doc-id, broadcastable per-bucket.
  - exact-Jaccard verification is O(candidate pairs), not O(n^2): LSH
    bounds the candidate set.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from ub_etl_spark.session import tracked_checkpoint, tracked_persist

# Frames consumed by several branches of one plan (the shingle set feeds the
# signature aggregate AND both sides of the verify join) are persisted
# explicitly: Catalyst's ReuseExchange only kicks in when two exchange
# subplans canonicalize identically, which the mirrored self-join branches
# here defeat — measured: 8 parquet scans per LSH query without the persist,
# 2 with it.  tracked_persist (MEMORY_AND_DISK_DESER, so the 100 TB path
# spills instead of OOMing) registers each for session.release_persisted().


def dedup_exact(df: DataFrame, keys: Sequence[str] | None = None) -> DataFrame:
    """Exact dedup: full-row or by natural key (SURVEY.md B1)."""
    return df.dropDuplicates(list(keys)) if keys else df.dropDuplicates()


def dedup_keyed_latest(df: DataFrame, keys: Sequence[str], order_by: Sequence[str]) -> DataFrame:
    """Keep the most recent row per key (reference upsert shape, A11)."""
    w = W.partitionBy(*keys).orderBy(*[F.desc(c) for c in order_by])
    return df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")


def build_dim(
    df: DataFrame, natural_key: Sequence[str], contiguous: bool = True
) -> DataFrame:
    """Deduplicated dimension with surrogate key (get_or_insert, A8).

    contiguous=True: row_number over a global order — exact SERIAL semantics
    but single-partition window; use only for small dims (they are small by
    definition here — categories/subcategories).  contiguous=False: xxhash64
    of the natural key — shuffle-free, collision-checked by uniqueness of
    the natural key itself, the 100 TB path.
    """
    dim = df.select(*natural_key).dropDuplicates(list(natural_key))
    if contiguous:
        w = W.orderBy(*natural_key)
        return dim.withColumn("dim_id", F.row_number().over(w).cast("bigint"))
    return dim.withColumn("dim_id", F.xxhash64(*natural_key))


def resolve_fk(facts: DataFrame, dim: DataFrame, natural_key: Sequence[str]) -> DataFrame:
    """Broadcast-join facts to the dim to attach dim_id (A8/A9): the
    set-oriented replacement for the reference's per-record SELECT
    (scripts/course_catalog.py:69-71)."""
    return facts.join(F.broadcast(dim), list(natural_key), "left")


# ---------------------------------------------------------------------------
# Shingling + fuzzy dedup
# ---------------------------------------------------------------------------

def shingle_rows(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    distinct: bool = True,
    lower: bool = False,
    short_docs: bool = True,
) -> DataFrame:
    """Distinct (doc_id, shingle) rows, codegen-friendly and shuffle-free.

    posexplode the token array and build each n-gram with element_at on the
    retained array — plain expressions, so the whole stage (scan -> split ->
    generate -> project) compiles into one WholeStageCodegen span; no HOF
    interpretation, no window, no shuffle.  ~10x faster than a transform()
    (higher-order function) formulation on the documents corpus.

    Short texts (< n tokens) contribute the whole text as one shingle —
    UNLESS short_docs=False, the containment family's convention (their
    oracle's empty generate_series drops sub-n docs entirely; r12 makes
    this helper the single source of the gram subplan for BOTH containment
    forms so the banded twin's bit-equal-score guarantee cannot drift from
    the exact form's tokenization).

    distinct=False skips the (doc_id, shingle) dedup shuffle — for
    consumers whose downstream aggregate is duplicate-insensitive (min)
    or deduplicates inside the agg (collect_set), paying that shuffle
    twice is pure waste.  lower=True folds case before tokenizing
    (inside the same projection — no extra pass).
    """
    text = F.lower(F.col(text_col)) if lower else F.col(text_col)
    toks = F.split(text, " ")
    # r15 MEASURED NON-CHANGE: round-robin fan-out of the tokenized docs
    # (to spread the gram build + map-side signature partials beyond the
    # single-row-group scan task) read 16.92 s vs 15.08 s over the
    # 8-query shingle family, interleaved quiet-gated min-of-4 — the
    # n<=4 gram concat is too cheap to amortize the extra exchange +
    # stage barrier at this corpus size.  Rejected with data; the
    # compute-dense fan-out cases are handled at their call sites
    # (join_spatial_grid's probe repartition).
    base = docs.select(F.col(id_col).alias("doc_id"), toks.alias("__toks"))
    grams = (
        base.select("doc_id", "__toks", F.posexplode("__toks").alias("__pos", "__tok"))
        .filter(F.col("__pos") <= F.size("__toks") - n)
        .select(
            "doc_id",
            F.concat_ws(
                " ", *[F.element_at("__toks", F.col("__pos") + j + 1) for j in range(n)]
            ).alias("shingle"),
        )
    )
    if short_docs:
        short = base.filter(F.size("__toks") < n).select(
            "doc_id", F.concat_ws(" ", "__toks").alias("shingle")
        )
        grams = grams.unionByName(short)
    return grams.dropDuplicates(["doc_id", "shingle"]) if distinct else grams


def exact_jaccard_pairs(
    docs: DataFrame, id_col: str, text_col: str, n: int = 3, threshold: float = 0.5
) -> DataFrame:
    """All-pairs n-gram Jaccard >= threshold via shingle co-occurrence join.

    Not O(n^2): pairs only materialize for docs sharing >= 1 shingle. This is
    the verification primitive; at scale run it only on LSH candidates
    (jaccard_for_pairs below — this all-pairs form is quadratic in docs
    sharing a hot shingle).
    Output: (id_a, id_b, n_a, n_b, n_common, jaccard) with id_a < id_b.
    """
    # NOT persisted, deliberately: the shingle subplan here is a cheap fully
    # parallel codegen'd scan+explode; measured, re-computing it 3x (0.5 s
    # steady at sf0.1) beats funneling every consumer through the coalesced
    # in-memory relation (1.2 s).  minhash_lsh_pairs persists because its
    # reused subplan carries an expensive 17-aggregate groupBy.
    sh = shingle_rows(docs, id_col, text_col, n)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("id_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("id_b"), F.col("n_sh").alias("n_b"))
    out = (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    return out.select("id_a", "id_b", "n_a", "n_b", "n_common", "jaccard")


def minhash_lsh_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    num_perm: int = 16,
    bands: int = 4,
    threshold: float = 0.5,
) -> DataFrame:
    """MinHash + banded LSH candidate generation, then exact-Jaccard verify.

    bands * rows_per_band == num_perm; a pair collides if any band's rows all
    match — the classic S-curve.  Candidates are verified with exact n-gram
    Jaccard so the output has no false positives (recall is probabilistic).

    One aggregate per doc produces the num_perm minima AND the doc's
    hashed-shingle set (collect_set deduplicates inside the agg, so the
    exploded shingle stream is consumed by exactly one shuffle — no
    pre-dedup exchange, no second pass over shingle rows).  Verification
    is then array_intersect on the two compact per-doc sets joined to the
    candidate pairs — cost per candidate is |set_a| + |set_b|, never
    all-pairs, and the plan has no post-band-join re-aggregation.
    Intersecting 64-bit shingle hashes instead of strings can over-count
    n_common only on an intra-pair hash collision (P ~ |set|^2 / 2^64 —
    ~5e-12 for 10k-shingle docs).  Memory note: per-doc sets ride through
    doc_id-keyed exchanges only (never the banded explosion); for
    pathological documents (>~100k shingles) switch the verify step back
    to an exploded (doc_id, shingle) join.  Output: (id_a, id_b, jaccard).
    """
    rows_per = num_perm // bands
    sh = shingle_rows(docs, id_col, text_col, n, distinct=False)
    aggs = [
        F.min(F.xxhash64(F.lit(i), F.col("shingle"))).alias(f"h{i}") for i in range(num_perm)
    ] + [F.collect_set(F.xxhash64(F.col("shingle"))).alias("shs")]
    sig = tracked_persist(  # consumed by the band explode and both verify joins
        sh.groupBy("doc_id").agg(*aggs).withColumn("n_sh", F.size("shs"))
    )
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(*[F.col(f"h{b * rows_per + r}") for r in range(rows_per)]).alias("bh"),
        )
        for b in range(bands)
    ]
    buckets = tracked_persist(  # consumed by both sides of the band self-join
        sig.select("doc_id", F.explode(F.array(*band_cols)).alias("bk"))
        .select("doc_id", F.col("bk.band").alias("band"), F.col("bk.bh").alias("bh"))
    )
    a = buckets.alias("a")
    b = buckets.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    sa = sig.select(F.col("doc_id").alias("id_a"), F.col("shs").alias("sa"), F.col("n_sh").alias("n_a"))
    sb = sig.select(F.col("doc_id").alias("id_b"), F.col("shs").alias("sb"), F.col("n_sh").alias("n_b"))
    common = F.size(F.array_intersect("sa", "sb"))
    verified = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (common / (F.col("n_a") + F.col("n_b") - common)).alias("jaccard"),
        )
    )
    # jaccard > 0 preserves the pre-rewrite invariant that zero-overlap
    # band collisions never reach the output (the old inner shingle-join
    # dropped them structurally), even when a caller passes threshold <= 0
    # to mean "all verified candidates with scores"
    return verified.filter((F.col("jaccard") >= threshold) & (F.col("jaccard") > 0))


def containment_banded_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 4,
    num_perm: int = 16,
    bands: int = 8,
    threshold: float = 0.8,
) -> DataFrame:
    """Banded candidate generation + exact containment verify — the
    corpus-scale twin of the exact gram-join containment dedup
    (queries/behavior.text_containment_dedup names this as its scale
    lever; r11 verdict task 2 commissions it).

    Same skeleton as minhash_lsh_pairs — ONE aggregate per doc yields
    the num_perm seeded minima AND the doc's hashed-gram set, band
    explode, co-bucket self-join, verify on the compact per-doc sets —
    but the verified score is CONTAINMENT |A ∩ B| / min(|A|, |B|), and
    the gram semantics exactly match the exact form: lower(text),
    n-token shingles, docs under n tokens contribute NOTHING (no
    whole-text fallback — shingle_rows' short-doc row would diverge
    from the registered exact form's plan, whose oracle drops them).

    Why this scales where the exact form stops: the exact gram join
    materializes a row per co-occurring (gram, doc-pair) — linear in
    corpus size only until hot grams appear, then quadratic in the
    hottest gram's doc-frequency.  Here the full-corpus work is one
    groupBy(doc_id) aggregate (a single exchange keyed by doc, skew-free)
    plus a band join whose bucket sizes are capped by the S-curve, and
    verification touches CANDIDATES only, each at |set_a| + |set_b|
    cost via array_intersect.

    Recall is probabilistic and containment-skewed: a band collides
    with P = jaccard^(num_perm/bands), and a containment-c pair with
    size skew s = max/min has jaccard = c / (1 + s - c), so recall
    decays as the big side outgrows the small one (at the registered
    operating point bands=8 x rows=2, P(>=1 band) for c=0.8 is 0.99 at
    s=1 but 0.67 at s=2) — the classic asymmetric-containment LSH
    limitation.  The corpus's true pairs are near-identical twins
    (min observed pair-jaccard 0.89 at sf0.01), where recall is ~1.0;
    measured recall vs the exact form is pinned in BOUNDS.json and
    tests/test_behavior.py.  Precision is 1.0 by construction (every
    candidate is verified with exact set intersection; hashed-gram
    intersection can over-count only on an intra-pair 64-bit collision,
    P ~ |set|^2 / 2^64).  COLLISION-BUDGET ASYMMETRY vs the exact twin —
    documented deliberately (r12 ADVICE, adjudicated r13 with data): the
    exact form verifies on a 2x64-bit composite gram key (2^-128); this
    form keeps a single 64-bit element because the verify sets ride the
    doc-keyed exchange and array_intersect's primitive-long fast path —
    the composite-struct variant was BUILT and MEASURED r13
    (same-session interleaved min-of-3: 1.218s vs 1.309s at 1x, 1.420s
    vs 2.131s at 10x — struct elements leave primitive specialization
    and double set bytes, +50% where the corpus term dominates) and
    rejected.  At the banded form's charter (candidate generation whose
    output is re-checkable against the exact twin) the 2^-64 budget
    means ~1e-6 expected spurious score inflations per 1e9 candidate
    pairs — negligible against the banding's own probabilistic recall,
    which is the operator's stated error model.

    Output: (id_a, id_b, containment) with id_a < id_b, the exact
    form's schema."""
    if num_perm % bands:
        raise ValueError(
            f"num_perm ({num_perm}) must be divisible by bands ({bands}): "
            "a remainder would silently truncate the signature"
        )
    rows_per = num_perm // bands
    # the SHARED gram subplan (shingle_rows with the containment
    # family's conventions: lowercase fold, sub-n docs contribute
    # nothing) — single source with the exact form, so tokenization
    # cannot drift between the twins
    grams = shingle_rows(
        docs, id_col, text_col, n=n, distinct=False, lower=True, short_docs=False
    ).withColumnRenamed("shingle", "gram")
    aggs = [
        F.min(F.xxhash64(F.lit(i), F.col("gram"))).alias(f"h{i}")
        for i in range(num_perm)
    ] + [F.collect_set(F.xxhash64(F.col("gram"))).alias("gs")]
    # the widest frame in this plan — consumed by the band explode and
    # both verify joins
    sig = tracked_persist(
        grams.groupBy("doc_id").agg(*aggs).withColumn("n_grams", F.size("gs"))
    )
    band_cols = [
        F.struct(
            F.lit(b).alias("band"),
            F.xxhash64(
                *[F.col(f"h{b * rows_per + r}") for r in range(rows_per)]
            ).alias("bh"),
        )
        for b in range(bands)
    ]
    buckets = sig.select(
        "doc_id", F.explode(F.array(*band_cols)).alias("bk")
    ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.bh").alias("bh"))
    a = buckets.alias("a")
    b = buckets.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    sa = sig.select(
        F.col("doc_id").alias("id_a"), F.col("gs").alias("sa"), F.col("n_grams").alias("na")
    )
    sb = sig.select(
        F.col("doc_id").alias("id_b"), F.col("gs").alias("sb"), F.col("n_grams").alias("nb")
    )
    common = F.size(F.array_intersect("sa", "sb"))
    verified = (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .select(
            "id_a",
            "id_b",
            (common.cast("double") / F.least("na", "nb")).alias("containment"),
        )
    )
    return verified.filter(
        (F.col("containment") >= threshold) & (F.col("containment") > 0)
    )


def connected_components(
    nodes: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over near-dup pairs: (id, cluster_id) where
    cluster_id is the minimum member id — the canonical-doc assignment that
    follows pair generation in a dedup pipeline.

    Min-label propagation: each round joins labels across the (symmetric)
    edge set and keeps the per-node minimum; terminates when a round changes
    nothing (near-dup clusters have tiny diameters, so rounds ~ 2-4).  Each
    round is one shuffle join + one shuffle agg on the node id.  At graph
    scale the round count is cut to O(log n) with large-star/small-star
    (Kiveris et al.) — same primitive ops, different edge rewrites; the
    plain propagation is kept here because dedup graphs are
    shallow-diameter by construction.  Nodes not in any pair come out as
    singleton clusters (cluster_id = own id).
    """
    ids = nodes.select(F.col(id_col).alias("id")).dropDuplicates(["id"])
    e = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    edges = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).dropDuplicates(["src", "dst"])
    labels = tracked_checkpoint(ids.select("id", F.col("id").alias("label")))
    for _ in range(max_iter):
        msgs = edges.join(
            labels.withColumnRenamed("id", "src"), "src"
        ).select(F.col("dst").alias("id"), "label")
        new_labels = tracked_checkpoint(  # truncate lineage: plan depth stays O(1) per round
            labels.unionByName(msgs).groupBy("id").agg(F.min("label").alias("label"))
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.label") != F.col("o.label"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    else:
        # a silent wrong answer here would split clusters undetectably —
        # fail loudly instead (raise max_iter, or switch to
        # large-star/small-star for deep graphs)
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(graph diameter exceeds max_iter)"
        )
    return labels.select(F.col("id").alias(id_col), F.col("label").alias("cluster_id"))


def _simhash_pack():
    """Arrow-batch pandas UDF: array<long> of distinct shingle hashes ->
    64-bit SimHash long.  Per batch: one byte-view unpackbits into an
    (N, 64) uint8 bit matrix, one segmented reduceat per doc, one
    sign-pack — all integer numpy, so the result is order-independent
    and exactly equal to the old per-bit sum-aggregate formulation.
    Transient memory is ~1 byte per shingle-bit (r7 ADVICE: the earlier
    ``flat[:, None] >> shifts`` form materialized a (total, 64) uint64 —
    8 bytes per bit — which maxRecordsPerBatch does NOT bound, since it
    caps rows, not total set sizes).  The +-1 matrix is never built:
    per-doc +-1 sums are recovered arithmetically as 2*bitsum - len.
    Built lazily so importing the module never touches a SparkSession."""
    from pyspark.sql.types import LongType

    @F.pandas_udf(LongType())
    def pack(hs):
        import numpy as np
        import pandas as pd

        arrs = hs.to_numpy()
        if len(arrs) == 0:
            return pd.Series([], dtype="int64")
        # collect_set groups are never empty (every doc contributes >= 1
        # shingle), so reduceat's empty-segment quirk can't trigger.
        lens = np.fromiter((len(a) for a in arrs), dtype=np.int64, count=len(arrs))
        # force little-endian so the byte view maps bit j of hash i to
        # bits[i, j] under bitorder="little" (no-copy on LE hosts)
        flat = np.ascontiguousarray(np.concatenate(arrs)).astype("<u8", copy=False)
        bits = np.unpackbits(
            flat.view(np.uint8).reshape(-1, 8), axis=1, bitorder="little"
        )
        offsets = np.zeros(len(arrs), dtype=np.int64)
        np.cumsum(lens[:-1], out=offsets[1:])
        bitsums = np.add.reduceat(bits, offsets, axis=0, dtype=np.int64)
        # sum over {-1,+1} == 2*(count of 1-bits) - (count of elements)
        shifts = np.arange(64, dtype=np.uint64)
        packed = (
            ((2 * bitsums - lens[:, None] > 0)).astype(np.uint64) << shifts
        ).sum(axis=1, dtype=np.uint64)
        return pd.Series(packed.view(np.int64))

    return pack


def simhash64(docs: DataFrame, id_col: str, text_col: str, n: int = 2) -> DataFrame:
    """64-bit SimHash per doc: (doc_id, sh).

    One shuffle on doc_id: shingles explode without a pre-dedup exchange,
    xxhash64 runs codegen map-side, and collect_set deduplicates inside
    the aggregate (map-side partial) — the minhash_lsh_pairs shape.  The
    per-doc bit sums + sign-pack then run in ONE Arrow batch pass over
    the compact hash sets (_simhash_pack) instead of a 64-column sum
    aggregate + 64-deep assemble expression; output bits are identical
    (integer sums are order-independent; a within-doc xxhash64 collision,
    P ~ |set|^2/2^64, is the only divergence).  r7 rework: the old shape
    paid a (doc_id, shingle-string) dedup exchange plus ~2.5s of
    driver-side expression construction per build — 2.9s -> ~1.1s at
    sf0.1.  Memory note mirrors minhash_lsh_pairs: per-doc hash sets ride
    doc_id-keyed exchanges only; for pathological documents (>~100k
    shingles) switch back to an exploded per-bit sum aggregate.
    """
    hashed = shingle_rows(docs, id_col, text_col, n, distinct=False).select(
        "doc_id", F.xxhash64("shingle").alias("h")
    )
    # (single consumer — no persist needed here; simhash_pairs persists the
    # chunked frame it self-joins)
    sets = hashed.groupBy("doc_id").agg(F.collect_set("h").alias("hs"))
    return sets.select("doc_id", _simhash_pack()(F.col("hs")).alias("sh"))


def hamming_pairs(
    hashes: DataFrame,
    id_col: str = "doc_id",
    hash_col: str = "sh",
    max_hamming: int = 3,
    n_chunks: int = 4,
) -> DataFrame:
    """All pairs within Hamming ``max_hamming`` of a 64-bit hash column,
    via chunk-pigeonhole banding (generic core shared by SimHash text
    dedup and perceptual-hash media dedup).

    Split the 64-bit hash into ``n_chunks`` equal bit chunks; any pair
    within Hamming n_chunks-1 must agree on >= 1 chunk (pigeonhole), so
    the co-bucket join on chunks finds ALL of them without O(n^2) —
    choose n_chunks > max_hamming for guaranteed-complete candidates
    (recall 1.0 by construction); n_chunks <= max_hamming trades recall
    for smaller buckets.  Output: (id_a, id_b, hamming), id_a < id_b.
    """
    assert 64 % n_chunks == 0, "n_chunks must divide 64"
    bits = 64 // n_chunks
    mask = (1 << bits) - 1
    sh = hashes.select(F.col(id_col).alias("doc_id"), F.col(hash_col).alias("sh"))
    chunks = sh.select(
        "doc_id",
        "sh",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("chunk"),
                        F.shiftright(F.col("sh"), bits * c).bitwiseAND(F.lit(mask)).alias("cv"),
                    )
                    for c in range(n_chunks)
                ]
            )
        ).alias("ck"),
    ).select("doc_id", "sh", F.col("ck.chunk").alias("chunk"), F.col("ck.cv").alias("cv"))
    chunks = tracked_persist(chunks)  # both sides of the chunk self-join
    a = chunks.alias("a")
    b = chunks.alias("b")
    return (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.cv") == F.col("b.cv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.bit_count(F.col("a.sh").bitwiseXOR(F.col("b.sh"))).alias("hamming"),
        )
        # filter BEFORE the dedup: the Hamming cut runs codegen on the
        # join output map-side, so the dropDuplicates shuffle carries
        # only surviving near-dup pairs — not the full band-candidate
        # set, which is quadratic in skewed co-buckets (measured 25x on
        # the sf0.1 pHash graph: 7.4s -> 0.3s).  A pair colliding in
        # several bands still reaches the output exactly once.
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


def simhash_pairs(
    docs: DataFrame, id_col: str, text_col: str, max_hamming: int = 3, n_chunks: int = 4
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= max_hamming (the
    chunk-pigeonhole candidate join lives in hamming_pairs)."""
    return hamming_pairs(
        simhash64(docs, id_col, text_col),
        max_hamming=max_hamming,
        n_chunks=n_chunks,
    )


def connected_components_star(
    nodes: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components via alternating large-star/small-star (Kiveris
    et al., "Connected Components in MapReduce and Beyond") — the
    O(log n)-round scale path named by connected_components' docstring,
    for graphs whose diameter outgrows min-label propagation (long chains
    of borderline near-dups, entity-resolution graphs).

    Each round is two edge rewrites, both one groupBy + one join away:
      large-star(u): every neighbor v > u re-points to m = min(N(u) u {u})
      small-star(u): every neighbor v <= u (and u itself) points to m
    The edge set monotonically contracts toward stars whose centers are
    the component minima; termination = the canonical edge set stops
    changing (count + order-independent hash — cheap, no full diff).
    Output matches connected_components exactly: (id, cluster_id = min
    member id), singletons included — including edge endpoints absent
    from `nodes` (min-label propagation surfaces those too, via the
    label union; the id set here is nodes ∪ endpoints for parity).
    """
    # checkpoint the pair computation ONCE: both the round-1 edge set and
    # the final `ids` frame read from it — without this, `ids`' lineage
    # re-runs the (potentially expensive) pair-generation join a second
    # time at the final assignment join
    e0 = tracked_checkpoint(
        pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .filter(F.col("u") != F.col("v"))
    )
    ids = (
        nodes.select(F.col(id_col).alias("id"))
        .unionByName(e0.select(F.col("u").alias("id")))
        .unionByName(e0.select(F.col("v").alias("id")))
        .dropDuplicates(["id"])
    )

    def _sym(e: DataFrame) -> DataFrame:
        return e.unionByName(
            e.select(F.col("v").alias("u"), F.col("u").alias("v"))
        ).dropDuplicates(["u", "v"])

    def _star(e_sym: DataFrame, large: bool) -> DataFrame:
        # m(u) = min over N(u) and u itself
        m = e_sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        nb = e_sym.join(m, "u")
        cond = F.col("v") > F.col("u") if large else F.col("v") <= F.col("u")
        out = nb.filter(cond).select(F.col("v").alias("u"), F.col("m").alias("v"))
        if not large:
            out = out.unionByName(m.select("u", F.col("m").alias("v")))
        return out.filter(F.col("u") != F.col("v")).dropDuplicates(["u", "v"])

    def _sig(e: DataFrame) -> tuple[int, int]:
        lo, hi = F.least("u", "v"), F.greatest("u", "v")
        row = (
            e.select(lo.alias("a"), hi.alias("b"))
            .dropDuplicates(["a", "b"])
            .agg(
                F.count(F.lit(1)).alias("n"),
                # bit_xor: order-independent and overflow-free under ANSI
                # (a 64-bit hash SUM would overflow long and abort)
                F.bit_xor(F.xxhash64("a", "b")).alias("h"),
            )
            .collect()[0]
        )
        return row.n, row.h

    # invariant: `edges` is symmetric at every loop entry (initialized and
    # reassigned through _sym), so no re-symmetrization inside the round
    edges = tracked_checkpoint(_sym(e0))
    sig = _sig(edges)
    for _ in range(max_iter):
        prev = edges
        edges = _sym(_star(edges, large=True))
        edges = tracked_checkpoint(_sym(_star(edges, large=False)))
        new_sig = _sig(edges)
        if new_sig == sig:
            # (count, xor-of-hashes) is probabilistic; confirm the
            # fixpoint exactly before terminating (ADVICE r2).  Counts are
            # equal by signature, so one-sided exceptAll proves set
            # equality — and it runs once per converged execution.
            if prev.exceptAll(edges).isEmpty():
                break
        sig = new_sig
    else:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iter} rounds"
        )
    # converged: stars — every node's min neighbor (or itself) is the root
    assign = (
        edges.groupBy("u")
        .agg(F.least(F.min("v"), F.first("u")).alias("cluster_id"))
        .select(F.col("u").alias("id"), "cluster_id")
    )
    return (
        ids.join(assign, "id", "left")
        .select(
            F.col("id").alias(id_col),
            F.coalesce("cluster_id", F.col("id")).alias("cluster_id"),
        )
    )


# ---------------------------------------------------------------------------
# Exact-substring span dedup (Lee et al. 2022)
# ---------------------------------------------------------------------------

def substring_spans(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 20,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document repeated k-token span detection (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better" — the
    exact-substring dedup standard for LLM pretraining; their suffix-array
    formulation is single-machine, this is the shuffle-native equivalent).

    Two exact passes, so the result is IDENTICAL to grouping the k-token
    substrings themselves, at hash shuffle cost:

      pass 1 (candidate): every token offset emits xxhash64 of its
        k-gram — posexplode + element_at + concat_ws, one WholeStageCodegen
        span, no HOF interpretation — then a hash agg keeps hashes seen in
        >= min_docs distinct docs.  Only (hash, doc_id, pos) rows cross
        the exchanges; the k-token strings never shuffle in this pass.
      pass 2 (verify): candidate offsets re-materialize their actual
        k-gram STRING (per-doc candidate offset lists join back to the
        token arrays — the candidate side is the small side, AQE
        broadcast) and the >= min_docs distinct-doc test re-runs on the
        string itself.  A hash collision can only ADD a candidate in
        pass 1; pass 2 removes it, so the output is collision-free exact.

    Matched offsets then merge by interval union of [pos, pos+k) via
    intervals.coalesce_token_spans (overlap/touch => one maximal span —
    NOT consecutive-offset islands: offsets p and p+5 both matching must
    fuse into [p, p+5+k)).

    100 TB shape: pass-1 shuffles are ~(8B hash + ints) per token — the
    same order as the tokenized corpus itself; pass-2 cost is bounded by
    the duplicated fraction; the span fold's per-doc array is bounded by
    doc token count.  The k-gram subplan is recomputed (map-only) rather
    than persisted: caching n_tokens exploded rows is the thing that
    would NOT survive 1000 executors.

    Output: (doc_id, span_start, span_end, span_tokens, n_grams) with
    span_end token-exclusive.  Docs shorter than k tokens emit nothing
    (no full window exists), matching the oracle's empty range().
    """
    from ub_etl_spark.operators.intervals import coalesce_token_spans

    # r15 MEASURED NON-CHANGE: a round-robin repartition of the tokenized
    # docs (to spread the k-gram hash pass beyond the single-row-group
    # scan task) read 2.42 s vs 1.83 s min-of-6 quiet-gated — the extra
    # exchange + stage barrier costs more than the 1-task concat+hash
    # pass it parallelizes at this corpus size.  Rejected with data.
    toks = docs.select(
        F.col(id_col).alias("doc_id"), F.split(F.col(text_col), " ").alias("__toks")
    )
    # r15 (guide §1.2 per-task work): hash the k tokens as SEPARATE
    # xxhash64 arguments instead of materializing a ~100-char concat_ws
    # string per token offset just to hash it.  The pass-1 hash only has
    # to respect k-gram EQUALITY (equal token windows must hash equal;
    # collisions are removed by the pass-2 string verify, misses cannot
    # happen for equal windows) — and the multi-arg form is strictly
    # more precise than concat_ws, which conflated token boundaries
    # ("a b"+"c" vs "a"+"b c").  Output is bit-identical by the pass-2
    # verify construction; pytest twin + sf0.001 brute-force oracle
    # re-verified.  Quiet-gated min-of-6 at sf0.1: 1.83 s -> 1.38 s
    # (same method as the fan-out rejection above).
    sh_h = (
        toks.select("doc_id", "__toks", F.posexplode("__toks").alias("pos", "__tok"))
        .filter(F.col("pos") <= F.size("__toks") - k)
        .select(
            "doc_id",
            "pos",
            F.xxhash64(
                *[F.element_at("__toks", F.col("pos") + j + 1) for j in range(k)]
            ).alias("h"),
        )
    )
    # r16 MEASURED NON-CHANGE (the r15-verdict "pass-1 double
    # computation" lever): a single-pass groupBy(h) + collect_list(
    # struct(doc_id, pos)) + size(array_distinct)>=min_docs + explode —
    # which computes sh_h once instead of twice — read 2.12 s vs this
    # form's 2.04 s (same-session rotated min-of-5; the recomputed hash
    # pass is only 0.34 s map-only).  The struct-payload exchange plus
    # per-hash array build costs what it saves, and at 100 TB a hot
    # boilerplate k-gram would land ALL its (doc_id, pos) rows in one
    # task's collect_list, where this form's countDistinct spreads
    # (h, doc_id) partials map-side.  Rejected with data; output parity
    # checked in-session (413/413 rows at sf0.1).
    dup_h = (
        sh_h.groupBy("h")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("h")
    )
    cand = sh_h.join(dup_h, "h", "left_semi").select("doc_id", "pos")

    cand_pos = cand.groupBy("doc_id").agg(F.collect_list("pos").alias("__ps"))
    # verify rows are candidate-only (small by construction) and feed two
    # consumers (the string agg and the semi-join probe) -> persist them,
    # not the full k-gram subplan
    ver = tracked_persist(
        toks.join(cand_pos, "doc_id")
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    "__ps",
                    lambda p: F.struct(
                        p.alias("pos"),
                        F.concat_ws(" ", F.slice("__toks", p + 1, k)).alias("s"),
                    ),
                )
            ).alias("x"),
        )
        .select("doc_id", F.col("x.pos").alias("pos"), F.col("x.s").alias("s"))
    )
    good_s = (
        ver.groupBy("s")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("s")
    )
    matched = ver.join(good_s, "s", "left_semi").select("doc_id", "pos")
    return coalesce_token_spans(matched, "doc_id", "pos", k)
