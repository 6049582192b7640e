"""Dedup/key tier queries (SURVEY.md A8-A10, B1-B2 + extensions).

Wraps operators/dedup.py.  The fuzzy family runs on the documents table;
hash-seeded variants (MinHash, SimHash) have no portable SQL oracle — the
engine-side xxhash64 is not available in DuckDB — so they are rows-only
here and recall-verified against exact Jaccard in tests/.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ub_etl_spark.operators import dedup as D
from ub_etl_spark.operators import merge as M
from ub_etl_spark.registry import REGISTRY, register
from ub_etl_spark.sources.tables import load_table as T


# B1: exact dedup (re-applied batch collapses to one copy)
@register(
    "dedup_exact",
    tier="B",
    oracle="""
    SELECT DISTINCT doc_id, lang, source FROM (
      SELECT doc_id, lang, source FROM documents
      UNION ALL
      SELECT doc_id, lang, source FROM documents
    ) t
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = T(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    doubled = d.unionByName(d)
    return D.dedup_exact(doubled)


# A8: get-or-insert -> dim build with contiguous surrogate keys +
# broadcast FK resolution (scripts/course_catalog.py:65-87)
@register(
    "dedup_get_or_insert",
    tier="A",
    oracle="""
    WITH dim AS (
      SELECT p_brand, CAST(ROW_NUMBER() OVER (ORDER BY p_brand) AS BIGINT) AS dim_id
      FROM (SELECT DISTINCT p_brand FROM part) t
    )
    SELECT p_partkey, p_brand, dim_id FROM part JOIN dim USING (p_brand)
    """,
)
def dedup_get_or_insert(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = T(spark, sf_dir, "part")
    dim = D.build_dim(p, ["p_brand"], contiguous=True)
    return D.resolve_fk(p, dim, ["p_brand"]).select("p_partkey", "p_brand", "dim_id")


# A9: FK bridge construction (course_categories,
# scripts/course_catalog.py:113-114)
@register(
    "bridge_join",
    tier="A",
    oracle="""
    SELECT DISTINCT o_orderkey, c_nationkey
    FROM orders JOIN customer ON o_custkey = c_custkey
    """,
)
def bridge_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders")
    c = T(spark, sf_dir, "customer")
    return (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select("o_orderkey", "c_nationkey")
        .dropDuplicates(["o_orderkey", "c_nationkey"])
    )


# A10: insert-if-absent as left anti-join + union
# (ON CONFLICT DO NOTHING, scripts/course_catalog.py:99)
@register(
    "insert_ignore_antijoin",
    tier="A",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders WHERE o_orderkey % 3 = 0
    UNION ALL
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    WHERE o_orderkey % 2 = 0 AND o_orderkey % 3 <> 0
    """,
)
def insert_ignore_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
    existing = o.filter(F.col("o_orderkey") % 3 == 0)
    incoming = o.filter(F.col("o_orderkey") % 2 == 0)
    return M.insert_if_absent(existing, incoming, ["o_orderkey"])


# B2: near-dup text dedup — exact n-gram Jaccard (the verification
# primitive; SQL-expressible, so fully oracle-checked)
@register(
    "dedup_fuzzy",
    tier="B",
    oracle="""
    WITH toks AS (
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
    )
    SELECT id_a, id_b, sa.n_sh AS n_a, sb.n_sh AS n_b, n_common,
           n_common / (sa.n_sh + sb.n_sh - n_common) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE n_common / (sa.n_sh + sb.n_sh - n_common) >= 0.25
    """,
)
def dedup_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    # drop sub-shingle docs on the Spark side too: shingle_rows would give
    # them a whole-text shingle, the oracle's `len(t) >= 3` gives them none
    # (latent divergence; current corpora have >= 10 tokens everywhere)
    docs = T(spark, sf_dir, "documents").filter(
        (F.col("doc_id") < 400) & (F.size(F.split("text", " ")) >= 3)
    )
    return D.exact_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.25)


# B2 scale path: MinHash + banded LSH over the FULL corpus (no doc_id cap —
# LSH is the operator whose cost must stay near-linear in corpus size;
# xxhash64 seeds have no portable oracle).  Operating point bands=8 x
# rows_per=2: measured recall 1.0 vs exact Jaccard@0.5 at this setting,
# pinned >= 0.9 in tests/test_dedup.py.
@register(
    "dedup_minhash_lsh",
    tier="B",
    oracle=None,
    cost_note=(
        "rows-only (no oracle): shingle -> 64-perm minhash signature -> "
        "banded bucket self-join + candidate-only Jaccard verify, with the "
        "shingle/signature frames persisted for the two band consumers "
        "(tracked_persist, operators/dedup.py); never all-pairs, recall 1.0 pinned in "
        "BOUNDS.json, 1.2x@10x in SCALING.md; the cost is the signature "
        "build, linear in corpus bytes"
    ),
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents")
    return D.minhash_lsh_pairs(docs, "doc_id", "text", n=3, num_perm=16, bands=8, threshold=0.25)


# SimHash near-dup (bit-sketch variant; rows-only for the same reason).
# 8 chunks x 8 bits: pigeonhole-complete ONLY for hamming <= n_chunks-1
# = 7, so the threshold must not exceed 7 (a distance-8 pair can differ in
# every chunk and never co-bucket); measured recall 0.96 vs exact
# Jaccard@0.5 at this point, pinned >= 0.9 in tests/test_dedup.py.
@register(
    "dedup_simhash",
    tier="B",
    oracle=None,
    cost_note=(
        "rows-only (no oracle): 64-bit simhash (collect_set hash sets + one "
        "Arrow bit-sum/sign-pack pass, instead of a 64-column sum aggregate "
        "behind a string-dedup exchange) + 8-chunk pigeonhole block join + "
        "hamming verify on candidates only (precision/recall pinned in "
        "BOUNDS.json); cost is the signature build, linear in corpus bytes. "
        "2.97 s -> ~1.6 s min-of-3 from the Arrow pass"
    ),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents")
    return D.simhash_pairs(docs, "doc_id", "text", max_hamming=7, n_chunks=8)


# Cluster assignment over near-dup pairs: connected components with the
# min member id as canonical — the step a dedup pipeline runs after pair
# generation.  Oracle: recursive CTE transitive closure over the same
# exact-Jaccard pairs (fully value-checked, including singletons).
def _cc_inputs(spark: SparkSession, sf_dir: str):
    """Shared (docs, pairs) for both CC twins — they MUST stay identical
    for the common recursive-CTE oracle and the equal-components
    guarantee to hold.  Node set matches dedup_fuzzy's short-doc guard so
    cluster rows align with the oracle's `len(t) >= 3` restriction."""
    docs = T(spark, sf_dir, "documents").filter(
        (F.col("doc_id") < 400) & (F.size(F.split("text", " ")) >= 3)
    )
    pairs = D.exact_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.25).select(
        "id_a", "id_b"
    )
    return docs, pairs


@register(
    "dedup_cluster_cc",
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
    )
    SELECT id AS doc_id, MIN(label) AS cluster_id,
           (id = MIN(label)) AS is_canonical
    FROM reach GROUP BY id
    """,
    cost_note=(
        "iterative connected components: O(log n) label-propagation rounds, "
        "each a Spark job; iteration machinery dominates at bench scale; "
        "raced on a diameter-120 chain in tests; dedup_cluster_cc_star is the "
        "2-round large/small-star twin"
    ),
    ratio_exception=True,
)
def dedup_cluster_cc(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs, pairs = _cc_inputs(spark, sf_dir)
    cc = D.connected_components(docs, pairs, "doc_id")
    return cc.withColumn("is_canonical", F.col("doc_id") == F.col("cluster_id"))


# B71: the same cluster assignment via alternating large-star/small-star
# (Kiveris et al.) — O(log n) rounds regardless of graph diameter, the
# scale path for deep near-dup chains and entity-resolution graphs
# where min-label propagation's round count tracks the diameter.  Same
# recursive-CTE oracle as dedup_cluster_cc: both algorithms must land on
# identical components, and tests additionally race them on a
# diameter-120 chain.
@register(
    "dedup_cluster_cc_star",
    tier="B",
    oracle=REGISTRY["dedup_cluster_cc"].oracle,
    cost_note=(
        "large-star/small-star CC: 2 fixed label-propagation rounds, each a "
        "keyed agg job + convergence check; iteration machinery at bench "
        "scale; O(log n) rounds independent of diameter at 100TB (raced on a "
        "diameter-120 chain in tests)"
    ),
)
def dedup_cluster_cc_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs, pairs = _cc_inputs(spark, sf_dir)
    cc = D.connected_components_star(docs, pairs, "doc_id")
    return cc.withColumn("is_canonical", F.col("doc_id") == F.col("cluster_id"))


# Exact-substring span dedup (Lee et al. 2022): cross-document repeated
# K-token spans, detected exactly (hash candidate pass + string verify
# pass — see operators/dedup.substring_spans) and merged by interval
# union into maximal spans.  K=20 here against the ~56-token synthetic
# docs; the real-world default is 50 (the paper's threshold) — the plan
# is K-independent.  The oracle groups the k-gram STRINGS directly; the
# engine's xxhash64 pass is a candidate filter only, so both sides are
# exact and the driver hash-checks values.
@register(
    "dedup_substring_span",
    tier="B",
    oracle="""
    WITH toks AS MATERIALIZED (
      SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ), sh AS MATERIALIZED (
      SELECT doc_id, u - 1 AS pos, array_to_string(t[u:u+19], ' ') AS s
      FROM toks, unnest(range(1, len(t) - 18)) AS r(u)
    ), dup AS MATERIALIZED (
      SELECT s FROM sh GROUP BY s HAVING count(DISTINCT doc_id) >= 2
    ), hit AS MATERIALIZED (
      SELECT sh.doc_id, sh.pos FROM sh JOIN dup USING (s)
    ), brk AS (
      -- equal-length [pos, pos+20) intervals sorted by pos: merge iff
      -- gap <= 20, so lag() is the exact running-max-end test
      SELECT doc_id, pos,
             CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 20
                  THEN 1 ELSE 0 END AS b
      FROM hit
    ), grp AS (
      SELECT doc_id, pos,
             sum(b) OVER (PARTITION BY doc_id ORDER BY pos) AS g
      FROM brk
    )
    SELECT doc_id,
           min(pos) AS span_start,
           max(pos) + 20 AS span_end,
           max(pos) + 20 - min(pos) AS span_tokens,
           count(*) AS n_grams
    FROM grp
    GROUP BY doc_id, g
    """,
    cost_note=(
        "exact-substring span dedup (Lee et al. 2022) is a 2-pass exact plan "
        "by design: pass 1 hashes every token offset's k=20-gram (map-only, "
        "0.34 s at sf0.1) and keeps hashes seen in >=2 distinct docs (hash "
        "agg + broadcast semi probe; cumulative 1.05 s), pass 2 "
        "re-materializes candidate k-gram strings and re-verifies on them "
        "(collision-free exact), then the interval-union span fold: 2.0-2.5 s "
        "full under load ~4, 1.38 s quiet min-of-6, vs one single-node DuckDB "
        "pass (oracle ~0.9 s). Measured non-changes: a single-pass "
        "groupBy(h)+collect_list(struct(doc_id,pos)) that avoids recomputing "
        "pass 1 for the probe read 2.12 vs 2.04 s same-session min-of-5 (the "
        "struct payload exchange + per-hash array build costs what the "
        "recomputed 0.34 s map pass costs, and a hot boilerplate k-gram at "
        "100 TB would land all its (doc,pos) rows in one task where the "
        "shipped countDistinct form spreads (h,doc) partials); scan fan-out "
        "2.42 vs 1.83 s; persisting the exploded corpus rejected (caching "
        "n_tokens rows does not survive 1000 executors). Residue = per-stage "
        "floors of the 5-job chain at bench scale"
    ),
)
def dedup_substring_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = T(spark, sf_dir, "documents")
    return D.substring_spans(docs, "doc_id", "text", k=20, min_docs=2)
