"""Quantitative bounds for the rows-only (no-oracle) queries.

The 9 registered queries without a cross-engine oracle (sketches, ANN,
MMR) carry their guarantees only as pytest assertions; the driver
artifact shows them as bare `no_oracle` rows.  This script MEASURES each
guarantee against the exact answer at a given scale factor and writes
BOUNDS.json — {query: {pinned_bound, measured, unit, op_point, pass}} —
so the artifact carries the quantitative claim, not just a green test
run (VERDICT r2 ask #5).

Usage:
    python tools/bounds.py [--sf /root/testdata/sf0.01] [--out BOUNDS.json]
"""

from __future__ import annotations

import argparse
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import numpy as np  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from ub_etl_spark.operators import dedup as D  # noqa: E402
from ub_etl_spark.operators import vectors as V  # noqa: E402
from ub_etl_spark.queries.sketches import (  # noqa: E402
    PROBE_TERMS,
    agg_cms_term_counts,
    agg_hll_mergeable,
)
from ub_etl_spark.session import get_spark, release_persisted  # noqa: E402
from ub_etl_spark.sources.tables import load_table  # noqa: E402


def bound_hll(spark, sf) -> dict:
    """Max relative error of the per-group + union HLL estimates."""
    got = {r.o_orderstatus: r.est_distinct for r in agg_hll_mergeable(spark, sf).collect()}
    o = load_table(spark, sf, "orders")
    exact = {
        r.o_orderstatus: r.n
        for r in o.groupBy("o_orderstatus")
        .agg(F.countDistinct("o_custkey").alias("n"))
        .collect()
    }
    exact["ALL"] = o.agg(F.countDistinct("o_custkey")).first()[0]
    err = max(abs(got[k] - exact[k]) / max(exact[k], 1) for k in exact)
    # r14 MEASURED-AND-REJECTED: a register-exact mergeability pin
    # (union of per-group sketches estimates EXACTLY what one global
    # sketch estimates) was built and measured FALSE at sf0.01 — merged
    # 1488 vs global 1492.  The Datasketches union gadget promotes
    # sparse/coupon-mode inputs to dense HLL_8, while a directly-built
    # sketch at this cardinality stays in its more accurate sparse
    # representation, so the two estimates legitimately differ inside
    # the error bound.  Mergeability here is a BOUNDED property, not a
    # deterministic one; the relative-error bound above (which the
    # ALL row exercises through the union path) is the right claim.
    return {
        "pinned_bound": 0.05,
        "measured": round(err, 4),
        "unit": "max_relative_error",
        "op_point": "hll_sketch_agg default lgConfigK=12 (stderr ~1.6%), 3-sigma bound",
        "pass": err <= 0.05,
    }


def bound_cms(spark, sf) -> dict:
    """CMS never undercounts; overcount <= eps*N (eps=1e-4, conf 0.99).
    measured = worst overcount as a fraction of the eps*N allowance."""
    got = {r.term: r.est_count for r in agg_cms_term_counts(spark, sf).collect()}
    toks = load_table(spark, sf, "documents").select(
        F.explode(F.split("text", " ")).alias("term")
    )
    total = toks.count()
    exact = {
        r.term: r.n
        for r in toks.filter(F.col("term").isin(PROBE_TERMS))
        .groupBy("term")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    allowance = 0.0001 * total + 1
    worst = max((got[t] - exact.get(t, 0)) / allowance for t in PROBE_TERMS)
    undercount = any(got[t] < exact.get(t, 0) for t in PROBE_TERMS)
    return {
        "pinned_bound": 1.0,
        "measured": round(worst, 4),
        "unit": "max_overcount / (eps*N) allowance; undercount forbidden",
        "op_point": f"eps=1e-4 conf=0.99 seed=42, N={total}, probes={PROBE_TERMS}",
        "pass": (worst <= 1.0) and not undercount,
        # surfaced as its own row (r14): one-sidedness is deterministic
        # by construction (CMS cells only increment), so "no probe term
        # undercounts" is a hash-grade claim, not a bound.
        "deterministic_subset": {
            "claim": "no probe term undercounts (CMS is one-sided by construction)",
            "n_probes": len(PROBE_TERMS),
            "pass": not undercount,
        },
    }


def bound_approx_distinct(spark, sf) -> dict:
    li = load_table(spark, sf, "lineitem")
    row = li.agg(
        F.approx_count_distinct("l_partkey").alias("a"),
        F.countDistinct("l_partkey").alias("e"),
    ).first()
    err = abs(row.a - row.e) / max(row.e, 1)
    return {
        "pinned_bound": 0.05,
        "measured": round(err, 4),
        "unit": "relative_error",
        "op_point": "approx_count_distinct default rsd=0.05",
        "pass": err <= 0.05,
    }


def bound_approx_percentile(spark, sf) -> dict:
    """GK sketch with accuracy=10000 guarantees rank error <= n/10000.
    measured = worst normalized rank distance of the estimate from the
    target rank across (event_type) x (p50, p95, p99)."""
    e = load_table(spark, sf, "events").select("event_type", "value").cache()
    est = {
        r.event_type: (r.p50, r.p95, r.p99)
        for r in e.groupBy("event_type")
        .agg(
            F.percentile_approx("value", [0.5, 0.95, 0.99], 10000).alias("p")
        )
        .select(
            "event_type",
            F.element_at("p", 1).alias("p50"),
            F.element_at("p", 2).alias("p95"),
            F.element_at("p", 3).alias("p99"),
        )
        .collect()
    }
    worst = 0.0
    for etype, (p50, p95, p99) in est.items():
        vals = np.array(
            [r.value for r in e.filter(F.col("event_type") == etype).collect()]
        )
        vals.sort()
        n = len(vals)
        # GK guarantee: rank error <= n/accuracy; +1 rank for the
        # discreteness of the target (p*n is fractional, any order
        # statistic is >= up to 1 rank away)
        allowance = 1.0 + n / 10000.0
        for p, x in ((0.5, p50), (0.95, p95), (0.99, p99)):
            lt = int(np.searchsorted(vals, x, side="left"))
            le = int(np.searchsorted(vals, x, side="right"))
            target = p * n
            err_ranks = max(0.0, lt + 1 - target, target - le)
            worst = max(worst, err_ranks / allowance)
    e.unpersist()
    return {
        "pinned_bound": 1.0,
        "measured": round(worst, 4),
        "unit": "max_rank_error / (1 + n/accuracy) allowance",
        "op_point": "percentile_approx accuracy=10000, p in {0.5,0.95,0.99} per event_type",
        "pass": worst <= 1.0,
    }


def bound_ann_lsh(spark, sf) -> dict:
    emb = load_table(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    exact = {(r.query_id, r.neighbor_id) for r in V.knn_exact(q, emb, k=5).collect()}
    ann = {
        (r.query_id, r.neighbor_id)
        for r in V.knn_ann_lsh(
            emb, k=5, dim=64, n_planes=2, n_tables=12, query_filter=F.col("id") < 10
        ).collect()
    }
    rec = len(ann & exact) / len(exact)
    return {
        "pinned_bound": 0.9,
        "measured": round(rec, 4),
        "unit": "recall@5_vs_exact_knn",
        "op_point": "registered: 2 planes x 12 tables, 10 queries",
        "pass": rec >= 0.9,
        # r14 (continuing the r13-task-2 promotion program): the
        # candidate re-rank scores exact cosine, so whenever every true
        # top-5 neighbor lands in some bucket the ANN output EQUALS the
        # exact top-k set — recorded hash-grade when it holds.
        "set_equality": {
            "n_exact": len(exact),
            "n_ann": len(ann),
            "equal": ann == exact,
            "grade": (
                "deterministic: ANN (query,neighbor) set == exact knn top-5 set"
                if ann == exact
                else "statistical only at this scale (recall < 1.0)"
            ),
        },
    }


def bound_ann_ivf(spark, sf) -> dict:
    emb = load_table(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    exact = {(r.query_id, r.neighbor_id) for r in V.knn_exact(q, emb, k=5).collect()}
    ivf = {
        (r.query_id, r.neighbor_id)
        for r in V.knn_ann_ivf(
            emb, k=5, nlist=16, nprobe=12, query_filter=F.col("vec_id") < 10
        ).collect()
    }
    rec = len(ivf & exact) / len(exact)
    # r14: with nprobe == nlist every inverted list is probed, so IVF
    # must EQUAL exact knn by construction — this pins the machinery
    # (quantizer assignment, candidate join, re-rank) deterministically,
    # isolating the recall bound above to the bucketing approximation
    # alone rather than implementation defects.
    full = {
        (r.query_id, r.neighbor_id)
        for r in V.knn_ann_ivf(
            emb, k=5, nlist=16, nprobe=16, query_filter=F.col("vec_id") < 10
        ).collect()
    }
    return {
        "pinned_bound": 0.85,
        "measured": round(rec, 4),
        "unit": "recall@5_vs_exact_knn",
        "op_point": "registered: nlist=16 nprobe=12, 10 queries",
        "pass": rec >= 0.85 and full == exact,
        "deterministic_subset": {
            "claim": "at nprobe == nlist (all lists probed) IVF output "
            "== exact knn top-5 set by construction",
            "n_pairs": len(exact),
            "equal": full == exact,
            "pass": full == exact,
        },
    }


def bound_mmr(spark, sf) -> dict:
    """Fraction of queries whose MMR ranking equals the pure-python greedy
    reference (same tie-break)."""
    emb = load_table(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < 5)
    cand = V.knn_exact(q, emb, k=20).select("query_id", "neighbor_id", "score")
    got = V.mmr_rerank(cand, emb, k=5, lam=0.7).collect()
    vecs = {r.vec_id: np.array(r.embedding, dtype="float64") for r in emb.collect()}

    def unit(v):
        n = np.linalg.norm(v)
        return v / n if n else v

    by_q: dict = {}
    for r in cand.collect():
        by_q.setdefault(r.query_id, []).append((r.neighbor_id, r.score))
    n_match = 0
    for qid, items in by_q.items():
        items.sort(key=lambda t: (-t[1], t[0]))
        rel = dict(items)
        chosen: list = []
        remaining = [nid for nid, _ in items]
        while remaining and len(chosen) < 5:
            if not chosen:
                best = remaining[0]
            else:
                scores = [
                    0.7 * rel[nid]
                    - 0.3 * max(float(unit(vecs[nid]) @ unit(vecs[c])) for c in chosen)
                    for nid in remaining
                ]
                best = remaining[int(np.argmax(scores))]
            chosen.append(best)
            remaining.remove(best)
        spark_order = [
            r.neighbor_id
            for r in sorted(
                (r for r in got if r.query_id == qid), key=lambda r: r.mmr_rank
            )
        ]
        n_match += spark_order == chosen
    frac = n_match / len(by_q)
    return {
        "pinned_bound": 1.0,
        "measured": round(frac, 4),
        "unit": "fraction_queries_matching_python_reference",
        "op_point": "k=5 lam=0.7 over exact-knn@20 candidates, 5 queries",
        "pass": frac >= 1.0,
    }


def bound_minhash(spark, sf) -> dict:
    """Recall bound PLUS set-equality promotion (r13 verdict task 2).

    Precision is 1.0 by construction (exact-Jaccard verify on LSH
    candidates => lsh set is a subset of the exact set), so whenever
    measured recall is also 1.0 the LSH output pair set EQUALS the exact
    twin's — a deterministic, hash-grade statement (same method as
    text_containment_banded's banded-vs-exact check), not a statistical
    bound.  The set_equality block records that comparison explicitly;
    where recall < 1.0 at a larger corpus, equal=false and the entry
    degrades gracefully back to the recall bound.
    """
    docs = load_table(spark, sf, "documents")
    exact = {
        (r.id_a, r.id_b)
        for r in D.exact_jaccard_pairs(
            docs, "doc_id", "text", n=3, threshold=0.25
        ).collect()
    }
    lsh = {
        (r.id_a, r.id_b)
        for r in D.minhash_lsh_pairs(
            docs, "doc_id", "text", n=3, num_perm=16, bands=8, threshold=0.25
        ).collect()
    }
    rec = len(lsh & exact) / max(len(exact), 1)
    equal = lsh == exact
    return {
        "pinned_bound": 0.9,
        "measured": round(rec, 4),
        "unit": "pair_recall_vs_exact_jaccard@0.25 (precision 1.0 by construction)",
        "op_point": f"registered: perm=16 bands=8 threshold=0.25; {len(exact)} true pairs",
        "pass": rec >= 0.9 and lsh <= exact,
        "set_equality": {
            "n_exact": len(exact),
            "n_lsh": len(lsh),
            "n_missed": len(exact - lsh),
            "n_spurious": len(lsh - exact),
            "equal": equal,
            "grade": (
                "deterministic: LSH pair set == exact-Jaccard pair set"
                if equal
                else "statistical only at this scale (recall < 1.0)"
            ),
        },
    }


def bound_containment_banded(spark, sf) -> dict:
    """Pair recall of the banded containment twin vs the registered
    exact gram-join form (text_containment_dedup) at threshold 0.8.
    Precision is 1.0 by construction (exact verify on candidates);
    `pass` also requires the banded pair set to be a subset of exact."""
    from ub_etl_spark.queries.behavior import (
        text_containment_banded,
        text_containment_dedup,
    )
    exact = {(r.id_a, r.id_b) for r in text_containment_dedup(spark, sf).collect()}
    release_persisted()
    banded = {(r.id_a, r.id_b) for r in text_containment_banded(spark, sf).collect()}
    release_persisted()
    rec = len(banded & exact) / max(len(exact), 1)
    return {
        "pinned_bound": 0.9,
        "measured": round(rec, 4),
        "unit": "pair_recall_vs_exact_containment@0.8 (precision 1.0 by construction)",
        "op_point": f"registered: n=4 perm=16 bands=8 threshold=0.8; {len(exact)} true pairs",
        "pass": rec >= 0.9 and banded <= exact,
    }


def bound_simhash(spark, sf) -> dict:
    """Recall bound PLUS deterministic pigeonhole-completeness (r13
    verdict task 2).

    SimHash's Jaccard recall is inherently statistical (a 64-bit sketch
    cannot pin Jaccard exactly), but the DISTRIBUTED part of the operator
    — find every pair within Hamming max_hamming via 8-chunk pigeonhole
    banding — is exact by construction (n_chunks=8 > max_hamming=7).
    The deterministic_subset block verifies that claim hash-grade: the
    banded Spark output pair set must EQUAL the brute-force all-pairs
    Hamming computation over the collected simhash values (same method
    as multimodal_phash_dedup's bound_phash; numpy XOR+popcount so it
    stays feasible at sf0.1's 5000 docs = 12.5M pairs).
    """
    docs = load_table(spark, sf, "documents")
    exact = {
        (r.id_a, r.id_b)
        for r in D.exact_jaccard_pairs(
            docs, "doc_id", "text", n=3, threshold=0.5
        ).collect()
    }
    sim = {
        (r.id_a, r.id_b)
        for r in D.simhash_pairs(
            docs, "doc_id", "text", max_hamming=7, n_chunks=8
        ).collect()
    }
    rec = len(sim & exact) / max(len(exact), 1)

    # brute-force Hamming<=7 over the same simhash values, vectorized
    rows = D.simhash64(docs, "doc_id", "text").collect()
    ids = [r.doc_id for r in rows]
    h = np.array([r.sh for r in rows], dtype=np.int64).view(np.uint64)
    brute = set()
    popcnt = np.array([bin(x).count("1") for x in range(256)], dtype=np.uint8)
    for i in range(len(h)):
        x = (h[i] ^ h[i + 1 :]).view(np.uint8).reshape(-1, 8)
        dist = popcnt[x].sum(axis=1)
        for j in np.nonzero(dist <= 7)[0]:
            a, b = ids[i], ids[i + 1 + j]
            brute.add((min(a, b), max(a, b)))
    banded_equal = sim == brute
    return {
        "pinned_bound": 0.9,
        "measured": round(rec, 4),
        "unit": "pair_recall_vs_exact_jaccard@0.5",
        "op_point": f"registered: 8x8-bit chunks, hamming<=7; {len(exact)} true pairs",
        "pass": rec >= 0.9 and banded_equal,
        "deterministic_subset": {
            "n_brute_force": len(brute),
            "n_banded": len(sim),
            "n_missed": len(brute - sim),
            "n_spurious": len(sim - brute),
            "equal": banded_equal,
            "grade": "deterministic: banded pair set == brute-force Hamming<=7 set"
            " (pigeonhole-complete, n_chunks=8 > max_hamming=7)",
        },
    }


def bound_kmv(spark, sf) -> dict:
    """KMV distinct estimate: 3-sigma relative error at k=256 for groups
    at/above k; groups below k must be EXACT (sketch degrades to the
    value set)."""
    from ub_etl_spark.queries.sketches import _KMV_K, agg_kmv_distinct

    got = {r.o_orderstatus: r.est_distinct for r in agg_kmv_distinct(spark, sf).collect()}
    o = load_table(spark, sf, "orders")
    exact = {
        r.o_orderstatus: r.n
        for r in o.groupBy("o_orderstatus")
        .agg(F.countDistinct("o_custkey").alias("n"))
        .collect()
    }
    exact["ALL"] = o.agg(F.countDistinct("o_custkey")).first()[0]
    errs = []
    exact_ok = True
    for k, true in exact.items():
        if true < _KMV_K:
            exact_ok &= got[k] == float(true)
        else:
            errs.append(abs(got[k] - true) / true)
    worst = max(errs) if errs else 0.0
    bound = 3.0 / (_KMV_K - 1) ** 0.5
    # r12 verdict task 6 — the deterministic-subset check, surfaced as
    # its own row: below-k groups MUST equal exact countDistinct (KMV
    # degrades to the value set there), hash-grade not bounded.  At
    # sf0.01 every group sits above k=256, so the property is exercised
    # at sf0.001 (~150 distinct customers), where it covers the
    # registered query's ENTIRE output — every group including the
    # merged ALL row reports exactly.
    sf_below = "/root/testdata/sf0.001"
    if not os.path.isdir(sf_below):
        # ADVICE r13: fail the subset row with a reason rather than
        # letting Spark raise an opaque path error on boxes without the
        # sf0.001 dataset.
        return {
            "pinned_bound": round(bound, 4),
            "measured": round(worst, 4),
            "unit": "max_relative_error (groups >= k; below-k groups exact)",
            "op_point": f"k={_KMV_K}, stderr ~ 1/sqrt(k-1) ~ {1 / (_KMV_K - 1) ** 0.5:.3f}, 3-sigma",
            "deterministic_subset": {
                "claim": "below-k groups exact (not measurable here)",
                "sf_dir": sf_below,
                "pass": False,
                "reason": f"{sf_below} not present on this box",
            },
            "pass": False,
        }
    got001 = {
        r.o_orderstatus: r.est_distinct
        for r in agg_kmv_distinct(spark, sf_below).collect()
    }
    o001 = load_table(spark, sf_below, "orders")
    exact001 = {
        r.o_orderstatus: r.n
        for r in o001.groupBy("o_orderstatus")
        .agg(F.countDistinct("o_custkey").alias("n"))
        .collect()
    }
    exact001["ALL"] = o001.agg(F.countDistinct("o_custkey")).first()[0]
    below_k_applicable = all(t < _KMV_K for t in exact001.values())
    subset_ok = below_k_applicable and got001 == {
        k: float(v) for k, v in exact001.items()
    }
    return {
        "pinned_bound": round(bound, 4),
        "measured": round(worst, 4),
        "unit": "max_relative_error (groups >= k; below-k groups exact)",
        "op_point": f"k={_KMV_K}, stderr ~ 1/sqrt(k-1) ~ {1 / (_KMV_K - 1) ** 0.5:.3f}, 3-sigma",
        "deterministic_subset": {
            "claim": (
                "groups with true distinct < k are EXACT — at sf0.001 "
                "that is every group, so the registered query's whole "
                "output equals exact countDistinct value-for-value"
            ),
            "sf_dir": sf_below,
            "n_groups_checked": len(exact001),
            "pass": bool(subset_ok),
        },
        "pass": worst <= bound and exact_ok and subset_ok,
    }


def bound_equidepth_approx(spark, sf) -> dict:
    """Sketch-boundary equi-depth: worst bucket-depth deviation from the
    ideal n/10, as a fraction of table size (exact NTILE would be 0).

    Also carries the r12-verdict-task-6 deterministic-subset check: only
    the NINE BOUNDARIES are approximate — everything downstream of the
    sketch (bucket assignment, per-bucket count/lo/hi/total) is exact
    arithmetic.  We collect the sketch's boundaries and recompute every
    per-bucket aggregate with plain exact expressions over those literal
    cuts; the query's rows must match value-for-value (hash-grade)."""
    from ub_etl_spark.functions.exact import csum
    from ub_etl_spark.queries.advanced import quantile_bucket_approx

    rows = quantile_bucket_approx(spark, sf).collect()
    total = sum(r.n_orders for r in rows)
    ideal = total / len(rows)
    worst = max(abs(r.n_orders - ideal) for r in rows) / total
    # deterministic-subset: same sketch -> exact recompute of the buckets
    o = load_table(spark, sf, "orders")
    cuts = o.agg(
        F.percentile_approx(
            "o_totalprice", [i / 10.0 for i in range(1, 10)], 10000
        ).alias("cuts")
    ).first()["cuts"]
    bucket = sum(
        (F.col("o_totalprice") > F.lit(c)).cast("int") for c in cuts
    ) + F.lit(1)
    expected = {
        r.bucket: (r.n_orders, r.lo, r.hi, r.total)
        for r in o.select("o_totalprice", bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("o_totalprice").alias("lo"),
            F.max("o_totalprice").alias("hi"),
            csum("o_totalprice", "total"),
        )
        .collect()
    }
    got = {r.bucket: (r.n_orders, r.lo, r.hi, r.total) for r in rows}
    subset_ok = got == expected
    return {
        "pinned_bound": 0.02,
        "measured": round(worst, 5),
        "unit": "max_bucket_depth_deviation_fraction_of_table",
        "op_point": "percentile_approx accuracy=10000 (GK rank error ~ n/10000), 10 buckets",
        "deterministic_subset": {
            "claim": (
                "given the sketch's 9 boundaries, every per-bucket "
                "(n_orders, lo, hi, total) is exact — recomputed from "
                "literal cuts and compared value-for-value"
            ),
            "n_groups_checked": len(expected),
            "pass": bool(subset_ok),
        },
        "pass": worst <= 0.02 and subset_ok,
    }


def bound_ann_pq(spark, sf) -> dict:
    """PQ recall@5 vs exact knn at the registered operating point."""
    emb = load_table(spark, sf, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in V.knn_exact(q, emb, k=5).collect()
    }
    pq = {
        (r.query_id, r.neighbor_id)
        for r in V.knn_ann_pq(
            emb,
            k=5,
            dim=64,
            m=16,
            ksub=64,
            shortlist=50,
            query_filter=F.col("vec_id") < 10,
        ).collect()
    }
    recall = len(pq & exact) / len(exact)
    return {
        "pinned_bound": 0.9,
        "measured": round(recall, 4),
        "unit": "recall@5_vs_exact_knn",
        "op_point": "registered: m=16 ksub=64 shortlist=50 (ADC + exact re-rank), 10 queries",
        "pass": recall >= 0.9,
        # r14: the shortlist re-rank is exact cosine, so whenever every
        # true top-5 neighbor survives the ADC shortlist the PQ output
        # EQUALS the exact top-k set — recorded hash-grade when it holds.
        "set_equality": {
            "n_exact": len(exact),
            "n_pq": len(pq),
            "equal": pq == exact,
            "grade": (
                "deterministic: PQ (query,neighbor) set == exact knn top-5 set"
                if pq == exact
                else "statistical only at this scale (recall < 1.0)"
            ),
        },
    }


def bound_phash(spark, sf) -> dict:
    """Banding completeness: hamming_pairs must find EVERY pHash pair at
    Hamming <= 7 (pigeonhole guarantees it; measured vs brute force)."""
    from itertools import combinations

    from ub_etl_spark.operators.multimodal import phash_media, with_binary_payload

    d = load_table(spark, sf, "documents")
    hashes = phash_media(with_binary_payload(d, "doc_id", "text"), fake=True)
    rows = [(r.doc_id, r.phash) for r in hashes.collect()]
    brute = set()
    for (i, a), (j, b) in combinations(rows, 2):
        if bin((a ^ b) & 0xFFFFFFFFFFFFFFFF).count("1") <= 7:
            brute.add((min(i, j), max(i, j)))
    got = {
        (r.id_a, r.id_b)
        for r in D.hamming_pairs(
            hashes, id_col="doc_id", hash_col="phash", max_hamming=7, n_chunks=8
        ).collect()
    }
    missed = len(brute - got)
    return {
        "pinned_bound": 0,
        "measured": missed,
        "unit": "pairs_missed_vs_brute_force (n_pairs=%d)" % len(brute),
        "op_point": "aHash stub, max_hamming=7, n_chunks=8 (pigeonhole-complete)",
        "pass": missed == 0 and got == brute,
    }


def bound_hll_intersection(spark, sf) -> dict:
    """Inclusion-exclusion HLL intersection: relative error vs exact."""
    from ub_etl_spark.queries.sketches import agg_hll_intersection

    r = agg_hll_intersection(spark, sf).first()
    o = load_table(spark, sf, "orders")
    a = {x.o_custkey for x in o.filter(F.col("o_orderpriority") == "1-URGENT")
         .select("o_custkey").distinct().collect()}
    b = {x.o_custkey for x in o.filter(F.col("o_orderpriority") == "5-LOW")
         .select("o_custkey").distinct().collect()}
    exact = len(a & b)
    rel = abs(r.est_intersection - exact) / max(exact, 1)
    return {
        "pinned_bound": 0.15,
        "measured": round(rel, 4),
        "unit": "relative_error_vs_exact_intersection",
        "op_point": f"inclusion-exclusion over hll_sketch_agg lgConfigK=12; exact={exact}",
        "pass": rel <= 0.15,
    }


MEASURES = {
    "agg_hll_mergeable": bound_hll,
    "agg_cms_term_counts": bound_cms,
    "agg_approx_distinct": bound_approx_distinct,
    "agg_approx_percentile": bound_approx_percentile,
    "sim_ann_lsh": bound_ann_lsh,
    "sim_ann_ivf": bound_ann_ivf,
    "sim_rerank_mmr": bound_mmr,
    "dedup_minhash_lsh": bound_minhash,
    "dedup_simhash": bound_simhash,
    "text_containment_banded": bound_containment_banded,
    "agg_kmv_distinct": bound_kmv,
    "quantile_bucket_approx": bound_equidepth_approx,
    "sim_ann_pq": bound_ann_pq,
    "multimodal_phash_dedup": bound_phash,
    "agg_hll_intersection": bound_hll_intersection,
}

# Bounds ALSO measured at sf0.1 (r12 verdict task 4): banding recall is
# corpus-size-sensitive (a bigger corpus has more near-threshold pairs at
# the fixed 16-perm/8-band operating point), so the corpus-scale twin
# carries its recall row at the bench scale too, not just sf0.01.  Kept
# to the queries where the exact reference computation is still feasible
# at sf0.1 (the exact containment form runs in seconds there).
SF01_MEASURES = {
    "text_containment_banded": bound_containment_banded,
    # r13 verdict task 2: the set-equality / pigeonhole-completeness
    # promotions are only meaningful if they hold at the bench corpus
    # size too, so both LSH dedup twins carry sf0.1 rows (exact Jaccard
    # via the shingle co-occurrence join and the numpy brute-force
    # Hamming pass are both seconds-feasible at 5000 docs).
    "dedup_minhash_lsh": bound_minhash,
    "dedup_simhash": bound_simhash,
    # r14: the ANN set-equality promotions carried to the bench corpus
    # (20k vectors) — recall at a fixed operating point is
    # corpus-size-sensitive, so the equality claim is measured where
    # the bench runs, not just at sf0.01; the blocks degrade gracefully
    # to the recall bound if equality stops holding at scale.
    "sim_ann_lsh": bound_ann_lsh,
    "sim_ann_pq": bound_ann_pq,
}
SF01_DIR = "/root/testdata/sf0.1"

# r15 (r14 verdict task 4): the dedup flagships' deterministic rows carried
# one scale notch further, to the amplified sf1 corpus (50k docs — the
# tools/sf1_bench dataset).  Run with --sf1-only: measures JUST these two
# (the full sweep at sf1 would re-collect every sketch/ANN family for no
# new claim) and merges them into BOUNDS.json under "bounds_sf1" without
# touching the sf0.01/sf0.1 sections.
SF1_MEASURES = {
    "dedup_minhash_lsh": bound_minhash,
    "text_containment_banded": bound_containment_banded,
}


def run_sf1_only(out_path: str) -> None:
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from sf1_bench import BIG_DIR, ensure_big_dir

    spark = get_spark("bounds-sf1")
    ensure_big_dir(spark)
    with open(out_path) as f:
        doc = json.load(f)
    sec = doc.setdefault("bounds_sf1", {})
    sec["sf_dir"] = BIG_DIR
    ok = True
    for name, fn in SF1_MEASURES.items():
        res = fn(spark, BIG_DIR)
        release_persisted()
        sec[name] = res
        ok &= res["pass"]
        print(f"[{'PASS' if res['pass'] else 'FAIL'}] {name} @sf1: "
              f"measured={res['measured']} bound={res['pinned_bound']} ({res['unit']})")
    with open(out_path, "w") as f:
        json.dump(doc, f, indent=2)
        f.write("\n")
    print(f"{'sf1 bounds hold' if ok else 'SF1 BOUND VIOLATION'} -> {out_path}")
    sys.exit(0 if ok else 1)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--out", default=os.path.join(ROOT, "BOUNDS.json"))
    ap.add_argument("--sf1-only", action="store_true",
                    help="measure only the sf1 dedup-flagship rows and merge")
    args = ap.parse_args()
    if args.sf1_only:
        run_sf1_only(args.out)
        return
    spark = get_spark("bounds")
    out = {
        "sf_dir": args.sf,
        "bounds": {},
        "bounds_sf0.1": {"sf_dir": SF01_DIR},
    }
    ok = True
    for name, fn in MEASURES.items():
        res = fn(spark, args.sf)
        # free every frame the measure's operators persisted or
        # checkpointed — measurements must not run under a previous
        # measure's resident cache
        release_persisted()
        out["bounds"][name] = res
        ok &= res["pass"]
        print(f"[{'PASS' if res['pass'] else 'FAIL'}] {name}: "
              f"measured={res['measured']} bound={res['pinned_bound']} ({res['unit']})")
    for name, fn in SF01_MEASURES.items():
        # realpath-normalize before comparing (ADVICE r13: a trailing
        # slash or symlinked spelling of the same dir must not force a
        # redundant re-measurement)
        if os.path.realpath(args.sf) == os.path.realpath(SF01_DIR) and name in out["bounds"]:
            # --sf already points at sf0.1: the main loop just measured
            # this exact (query, scale) — reuse instead of re-collecting
            res = out["bounds"][name]
        else:
            res = fn(spark, SF01_DIR)
            release_persisted()
        out["bounds_sf0.1"][name] = res
        ok &= res["pass"]
        print(f"[{'PASS' if res['pass'] else 'FAIL'}] {name} @sf0.1: "
              f"measured={res['measured']} bound={res['pinned_bound']} ({res['unit']})")
    with open(args.out, "w") as f:
        json.dump(out, f, indent=2)
        f.write("\n")
    print(f"{'all bounds hold' if ok else 'BOUND VIOLATION'} -> {args.out}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
