"""Scale smoke: how the shipped plans' cost grows with data volume.

Every cell is a registered query (ub_etl_spark/registry.py), timed on the
base directory and on a K-times-larger copy of it that this tool
synthesizes by unioning shifted copies of the base tables (keys offset per
copy, so join fan-out and group cardinality scale realistically).  A
near-linear ratio (~K for scans and aggregates, <= K log K for sorts) is
the evidence that the plans survive scale-up: no accidental cross
products, no collapse to one partition, no driver-side loops.

A sample is what bench.py times: the registered builder plus a noop-sink
write.  Persisted frames, the CacheManager and the ANN train-once caches
are released after every sample, so each one runs the query alone and
cold.  A cell is min-of-2.

Usage: python tools/scale_smoke.py [--k 100] [--graph-k 10] [--corpus-k 10]
                                   [--sf /root/testdata/sf0.1]
Rewrites the measured tables at the top of this checkout's SCALING.md;
everything from its first hand-kept ``## `` heading on is kept byte for
byte.
"""

from __future__ import annotations

import argparse
import functools
import os
import shutil
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pyspark.sql import DataFrame  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from bench import run_once  # noqa: E402
from ub_etl_spark.queries.similarity import clear_ann_caches  # noqa: E402
from ub_etl_spark.registry import load_all  # noqa: E402
from ub_etl_spark.session import get_spark, release_persisted  # noqa: E402
from ub_etl_spark.sources.tables import load_table  # noqa: E402

SCALING_MD = os.path.join(ROOT, "SCALING.md")

# Row label -> registered query.  Labels are the SCALING.md row names that
# notes and cost notes cite.
RELATIONAL = {
    "agg_groupby": "agg_groupby",
    "join_agg": "join_inner_equi",
    "window_rank": "window_rank",
    "topk": "sort_limit_topk",
    "distinct_count": "agg_count_distinct",
    "running_sum": "window_analytic",
    "basket_pairs": "market_basket_pairs",
    # K times the cross-border fact rows re-aggregate into the SAME
    # |nations|^2 matrix: linear certifies the cost lives in the fact join
    "trade_balance": "nation_trade_balance",
    "weighted_median_2phase": "agg_weighted_median",
    "quantile_disc_2phase": "agg_winsorized_mean",
    "equidepth_ntile_global": "quantile_bucket_equidepth",
    "equidepth_ntile_2phase": "quantile_bucket_equidepth_2phase",
    "equidepth_sketch_approx": "quantile_bucket_approx",
    "gini_rank_global": "agg_gini_concentration",
    "active_episodes": "orders_active_episodes",
    "active_episodes_arrow": "orders_active_episodes_arrow",
    "spatial_grid": "join_spatial_grid",
    "basket_lift": "market_basket_lift",
    # the 25-nation edge set is invariant under K, so BFS round count is
    # too: only the edge-build scan grows
    "bfs_nation_hops": "graph_bfs_distance",
    # per-user event counts grow by K under the events amplification, so
    # the keyed-window cells below measure window-sort growth per key
    "session_window_keyed": "stream_session_window",
    "session_window_arrow": "session_window_arrow",
    "gapfill_forward_fill": "timeseries_gapfill",
    "running_distinct_2window": "window_running_distinct",
    "burst_range_frame": "events_burst_detection",
    "asof_nearest": "join_asof_nearest",
    "asof_tolerance": "join_asof_tolerance",
    "otif_rate": "lineitem_otif_rate",
    "q18_heavy_orders": "tpch_q18_large_orders",
}
GRAPH = {
    "triangle_count": "graph_triangle_count",
    "jaccard_probes": "graph_jaccard_link_prediction",
}
CORPUS = {
    "minhash_lsh": "dedup_minhash_lsh",
    "normalized_dedup": "dedup_normalized_exact",
    "ngram_vocab": "text_ngram_vocab",
    "embedding_quantize": "embedding_quantize",
    # |Q| is fixed, so the ratio tracks corpus growth only
    "knn_exact_10q": "sim_knn_exact",
    "pii_redact": "text_pii_redact",
    "quality_gopher": "text_quality_gopher",
    "contamination": "contamination_ngram_check",
    "pack_sequences": "pack_sequences",
    "chunk_sliding": "text_chunk_sliding",
    "inverted_index": "text_inverted_index",
    "survivorship": "dedup_source_priority",
    "phash_hamming": "multimodal_phash_dedup",
    "pq_adc_scan_10q": "sim_ann_pq",
    "centroid_per_label": "embedding_centroid_per_label",
    "tfidf_score": "text_tfidf",
    "keyphrase_topk": "text_keyphrase_topk",
    "hybrid_rrf_3q": "hybrid_search_rrf",
    "containment_dedup": "text_containment_dedup",
    "containment_banded": "text_containment_banded",
    "substring_span": "dedup_substring_span",
}


def amplify(spark, src: str, out: str, k: int) -> None:
    """K shifted copies of lineitem, orders, part and events.

    part is amplified into DISJOINT y-bands (p_retailprice shifted per
    copy by more than one grid cell): the spatial plane gets K times the
    points at CONSTANT local density, so the grid join's candidate count
    scales by K; overlaying copies at the same coordinates would square
    the qualifying-pair count by construction (same argument as
    amplify_graph).  Dimensions are not amplified: K times the facts over
    a fixed dimension set is the realistic fact-table growth mode.

    events keep the SAME user ids, so per-user event counts grow by K:
    the per-key sequential-scan hazard the session, gapfill and
    range-frame cells measure.  Each copy shifts by 31 days, more than
    the 30-minute session gap, so sessions never merge across copies and
    the per-user day span (the gapfill grid) grows ~K too."""
    li = spark.read.parquet(f"{src}/lineitem.parquet")
    o = spark.read.parquet(f"{src}/orders.parquet")
    pt = spark.read.parquet(f"{src}/part.parquet")
    ev = load_table(spark, src, "events")
    max_ok = o.agg(F.max("o_orderkey")).first()[0] + 1
    max_pk = pt.agg(F.max("p_partkey")).first()[0] + 1
    # y = p_retailprice / 250 with cell width 4.0 -> a 2000-price shift
    # moves each copy 2 cells up: no cross-copy candidate pairs
    max_rp = pt.agg(F.max("p_retailprice")).first()[0] + 2000.0
    max_ev = ev.agg(F.max("event_id")).first()[0] + 1
    shifted = {
        "lineitem": [
            li.withColumn("l_orderkey", F.col("l_orderkey") + i * max_ok) for i in range(k)
        ],
        "orders": [
            o.withColumn("o_orderkey", F.col("o_orderkey") + i * max_ok) for i in range(k)
        ],
        "part": [
            pt.withColumn("p_partkey", F.col("p_partkey") + i * max_pk).withColumn(
                "p_retailprice", F.col("p_retailprice") + i * max_rp
            )
            for i in range(k)
        ],
        "events": [
            ev.withColumn("event_id", F.col("event_id") + i * max_ev).withColumn(
                "ts", F.col("ts") + F.expr(f"INTERVAL {i * 31} DAYS")
            )
            for i in range(k)
        ],
    }
    for table, parts in shifted.items():
        big = functools.reduce(DataFrame.unionByName, parts)
        big.write.mode("overwrite").parquet(f"{out}/{table}.parquet")


def amplify_graph(spark, src: str, out: str, k: int) -> None:
    """K copies of lineitem with BOTH orderkey and partkey offset, written
    as ``<out>/graph/lineitem.parquet``: the co-purchase graph becomes K
    disjoint copies (nodes and edges scale by K, density constant), the
    fair scaling fixture for graph algorithms.  amplify()'s orderkey-only
    shift would pour K times the orders over ONE part vocabulary,
    densifying the graph and flagging any triangle counter as
    super-linear by construction."""
    li = spark.read.parquet(f"{src}/lineitem.parquet")
    max_part = li.agg(F.max("l_partkey")).first()[0] + 1
    max_ok = li.agg(F.max("l_orderkey")).first()[0] + 1
    parts = [
        li.withColumn("l_orderkey", F.col("l_orderkey") + i * max_ok).withColumn(
            "l_partkey", F.col("l_partkey") + i * max_part
        )
        for i in range(k)
    ]
    big = functools.reduce(DataFrame.unionByName, parts)
    big.write.mode("overwrite").parquet(f"{out}/graph/lineitem.parquet")


def amplify_corpus(spark, src: str, out: str, k: int) -> None:
    """K decorrelated copies of documents and embeddings.

    Every token gets a per-copy PREFIX, a bijective vocabulary rename: the
    near-dup structure within each copy is preserved exactly and
    cross-copy shingle overlap is ZERO, so pair counts scale linearly in
    K.  (Two rejected constructions: appending a salt token leaves
    cross-copy texts near-identical -> K-clique pair blowup; interleaving
    a copy token between words creates shingles shared by every doc in
    the copy -> within-copy all-pairs blowup.)  Embeddings are rotated by
    the copy index: norm preserved, directions decorrelated."""
    docs = spark.read.parquet(f"{src}/documents.parquet")
    emb = spark.read.parquet(f"{src}/embeddings.parquet")
    max_doc = docs.agg(F.max("doc_id")).first()[0] + 1
    max_vec = emb.agg(F.max("vec_id")).first()[0] + 1
    d_parts = [
        docs.withColumn("doc_id", F.col("doc_id") + i * max_doc).withColumn(
            "text", F.regexp_replace("text", r"(\S+)", f"c{i}_$1")
        )
        for i in range(k)
    ]
    e_parts = []
    for i in range(k):
        r = i % 64
        rot = (
            F.concat(F.slice("embedding", r + 1, 64 - r), F.slice("embedding", 1, r))
            if r
            else F.col("embedding")
        )
        e_parts.append(
            emb.withColumn("vec_id", F.col("vec_id") + i * max_vec).withColumn("embedding", rot)
        )
    for table, parts in (("documents", d_parts), ("embeddings", e_parts)):
        big = functools.reduce(DataFrame.unionByName, parts)
        big.write.mode("overwrite").parquet(f"{out}/{table}.parquet")


def amplify_all(spark, src: str, out: str, k: int, graph_k: int, corpus_k: int) -> None:
    """Build the amplified directories: relational and corpus tables in
    ``out``, the disjoint-copy graph in ``out/graph``.  Every base table
    no amplifier wrote is copied unchanged into both, so each registered
    builder finds all of its inputs."""
    amplify(spark, src, out, k)
    amplify_corpus(spark, src, out, corpus_k)
    amplify_graph(spark, src, out, graph_k)
    for d in (out, os.path.join(out, "graph")):
        for name in os.listdir(src):
            have, base = os.path.join(d, name), os.path.join(src, name)
            if name.endswith(".parquet") and not os.path.exists(have):
                copy = shutil.copytree if os.path.isdir(base) else shutil.copyfile
                copy(base, have)


def time_cell(spark, name: str, d: str) -> float:
    """Min-of-2 seconds of the registered query ``name`` on ``d``."""
    spec = load_all()[name]
    best = float("inf")
    for _ in range(2):
        best = min(best, run_once(spark, spec, d))
        release_persisted()
        spark.catalog.clearCache()
        clear_ann_caches()
    return best


def measure(spark, cells: dict[str, str], d1: str, dk: str, k: int) -> list[str]:
    """One markdown table row per cell: label, 1x sec, Kx sec, ratio."""
    rows = []
    for label, name in cells.items():
        t1, tk = time_cell(spark, name, d1), time_cell(spark, name, dk)
        ratio = tk / t1 if t1 > 0 else float("inf")
        rows.append(f"| {label} | {t1:.3f} | {tk:.3f} | {ratio:.1f}x |")
        print(f"{label:26s} 1x={t1:.3f}s {k}x={tk:.3f}s ratio={ratio:.1f}x", flush=True)
    return rows


def hand_kept_tail(
    text: str, generated: tuple[str, ...] = ("## Relational", "## Graph", "## Corpus")
) -> str:
    """``text`` from its first ``## `` heading that does not start with one
    of ``generated`` (the headings the calling tool writes), or "" when
    there is none.  SCALING.md and PLANS.md keep their hand-written
    sections this way."""
    at = 0
    for line in text.splitlines(keepends=True):
        if line.startswith("## ") and not line.startswith(generated):
            return text[at:]
        at += len(line)
    return ""


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--k", type=int, default=100, help="relational amplification")
    ap.add_argument("--corpus-k", type=int, default=10, help="documents/embeddings amplification")
    ap.add_argument(
        "--graph-k", type=int, default=10, help="co-purchase graph amplification (disjoint copies)"
    )
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    args = ap.parse_args()
    spark = get_spark("scale_smoke")
    big = os.path.join(tempfile.gettempdir(), f"ub_etl_scale_{args.k}x")
    shutil.rmtree(big, ignore_errors=True)
    os.makedirs(big)
    amplify_all(spark, args.sf, big, args.k, args.graph_k, args.corpus_k)
    # warm the JVM/codegen path once, as bench.py does
    run_once(spark, load_all()["scan_parquet"], args.sf)

    lines = [
        "# SCALING — measured cost vs data volume (tools/scale_smoke.py)\n",
        f"Base: {args.sf}; relational amplified {args.k}x (key spaces offset, so",
        "join fan-out and group cardinality scale realistically); corpus",
        f"amplified {args.corpus_k}x (per-copy token prefixes so copies are NOT",
        "near-dups of each other, rotated embeddings).  Every row is the",
        "registered query named in tools/scale_smoke.py, run as bench.py runs",
        "it.  Ratio ~K = linear scaling; sorts may show K..K log K.  Each cell",
        "is min-of-2 seconds (noop sink), caches released between samples.\n",
    ]
    sections = [
        (f"Relational ({args.k}x)", RELATIONAL, big, args.k),
        (f"Graph ({args.graph_k}x disjoint copies)", GRAPH, f"{big}/graph", args.graph_k),
        (f"Corpus / embeddings ({args.corpus_k}x)", CORPUS, big, args.corpus_k),
    ]
    for title, cells, dk, k in sections:
        lines += [f"## {title}\n", f"| query | 1x sec | {k}x sec | ratio |", "|---|---|---|---|"]
        lines += measure(spark, cells, args.sf, dk, k)
        lines.append("")
    lines.append(
        "A ratio well under K means fixed per-query overhead still"
        " dominates at this volume; well over it would flag a super-linear"
        " plan (the failure mode this smoke exists to catch).\n\n"
    )
    tail = ""
    if os.path.exists(SCALING_MD):
        with open(SCALING_MD) as f:
            tail = hand_kept_tail(f.read())
    with open(SCALING_MD, "w") as f:
        f.write("\n".join(lines) + tail)
    print(f"wrote {SCALING_MD}")
    shutil.rmtree(big, ignore_errors=True)


if __name__ == "__main__":
    main()
