"""One-off sf1.0 ratio pass (r10 verdict task 4): adjudicate the
floor-dominance claim with data the 0.08 s job floor cannot dominate.

The per-round bench runs at sf0.1, where 153/260 oracles sit below
Spark's ~0.08 s per-job scheduling floor and the plan-quality ratios are
machinery arithmetic by construction (PLANS.md floor analysis).  This
tool amplifies sf0.1 by 10x (~6 M lineitem rows — TPC-H sf1 scale) with
the SAME key-shifted machinery SCALING.md's cells use (tools/
scale_smoke.amplify + amplify_corpus: key spaces offset per copy so
distinct counts, join fan-out and group cardinality all scale by K;
dims pass through), then measures Spark vs DuckDB per query over the
identical parquet files.

Query set: the 26 meaningful-oracle queries of the committed r10 driver
sidecar (oracle >= SMALL_ORACLE_FLOORS * floor = 0.30 s — the set the
bench's median_ratio_meaningful_oracle is computed over), PLUS the two
held-weak small-oracle queries whose adjudication hinges on this pass
(text_tfidf, window_analytic).  Pinned as a constant so the run is
reproducible after the sidecar is regenerated.

Measurement convention: SAME as bench.py (DuckDB fetchall, min-of-2;
Spark build+noop-write) so the sf1 ratios are like-for-like with the
sf0.1 sidecar and a ratio change is attributable to floor amortization,
not a convention switch.  EXCEPT: when a COUNT(*) probe says the
oracle's output exceeds 20 M rows (join_spatial_grid's ~270 M pairs at
sf1), fetchall's Python-tuple materialization is infeasible and the
oracle runs as SELECT sum(hash(t)) FROM (<oracle>) t instead — hash(t)
references every output column so DuckDB cannot projection-prune any
computed expression (verified: a 3 M-row ln() subquery costs 23 ms
hash-wrapped vs 7 ms count-wrapped-and-pruned vs 1.17 s fetchall);
such rows carry oracle_mode="hash_wrapped" and their ratio is
conservative for Spark (the oracle skips materialization, the bench
convention does not).

Output: sf1_bench.json at the repo root (committed) with per-query
spark_s / oracle_s / ratio / floor-context.  SCALING.md's sf1 section is
kept by hand from this file; tools/scale_smoke.py leaves it untouched.

Usage:
  python tools/sf1_bench.py              # build /tmp/sf1_10x if absent, run all
  python tools/sf1_bench.py text_tfidf   # subset (appends into existing json)
"""

from __future__ import annotations

import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

BIG_DIR = os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/sf1_10x")
K = 10
OUT = os.path.join(ROOT, "sf1_bench.json")

# 26 meaningful-oracle queries of the committed r10 driver sidecar
# (oracle >= 0.30 s = 4 job-floors), descending sf0.1 oracle cost,
# + the two held-weak entries this pass adjudicates.
MEANINGFUL_26 = [
    "join_spatial_grid",
    "graph_triangle_count",
    "skyline_pareto_frontier",
    "graph_jaccard_link_prediction",
    "text_lang_confusion",
    "graph_bfs_distance",
    "text_lang_id",
    "pipeline_corpus_prepare",
    "scalar_math_case",
    "cast_types",
    "map_advanced_funcs",
    "array_advanced_funcs",
    "text_quality_score",
    "storage_zorder_cluster",
    "agg_weighted_median",
    "explode_array_struct",
    "text_containment_dedup",
    "text_chunk_sliding",
    "dim_scd2_point_in_time",
    "market_basket_pairs",
    "lineitem_otif_rate",
    "orders_active_episodes",
    "orders_active_episodes_arrow",
    "join_skew_salted",
    "tpch_q18_large_orders",
    "scan_parquet",
]
WEAK_HELD = ["text_tfidf", "window_analytic"]
# Rows-only queries adjudicated at sf1 carry a spark_s-only row (no
# oracle exists; the correctness claim lives in BOUNDS.json).  r13:
# text_containment_banded per the r12 verdict task 4 (its sf1 row sits
# beside its exact twin's), then the rest of the banded/blocked
# dedup+ANN family so the "candidate-bounded at corpus scale" story
# carries sf1 absolute numbers, not just 10x ratios.
ROWS_ONLY_SF1 = [
    "text_containment_banded",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "sim_ann_lsh",
    "sim_ann_pq",
    "multimodal_phash_dedup",
]
# r13 verdict task 4: every BENCH over-abs-gate (>1.5 s at sf0.1) query
# carries an sf1 row measured on the shipped plan, so each
# absolute-cost disposition in its @register cost_note cites a
# same-plan sf1 number.  This is the
# union of the r12/r13-era over-gate sets not already in the lists
# above (the gate set breathes a little run-to-run as queries cross
# 1.5 s under load, hence union).
OVER_ABS_GATE_SF1 = [
    "dedup_apply_canonical",
    "dedup_cluster_cc_star",
    "dim_scd2_apply_changes",
    "graph_pagerank_trade",
    "join_bloom_prefilter",
    "market_basket_lift",
    "pipeline_course_normalize",
    "pipeline_training_manifest",
    "storage_bucketed_merge",
    "storage_gdpr_delete",
    "udf_cogrouped_map",
]
QUERIES = MEANINGFUL_26 + WEAK_HELD + ROWS_ONLY_SF1 + OVER_ABS_GATE_SF1


def ensure_big_dir(spark) -> None:
    marker = os.path.join(BIG_DIR, "_AMPLIFIED_OK")
    if os.path.exists(marker):
        return
    from scale_smoke import amplify, amplify_corpus

    src = "/root/testdata/sf0.1"
    print(f"[sf1] amplifying {src} x{K} -> {BIG_DIR}", flush=True)
    t0 = time.time()
    amplify(spark, src, BIG_DIR, K)
    amplify_corpus(spark, src, BIG_DIR, K)
    # tables the amplifiers leave out pass through unchanged (fixed dims)
    from ub_etl_spark.sources.tables import TABLES

    for t in TABLES:
        dst = os.path.join(BIG_DIR, f"{t}.parquet")
        if not os.path.exists(dst):
            spark.read.parquet(f"{src}/{t}.parquet").write.mode("overwrite").parquet(dst)
    with open(marker, "w") as fh:
        fh.write("ok")
    print(f"[sf1] amplified in {time.time() - t0:.1f}s", flush=True)


def main() -> None:
    import duckdb

    from ub_etl_spark.registry import load_all
    from ub_etl_spark.session import get_spark, refuse_extra_conf, release_persisted
    from ub_etl_spark.sources.tables import TABLES

    refuse_extra_conf("sf1_bench")

    # --fresh: ignore a query's stored row instead of min-merging into it.
    # The min-across-sessions convention assumes the PLAN is unchanged —
    # after a registered plan changes, its old minimum describes a plan
    # that no longer ships and must be reset (r13: text_containment_dedup
    # still carried its pre-composite-key 3.378s row while the shipped
    # r12 plan measures ~3.9s).
    argv = [a for a in sys.argv[1:] if a != "--fresh"]
    fresh = "--fresh" in sys.argv[1:]
    if fresh and not argv:
        raise SystemExit(
            "--fresh requires explicit query names: it discards stored "
            "cross-session minima for the named queries (plan-change "
            "reset), and a bare invocation would wipe every row"
        )
    subset = set(argv) or set(QUERIES)
    registry = load_all()
    unknown = subset - set(registry)
    if unknown:
        raise SystemExit(f"unknown query name(s): {sorted(unknown)}")
    spark = get_spark("sf1-bench")
    spark.sparkContext.setLogLevel("ERROR")
    ensure_big_dir(spark)

    con = duckdb.connect()
    for t in TABLES:
        # Spark writes each table as a DIRECTORY of part files
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{BIG_DIR}/{t}.parquet/*.parquet'"
        )

    def floor_once() -> float:
        t0 = time.perf_counter()
        spark.range(1).write.mode("overwrite").format("noop").save()
        return time.perf_counter() - t0

    floor_once()  # warm codegen/classloading
    floor_s = round(min(floor_once() for _ in range(5)), 4)

    doc: dict = {}
    if os.path.exists(OUT):
        try:
            with open(OUT) as fh:
                doc = json.load(fh)
        except Exception:  # noqa: BLE001
            doc = {}
    doc.setdefault("queries", {})
    doc.update(
        {
            "sf": 1.0,
            "amplification": f"sf0.1 x{K} key-shifted (tools/scale_smoke.amplify)",
            "oracle_convention": (
                "bench-identical fetchall min-of-2; hash-wrapped when the "
                "output probe exceeds 20M rows (oracle_mode flags it)"
            ),
            "spark_convention": "min-of-3 build+noop-write (min-of-2 over 15s, 1 over 60s)",
            "spark_job_floor_s": floor_s,
            "cpus": os.cpu_count(),
            # always None here — refuse_extra_conf() aborted otherwise;
            # recorded so the artifact shows the override was checked
            "extra_conf": os.environ.get("SPARK_GRAFT_EXTRA_CONF"),
        }
    )

    def spark_time(name: str) -> float:
        spec = registry[name]

        def once() -> float:
            t0 = time.perf_counter()
            spec.fn(spark, BIG_DIR).write.mode("overwrite").format("noop").save()
            return time.perf_counter() - t0

        t1 = once()
        release_persisted()
        if t1 > 60:
            return t1
        best = t1
        for _ in range(1 if t1 > 15 else 2):
            best = min(best, once())
            release_persisted()
        return best

    OUTPUT_ROW_CAP = 20_000_000

    def oracle_time(sql: str) -> tuple[float, str]:
        n_out = con.execute(f"SELECT count(*) FROM ({sql}) t").fetchall()[0][0]
        if n_out > OUTPUT_ROW_CAP:
            mode, to_run = "hash_wrapped", f"SELECT sum(hash(t)) FROM ({sql}) t"
        else:
            mode, to_run = "fetchall", sql

        def once() -> float:
            t0 = time.perf_counter()
            con.execute(to_run).fetchall()
            return time.perf_counter() - t0

        t1 = once()
        return (t1 if t1 > 60 else min(t1, once())), mode

    # names explicitly asked for but outside the pinned lists still run
    # (one-off measurements append rows without editing the constants)
    to_run = [n for n in QUERIES if n in subset] + sorted(subset - set(QUERIES))
    for name in to_run:
        spec = registry[name]
        stored = doc["queries"].get(name, {})
        prev_row = {} if fresh else stored
        # seed from the stored row so a TRANSIENT failure this session
        # cannot destroy an accumulated cross-session minimum (the error
        # key is recorded alongside, not instead of, the surviving data);
        # stale error keys from a previous failed run clear on success
        row: dict = dict(prev_row)
        row.pop("spark_err", None)
        row.pop("oracle_err", None)
        row.pop("fresh_err", None)
        t0 = time.time()
        try:
            s = spark_time(name)
            # re-runs keep the BEST of all runs (min-of-N across sessions:
            # the box's own 32-thread load pollutes later samples) —
            # VALID ONLY while the registered plan is unchanged; after a
            # plan change, re-measure with --fresh or the row silently
            # keeps the retired plan's minimum (bit r13: the containment
            # twin carried its pre-composite-key 3.378s for a round)
            row["spark_s"] = round(min(s, prev_row.get("spark_s", s)), 3)
        except Exception as exc:  # noqa: BLE001
            if fresh and stored:
                # ADVICE r13: a crashed --fresh run must not destroy the
                # accumulated row — keep the stored row UNCHANGED (its
                # oracle minimum and ratios included; re-measuring the
                # oracle here with prev_row={} would overwrite the
                # accumulated oracle_s with one possibly-loaded sample
                # and mix a stale spark_s into a fresh ratio) and flag
                # the failed reset so the stale minimum is visibly
                # suspect.
                row = dict(stored)
                row["fresh_err"] = str(exc)[:200]
                row["load_avg_1m"] = round(os.getloadavg()[0], 2)
                doc["queries"][name] = row
                with open(OUT, "w") as fh:
                    json.dump(doc, fh, indent=1, sort_keys=True)
                print(
                    f"[sf1] {name:34s} {json.dumps(row)}  "
                    f"(fresh reset FAILED, stored row preserved)",
                    flush=True,
                )
                continue
            row["spark_err"] = str(exc)[:200]
        if spec.oracle is None:
            row["oracle_mode"] = "rows_only (bounds in BOUNDS.json)"
        else:
            try:
                o, mode = oracle_time(spec.oracle)
                row["oracle_s"] = round(min(o, prev_row.get("oracle_s", o)), 3)
                row["oracle_mode"] = mode
            except Exception as exc:  # noqa: BLE001
                row["oracle_err"] = str(exc)[:200]
        if "spark_s" in row and "oracle_s" in row and row["oracle_s"] > 0:
            row["ratio"] = round(row["spark_s"] / row["oracle_s"], 2)
            row["floor_adj_ratio"] = round(
                max(row["spark_s"] - floor_s, 0.0) / row["oracle_s"], 2
            )
        row["load_avg_1m"] = round(os.getloadavg()[0], 2)
        doc["queries"][name] = row
        with open(OUT, "w") as fh:
            json.dump(doc, fh, indent=1, sort_keys=True)
        print(
            f"[sf1] {name:34s} {json.dumps(row)}  ({time.time() - t0:.1f}s elapsed)",
            flush=True,
        )

    over = sorted(
        n
        for n, r in doc["queries"].items()
        if r.get("floor_adj_ratio", 0) is not None and r.get("floor_adj_ratio", 0) >= 2
    )
    doc["over_2x_floor_adjusted"] = over
    with open(OUT, "w") as fh:
        json.dump(doc, fh, indent=1, sort_keys=True)
    print(f"[sf1] done; >2x floor-adjusted at sf1: {over}", flush=True)


if __name__ == "__main__":
    main()
