"""sf1 value parity for the over-abs-gate set (r14 verdict task 3).

The over-1.5s bench queries carry sf1 WALL-TIME rows (sf1_bench.json) but
value-hash parity was certified only to sf0.1.  This tool closes that
notch: it runs each over-gate query on Spark AND its DuckDB oracle over
the amplified sf1 dataset (/tmp/sf1_10x, same amplification as
tools/sf1_bench) and compares values.

Comparison modes, strongest applicable wins:
  - full:      parity.py's exact order-insensitive multiset compare
               (collect + canonicalize both sides) — the default.
  - checksum:  for outputs too large to collect (join_spatial_grid's
               qualifying pair set is ~27M rows at sf0.1 and grows with
               local density): COUNT(*) plus exact DECIMAL(38,0) sums of
               every output column and of the id product, computed
               ENGINE-SIDE on both engines — order-insensitive,
               full-output-covering, O(1) transfer.  Weaker than the
               multiset (a permutation of values across rows summing
               identically would pass) but deterministic and exact; the
               multiset form for this query is pinned at sf0.001-0.1 by
               the driver and tools/parity.py.
  - rows-only: oracle-less (hash-seeded/ANN) queries — spark_rows > 0
               recorded; their sf1 VALUE evidence is the deterministic
               BOUNDS rows (tools/bounds.py --sf1 additions, r15).

Usage: python tools/sf1_parity.py [query ...]   (default: the over-gate
set recorded in bench_detail_r14.json, frozen below for decidability)
"""

from __future__ import annotations

import os
import sys
import time

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tools"))

from parity import compare  # noqa: E402
from sf1_bench import BIG_DIR, ensure_big_dir  # noqa: E402

from ub_etl_spark.registry import load_all  # noqa: E402
from ub_etl_spark.session import get_spark, refuse_extra_conf, release_persisted  # noqa: E402
from ub_etl_spark.sources.tables import TABLES  # noqa: E402

# the 22 over-abs-gate queries of the r14 committed sidecar
# (bench_detail_r14.json over_abs_gate, == its >1.5s set)
OVER_GATE_R14 = [
    "dedup_cluster_cc_star",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dim_scd2_apply_changes",
    "graph_bfs_distance",
    "graph_jaccard_link_prediction",
    "graph_pagerank_trade",
    "graph_triangle_count",
    "join_bloom_prefilter",
    "join_spatial_grid",
    "market_basket_lift",
    "market_basket_pairs",
    "orders_active_episodes",
    "pipeline_course_normalize",
    "pipeline_training_manifest",
    "sim_ann_lsh",
    "sim_ann_pq",
    "storage_bucketed_merge",
    "storage_gdpr_delete",
    "text_containment_banded",
    "text_containment_dedup",
    "udf_cogrouped_map",
]

# queries whose full output cannot be collected at sf1 -> checksum mode
CHECKSUM = {"join_spatial_grid"}


def _checksum_exprs(cols: list[str]) -> str:
    terms = ["COUNT(*) AS n"]
    for c in cols:
        # dist is 6dp-floored by construction: micro-units are integral,
        # ROUND only strips the binary-representation dust
        expr = f"ROUND({c} * 1000000)" if c == "dist" else c
        terms.append(f"SUM(CAST({expr} AS DECIMAL(38,0))) AS s_{c}")
    if {"id_a", "id_b"} <= set(cols):
        terms.append("SUM(CAST(id_a AS DECIMAL(38,0)) * id_b) AS s_prod")
    return ", ".join(terms)


def checksum_compare(name, spec, spark, con) -> tuple[bool, str]:
    sdf = spec.fn(spark, BIG_DIR)
    cols = sdf.columns
    exprs = _checksum_exprs(cols)
    sdf.createOrReplaceTempView("__cksum_probe")
    srow = spark.sql(f"SELECT {exprs} FROM __cksum_probe").collect()[0]
    orow = con.execute(f"SELECT {exprs} FROM ({spec.oracle}) t").fetchall()[0]
    got = tuple(str(v) for v in srow)
    exp = tuple(str(v) for v in orow)
    if got != exp:
        return False, f"checksum mismatch: spark={got} oracle={exp}"
    return True, f"checksum OK over {srow['n']} rows ({len(got)} terms)"


def main() -> int:
    refuse_extra_conf("sf1_parity")
    names = sys.argv[1:] or OVER_GATE_R14
    registry = load_all()
    unknown = set(names) - set(registry)
    if unknown:
        raise SystemExit(f"unknown query name(s): {sorted(unknown)}")
    spark = get_spark("sf1-parity")
    spark.sparkContext.setLogLevel("ERROR")
    ensure_big_dir(spark)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{BIG_DIR}/{t}.parquet/*.parquet'"
        )
    failures = 0
    for name in names:
        spec = registry[name]
        t0 = time.perf_counter()
        if spec.oracle is not None and name in CHECKSUM:
            ok, msg = checksum_compare(name, spec, spark, con)
            msg = f"[checksum] {msg}"
        else:
            ok, msg = compare(name, spec, spark, con, BIG_DIR)
        release_persisted()
        spark.catalog.clearCache()
        print(
            f"[{'PASS' if ok else 'FAIL'}] {name:32s} {time.perf_counter() - t0:6.1f}s  {msg}",
            flush=True,
        )
        failures += not ok
    print(f"\n{len(names) - failures}/{len(names)} passed at sf1 ({BIG_DIR})")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
