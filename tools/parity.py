"""Local oracle-differential harness — replicates the driver's t2 check.

Runs every registered query on Spark and its oracle on DuckDB over the
same parquet tables, then compares row count, schema width, and an
order-insensitive value multiset (columns sorted by name, rows sorted,
floats compared exactly — our queries are constructed to be bit-
deterministic across engines via exact decimal aggregation).

Usage:
    python tools/parity.py [--sf /root/testdata/sf0.01] [query ...]
"""

from __future__ import annotations

import argparse
import math
import os
import sys
import time

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from ub_etl_spark.registry import load_all  # noqa: E402
from ub_etl_spark.session import get_spark, release_persisted  # noqa: E402
from ub_etl_spark.sources.tables import TABLES  # noqa: E402


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def normalize(rows, colnames):
    """Sort columns by name, canonicalize values, sort rows."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])

    def canon(v):
        if isinstance(v, float):
            if math.isnan(v):
                return "NaN"
            return repr(v)
        return repr(v)

    return sorted(tuple(canon(r[i]) for i in order) for r in rows)


def compare(name: str, spec, spark, con, sf_dir: str) -> tuple[bool, str]:
    sdf = spec.fn(spark, sf_dir)
    srows = [tuple(r) for r in sdf.collect()]
    scols = sdf.columns
    if spec.oracle is None:
        return True, f"rows-only ({len(srows)} rows)"
    ores = con.execute(spec.oracle)
    orows = ores.fetchall()
    ocols = [d[0] for d in ores.description]
    if sorted(scols) != sorted(ocols):
        return False, f"column mismatch: spark={sorted(scols)} oracle={sorted(ocols)}"
    if len(srows) != len(orows):
        return False, f"row count: spark={len(srows)} oracle={len(orows)}"
    ns, no = normalize(srows, scols), normalize(orows, ocols)
    if ns != no:
        bad = next(i for i, (a, b) in enumerate(zip(ns, no)) if a != b)
        return False, f"value mismatch at sorted-row {bad}:\n  spark : {ns[bad]}\n  oracle: {no[bad]}"
    return True, f"OK ({len(srows)} rows)"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()

    registry = load_all()
    names = args.queries or sorted(registry)
    unknown = [n for n in names if n not in registry]
    if unknown:
        import difflib

        for n in unknown:
            close = difflib.get_close_matches(n, registry, n=3)
            hint = f" (did you mean: {', '.join(close)}?)" if close else ""
            print(f"unknown query: {n}{hint}", file=sys.stderr)
        return 2
    spark = get_spark("parity")
    # ERROR-only logging: the sanctioned global-order queries emit a
    # WindowExec "No Partition Defined" warning per run, and hundreds of
    # those lines bury the PASS/FAIL tail (r5 verdict nit #3)
    spark.sparkContext.setLogLevel("ERROR")
    con = duck_con(args.sf)
    failures = 0
    for name in names:
        spec = registry[name]
        t0 = time.time()
        try:
            ok, msg = compare(name, spec, spark, con, args.sf)
        except Exception as e:  # noqa: BLE001
            ok, msg = False, f"EXCEPTION: {type(e).__name__}: {e}"
        dt = time.time() - t0
        status = "PASS" if ok else "FAIL"
        print(f"[{status}] {name:28s} {dt:6.2f}s  {msg}", flush=True)
        failures += 0 if ok else 1
        # LSH-family queries persist reuse frames (operators/dedup.py
        # _REUSE); drop them so a 95-query session doesn't accumulate
        # cached relations across unrelated queries
        release_persisted()
        spark.catalog.clearCache()
    print(f"\n{len(names) - failures}/{len(names)} passed")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
