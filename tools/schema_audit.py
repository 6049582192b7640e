"""Cross-engine output-type audit — catches the r03 driver hash-fail class.

The driver canonicalizes BOTH engines' results through pandas before value
hashing.  DuckDB's HUGEINT (the type of SUM(integer)) and DECIMAL columns
land in pandas as float64 / object, while the Spark side of the same
column is int64 — so the value hash diverges even when fetchall()-based
local parity (exact python ints) is green.  That is exactly how
events_funnel_rates / agg_weighted_median / events_anomaly_mad passed every
local check and failed the r03 driver window.

This tool DESCRIBEs every oracle (no execution) and builds every Spark
plan (no execution), then flags any output column whose engine-type pair
is not pandas-stable:

  - DuckDB HUGEINT / UHUGEINT (pandas float64) — always flagged: write
    CAST(SUM(..) AS BIGINT) in the oracle.
  - DuckDB DECIMAL (pandas float64/object; division-typing also varies by
    DuckDB version) — always flagged: CAST(.. AS DOUBLE) or restructure.
  - integer-vs-double cross between engines — flagged.

Usage:  python tools/schema_audit.py [query ...]
Exit 1 if anything is flagged.  tests/test_schema_audit.py runs this as
the repo lint.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import duckdb  # noqa: E402

from ub_etl_spark.registry import load_all  # noqa: E402
from ub_etl_spark.sources.tables import TABLES  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"

# engine type -> pandas-stable family
_DUCK_FAMILY = {
    "TINYINT": "int",
    "SMALLINT": "int",
    "INTEGER": "int",
    "BIGINT": "int",
    "UBIGINT": "int",
    "UINTEGER": "int",
    "USMALLINT": "int",
    "UTINYINT": "int",
    "HUGEINT": "BAD:hugeint",
    "UHUGEINT": "BAD:hugeint",
    "FLOAT": "float",
    "DOUBLE": "float",
    "VARCHAR": "str",
    "DATE": "date",
    "TIME": "time",
    "BOOLEAN": "bool",
    "INTERVAL": "interval",
}

_SPARK_FAMILY = {
    "byte": "int",
    "short": "int",
    "int": "int",
    "bigint": "int",
    "float": "float",
    "double": "float",
    "string": "str",
    "date": "date",
    "boolean": "bool",
}


def duck_family(t: str) -> str:
    t = t.upper()
    if t.startswith("DECIMAL"):
        return "BAD:decimal"
    if t.startswith("TIMESTAMP"):
        return "timestamp"
    return _DUCK_FAMILY.get(t, f"BAD:unknown({t})")


def spark_family(t: str) -> str:
    if t.startswith("decimal"):
        # Spark decimal -> pandas object/Decimal; driver-unstable too
        return "BAD:decimal"
    if t.startswith("timestamp"):
        return "timestamp"
    return _SPARK_FAMILY.get(t, f"BAD:unknown({t})")


def audit(names=None):
    from ub_etl_spark.session import get_spark

    reg = load_all()
    spark = get_spark("schema_audit")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    findings = []
    for name, spec in reg.items():
        if names and name not in names:
            continue
        if spec.oracle is None:
            continue
        try:
            duck_types = {
                r[0]: r[1]
                for r in con.execute(f"DESCRIBE {spec.oracle}").fetchall()
            }
        except Exception as e:  # noqa: BLE001
            findings.append((name, "<oracle>", f"DESCRIBE failed: {e}"))
            continue
        try:
            sdf = spec.fn(spark, SF_DIR)
        except Exception as e:  # noqa: BLE001
            findings.append((name, "<spark>", f"plan build failed: {e}"))
            continue
        stypes = {f.name: f.dataType.simpleString() for f in sdf.schema.fields}
        for col, dt in duck_types.items():
            dfam, sfam = duck_family(dt), spark_family(stypes.get(col, "<missing>"))
            if dfam.startswith("BAD") or sfam.startswith("BAD"):
                findings.append((name, col, f"duck={dt} spark={stypes.get(col)}"))
            elif dfam != sfam:
                findings.append(
                    (name, col, f"family cross: duck={dt}({dfam}) spark={stypes.get(col)}({sfam})")
                )
    return findings


def main() -> int:
    names = set(sys.argv[1:]) or None
    findings = audit(names)
    for name, col, msg in findings:
        print(f"[FLAG] {name:36s} {col:24s} {msg}")
    print(f"\n{len(findings)} flagged column(s)")
    return 1 if findings else 0


if __name__ == "__main__":
    raise SystemExit(main())
