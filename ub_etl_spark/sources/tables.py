"""Parquet table loaders for the driver testdata star schema.

Columnar parquet scan is the engine's default source (SURVEY.md A2):
predicate pushdown + column pruning reach the footer/page level via
Catalyst, which is the 100 TB-scale replacement for the reference's
parse-everything JSON loop (scripts/course_catalog.py:187,208).
"""

from __future__ import annotations

import weakref

from pyspark.sql import DataFrame, SparkSession

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


# Per-session memo of loaded tables.  spark.read.parquet re-lists the path
# and re-reads footers on EVERY call (~0.1-0.15 s of driver-side latency per
# table); a catalog would cache that metadata, so we do the equivalent here.
# DataFrames are immutable plan objects — reusing one across queries is safe
# and exactly what registering the table once would give.  Keyed weakly by
# the session so entries die with it (test sessions come and go).
_TABLE_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict[tuple[str, str], DataFrame]]" = (
    weakref.WeakKeyDictionary()
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    per_session = _TABLE_CACHE.setdefault(spark, {})
    hit = per_session.get((sf_dir, name))
    if hit is not None:
        return hit
    # events.parquet stores TIMESTAMP(NANOS); Spark 4.1 reads it natively as
    # TIMESTAMP_NTZ (nanos truncated to micros), so every table is a plain read.
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    per_session[(sf_dir, name)] = df
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view so queries can use spark.sql."""
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
