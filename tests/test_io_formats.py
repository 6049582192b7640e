"""Format round-trip tests: parquet/orc/json/csv with explicit schemas,
partitioned writes prune on read."""

from __future__ import annotations

import shutil
import tempfile

import pytest

from pyspark.sql import functions as F

from ub_etl_spark.sources.io import FORMATS, read_table_fmt, write_table


@pytest.fixture()
def outdir():
    d = tempfile.mkdtemp(prefix="ub_etl_io_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.mark.parametrize("fmt", FORMATS)
def test_roundtrip(spark, sf_dir, outdir, fmt):
    src = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    schema = "o_orderkey bigint, o_orderstatus string, o_totalprice double"
    write_table(src, f"{outdir}/{fmt}", fmt=fmt)
    back = read_table_fmt(spark, f"{outdir}/{fmt}", fmt, schema)
    assert back.count() == src.count()
    a = {tuple(r) for r in src.collect()}
    b = {tuple(r) for r in back.select("o_orderkey", "o_orderstatus", "o_totalprice").collect()}
    assert a == b


def test_partitioned_write_prunes(spark, sf_dir, outdir):
    src = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    write_table(src, f"{outdir}/p", fmt="parquet", partition_by=["o_orderstatus"])
    back = spark.read.parquet(f"{outdir}/p").filter(F.col("o_orderstatus") == "F")
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(o_orderstatus" in plan
    assert back.count() == src.filter(F.col("o_orderstatus") == "F").count()


def test_json_corrupt_record_permissive(spark, outdir):
    path = f"{outdir}/bad.json"
    with open(path, "w") as f:
        f.write('{"a": 1, "b": "x"}\n')
        f.write("THIS IS NOT JSON\n")
        f.write('{"a": 2, "b": "y"}\n')
    df = read_table_fmt(
        spark, path, "json", "a bigint, b string, _corrupt_record string"
    )
    rows = df.collect()
    assert len(rows) == 3
    assert sum(r._corrupt_record is not None for r in rows) == 1


def test_load_table_sets_no_session_conf(spark, sf_dir, outdir):
    """events.parquet stores TIMESTAMP(NANOS) and still loads as a plain
    read: ts is timestamp_ntz and the loader sets no session conf, so no
    later parquet read in the shared session changes behind its back."""
    from ub_etl_spark.sources.tables import load_table

    nanos = "spark.sql.legacy.parquet.nanosAsLong"
    spark.conf.unset(nanos)
    # a copy under a new directory is a fresh key of load_table's memo
    shutil.copy(f"{sf_dir}/events.parquet", f"{outdir}/events.parquet")
    before = spark.conf.getAll
    df = load_table(spark, outdir, "events")
    assert dict(df.dtypes)["ts"] == "timestamp_ntz"
    assert df.filter(F.col("ts").isNotNull()).count() > 0
    assert nanos not in spark.conf.getAll
    assert spark.conf.getAll == before
