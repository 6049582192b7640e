"""Bucketed-table merge tests: partition pruning + dynamic overwrite
only rewrites touched buckets (SURVEY.md §7 upsert-at-scale path)."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest

from pyspark.sql import functions as F

from ub_etl_spark.operators.storage import (
    BUCKET_COL,
    merge_into_bucketed,
    read_table,
    write_bucketed,
)


@pytest.fixture()
def table_dir():
    d = tempfile.mkdtemp(prefix="ub_etl_tbl_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def mtimes_by_bucket(path):
    out = {}
    for name in os.listdir(path):
        if name.startswith(f"{BUCKET_COL}="):
            b = int(name.split("=")[1])
            full = os.path.join(path, name)
            out[b] = max(os.path.getmtime(os.path.join(full, f)) for f in os.listdir(full))
    return out


def test_merge_updates_only_touched_buckets(spark, table_dir, sf_dir):
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    write_bucketed(orders, table_dir, ["o_orderkey"], n_buckets=8)
    before = mtimes_by_bucket(table_dir)
    assert len(before) == 8

    updates = orders.filter(F.col("o_orderkey") == 42).withColumn(
        "o_totalprice", F.lit(1.0)
    )
    merge_into_bucketed(spark, table_dir, updates, ["o_orderkey"], n_buckets=8)

    after = mtimes_by_bucket(table_dir)
    changed = {b for b in after if after[b] != before.get(b)}
    assert len(changed) == 1, f"expected exactly one rewritten bucket, got {changed}"

    out = read_table(spark, table_dir)
    assert out.count() == orders.count()
    assert out.filter(F.col("o_orderkey") == 42).first().o_totalprice == 1.0


def test_merge_inserts_new_keys(spark, table_dir):
    base = spark.createDataFrame([(1, 10.0), (2, 20.0)], "k long, v double")
    write_bucketed(base, table_dir, ["k"], n_buckets=4)
    updates = spark.createDataFrame([(2, 99.0), (3, 30.0)], "k long, v double")
    merge_into_bucketed(spark, table_dir, updates, ["k"], n_buckets=4)
    got = {(r.k, r.v) for r in read_table(spark, table_dir).collect()}
    assert got == {(1, 10.0), (2, 99.0), (3, 30.0)}


def test_merge_idempotent(spark, table_dir):
    base = spark.createDataFrame([(1, 10.0)], "k long, v double")
    write_bucketed(base, table_dir, ["k"], n_buckets=2)
    updates = spark.createDataFrame([(1, 11.0)], "k long, v double")
    merge_into_bucketed(spark, table_dir, updates, ["k"], n_buckets=2)
    merge_into_bucketed(spark, table_dir, updates, ["k"], n_buckets=2)
    got = {(r.k, r.v) for r in read_table(spark, table_dir).collect()}
    assert got == {(1, 11.0)}


def test_merge_strict_newer_on_two_order_columns(spark, table_dir):
    """Recency is (a, b) compared lexicographically.  On an exact tie the
    stored row stays; a batch row older on either column never replaces a
    newer stored row, so replaying the batch changes nothing."""
    schema = "k long, a long, b long, v string"
    stored = [(1, 2, 1, "s1"), (2, 2, 2, "s2"), (3, 1, 5, "s3"), (4, 2, 1, "s4")]
    batch = spark.createDataFrame(
        [(1, 2, 1, "u1"), (2, 1, 9, "u2"), (3, 1, 6, "u3"), (4, 2, 0, "u4"), (5, 0, 0, "u5")],
        schema,
    )
    write_bucketed(spark.createDataFrame(stored, schema), table_dir, ["k"], n_buckets=4)
    want = {1: "s1", 2: "s2", 3: "u3", 4: "s4", 5: "u5"}
    for _ in range(2):
        merge_into_bucketed(spark, table_dir, batch, ["k"], order_by=["a", "b"], n_buckets=4)
        assert {r.k: r.v for r in read_table(spark, table_dir).collect()} == want


# ---------------------------------------------------------------------------
# Z-order clustering + small-file compaction (SURVEY.md B36/B37)
# ---------------------------------------------------------------------------


def test_zorder_files_cover_disjoint_key_ranges(spark, table_dir, sf_dir):
    """The clustering property itself: after write_zordered, each file owns
    a contiguous, non-overlapping slice of the z-key space (that is what
    makes parquet min/max stats prune on either clustered column)."""
    from ub_etl_spark.operators.storage import write_zordered

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_partkey"
    )
    write_zordered(li, table_dir, cols=["l_orderkey", "l_partkey"], n_files=4)
    per_file = (
        spark.read.parquet(table_dir)
        .groupBy(F.input_file_name().alias("f"))
        .agg(F.min("__zorder").alias("lo"), F.max("__zorder").alias("hi"))
        .collect()
    )
    assert len(per_file) == 4
    ranges = sorted((r.lo, r.hi) for r in per_file)
    for (_, prev_hi), (lo, _) in zip(ranges, ranges[1:]):
        assert lo >= prev_hi  # contiguous ranges; boundary value may repeat


def test_zorder_key_locality_beats_single_sort(spark, sf_dir):
    """Filtering on the SECOND clustered column must touch a bounded span
    of z-space: with a plain (l_orderkey) sort every file would match an
    l_partkey slice; under z-order the slice concentrates."""
    from pyspark.sql.window import Window

    from ub_etl_spark.operators.storage import zorder_key

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_partkey"
    )
    z = zorder_key(li, ["l_orderkey", "l_partkey"], bits=8)
    stats = (
        z.withColumn("zq", F.ntile(4).over(Window.orderBy("__zorder")))
        .filter(F.col("l_partkey") < F.lit(100))
        .groupBy("zq")
        .count()
        .collect()
    )
    counts = {r.zq: r["count"] for r in stats}
    # the low-partkey band cannot be spread uniformly over all 4 z-quartiles
    assert max(counts.values()) > 2 * min(counts.values() or [1])


def test_compact_collapses_file_count_and_preserves_rows(spark, table_dir, sf_dir):
    from ub_etl_spark.operators.storage import compact_table, parquet_file_count

    e = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    e.repartition(32).write.mode("overwrite").parquet(table_dir)
    assert parquet_file_count(spark, table_dir) == 32
    before = e.count()
    n = compact_table(
        spark, table_dir, target_file_bytes=64 * 1024 * 1024, sort_by=("o_orderkey",)
    )
    assert parquet_file_count(spark, table_dir) == n < 32
    back = spark.read.parquet(table_dir)
    assert back.count() == before
    # clustering established: per-file o_orderkey ranges are disjoint
    per_file = (
        back.groupBy(F.input_file_name().alias("f"))
        .agg(F.min("o_orderkey").alias("lo"), F.max("o_orderkey").alias("hi"))
        .collect()
    )
    ranges = sorted((r.lo, r.hi) for r in per_file)
    for (_, prev_hi), (lo, _) in zip(ranges, ranges[1:]):
        assert lo >= prev_hi


# ---------------------------------------------------------------------------
# Partition-scoped DELETE WHERE (GDPR erasure)
# ---------------------------------------------------------------------------


def _part_files(path):
    """{partition_dir: {file: mtime_ns}} for a partitioned parquet layout."""
    out = {}
    for d in os.listdir(path):
        full = os.path.join(path, d)
        if not os.path.isdir(full) or "=" not in d:
            continue
        out[d] = {
            f: os.stat(os.path.join(full, f)).st_mtime_ns
            for f in os.listdir(full)
            if f.endswith(".parquet")
        }
    return out


def test_delete_where_rewrites_only_affected_partitions(spark, table_dir):
    from ub_etl_spark.operators.storage import delete_where_partitioned

    df = spark.createDataFrame(
        [(i, i % 7, f"p{i % 3}") for i in range(200)], "id bigint, k int, part string"
    )
    path = os.path.join(table_dir, "t")
    df.write.partitionBy("part").parquet(path)
    before = _part_files(path)
    # k == 6 rows live only where id % 7 == 6; ids with those values span
    # all three parts, so pick a predicate hitting only part p0: delete
    # ids that are multiples of 21 (id % 3 == 0 and id % 7 == 0)
    affected = delete_where_partitioned(
        spark, path, "part", (F.col("id") % 21 == 0)
    )
    assert affected == ["p0"]
    after = _part_files(path)
    # unaffected partitions: exact same files, byte-time untouched
    for part in ("part=p1", "part=p2"):
        assert after[part] == before[part]
    # affected partition rewritten: its old data files replaced
    assert after["part=p0"] != before["part=p0"]
    remaining = spark.read.parquet(path)
    assert remaining.filter(F.col("id") % 21 == 0).count() == 0
    assert remaining.count() == 200 - len([i for i in range(200) if i % 21 == 0])


def test_delete_where_drains_empty_partition(spark, table_dir):
    from ub_etl_spark.operators.storage import delete_where_partitioned

    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b")], "id bigint, part string"
    )
    path = os.path.join(table_dir, "t2")
    df.write.partitionBy("part").parquet(path)
    delete_where_partitioned(spark, path, "part", F.col("part") == "a")
    assert not os.path.exists(os.path.join(path, "part=a"))
    got = spark.read.parquet(path)
    assert [r.id for r in got.collect()] == [3]


def test_delete_where_no_matches_is_noop(spark, table_dir):
    from ub_etl_spark.operators.storage import delete_where_partitioned

    df = spark.createDataFrame([(1, "a"), (2, "b")], "id bigint, part string")
    path = os.path.join(table_dir, "t3")
    df.write.partitionBy("part").parquet(path)
    before = _part_files(path)
    assert delete_where_partitioned(spark, path, "part", F.lit(False)) == []
    assert _part_files(path) == before


def test_delete_where_drains_hive_escaped_partition(spark, tmp_path):
    """Drained-partition removal must find the REAL on-disk directory even
    when the partition value needs Hive escaping (spaces/colons become
    percent-escapes on disk, so naive f"{col}={val}" paths miss it and
    stale files would silently resurrect deleted rows — r3 ADVICE)."""
    from ub_etl_spark.operators.storage import delete_where_partitioned

    path = str(tmp_path / "tbl_escaped")
    rows = [(i, "a b:c" if i % 2 == 0 else "plain") for i in range(20)]
    df = spark.createDataFrame(rows, "id long, part string")
    df.write.partitionBy("part").mode("overwrite").parquet(path)
    # the escaped dir really is percent-encoded on disk
    dirs = {d for d in os.listdir(path) if "=" in d}
    assert "part=a b%3Ac" in dirs or "part=a%20b%3Ac" in dirs, dirs

    # drain the escaped partition completely
    affected = delete_where_partitioned(
        spark, path, "part", F.col("part") == "a b:c"
    )
    assert affected == ["a b:c"]
    left = spark.read.parquet(path)
    assert left.filter(F.col("part") == "a b:c").count() == 0
    assert left.count() == 10
    # the escaped directory is gone from disk (no stale files), the
    # untouched partition still present
    dirs_after = {d for d in os.listdir(path) if "=" in d}
    assert dirs_after == {"part=plain"}


def test_delete_where_leaves_session_conf_alone(spark, table_dir, monkeypatch):
    """Dynamic overwrite is an option of the one write: the delete sets no
    session conf, so concurrent queries never run with it flipped."""
    from pyspark.sql.conf import RuntimeConfig

    from ub_etl_spark.operators.storage import delete_where_partitioned

    df = spark.createDataFrame([(1, "a"), (2, "a"), (3, "b")], "id bigint, part string")
    path = os.path.join(table_dir, "t4")
    df.write.partitionBy("part").parquet(path)
    calls = []
    real_set = RuntimeConfig.set

    def recording_set(self, key, value):
        calls.append((key, value))
        return real_set(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", recording_set)
    assert delete_where_partitioned(spark, path, "part", F.col("id") == 1) == ["a"]
    assert calls == []
    assert sorted(r.id for r in spark.read.parquet(path).collect()) == [2, 3]


def test_hot_bucket_write_rolls_files_at_max_records(spark, table_dir, monkeypatch):
    """r15 verdict task 6 (guide §5/§6): the one-task-per-bucket write
    layout must not produce an unbounded single FILE for a hot bucket at
    scale — maxRecordsPerFile makes the writer roll to a new file past
    the cap (same task, same directory).  Pinned with a tiny cap; at the
    default cap the bench-scale layout stays exactly one file per
    directory (the layout tests above)."""
    import ub_etl_spark.operators.storage as storage

    monkeypatch.setattr(storage, "MAX_RECORDS_PER_BUCKET_FILE", 10)

    def bucket_file_rows(path):
        out = {}
        for name in os.listdir(path):
            if not name.startswith(f"{BUCKET_COL}="):
                continue
            full = os.path.join(path, name)
            parts = [f for f in os.listdir(full) if f.endswith(".parquet")]
            out[name] = [
                spark.read.parquet(os.path.join(full, f)).count() for f in parts
            ]
        return out

    df = spark.range(100).select(F.col("id").alias("k"), F.lit(1.0).alias("v"))
    storage.write_bucketed(df, table_dir, ["k"], n_buckets=2)
    sizes = bucket_file_rows(table_dir)
    assert len(sizes) == 2
    for name, rows_per_file in sizes.items():
        assert len(rows_per_file) > 1, f"{name}: one unbounded file for a hot bucket"
        assert max(rows_per_file) <= 10, f"{name}: file over the cap ({rows_per_file})"
    assert read_table(spark, table_dir).count() == 100

    # the merge rewrite honors the same cap
    upd = spark.range(100).select(F.col("id").alias("k"), F.lit(2.0).alias("v"))
    merge_into_bucketed(spark, table_dir, upd, ["k"], n_buckets=2)
    for name, rows_per_file in bucket_file_rows(table_dir).items():
        assert max(rows_per_file) <= 10, f"{name}: merge wrote over the cap"
    out = read_table(spark, table_dir)
    assert out.count() == 100
    assert out.agg(F.min("v"), F.max("v")).first() == (2.0, 2.0)


# ---------------------------------------------------------------------------
# Single evaluation of the batch in the bucketed writers
# ---------------------------------------------------------------------------


def _growing_batch(spark, counter_path, first_rows, extra_rows):
    """A one-partition Python DataSource whose first evaluation yields
    ``first_rows`` and every later one ``first_rows + extra_rows`` — a live
    source that changes between two reads.  The classes are local so they
    ship to the Python workers by value."""
    from pyspark.sql.datasource import DataSource, DataSourceReader

    with open(counter_path, "w") as f:
        f.write("0")

    class Reader(DataSourceReader):
        def read(self, partition):
            with open(counter_path, "r+") as f:
                n = int(f.read())
                f.seek(0)
                f.write(str(n + 1))
                f.truncate()
            yield from (first_rows if n == 0 else first_rows + extra_rows)

    class GrowingBatch(DataSource):
        @classmethod
        def name(cls):
            return "growing_batch"

        def schema(self):
            return "k long, v long"

        def reader(self, schema):
            return Reader()

    spark.dataSource.register(GrowingBatch)
    return spark.read.format("growing_batch").load()


def _persisted_rdd_ids(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _split_keys(spark, n_buckets):
    """(new key, stored key in another bucket) for a table of keys 0..199."""
    b = {
        r.k: r.b
        for r in spark.range(1001)
        .select(F.col("id").alias("k"), F.pmod(F.xxhash64("id"), F.lit(n_buckets)).alias("b"))
        .collect()
    }
    new_key = 1000
    stored = next(k for k in range(200) if b[k] != b[new_key])
    return new_key, stored


def test_merge_evaluates_batch_once_and_keeps_stored_rows(spark, table_dir):
    """A bucket that shows up only in a second evaluation of the batch
    must not be overwritten without its stored rows: the batch is read
    once, so the extra key never reaches the table and every stored row
    survives."""
    base = spark.range(200).select(F.col("id").alias("k"), F.lit(0).cast("long").alias("v"))
    path = os.path.join(table_dir, "t")
    write_bucketed(base, path, ["k"], n_buckets=8)
    new_key, stored = _split_keys(spark, 8)
    reads = os.path.join(table_dir, "reads")
    batch = _growing_batch(spark, reads, [(new_key, 1)], [(stored, 1)])
    before = _persisted_rdd_ids(spark)
    merge_into_bucketed(spark, path, batch, ["k"], order_by=["v"], n_buckets=8)
    assert _persisted_rdd_ids(spark) == before
    with open(reads) as f:
        assert f.read() == "1", "the batch was read more than once"
    got = {r.k: r.v for r in read_table(spark, path).collect()}
    assert set(got) == set(range(200)) | {new_key}
    assert got[new_key] == 1 and got[stored] == 0


def test_insert_ignore_evaluates_batch_once_and_never_duplicates(spark, table_dir):
    """The anti-join and the append read one evaluation of the batch, so a
    stored key that a second evaluation would add is never appended."""
    from ub_etl_spark.operators.storage import insert_ignore_into_bucketed

    base = spark.range(200).select(F.col("id").alias("k"), F.lit(0).cast("long").alias("v"))
    path = os.path.join(table_dir, "t")
    write_bucketed(base, path, ["k"], n_buckets=8)
    new_key, stored = _split_keys(spark, 8)
    reads = os.path.join(table_dir, "reads")
    batch = _growing_batch(spark, reads, [(new_key, 1)], [(stored, 1)])
    before = _persisted_rdd_ids(spark)
    insert_ignore_into_bucketed(spark, path, batch, ["k"], n_buckets=8)
    assert _persisted_rdd_ids(spark) == before
    with open(reads) as f:
        assert f.read() == "1", "the batch was read more than once"
    out = read_table(spark, path)
    assert out.groupBy("k").count().filter(F.col("count") > 1).count() == 0
    got = {r.k: r.v for r in out.collect()}
    assert set(got) == set(range(200)) | {new_key}
    assert got[stored] == 0


@pytest.mark.parametrize("writer", ["merge", "insert_ignore"])
def test_bucketed_writer_unpersists_batch_when_write_raises(
    spark, table_dir, monkeypatch, writer
):
    from pyspark.errors import NumberFormatException

    import ub_etl_spark.operators.storage as storage

    base = spark.range(20).select(F.col("id").alias("k"), F.lit(0).cast("long").alias("v"))
    write_bucketed(base, table_dir, ["k"], n_buckets=4)
    upd = spark.range(5).select(F.col("id").alias("k"), F.lit(1).cast("long").alias("v"))
    # an option the writer cannot parse: raises after the batch is persisted
    monkeypatch.setattr(storage, "MAX_RECORDS_PER_BUCKET_FILE", "not-a-number")
    before = _persisted_rdd_ids(spark)
    with pytest.raises(NumberFormatException):
        if writer == "merge":
            storage.merge_into_bucketed(spark, table_dir, upd, ["k"], n_buckets=4)
        else:
            storage.insert_ignore_into_bucketed(spark, table_dir, upd, ["k"], n_buckets=4)
    assert _persisted_rdd_ids(spark) == before


def test_merged_buckets_plan_shuffles_once_per_side(spark, table_dir):
    """The merge rewrite's plan: one Exchange on each input side of the
    Union and none above it (the window and the one-file-per-bucket write
    reuse the sides' bucket partitioning)."""
    from ub_etl_spark.operators.storage import _bucketed_once, _merged_buckets

    base = spark.range(100).select(F.col("id").alias("k"), F.lit(0).cast("long").alias("v"))
    write_bucketed(base, table_dir, ["k"], n_buckets=4)
    upd = spark.range(50, 150).select(F.col("id").alias("k"), F.lit(1).cast("long").alias("v"))
    with _bucketed_once(upd, ["k"], 4) as (b, touched):
        merged = _merged_buckets(spark, table_dir, b, touched, ["k"], ["v"])
        lines = merged._jdf.queryExecution().executedPlan().toString().splitlines()
    u = next(i for i, line in enumerate(lines) if line.lstrip(" :+-").startswith("Union"))
    assert not any("Exchange" in line for line in lines[:u]), "\n".join(lines)
    col = lines[u].index("Union")
    second = next(i for i in range(u + 1, len(lines)) if lines[i][col:col + 3] == "+- ")
    sides = [lines[u + 1:second], lines[second:]]
    assert [sum("Exchange" in line for line in s) for s in sides] == [1, 1], "\n".join(lines)

    merge_into_bucketed(spark, table_dir, upd, ["k"], order_by=["v"], n_buckets=4)
    for name in os.listdir(table_dir):
        if name.startswith(f"{BUCKET_COL}="):
            files = [f for f in os.listdir(os.path.join(table_dir, name)) if f.endswith(".parquet")]
            assert len(files) == 1, (name, files)
    got = {r.k: r.v for r in read_table(spark, table_dir).collect()}
    assert got == {k: int(k >= 50) for k in range(150)}


def test_storage_queries_write_under_a_process_private_dir(spark, sf_dir, monkeypatch):
    """Two processes running the registry at once must not share scratch
    files (two parity runs used to collide on io_multiformat_roundtrip):
    every path the storage queries write lies under a directory that is
    private to this process, and another process gets its own, removed
    when it exits."""
    import subprocess
    import sys

    from pyspark.sql.readwriter import DataFrameWriter

    from ub_etl_spark.queries import storage_io
    from ub_etl_spark.registry import load_all

    written = []
    for meth in ("save", "parquet", "csv", "json", "orc", "text"):
        orig = getattr(DataFrameWriter, meth)

        def spy(self, *args, _orig=orig, **kw):
            path = args[0] if args else kw.get("path")
            if path is not None:
                written.append(os.path.abspath(str(path)))
            return _orig(self, *args, **kw)

        monkeypatch.setattr(DataFrameWriter, meth, spy)
    for name in ("io_multiformat_roundtrip", "storage_bucketed_merge", "storage_gdpr_delete"):
        load_all()[name].fn(spark, sf_dir).collect()
    root = os.path.dirname(storage_io._scratch("probe"))
    assert written and all(p.startswith(root + os.sep) for p in written), written
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    other = subprocess.run(
        [
            sys.executable,
            "-c",
            "import os, sys; sys.path.insert(0, sys.argv[1]);"
            "from ub_etl_spark.queries import storage_io as s;"
            "print(os.path.dirname(s._scratch('probe')))",
            repo,
        ],
        capture_output=True,
        text=True,
        check=True,
    ).stdout.strip()
    assert other and other != root
    assert not os.path.exists(other)
