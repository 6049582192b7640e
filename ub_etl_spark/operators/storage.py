"""Table storage with scale-appropriate merge writes (SURVEY.md §7
"hard parts": upsert without a transactional table format).

The naive upsert emulation rewrites the whole table — fine at test scale,
wrong at 100 TB.  The production-shaped path implemented here:

  - tables are parquet, hash-partitioned into N fixed buckets of the merge
    key (a stable `pmod(xxhash64(key), N)` bucket column used as a
    partition directory, co-locating every generation of a key)
  - a merge touches ONLY the buckets that appear in the update batch:
    read those partitions, latest-wins merge, dynamic-partition overwrite
    writes just those directories back (partitionOverwriteMode=dynamic —
    the plain-Spark equivalent of Delta's replaceWhere/MERGE file pruning)
  - rewrite cost is O(|touched buckets|) = O(|batch| x table/N), not
    O(|table|); N is chosen so a bucket fits an executor comfortably

Single-evaluation contract: the bucketed writers (merge_into_bucketed,
insert_ignore_into_bucketed) evaluate their batch exactly once.  The
batch is bucketed and persisted, the touched-bucket list is collected
from that persisted frame, and the merge and the write read the same
rows — the same reason Delta materializes a MERGE source.  A lazy batch
evaluated twice would refetch a live source (a REST DataSource pays its
fixed scan cost again) and could see different rows each time, so a
bucket that appears only in the second evaluation would be overwritten
without its stored rows.  The limit: the persisted blocks live on the
executors, so a lost executor recomputes the batch from its source.

A transactional table format (Delta/Iceberg MERGE) would replace this
layout; none is a dependency here.  operators/txlog.py keeps the
log-structured commit semantics testable on plain parquet.
"""

from __future__ import annotations

import os
from collections.abc import Iterator, Sequence
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ub_etl_spark.operators.merge import upsert_latest_wins

BUCKET_COL = "__bucket"


def table_exists(spark: SparkSession, path: str) -> bool:
    """Filesystem existence check via the Hadoop FS API (works for any
    scheme the session can reach).  Streaming sinks MUST use this — not a
    try/except around a read — to decide first-batch initialization: a
    transient read failure on an EXISTING store must raise and fail the
    batch (safe: checkpoint replays it), never silently flip the sink into
    its create-from-scratch path and overwrite the accumulated state."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(hpath))


def _with_bucket(df: DataFrame, keys: Sequence[str], n_buckets: int) -> DataFrame:
    return df.withColumn(BUCKET_COL, F.pmod(F.xxhash64(*keys), F.lit(n_buckets)))


@contextmanager
def _bucketed_once(
    batch: DataFrame, keys: Sequence[str], n_buckets: int
) -> Iterator[tuple[DataFrame, list[int]]]:
    """Bucket ``batch``, persist it, and yield (persisted frame, sorted
    touched bucket ids); unpersist on exit, also when the body raises.

    The single-evaluation contract of the bucketed writers (module
    docstring).  The writer is eager and owns this cache for exactly its
    own duration, so it is not a tracked_persist() frame."""
    b = _with_bucket(batch, keys, n_buckets).persist()
    try:
        touched = sorted(
            r[BUCKET_COL] for r in b.select(BUCKET_COL).distinct().collect()
        )
        yield b, touched
    finally:
        b.unpersist()


# Keying the write exchange on the bucket column puts each bucket in ONE
# task, so at scale a hot bucket would become one unbounded single-task
# file.  maxRecordsPerFile rolls the writer to a new file past the cap,
# which keeps that file bounded; 5M rows never fires at bench scale, so
# the layout stays one file per touched directory (tests/test_storage.py).
MAX_RECORDS_PER_BUCKET_FILE = 5_000_000


def write_bucketed(df: DataFrame, path: str, keys: Sequence[str], n_buckets: int = 64) -> None:
    """Initial load: partition the table by stable key-hash bucket.

    r15 (guide §6): repartition on the bucket column before the write so
    every bucket directory gets exactly ONE file from exactly one task.
    Without it the writer emits (input tasks x touched buckets) files — a
    single-split input writes all directories serially from one task, and
    a many-task upstream sprays small files into every directory.  The
    exchange is keyed on the value that names the output directory, so it
    is the minimal data movement that achieves the layout.

    r16 (ADVICE r15): repartitionByRange, not hash — hash-partitioning
    the dense 0..n-1 bucket ids collides ~1/e of the writer tasks empty
    while others write 2-3 directories serially; range partitioning on
    a dense integer key is near-perfect 1 bucket : 1 task, so the
    initial load writes all directories concurrently.  One-file-per-
    directory is unchanged (equal keys land in one range partition)."""
    _with_bucket(df, keys, n_buckets).repartitionByRange(
        n_buckets, F.col(BUCKET_COL)
    ).write.option("maxRecordsPerFile", MAX_RECORDS_PER_BUCKET_FILE).partitionBy(
        BUCKET_COL
    ).mode("overwrite").parquet(path)


def read_table(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path).drop(BUCKET_COL)


def insert_ignore_into_bucketed(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    keys: Sequence[str],
    n_buckets: int = 64,
) -> None:
    """First-writer-wins append (A10's ON CONFLICT DO NOTHING) into the
    bucketed table: anti-join the batch against ONLY its touched buckets,
    then append — no partition is rewritten, so a key's first generation
    is immutable and the cost is O(|batch| x table/N).  Idempotent on
    replay: a re-run of the same batch anti-joins to empty.  The batch is
    evaluated once (module docstring), so the anti-join and the append
    see the same rows and a key already stored is never appended."""
    with _bucketed_once(batch.dropDuplicates(list(keys)), keys, n_buckets) as (b, touched):
        existing = (
            spark.read.parquet(path)
            .filter(F.col(BUCKET_COL).isin(touched))
            .select(*keys)
        )
        new = b.join(existing, list(keys), "left_anti")
        # one appended file per touched directory (see _merged_buckets);
        # maxRecordsPerFile bounds a hot bucket's file at scale (module note)
        new.repartition(max(len(touched), 1), F.col(BUCKET_COL)).write.option(
            "maxRecordsPerFile", MAX_RECORDS_PER_BUCKET_FILE
        ).partitionBy(BUCKET_COL).mode("append").parquet(path)


def zorder_key(
    df: DataFrame, cols: Sequence[str], bits: int = 8
) -> DataFrame:
    """Add a Morton (Z-order) interleave column ``__zorder`` over ``cols``.

    Each column is min/max-scaled to a ``bits``-bit integer (bounds come
    from one tiny agg broadcast back onto the scan — never a collect of
    data), then the per-column bit strings are interleaved so that rows
    close in EVERY dimension get close z-values.  Writing the table
    range-partitioned + sorted by this key is the plain-parquet analogue
    of Delta's OPTIMIZE ZORDER BY: each output file covers a narrow
    hyper-rectangle of the key space, so parquet min/max row-group stats
    prune scans filtering on ANY of the clustered columns, not just the
    first sort column.

    The interleave is a pure codegen expression (shifts/ors), identically
    expressible in ANSI SQL — which is how the registered query
    value-checks it against DuckDB bit-for-bit.
    """
    bounds = df.agg(
        *[F.min(c).alias(f"__min_{c}") for c in cols],
        *[F.max(c).alias(f"__max_{c}") for c in cols],
    )
    out = df.crossJoin(F.broadcast(bounds))
    scaled = []
    for c in cols:
        lo, hi = F.col(f"__min_{c}"), F.col(f"__max_{c}")
        # scale to [0, 2^bits - 1]; constant column (hi == lo) maps to 0
        span = (hi - lo).cast("double")
        q = F.when(
            span > 0,
            F.floor((F.col(c) - lo).cast("double") / span * ((1 << bits) - 1)),
        ).otherwise(F.lit(0)).cast("long")
        scaled.append(q)
    z = F.lit(0).cast("long")
    for i in range(bits):
        for j, q in enumerate(scaled):
            z = z.bitwiseOR(
                F.shiftleft(
                    F.shiftright(q, i).bitwiseAND(F.lit(1)),
                    i * len(cols) + j,
                )
            )
    return out.withColumn("__zorder", z).drop(
        *[f"__min_{c}" for c in cols], *[f"__max_{c}" for c in cols]
    )


def write_zordered(
    df: DataFrame,
    path: str,
    cols: Sequence[str],
    n_files: int = 8,
    bits: int = 8,
) -> None:
    """Cluster ``df`` on the Z-order of ``cols`` into ``n_files`` files:
    range-partition on the z-key (contiguous key ranges per file — a hash
    partition would scatter them) and sort within each partition so row
    groups inside a file are tight too.  At 100 TB, n_files is sized from
    table bytes / target file size (see compact_table), and the range
    exchange's sampled bounds keep partitions balanced even when the
    z-space is skewed."""
    (
        zorder_key(df, cols, bits=bits)
        .repartitionByRange(n_files, "__zorder")
        .sortWithinPartitions("__zorder")
        .write.mode("overwrite")
        .parquet(path)
    )


def table_bytes(spark: SparkSession, path: str) -> int:
    """Total on-disk bytes under ``path`` via the Hadoop FS content summary
    (metadata-only, works for any scheme; no file listing shipped to
    Python)."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return int(fs.getContentSummary(hpath).getLength())


def compact_table(
    spark: SparkSession,
    path: str,
    target_file_bytes: int = 128 * 1024 * 1024,
    sort_by: Sequence[str] = (),
) -> int:
    """Small-file compaction: rewrite the parquet table at ``path`` into
    ``ceil(bytes / target_file_bytes)`` files and return that file count.

    Small files are the classic large-table failure mode — per-file open
    cost and footer reads dominate the scan, and the driver's file index
    bloats.  The rewrite sizes output files from the table's actual bytes
    (FS metadata, not a data pass).  With ``sort_by`` the rewrite
    range-partitions on those columns (preserving/establishing clustering
    so min/max pruning works after compaction); without it a plain
    round-robin repartition spreads bytes evenly.

    Production notes baked into the shape: the rewrite streams through the
    executors (never the driver), and on a transactional format the same
    two plans are exactly Delta/Iceberg OPTIMIZE / rewrite_data_files —
    this is the plain-parquet stand-in with a non-atomic swap (write to
    temp dir + rename would make it atomic per-directory; a table
    format's commit makes it transactional)."""
    n_files = max(1, -(-table_bytes(spark, path) // target_file_bytes))
    df = spark.read.parquet(path)
    if sort_by:
        out = df.repartitionByRange(n_files, *sort_by).sortWithinPartitions(*sort_by)
    else:
        out = df.repartition(n_files)
    tmp = path.rstrip("/") + "__compacting"
    out.write.mode("overwrite").parquet(tmp)
    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.Path(path).getFileSystem(
        spark._jsc.hadoopConfiguration()
    )
    fs.delete(jvm.org.apache.hadoop.fs.Path(path), True)
    fs.rename(jvm.org.apache.hadoop.fs.Path(tmp), jvm.org.apache.hadoop.fs.Path(path))
    return n_files


def parquet_file_count(spark: SparkSession, path: str) -> int:
    """Number of data files the scan of ``path`` would touch (from the
    file index, metadata only)."""
    files = spark.read.parquet(path).inputFiles()
    return len([f for f in files if f.endswith(".parquet")])


def _merged_buckets(
    spark: SparkSession,
    path: str,
    upd: DataFrame,
    touched: list[int],
    keys: Sequence[str],
    order_by: Sequence[str] | None,
) -> DataFrame:
    """The rewrite of the touched buckets: stored rows of those buckets
    merged latest-wins with the bucketed batch ``upd``, in one exchange
    per side and none above the union.

    Both sides are hash-partitioned on the bucket column into
    len(touched) partitions, and the merge window is keyed on
    (bucket, *keys).  The bucket is a function of the key, so that is the
    same latest-wins result as a window on the keys alone.  Spark keeps
    the sides' identical partitioning through the union, so the window's
    clustering and the writer's one-task-per-bucket layout (one file per
    touched directory, so the read-back opens one file per bucket) both
    need no further shuffle.  The stored partition column is read back as
    int and the batch's bucket is long: the cast makes both sides hash
    the same values."""
    n = max(len(touched), 1)
    existing = (
        spark.read.parquet(path)
        .filter(F.col(BUCKET_COL).isin(touched))  # partition pruning on read
        .withColumn(BUCKET_COL, F.col(BUCKET_COL).cast(upd.schema[BUCKET_COL].dataType))
    )
    return upsert_latest_wins(
        existing.repartition(n, F.col(BUCKET_COL)),
        upd.repartition(n, F.col(BUCKET_COL)),
        [BUCKET_COL, *keys],
        order_by=order_by,
    )


def merge_into_bucketed(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    keys: Sequence[str],
    order_by: Sequence[str] | None = None,
    n_buckets: int = 64,
) -> None:
    """Latest-wins merge of ``updates`` into the bucketed table at ``path``,
    rewriting only the touched buckets via dynamic partition overwrite.

    ``updates`` is evaluated once (module docstring): it is bucketed and
    persisted, the touched buckets are collected from the persisted
    frame, and the merge reads it again from the cache, so every stored
    row of a touched bucket is kept or replaced by a newer one.  A second
    evaluation of a live source refetches it and can see different rows;
    on a REST DataSource it also costs as much as the batch's first read:
    a one-row scan plus a noop write takes about 0.09 s and a 10-page
    read of 100-row pages about 0.11 s, and etl_refresh's traced batch
    fetch (perfbench rest.fetch_s) about 0.14 s (4-core box, PySpark
    4.1.2, worker import caches kept by _zip_imports).  A lost executor
    recomputes the batch from its source (the cache is not a checkpoint).

    One shuffle per side, none before the write (_merged_buckets)."""
    with _bucketed_once(updates, keys, n_buckets) as (upd, touched):
        (
            _merged_buckets(spark, path, upd, touched, keys, order_by)
            .write.partitionBy(BUCKET_COL)
            .option("partitionOverwriteMode", "dynamic")  # only touched dirs replaced
            # bound a hot bucket's rewritten file at scale (module note)
            .option("maxRecordsPerFile", MAX_RECORDS_PER_BUCKET_FILE)
            .mode("overwrite")
            .parquet(path)
        )


def delete_where_partitioned(
    spark: SparkSession, path: str, part_col: str, predicate
) -> list:
    """DELETE-WHERE against a partitioned parquet layout, rewriting only
    the partitions that contain matching rows (the plain-parquet form of
    Delta/Iceberg's logged DELETE; GDPR-erasure shape).

    ``predicate``: Column marking rows to DELETE.  Returns the list of
    affected partition values (metadata-sized).  Untouched partitions'
    files are never opened or replaced — pinned in tests/test_storage.py
    via file mtimes.  A partition drained to zero rows is removed
    explicitly (dynamic partition overwrite cannot express emptiness).
    """
    import shutil as _sh

    base = spark.read.parquet(path)
    # partition-pruned discovery scan: which partitions hold target rows,
    # and which FILES those rows live in.  The file basenames (globally
    # unique part-<uuid> names) identify drained directories afterward
    # without ever formatting a partition value into a path — Hive
    # percent-escapes special characters, formats dates, and spells NULL
    # __HIVE_DEFAULT_PARTITION__, so naive f"{col}={val}" misses the real
    # directory and stale files would silently survive (r3 ADVICE).
    from urllib.parse import unquote

    hit = (
        base.filter(predicate)
        .select(F.col(part_col).alias("__v"), F.input_file_name().alias("__f"))
        .distinct()
        .collect()
    )
    affected = list({r["__v"] for r in hit})
    if not affected:
        return []

    # resolve each hit file's on-disk path NOW, while it still exists —
    # input_file_name returns a URI whose percent-encoding may or may not
    # cover Hive's own escaping, so the existence test picks the reading
    # that is actually on disk rather than guessing the encoding
    def _local(uri: str) -> str:
        p = uri
        if p.startswith("file:"):
            p = p[len("file:"):]
            while p.startswith("//"):
                p = p[1:]
        if os.path.exists(p):
            return p
        dec = unquote(p)
        return dec if os.path.exists(dec) else p

    hit_paths = [_local(r["__f"]) for r in hit]
    survivors = base.filter(F.col(part_col).isin(affected) & ~predicate)
    mode_key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(mode_key, "static")
    spark.conf.set(mode_key, "dynamic")
    try:
        survivors.write.partitionBy(part_col).mode("overwrite").parquet(path)
    finally:
        spark.conf.set(mode_key, prev)
    # dynamic overwrite REPLACED every partition with surviving rows (their
    # old files are gone); a partition drained to zero rows was not
    # rewritten, so its old files — which contained deleted rows — are
    # still on disk.  Remove exactly the directories of hit files that
    # survived the overwrite; paths come from the listing resolved above,
    # never from formatting a partition value (Hive escaping, r3 ADVICE).
    for p in hit_paths:
        if os.path.exists(p):
            _sh.rmtree(os.path.dirname(p), ignore_errors=True)
    return affected
