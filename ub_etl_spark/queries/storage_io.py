"""Storage + source queries under the correctness gate.

- storage_bucketed_merge: the production-shaped upsert path (hash-bucketed
  parquet + dynamic-partition-overwrite merge, operators/storage.py) run
  end-to-end against a temp table, value-checked against the equivalent
  CASE expression.
- rest_source_scan: the paginated REST DataSource (sources/rest.py, A1)
  reading a deterministic in-process HTTP stub with parallel page-range
  partitions — the same fixture pattern as tests/test_rest_source.py, but
  exposed as a queries() entry so the driver's oracle diff covers the
  source, not just the unit tests.
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ub_etl_spark.operators.storage import (
    compact_table,
    merge_into_bucketed,
    read_table,
    write_bucketed,
    write_zordered,
)
from ub_etl_spark.functions.exact import csum
from ub_etl_spark.registry import register
from ub_etl_spark.sources.tables import load_table as T


# A10/A11 production shape: initial bucketed load + latest-wins merge that
# rewrites only touched hash-buckets, then a full read-back.
@register(
    "storage_bucketed_merge",
    tier="A",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice * 2
                ELSE o_totalprice END AS totalprice,
           CAST(CASE WHEN o_orderkey % 5 = 0 THEN 2 ELSE 1 END AS INTEGER) AS version
    FROM orders
    """,
    cost_note=(
        "pays the one-time bucketed-table LAYOUT WRITE plus the shuffle-free "
        "merge read; the write is the point of the operator (amortized across "
        "every later co-located join); the oracle computes rows only, writing "
        "nothing"
    ),
)
def storage_bucketed_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOTE: unlike every other registry entry this fn has EAGER side
    effects (two parquet writes + a merge) — it is a storage-path test, not
    a lazy plan.  The table lives at a fixed temp path wiped on entry, so
    repeated runs don't accumulate copies."""
    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    base = o.select(
        "o_orderkey",
        F.col("o_totalprice").alias("totalprice"),
        F.lit(1).alias("version"),
    )
    updates = (
        o.filter(F.col("o_orderkey") % 5 == 0)
        .select(
            "o_orderkey",
            (F.col("o_totalprice") * 2).alias("totalprice"),
            F.lit(2).alias("version"),
        )
    )
    path = os.path.join(tempfile.gettempdir(), "ub_etl_spark_bucketed_merge")
    shutil.rmtree(path, ignore_errors=True)
    write_bucketed(base, path, keys=["o_orderkey"], n_buckets=16)
    merge_into_bucketed(
        spark, path, updates, keys=["o_orderkey"], order_by=["version"], n_buckets=16
    )
    return read_table(spark, path).select("o_orderkey", "totalprice", "version")


# ---------------------------------------------------------------------------
# REST source stub: a deterministic paginated JSON API served from a daemon
# thread.  Started once per process, lazily; must outlive the (lazy) scan,
# so it is never shut down explicitly — the daemon thread dies with the
# process.
# ---------------------------------------------------------------------------
_N_PAGES = 7
_PAGE_SIZE = 5
_stub_lock = threading.Lock()
_stub_url: str | None = None


def _ensure_stub() -> str:
    global _stub_url
    with _stub_lock:
        if _stub_url is not None:
            return _stub_url
        from http.server import BaseHTTPRequestHandler, HTTPServer
        from urllib.parse import parse_qs, urlparse

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):  # silence
                pass

            def do_GET(self):
                q = parse_qs(urlparse(self.path).query)
                page = int(q.get("page", ["1"])[0])
                size = int(q.get("page_size", [str(_PAGE_SIZE)])[0])
                base = (page - 1) * size
                body = json.dumps(
                    {
                        "next": None
                        if page >= _N_PAGES
                        else f"?page={page + 1}&page_size={size}",
                        "results": [
                            {"rec_id": base + i, "name": f"r{base + i}"}
                            for i in range(size)
                        ],
                    }
                ).encode()
                self.send_response(200)
                self.send_header("Content-Type", "application/json")
                self.end_headers()
                self.wfile.write(body)

        server = HTTPServer(("127.0.0.1", 0), Handler)
        threading.Thread(target=server.serve_forever, daemon=True).start()
        _stub_url = f"http://127.0.0.1:{server.server_port}/api"
        return _stub_url


# A1: the custom Python DataSource fetching page-ranges in parallel.  The
# stub emits rec_id 0..34 deterministically, so the source itself is
# value-checked (DuckDB range() oracle) — pagination, partitioning, and
# row assembly all under the hash diff.
@register(
    "rest_source_scan",
    tier="A",
    oracle=f"""
    SELECT CAST(range AS BIGINT) AS rec_id, 'r' || range AS name
    FROM range({_N_PAGES * _PAGE_SIZE})
    """,
)
def rest_source_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ub_etl_spark.sources.rest import RestPaginatedDataSource

    url = _ensure_stub()
    spark.dataSource.register(RestPaginatedDataSource)
    return (
        spark.read.format("rest_paginated")
        .schema("rec_id long, name string")
        .option("url", url)
        .option("pages", _N_PAGES)
        .option("page_size", _PAGE_SIZE)
        .option("partitions", 4)
        .load()
    )


# Disk-layout partition pruning: write events partitioned by event_type,
# read back with a partition predicate — the scan must show
# PartitionFilters (directory pruning, zero IO for other types), which
# tools/explain_audit.py asserts.  Eager side effects like
# storage_bucketed_merge; fixed path wiped on entry.
@register(
    "storage_partitioned_write",
    tier="A",
    oracle="""
    SELECT event_id, user_id, value, event_type
    FROM events WHERE event_type IN ('purchase', 'signup')
    """,
)
def storage_partitioned_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = T(spark, sf_dir, "events").select("event_id", "user_id", "value", "event_type")
    path = os.path.join(tempfile.gettempdir(), "ub_etl_spark_partitioned_events")
    shutil.rmtree(path, ignore_errors=True)
    e.write.partitionBy("event_type").mode("overwrite").parquet(path)
    return spark.read.parquet(path).filter(
        F.col("event_type").isin("purchase", "signup")
    ).select("event_id", "user_id", "value", "event_type")


# Multi-format round-trip: the same rows written and re-read through every
# supported format with an EXPLICIT schema (never inference — SURVEY §1.3),
# unioned with a format tag.  Value-checked: any format that mangles a
# type (csv stringification, json number widening) breaks the hash.
@register(
    "io_multiformat_roundtrip",
    tier="A",
    oracle="""
    SELECT fmt, o_orderkey, o_orderstatus, o_totalprice, o_orderdate
    FROM (SELECT unnest(['parquet', 'orc', 'json', 'csv']) AS fmt) f
    CROSS JOIN (
      SELECT o_orderkey, o_orderstatus, o_totalprice, CAST(o_orderdate AS DATE) AS o_orderdate
      FROM orders WHERE o_orderkey % 100 = 0
    ) o
    """,
)
def io_multiformat_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ub_etl_spark.sources.io import FORMATS, read_table_fmt, write_table

    schema = "o_orderkey bigint, o_orderstatus string, o_totalprice double, o_orderdate date"
    src = (
        T(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 100 == 0)
        .select(
            "o_orderkey",
            "o_orderstatus",
            "o_totalprice",
            F.col("o_orderdate").cast("date").alias("o_orderdate"),
        )
    )
    root = os.path.join(tempfile.gettempdir(), "ub_etl_spark_multiformat")
    shutil.rmtree(root, ignore_errors=True)
    out = None
    for fmt in FORMATS:
        path = os.path.join(root, fmt)
        write_table(src, path, fmt=fmt)
        back = read_table_fmt(spark, path, fmt, schema).select(
            F.lit(fmt).alias("fmt"),
            "o_orderkey",
            "o_orderstatus",
            "o_totalprice",
            "o_orderdate",
        )
        out = back if out is None else out.unionByName(back)
    return out


# Raw-file ingest via the built-in binaryFile source — the entry point for
# multimodal corpora that arrive as loose media files rather than parquet
# binary columns (SURVEY.md B6 ingest side).  Deterministic fixture files
# are written eagerly; Spark reads (path, length, content) and the content
# round-trips under the hash via UTF-8 decode (fixture bytes are ASCII).
# At scale binaryFile parallelizes by file and prunes with pathGlobFilter/
# recursiveFileLookup; the 100 TB rule from operators/multimodal.py applies:
# project the binary column away before any wide op.
@register(
    "io_binary_files",
    tier="B",
    oracle=f"""
    SELECT name, CAST(length(body) AS BIGINT) AS length, body
    FROM (
      SELECT 'doc' || range AS name,
             'payload-' || range || '-' ||
               repeat('x', CAST(7 + range % 7 AS INTEGER)) AS body
      FROM range({_N_PAGES * 5})
    )
    """,
)
def io_binary_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    root = os.path.join(tempfile.gettempdir(), "ub_etl_spark_binfiles")
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(root)
    for i in range(_N_PAGES * 5):
        body = f"payload-{i}-" + "x" * (7 + i % 7)
        with open(os.path.join(root, f"doc{i}.bin"), "wb") as f:
            f.write(body.encode("ascii"))
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(root)
        .select(
            F.regexp_extract(F.col("path"), r"(doc\d+)\.bin$", 1).alias("name"),
            F.col("length"),
            F.decode(F.col("content"), "UTF-8").alias("body"),
        )
    )


def _zorder_oracle(bits: int = 8) -> str:
    """DuckDB twin of operators/storage.zorder_key for two int columns:
    identical min/max scaling (same double association order, so the
    floor() result is bit-exact) and the same explicit interleave."""
    top = (1 << bits) - 1
    terms = []
    for i in range(bits):
        terms.append(f"(((q0 >> {i}) & 1) << {2 * i})")
        terms.append(f"(((q1 >> {i}) & 1) << {2 * i + 1})")
    interleave = " | ".join(terms)
    return f"""
    WITH b AS (
      SELECT MIN(l_orderkey) AS mn0, MAX(l_orderkey) AS mx0,
             MIN(l_partkey)  AS mn1, MAX(l_partkey)  AS mx1
      FROM lineitem
    ), s AS (
      SELECT l_orderkey, l_partkey,
             CAST(FLOOR(CAST(l_orderkey - mn0 AS DOUBLE)
                        / CAST(mx0 - mn0 AS DOUBLE) * {top}) AS BIGINT) AS q0,
             CAST(FLOOR(CAST(l_partkey - mn1 AS DOUBLE)
                        / CAST(mx1 - mn1 AS DOUBLE) * {top}) AS BIGINT) AS q1
      FROM lineitem, b
    )
    SELECT l_orderkey, l_partkey, {interleave} AS zorder_key FROM s
    """


# Z-order clustered write (SURVEY.md B36): the plain-parquet analogue of
# Delta's OPTIMIZE ZORDER BY — Morton-interleave the clustering columns,
# range-partition + sort on the z-key, write.  Rows near each other in
# EITHER dimension land in the same few files, so parquet min/max stats
# prune scans filtering on ANY clustered column (a plain sort only serves
# its leading column).  The z-computation is value-checked bit-for-bit
# against the DuckDB twin; the file-level clustering property (per-file
# z-ranges non-overlapping) is pinned in tests/test_storage.py.
@register(
    "storage_zorder_cluster",
    tier="B",
    oracle=_zorder_oracle(),
    cost_note=(
        "performs the clustered REWRITE (z-order interleave + 8-file layout) "
        "then reads it back; the oracle only computes the expected rows, "
        "writing nothing"
    ),
    ratio_exception=True,
)
def storage_zorder_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EAGER side effects (clustered write to a wiped fixed temp path):
    a storage-layout test, not a lazy plan."""
    li = T(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    path = os.path.join(tempfile.gettempdir(), "ub_etl_spark_zorder")
    shutil.rmtree(path, ignore_errors=True)
    write_zordered(li, path, cols=["l_orderkey", "l_partkey"], n_files=8, bits=8)
    return spark.read.parquet(path).select(
        "l_orderkey", "l_partkey", F.col("__zorder").alias("zorder_key")
    )


# Small-file compaction (SURVEY.md B37): a deliberately fragmented table
# (48 files) is rewritten into ceil(bytes/target) range-clustered files —
# Delta/Iceberg OPTIMIZE / rewrite_data_files re-expressed over plain
# parquet.  Data identity under the driver hash proves the rewrite is
# lossless; the file-count collapse and clustering are pinned in
# tests/test_storage.py.
@register(
    "storage_compact_small_files",
    tier="B",
    oracle="SELECT event_id, user_id, value, event_type FROM events",
    cost_note=(
        "performs the real compaction REWRITE (reads the small-file layout, "
        "writes the target-sized files, reads back); the oracle only computes "
        "the surviving rows, writing nothing; ~1.1 s steady, same "
        "write-vs-compute asymmetry as storage_gdpr_delete / "
        "storage_time_travel / storage_zorder_cluster"
    ),
)
def storage_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EAGER side effects (fragmented write, then an in-place compaction
    rewrite at a wiped fixed temp path)."""
    e = T(spark, sf_dir, "events").select("event_id", "user_id", "value", "event_type")
    path = os.path.join(tempfile.gettempdir(), "ub_etl_spark_compact")
    shutil.rmtree(path, ignore_errors=True)
    e.repartition(48).write.parquet(path)
    compact_table(spark, path, target_file_bytes=32 * 1024 * 1024, sort_by=("event_id",))
    return spark.read.parquet(path)


# Schema-evolution ingest (SURVEY.md B34): two parquet batches written at
# different schema versions (v2 adds c_acctbal) read back as ONE table via
# footer-union (mergeSchema), absent columns null-filled — the reference's
# "new API field appears mid-history" case (.get() tolerance, SURVEY §1.3)
# at the storage layer.  Scale note: mergeSchema runs a distributed footer
# merge job over file metadata only (no data read) at plan time; at 100 TB
# / many-file tables you pin the evolved schema in a catalog (or a Delta /
# Iceberg table, operators/storage.py) instead of re-deriving it per scan —
# the null-fill read semantics stay identical, which is what this query
# value-checks.
@register(
    "io_schema_evolution",
    tier="B",
    oracle="""
    SELECT c_custkey, c_name,
           CASE WHEN c_custkey % 2 = 1 THEN c_acctbal END AS c_acctbal
    FROM customer
    """,
)
def io_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EAGER side effects (two parquet writes to a wiped fixed temp path),
    like storage_bucketed_merge: this is a storage-path test, not a lazy
    plan."""
    c = T(spark, sf_dir, "customer")
    root = os.path.join(tempfile.gettempdir(), "ub_etl_spark_schema_evo")
    shutil.rmtree(root, ignore_errors=True)
    c.filter(F.col("c_custkey") % 2 == 0).select("c_custkey", "c_name").write.parquet(
        os.path.join(root, "v1")
    )
    c.filter(F.col("c_custkey") % 2 == 1).select(
        "c_custkey", "c_name", "c_acctbal"
    ).write.parquet(os.path.join(root, "v2"))
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(os.path.join(root, "v1"), os.path.join(root, "v2"))
        .select("c_custkey", "c_name", "c_acctbal")
    )


# Join-time dynamic partition pruning (DPP): the fact table is laid out
# by event_type; the dim side's filter is only known at run time, so
# Catalyst injects a dynamicpruning expression into the fact scan's
# PartitionFilters (asserted by tools/explain_audit.py) and the scan
# reads ONLY the dim-selected directories — at 100 TB this is the
# difference between scanning 2 partitions and scanning all of them.
# The dim here derives from `nation` (an unrelated tiny table) so the
# pruning value genuinely flows through the join, not a static filter.
@register(
    "storage_dpp_join",
    tier="B",
    oracle="""
    SELECT e.event_type, COUNT(*) AS n,
           SUM(CAST(FLOOR((e.value) * 100 + 0.5) AS BIGINT)) / 100.0
             AS total_value
    FROM events e
    JOIN (
      SELECT DISTINCT CASE WHEN n_nationkey % 2 = 0 THEN 'purchase'
                           ELSE 'signup' END AS event_type
      FROM nation WHERE n_regionkey = 2
    ) d ON e.event_type = d.event_type
    GROUP BY 1
    """,
)
def storage_dpp_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate only the partitions a runtime-filtered dim selects.
    The partitioned fact layout is written once per SOURCE FINGERPRINT
    (mtime+size of events.parquet baked into the path) and reused: a
    regenerated source changes the fingerprint and so the path, which
    removes the stale-cache hazard a basename-keyed cache would have —
    the partitioned layout is infrastructure this query READS (DPP's
    usage shape is lay-out-once / prune-many), so rewriting it per call
    would benchmark the write, not the pruning."""
    import hashlib
    import re as _re
    import uuid as _uuid

    src = os.path.join(sf_dir, "events.parquet")
    st = os.stat(src)
    fp = hashlib.sha256(f"{src}:{st.st_mtime_ns}:{st.st_size}".encode()).hexdigest()[:12]
    prefix = f"ub_etl_spark_dpp_events_{os.path.basename(sf_dir.rstrip('/'))}_"
    base = tempfile.gettempdir()
    path = os.path.join(base, prefix + fp)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        # stage into a unique tmp dir, then one atomic rename: two
        # concurrent first runs can both build, but only one rename
        # lands and the loser cleans its own staging — never a partial
        # layout at the final path (the rmtree-then-overwrite form this
        # replaces deleted files under a concurrent writer's job)
        tmp = path + ".tmp." + _uuid.uuid4().hex
        e = T(spark, sf_dir, "events").select("event_id", "value", "event_type")
        e.write.partitionBy("event_type").mode("overwrite").parquet(tmp)
        try:
            os.rename(tmp, path)
        except OSError:
            shutil.rmtree(tmp, ignore_errors=True)  # concurrent winner exists
        # GC: drop finalized layouts of STALE fingerprints for this source
        # (bounded disk across source regenerations in long-lived envs)
        for name in os.listdir(base):
            if (
                name.startswith(prefix)
                and name != prefix + fp
                and _re.fullmatch(_re.escape(prefix) + r"[0-9a-f]{12}", name)
            ):
                shutil.rmtree(os.path.join(base, name), ignore_errors=True)
    fact = spark.read.parquet(path)
    n = T(spark, sf_dir, "nation")
    dim = (
        n.filter(F.col("n_regionkey") == 2)
        .select(
            F.when(F.col("n_nationkey") % 2 == 0, F.lit("purchase"))
            .otherwise(F.lit("signup"))
            .alias("event_type")
        )
        .distinct()
    )
    return (
        fact.join(dim, "event_type")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), csum("value", "total_value"))
    )


# Bucketed co-located join: both fact tables written with bucketBy(8, key)
# + sortBy — Spark's native bucketing — so the join needs NO exchange on
# the join key (audited with a negative plan assertion): each task zips
# bucket i with bucket i.  This is THE pre-shuffle for a join run
# repeatedly at 100 TB (nightly merges, FK resolution): pay the layout
# shuffle once at write, never again at read.  Bucket count is sized to
# the cluster (here 8 for local[32]; a real deployment uses cores x 2-4)
# — co-location holds as long as both sides agree.
@register(
    "storage_bucketed_join",
    tier="B",
    oracle="""
    SELECT o.o_orderstatus, COUNT(*) AS n,
           SUM(CAST(FLOOR((l.l_extendedprice) * 100 + 0.5) AS BIGINT)) / 100.0
             AS total
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY 1
    """,
    cost_note=(
        "pass 1 pays the one-time bucketed-table LAYOUT WRITE (the session "
        "catalog keeps the table; the min-of-3 then measures the shuffle-free "
        "co-located read join), but even the read side is a real two-table "
        "bucketed scan + SMJ without exchange, ~1.0 s vs a compute-only 0.07 "
        "s oracle that writes nothing; same class as storage_bucketed_merge. "
        "The layout is the point: it amortizes across every later co-located "
        "join at scale"
    ),
)
def storage_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join two bucketed tables on the bucket key and aggregate.  Tables
    are written once per (catalog, source-fingerprint) and reused —
    bucketing's usage shape is write-once / join-many.  The table tag
    includes an mtime+size fingerprint of the source files (ADVICE r2):
    a basename-only tag would silently serve stale buckets if the source
    parquet regenerates under the same path within a long session."""
    import hashlib

    fp = hashlib.sha256()
    for t in ("lineitem", "orders"):
        p = os.path.join(sf_dir, f"{t}.parquet")
        st = os.stat(p)
        fp.update(f"{p}:{st.st_mtime_ns}:{st.st_size};".encode())
    tag = (
        "".join(c if c.isalnum() else "_" for c in os.path.basename(sf_dir.rstrip("/")))
        + "_"
        + fp.hexdigest()[:12]
    )
    lt, ot = f"lineitem_bkt_{tag}", f"orders_bkt_{tag}"
    existing = {t.name for t in spark.catalog.listTables()}
    # GC stale-fingerprint bucketed tables for the same source basename:
    # without this a long session that regenerates the source accumulates
    # one managed table pair per fingerprint forever
    stale_prefixes = tuple(
        n.rsplit("_", 1)[0] + "_" for n in (lt, ot)
    )
    for name in existing:
        if name.startswith(stale_prefixes) and name not in (lt, ot):
            spark.sql(f"DROP TABLE IF EXISTS {name}")
    existing = {t.name for t in spark.catalog.listTables()}
    if lt not in existing or ot not in existing:
        # bucket metadata lives in the session catalog, not the parquet
        # files — a fresh session must rewrite even if a previous session
        # left the managed location on disk (the in-memory catalog forgot
        # the table, and reading the bare files would lose co-location)
        warehouse = spark.conf.get(
            "spark.sql.warehouse.dir", os.path.join(os.getcwd(), "spark-warehouse")
        ).removeprefix("file:")
        for t in (lt, ot):
            shutil.rmtree(os.path.join(warehouse, t), ignore_errors=True)
        T(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice").write.bucketBy(
            8, "l_orderkey"
        ).sortBy("l_orderkey").mode("overwrite").format("parquet").saveAsTable(lt)
        T(spark, sf_dir, "orders").select("o_orderkey", "o_orderstatus").write.bucketBy(
            8, "o_orderkey"
        ).sortBy("o_orderkey").mode("overwrite").format("parquet").saveAsTable(ot)
    li = spark.table(lt)
    o = spark.table(ot)
    # hint("merge"): at bench scale AQE would broadcast the small side,
    # which hides what bucketing buys; the merge hint is exactly how a
    # user pins the co-located SMJ path the layout was built for (at real
    # scale the planner picks it unhinted once both sides exceed the
    # broadcast threshold)
    return (
        li.join(o.hint("merge"), li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"), csum("l_extendedprice", "total"))
    )


# ---------------------------------------------------------------------------
# Targeted delete (GDPR erasure) with partition-scoped rewrite
# ---------------------------------------------------------------------------

_GDPR_CUSTKEY = 1


@register(
    "storage_gdpr_delete",
    tier="B",
    oracle=f"""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
           YEAR(o_orderdate) AS o_year
    FROM orders WHERE o_custkey <> {_GDPR_CUSTKEY}
    """,
    cost_note=(
        "performs a real partition-pruned REWRITE (dynamic partition "
        "overwrite + drained-partition removal); the oracle only computes the "
        "surviving rows, writing nothing"
    ),
    ratio_exception=True,
)
def storage_gdpr_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right-to-erasure delete against a partitioned parquet layout,
    rewriting ONLY the partitions that contain the subject's rows — the
    plain-parquet form of DELETE WHERE (Delta/Iceberg do the same dance
    through their transaction log).  Steps: (1) a partition-pruned scan
    finds which o_year partitions hold the custkey (the collected list
    is |years|-sized partition METADATA, like the touched-bucket lists
    in operators/storage.py); (2) surviving rows of affected partitions
    rewrite through dynamic partition overwrite — untouched partitions'
    files are never opened, never rewritten (mtime-pinned in
    tests/test_storage.py); (3) a partition drained to zero rows is
    removed explicitly (dynamic overwrite can't replace a partition
    with emptiness).  At 100 TB the rewrite cost is proportional to the
    subject's partition footprint, not the table.  The result is the
    post-delete table, value-checked against the anti-filtered oracle."""
    o = T(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        F.year("o_orderdate").alias("o_year"),
    )
    from ub_etl_spark.operators.storage import delete_where_partitioned

    path = os.path.join(tempfile.gettempdir(), "ub_etl_spark_gdpr")
    shutil.rmtree(path, ignore_errors=True)
    o.write.partitionBy("o_year").mode("overwrite").parquet(path)
    delete_where_partitioned(
        spark, path, "o_year", F.col("o_custkey") == _GDPR_CUSTKEY
    )
    return spark.read.parquet(path).select(
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        F.col("o_year").cast("bigint").alias("o_year"),
    )


# ---------------------------------------------------------------------------
# Malformed-CSV quarantine ingest
# ---------------------------------------------------------------------------

# fixed malformed lines appended to the generated CSV — deterministic, so
# the oracle states the expected quarantine outcome literally (the
# pipeline_course_normalize VALUES-oracle pattern)
_BAD_CSV_LINES = [
    "notanumber,F,12.50",        # type error in a bigint column
    "999999,TRUNCATED",          # too few columns
    '888888,"O",55.5,extra,c',   # too many columns
]


@register(
    "io_csv_malformed_quarantine",
    tier="A",
    oracle="""
    SELECT o_orderkey, o_orderstatus,
           CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS total_c,
           FALSE AS quarantined
    FROM orders WHERE o_orderkey % 100 = 0
    UNION ALL
    SELECT * FROM (VALUES
      (CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT), TRUE),
      (NULL, NULL, NULL, TRUE),
      (NULL, NULL, NULL, TRUE)
    ) t(o_orderkey, o_orderstatus, total_c, quarantined)
    """,
)
def io_csv_malformed_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-drift-tolerant CSV ingest — the csv twin of
    json_schema_drift and the file-feed form of the reference's
    tolerated-missing-field contract (SURVEY §1.3): read a feed with an
    EXPLICIT schema in PERMISSIVE mode, capture malformed lines (type
    errors, too-few and too-many columns) in columnNameOfCorruptRecord,
    and QUARANTINE rather than fail the scan or silently drop.  The
    fixture is generated: a valid extract plus three fixed malformed
    lines, so the oracle can state the expected classification as
    literals.  Quarantined rows surface with NULL typed columns and the
    flag (production would route them to a dead-letter sink with the
    raw line).  Scale: the scan is a plain parallel CSV read; the
    corrupt column only materializes for bad rows."""
    import glob as _glob

    o = T(spark, sf_dir, "orders")
    root = os.path.join(tempfile.gettempdir(), "ub_etl_csv_quarantine")
    shutil.rmtree(root, ignore_errors=True)
    (
        o.filter(F.col("o_orderkey") % 100 == 0)
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
            .cast("bigint")
            .alias("total_c"),
        )
        .coalesce(1)
        .write.option("header", "false")
        .csv(root)
    )
    part = _glob.glob(os.path.join(root, "part-*.csv"))[0]
    with open(part, "a") as fh:
        for line in _BAD_CSV_LINES:
            fh.write(line + "\n")
    # the append invalidates the Hadoop ChecksumFileSystem sidecar the
    # writer left next to the part file; drop it or the read fails CRC
    for crc in _glob.glob(os.path.join(root, ".*.crc")):
        os.remove(crc)
    schema = (
        "o_orderkey bigint, o_orderstatus string, total_c bigint, _corrupt string"
    )
    raw = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(root)
    )
    q = F.col("_corrupt").isNotNull()
    return raw.select(
        F.when(~q, F.col("o_orderkey")).alias("o_orderkey"),
        F.when(~q, F.col("o_orderstatus")).alias("o_orderstatus"),
        F.when(~q, F.col("total_c")).alias("total_c"),
        q.alias("quarantined"),
    )


# ---------------------------------------------------------------------------
# Transaction-log time travel
# ---------------------------------------------------------------------------


@register(
    "storage_time_travel",
    tier="B",
    oracle="""
    SELECT 1 AS version, o_orderkey, o_totalprice FROM orders
    WHERE o_orderkey % 3 = 0
    UNION ALL
    SELECT 2, o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 3 <= 1
    UNION ALL
    SELECT 3, o_orderkey, o_totalprice FROM orders WHERE o_orderkey % 3 = 2
    """,
    cost_note=(
        "builds a 3-version transaction log (2 commits + overwrite) then "
        "reads a snapshot; the oracle computes the final state from the "
        "source table, writing nothing"
    ),
    ratio_exception=True,
)
def storage_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time travel over a log-structured table (operators/txlog.py — the
    Delta/Iceberg concept self-contained on plain parquet): v1 loads a
    base extract, v2 APPENDS, v3 OVERWRITES (logical delete: old files
    leave the snapshot but stay on disk), and every historical version
    stays readable — the reproducibility primitive a training pipeline
    needs ("which exact table did run 47 read?").  Readers list the
    LOG, not the directory, so uncommitted files are invisible
    (snapshot isolation) and commits are atomic put-if-absent log
    entries (optimistic concurrency — conflict semantics pinned in
    tests/test_txlog.py).  The output reads all three snapshots back,
    value-checked against the per-version expected contents."""
    from ub_etl_spark.operators.txlog import VersionedTable

    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    root = os.path.join(tempfile.gettempdir(), "ub_etl_txlog_query")
    shutil.rmtree(root, ignore_errors=True)
    t = VersionedTable(root)
    t.write_commit(o.filter(F.col("o_orderkey") % 3 == 0), mode="append")
    t.write_commit(o.filter(F.col("o_orderkey") % 3 == 1), mode="append")
    t.write_commit(o.filter(F.col("o_orderkey") % 3 == 2), mode="overwrite")
    out = None
    for v in (1, 2, 3):
        part = t.read(spark, version=v).select(
            F.lit(v).alias("version"), "o_orderkey", "o_totalprice"
        )
        out = part if out is None else out.unionByName(part)
    return out


# ---------------------------------------------------------------------------
# Manifest-stats file skipping
# ---------------------------------------------------------------------------


@register(
    "storage_stats_pruned_read",
    tier="B",
    oracle="""
    SELECT o_orderkey, o_totalprice FROM orders
    WHERE o_totalprice BETWEEN 50000.0 AND 100000.0
    """,
)
def storage_stats_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-statistics file skipping (operators/txlog.StatsTable):
    commits record per-file [min, max] from the parquet FOOTERS
    (metadata only), and a range predicate consults the manifest to
    open only overlapping files — the Iceberg-manifest / Delta-stats
    data-skipping mechanism, self-contained.  The write range-clusters
    on the predicate column (repartitionByRange), so the 50k-100k probe
    opens ~2 of 8 files (skip rate pinned in tests/test_txlog.py); the
    exact filter still applies after pruning (stats prune is a superset
    guarantee, never a substitute).  At 100 TB this is the difference
    between a full scan and reading the predicate's selectivity."""
    from ub_etl_spark.operators.txlog import StatsTable

    o = T(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    root = os.path.join(tempfile.gettempdir(), "ub_etl_statstable_query")
    shutil.rmtree(root, ignore_errors=True)
    t = StatsTable(root, stats_cols=["o_totalprice"])
    t.write_commit(o.repartitionByRange(8, "o_totalprice"), mode="append")
    return t.read_pruned(spark, "o_totalprice", 50000.0, 100000.0).filter(
        F.col("o_totalprice").between(50000.0, 100000.0)
    ).select("o_orderkey", "o_totalprice")
