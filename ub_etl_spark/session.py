"""SparkSession factory with scale-aware defaults.

Local testing runs on local[N] with N=SPARK_GRAFT_CPUS (default 32); the
same config block is what we would ship to a 1000-executor cluster — the
only knobs that change there are shuffle partitions (sized to cluster
cores x 2-3) and memory. AQE handles runtime re-planning (partition
coalescing, skew-join splitting, broadcast demotion) in both worlds.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def cpu_count() -> int:
    try:
        return int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    except ValueError:
        return 32


def get_spark(
    app_name: str = "ub_etl_spark",
    cpus: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    Defaults chosen for scale (SURVEY.md §4):
      - AQE on: adaptive join selection, skew splitting, partition coalescing.
      - shuffle.partitions ~ cores locally; a cluster deployment raises it to
        2-3x total cores — AQE coalesces the excess, so over-provisioning
        is the safe direction.
      - nested schema pruning on so struct projections reach the parquet scan.
      - session timezone pinned UTC (oracle comparison + ISO-8601 'Z' inputs,
        reference parity: scripts/user_course_activity.py:181-185).
      - Arrow on: pandas_udf / mapInPandas batches transfer columnar.
    """
    n = cpus or cpu_count()
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # r15 (optimization guide §2): parallelismFirst=true is the UPSTREAM
        # DEFAULT, restored.  The r2-r14 override (false = coalesce every
        # shuffle to advisoryPartitionSizeInBytes) collapsed every small-byte
        # exchange to ONE post-shuffle partition, so CPU-dense stages whose
        # input bytes are tiny (wedge intersection, Arrow pair kernels,
        # cogrouped UDFs, ANN scoring) ran on 1 of 32 cores — bytes are the
        # wrong proxy for compute density.  Interleaved same-session A/B at
        # sf0.1 (OPTIMIZATION_r15.md): 15-query subset 40.3 s -> 25.1 s
        # (udf_cogrouped_map 5.16 -> 0.88 s, graph_triangle 6.4 -> 3.7 s,
        # market_basket_pairs 2.9 -> 1.2 s) with no control regression.
        # minPartitionSize=128k (default 1m) extends the same fix to sub-MB
        # shuffles.  Sizing measured with rotated-order quiet interleaves
        # (min-of-6): 64k vs 256k vs 1m read 9.75 / 9.74 / 12.60 s on a
        # 12-query basket — 64k wins only udf_cogrouped_map (0.89 vs
        # 2.52 / 5.10: more Python workers in parallel) while costing the
        # mid-tail ~0.1 s/query in task overhead; 128k vs 256k read
        # 9.91 / 10.40 with the tail inside noise — 128k keeps most of
        # the cogroup win at no measured tail cost.  At cluster scale
        # partitions exceed 1 MB and both knobs converge to advisory-size
        # coalescing, so production behavior is unchanged — this is
        # bench-scale parallelism, not a local-only constant (the
        # driver's lower-core bench run keeps scaling because partition
        # counts still derive from shuffle.partitions ~ cores).
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "128k")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # spark.python.unix.domain.socket.enabled stays at its default
        # (false).  Measured with _zip_imports in place (4 cores, PySpark
        # 4.1.2): true removes a further ~40 ms wait at the end of each
        # Python task, a 4-partition mapInArrow stage 88 -> 53 ms and a
        # 10-page REST read 148 -> 128 ms.  But Spark binds the socket at
        # <java.io.tmpdir>/.<uuid>.sock, and perfbench points java.io.tmpdir
        # inside the checkout: a checkout path longer than ~28 characters
        # would pass the 108-byte AF_UNIX limit and fail every Python task.
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "8g")
    )
    for k, v in (extra or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def refuse_extra_conf(tool: str) -> None:
    """No-op, kept because an existing caller imports it: get_spark reads
    no conf override from the environment, so there is nothing to refuse."""


# ---------------------------------------------------------------------------
# Query-held state
# ---------------------------------------------------------------------------
# Some query builders hold an intermediate (basket arrays, edge lists, BFS
# frontiers, LSH signatures) because several branches of one plan consume
# it, or cut an iterative plan's lineage with a local checkpoint.  The
# builder returns a lazy DataFrame, so it cannot free that state before
# the caller materializes the result.  Every such frame goes through
# tracked_persist() or tracked_checkpoint(), and release_persisted() is
# the one release path: after it returns, the query holds no persisted
# RDD and no CacheManager entry, so a harness needs no clearCache() and
# caches the caller owns survive.

_TRACKED_PERSISTED: list = []


def tracked_persist(df):
    """Persist ``df`` and register it for release_persisted().

    Use for every frame a registry builder persists: the harness frees
    them all with release_persisted() after the query is materialized.
    """
    df = df.persist()
    _TRACKED_PERSISTED.append(df.unpersist)
    return df


def tracked_checkpoint(df):
    """Eager local checkpoint of ``df``, registered for release_persisted().

    The checkpoint cuts lineage: an iterative builder (label propagation,
    star contraction) keeps its plan depth O(1) per round instead of
    embedding the previous round's tree.  The checkpointed blocks live in
    the RDD under the returned frame's LogicalRDD, which neither
    ``unpersist`` nor ``clearCache`` reaches, so that RDD is what gets
    registered.  The blocks are the only copy of the data: materialize
    every frame built on the checkpoint before release_persisted().
    """
    df = df.localCheckpoint(eager=True)
    rdd = df._jdf.queryExecution().analyzed().rdd()
    _TRACKED_PERSISTED.append(lambda: rdd.unpersist(False))
    return df


def release_persisted() -> int:
    """Free every tracked frame; returns how many were released.

    Safe to call at any time (releasing is idempotent; already-freed and
    stale-session frames are skipped).  Harness entry points call this
    after materializing each query.
    """
    n = 0
    while _TRACKED_PERSISTED:
        release = _TRACKED_PERSISTED.pop()
        try:
            release()
            n += 1
        except Exception:
            pass
    return n
