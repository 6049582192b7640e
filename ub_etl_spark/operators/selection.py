"""Shared selection/pair-generation cores of the registered queries — one
implementation, so a fix to the algorithm reaches every query and the
scale measurements (tools/scale_smoke.py times the registered queries)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def weighted_median_two_phase(
    df: DataFrame,
    group_col: str,
    value_cents: Column,
    weight: Column,
    bucket_width: int = 10000,
) -> DataFrame:
    """Exact per-group weighted median by two-phase distributed
    selection: a coarse bucket pass locates, per group, the single
    bucket containing the median plus the cumulative weight before it;
    the exact per-value cumulative window then runs over that bucket's
    rows only (~1/bucket-count of the data).  Avoids the near-|rows|
    per-group sort the one-window textbook form pays when values are
    near-unique.  Output: (group_col, weighted_median_cents,
    total_weight) — both exact longs (the cents value is NOT divided
    back to currency: a BIGINT/decimal-literal division types
    differently across DuckDB versions, the r03 red-row hazard)."""
    bucket = value_cents - F.pmod(value_cents, F.lit(bucket_width))
    coarse = df.groupBy(F.col(group_col), bucket.alias("b")).agg(
        F.sum(weight).alias("wb")
    )
    wcumb = (
        Window.partitionBy(group_col)
        .orderBy("b")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wtotb = Window.partitionBy(group_col)
    c1 = coarse.select(
        group_col,
        "b",
        F.sum("wb").over(wcumb).alias("cumb"),
        (F.sum("wb").over(wcumb) - F.col("wb")).alias("prior"),
        F.sum("wb").over(wtotb).alias("tw"),
    )
    med_bucket = (
        c1.filter(2 * F.col("cumb") >= F.col("tw"))
        .groupBy(F.col(group_col).alias("mb_grp"))
        .agg(F.min(F.struct("b", "prior", "tw")).alias("__mb"))
        .select(
            "mb_grp",
            F.col("__mb.b").alias("mb"),
            F.col("__mb.prior").alias("prior"),
            F.col("__mb.tw").alias("tw"),
        )
    )
    fine = (
        df.join(
            F.broadcast(med_bucket),
            (F.col(group_col) == F.col("mb_grp")) & (bucket == F.col("mb")),
        )
        .groupBy(group_col, value_cents.alias("pc"), "prior", "tw")
        .agg(F.sum(weight).alias("w"))
    )
    wcum = (
        Window.partitionBy(group_col)
        .orderBy("pc")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        fine.withColumn("cw", F.col("prior") + F.sum("w").over(wcum))
        .filter(2 * F.col("cw") >= F.col("tw"))
        .groupBy(group_col)
        .agg(
            F.min("pc").alias("weighted_median_cents"),
            F.max("tw").alias("total_weight"),
        )
    )


def quantile_disc_two_phase(
    df: DataFrame,
    value_col: str,
    quantiles: list[tuple[str, int, int]],
    bucket_width: int = 10000,
) -> DataFrame:
    """Exact global discrete (type-1) quantiles by two-phase distributed
    selection — the all-integer, no-interpolation quantile rule
    (smallest value whose cumulative count cw satisfies den*cw >= num*n)
    without the textbook global-order window, which would funnel every
    row through ONE partition (the scale-killer class).  Phase 1 buckets
    values (coarse counts, map-side combined) and walks the cumulative
    over the tiny bucket spine — |value_range / bucket_width| rows, the
    same bounded-spine argument as weighted_median_two_phase — locating,
    per requested quantile, the one bucket containing it plus the count
    before it.  Phase 2 re-scans only those buckets' rows (a broadcast
    semi-style equi-join on the bucket key), cumulates per distinct
    value, and picks the smallest qualifying value with exact integer
    comparisons throughout.

    quantiles: [(name, num, den), ...] — quantile num/den per output
    column.  Returns EXACTLY one row with one column per name, typed as
    ``value_col`` (actual data values: tie-invariant, engine-exact); on
    empty input the row is all-NULL, so ``.collect()[0]`` is stable
    either way.  Internal working columns are ``__q``-prefixed — the
    phase-2 join carries every caller column through, so the caller's
    schema may not contain ``__q*`` names (the generic operator's only
    reserved namespace); output quantile names are the caller's own and
    must not collide with ``value_col``."""
    v = F.col(value_col)
    bucket = v - F.pmod(v, F.lit(bucket_width))
    coarse = df.groupBy(bucket.alias("__qb")).agg(F.count(F.lit(1)).alias("__qnb"))
    wcum = Window.orderBy("__qb").rowsBetween(Window.unboundedPreceding, 0)
    wtot = Window.partitionBy()
    c1 = coarse.select(
        "__qb",
        F.sum("__qnb").over(wcum).alias("__qcumb"),
        (F.sum("__qnb").over(wcum) - F.col("__qnb")).alias("__qprior"),
        F.sum("__qnb").over(wtot).alias("__qn"),
    )
    # ONE pass over the bucket spine locates every requested quantile's
    # bucket (min(struct) orders by __qb first = smallest qualifying bucket).
    located = c1.agg(
        *[
            F.min(
                F.when(
                    den * F.col("__qcumb") >= num * F.col("__qn"),
                    F.struct("__qb", "__qprior", "__qn"),
                )
            ).alias(name)
            for name, num, den in quantiles
        ]
    )
    targets = located.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("__qname"),
                        F.lit(num).alias("__qnum"),
                        F.lit(den).alias("__qden"),
                        F.col(f"{name}.__qb").alias("__qtb"),
                        F.col(f"{name}.__qprior").alias("__qprior"),
                        F.col(f"{name}.__qn").alias("__qn"),
                    )
                    for name, num, den in quantiles
                ]
            )
        ).alias("t")
    ).select("t.*")
    fine = (
        df.join(F.broadcast(targets), bucket == F.col("__qtb"))
        .groupBy("__qname", "__qnum", "__qden", "__qprior", "__qn", v.alias("__qpc"))
        .agg(F.count(F.lit(1)).alias("__qcnt"))
    )
    wq = (
        Window.partitionBy("__qname")
        .orderBy("__qpc")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    picked = (
        fine.withColumn("__qcw", F.col("__qprior") + F.sum("__qcnt").over(wq))
        .filter(F.col("__qden") * F.col("__qcw") >= F.col("__qnum") * F.col("__qn"))
        .groupBy("__qname")
        .agg(F.min("__qpc").alias("__qval"))
    )
    pivoted = (
        picked.groupBy()
        .pivot("__qname", [name for name, _, _ in quantiles])
        .agg(F.first("__qval"))
    )
    # Empty-input contract: a global (no-grouping) pivot of zero picked
    # rows may resolve to zero rows OR to one all-NULL row depending on
    # Spark's pivot rewrite; the union+rank+limit below guarantees exactly
    # one row either way — the computed row when present, else the typed
    # all-NULL fallback.  Two driver-tiny rows, no extra shuffle.
    vtype = dict(df.dtypes)[value_col]
    fallback = df.sparkSession.range(1).select(
        *[F.lit(None).cast(vtype).alias(name) for name, _, _ in quantiles],
        F.lit(1).alias("__qrank"),
    )
    return (
        pivoted.withColumn("__qrank", F.lit(0))
        .unionByName(fallback)
        .orderBy("__qrank")
        .limit(1)
        .drop("__qrank")
    )


def global_row_number_two_phase(
    df: DataFrame,
    order_cols: list[str],
    out: str = "rn",
    num_partitions: int | None = None,
    total_out: str | None = None,
) -> DataFrame:
    """Exact global ``row_number() OVER (ORDER BY order_cols)`` without
    the single-partition WindowExec collapse (the same hazard class as
    the NTILE/rank watch items in SCALING.md): Spark plans an un-keyed
    ordered window as Exchange SinglePartition + one giant sort, so the
    whole table funnels through ONE task at any scale.

    Two-phase shape instead: ``repartitionByRange(N, order_cols)`` (an
    EXPLICIT N, so AQE will not re-coalesce the ranges differently per
    consumer) gives ordered, disjoint key ranges per partition; a local
    ``sortWithinPartitions`` plus ``monotonically_increasing_id`` yields
    the within-partition sequence (mid increments by exactly 1 per row
    in flow order inside a partition — the documented contract — and the
    per-partition ``min(mid)`` subtraction normalizes away the base, so
    nothing depends on the id's bit layout); a ``num_partitions``-row
    stats frame (count + min(mid) per partition id) turns into broadcast
    cumulative offsets.  global rn = local seq + offset.  Cost: ONE
    full-data shuffle (the range exchange, reused by both consumers) and
    two local sorts — no WindowExec touches the fact; the only window
    runs over the partition-count spine (the bounded-spine argument of
    quantile_disc_two_phase above).

    Correctness requires ``order_cols`` to be a UNIQUE total order (add
    a tiebreak key, exactly as a deterministic windowed row_number
    would need); with ties unbroken, rows inside a tie may number
    differently than the windowed form.  ``total_out``, when set, also
    attaches the global row count as a column (free — it rides the same
    broadcast), which downstream rank arithmetic (NTILE, percent_rank)
    needs.  ``__gr``-prefixed names are the operator's reserved
    namespace.

    Loud invariant (r7 ADVICE): per-row increment-by-1 of
    monotonically_increasing_id inside a partition is a CURRENT
    implementation detail, not Spark's contract (which only promises
    monotonic-unique), and the id's 33-bit per-partition counter would
    overflow into partition-id bits past 2^33 rows per partition.  The
    stats frame therefore checks ``max(mid) - min(mid) + 1 == count``
    per partition — consecutiveness and overflow-freedom in one
    equality, checked on the n_parts-row spine for free — and raises
    instead of silently mis-numbering."""
    n_parts = num_partitions or int(
        df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")
    )
    seq = (
        df.repartitionByRange(n_parts, *[F.col(c) for c in order_cols])
        .sortWithinPartitions(*order_cols)
        .select(
            "*",
            F.monotonically_increasing_id().alias("__gr_mid"),
            F.spark_partition_id().alias("__gr_pid"),
        )
    )
    stats = (
        seq.groupBy("__gr_pid")
        .agg(
            F.count(F.lit(1)).alias("__gr_cnt"),
            F.min("__gr_mid").alias("__gr_base"),
            F.max("__gr_mid").alias("__gr_hi"),
        )
        .filter(
            F.when(
                F.col("__gr_hi") - F.col("__gr_base") + 1 == F.col("__gr_cnt"),
                F.lit(True),
            ).otherwise(
                F.raise_error(
                    F.concat(
                        F.lit(
                            "global_row_number_two_phase: "
                            "monotonically_increasing_id is not consecutive "
                            "within partition "
                        ),
                        F.col("__gr_pid").cast("string"),
                        F.lit(
                            " (id-layout change or >2^33 rows/partition); "
                            "rn would be silently wrong"
                        ),
                    )
                )
            )
        )
        .drop("__gr_hi")
    )
    wprior = Window.orderBy("__gr_pid").rowsBetween(
        Window.unboundedPreceding, -1
    )
    wtot = Window.partitionBy()
    offsets = stats.select(
        "__gr_pid",
        "__gr_base",
        F.coalesce(F.sum("__gr_cnt").over(wprior), F.lit(0)).alias("__gr_off"),
        F.sum("__gr_cnt").over(wtot).alias("__gr_n"),
    )
    rn = F.col("__gr_mid") - F.col("__gr_base") + 1 + F.col("__gr_off")
    keep = [out] if total_out is None else [out, total_out]
    return (
        seq.join(F.broadcast(offsets), "__gr_pid")
        .withColumn(out, rn)
        .withColumn(total_out or "__gr_drop", F.col("__gr_n"))
        .drop("__gr_mid", "__gr_pid", "__gr_base", "__gr_off", "__gr_n")
        .select(*df.columns, *keep)
    )


def ntile_two_phase(
    df: DataFrame,
    k: int,
    order_cols: list[str],
    out: str = "bucket",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact global ``NTILE(k) OVER (ORDER BY order_cols)`` from the
    two-phase row number — the in-tree scale lever for the documented
    `equidepth_ntile_global` watch item (SCALING.md): same output,
    no Exchange SinglePartition on the fact.

    NTILE semantics reproduced arithmetically from (rn, n, k): with
    base = n div k and rem = n mod k, the first rem buckets hold
    base+1 rows.  bucket(rn) = ceil(rn/(base+1)) while rn <= rem*(base+1),
    else rem + ceil((rn - rem*(base+1))/base).  Integer ceils are done
    as floor((x-1)/d)+1 over doubles — exact while row counts stay
    below 2^53.  Same unique-total-order requirement as
    global_row_number_two_phase (ties: windowed NTILE numbers tied rows
    by its one global sort's arbitrary order; a unique key makes both
    forms deterministic and equal)."""
    with_rn = global_row_number_two_phase(
        df, order_cols, out="__gr_rn", num_partitions=num_partitions,
        total_out="__gr_total",
    )
    rn, n = F.col("__gr_rn"), F.col("__gr_total")
    base, rem = F.floor(n / k), n % k
    cut = rem * (base + 1)
    bucket = F.when(
        rn <= cut, F.floor((rn - 1) / (base + 1)) + 1
    ).otherwise(rem + F.floor((rn - cut - 1) / base) + 1)
    return with_rn.withColumn(out, bucket.cast("int")).drop(
        "__gr_rn", "__gr_total"
    )


def basket_arrays(df: DataFrame, basket_col: str, item_col: str) -> DataFrame:
    """One row per basket with its sorted de-duplicated item array —
    the ONE shuffle the whole basket-analysis family pays.  Consumers
    that need several derived frames (pair counts + item supports +
    basket count, e.g. lift/confidence) should persist this frame and
    branch from it instead of re-aggregating the fact per branch."""
    return df.groupBy(basket_col).agg(
        F.sort_array(F.collect_set(item_col)).alias("parts")
    )


def basket_pairs_from_arrays(baskets: DataFrame) -> DataFrame:
    """Pair expansion over a basket_arrays frame: map-side array HOFs
    inside codegen, no self-join, no additional shuffle."""
    return baskets.select(
        F.explode(
            F.flatten(
                F.transform(
                    "parts",
                    lambda x, i: F.transform(
                        F.slice("parts", i + 2, F.size("parts")),
                        lambda y: F.struct(x.alias("part_a"), y.alias("part_b")),
                    ),
                )
            )
        ).alias("pr")
    ).select(F.col("pr.part_a").alias("part_a"), F.col("pr.part_b").alias("part_b"))


def basket_pairs(df: DataFrame, basket_col: str, item_col: str) -> DataFrame:
    """Ordered co-occurrence pair instances (part_a < part_b, one row per
    basket containing the pair) without a self-join: collect each basket
    once (collect_set dedups, sort_array orders), generate the pairs
    map-side with array HOFs inside codegen.  Linear in baskets when
    basket size is bounded.  Consumers aggregate (counts) or dedup
    (edge sets) as needed — this stage itself adds no extra shuffle."""
    return basket_pairs_from_arrays(basket_arrays(df, basket_col, item_col))


def basket_pair_counts(
    df: DataFrame, basket_col: str, item_col: str
) -> DataFrame:
    """Co-occurrence pair counts (basket_pairs + one map-side-combined
    aggregate).  Output: (part_a, part_b, n_orders)."""
    return basket_pairs(df, basket_col, item_col).groupBy(
        "part_a", "part_b"
    ).agg(F.count(F.lit(1)).alias("n_orders"))


def basket_pair_counts_arrow(
    df: DataFrame, basket_col: str, item_col: str
) -> DataFrame:
    """Co-occurrence pair counts as ONE vectorized Arrow pass over the
    basket_arrays frame — the measured fast path for the counts-only
    consumer (r11 sf1 profiling).  Output: (part_a, part_b, n_orders),
    row-for-row equal to basket_pair_counts (pinned in
    tests/test_behavior.py).

    Why: the HOF expansion (nested transform + slice + flatten + explode
    + count agg) is interpreted expression evaluation per pair and ships
    every pair INSTANCE through the count exchange — at sf1 (6 M
    lineitem, 12 M pair instances) the registered query measured 17.6 s
    vs this form's 9.7 s, and at bench sf0.1 it is 4.1 s vs ~3.0-3.8 s
    (both min-of-N same-session; the double-explode JVM variant measured
    15.4 s at sf1 — better than nested-slice, still pair-instance-bound).
    Here each partition's baskets are length-grouped and the pairs come
    out of two numpy fancy-index gathers (np.triu_indices), then
    PRE-AGGREGATE inside the Arrow worker (packed int64 keys buffered
    across batches, ONE vectorized np.unique per flush — the r11.2
    profile showed the earlier per-batch unique + Python dict-update
    loop costing one interpreted dict op per distinct pair per batch;
    the buffered drain removed it, sf1 9.2 s -> 8.2 s same-session), so
    the exchange moves pair COUNTS, not pair instances — the same
    score-before-shuffle discipline as the simhash/LSH reworks.

    Scale shape: identical to the HOF form — the basket exchange is the
    one full-data shuffle, pair work is basket-bounded (linear in
    baskets for bounded basket size, never catalog-quadratic), and the
    count exchange is at most the distinct-pair count.  The in-worker
    accumulator buffers packed pair INSTANCES and is flushed whenever it
    exceeds 4 M entries — the check runs inside the per-length-group
    loop, so peak memory is the cap plus ONE length group's expansion
    (r12 fix; the earlier per-batch check let peak reach cap + a whole
    batch's quadratic pair expansion).  Flush boundaries only affect how
    much combining happens, not the result — the downstream sum
    re-aggregates.  Packing guard: the int64 (a << 32) | b fast key
    requires ids in [0, 2^31); batches outside that range fall back to a
    pandas two-column groupby, bit-identical, so the operator is correct
    at any id range."""
    return basket_pair_counts_arrow_from_arrays(
        basket_arrays(df, basket_col, item_col)
    )


def basket_pair_counts_arrow_from_arrays(baskets: DataFrame) -> DataFrame:
    """The Arrow pair-count pass over an existing basket_arrays frame —
    the entry point for consumers that persist and branch from the
    arrays (market_basket_lift shares one persisted basket shuffle
    between pair counts, item supports and the basket count; r11.3
    moves its pair branch from HOF instance expansion to this kernel).
    Output: (part_a, part_b, n_orders)."""
    import pandas as pd

    def pair_counts(batches):
        import numpy as np

        # Buffer packed pair INSTANCES (int64) and collapse with one
        # vectorized np.unique per flush — the r11.2 profile showed the
        # per-batch unique + Python dict-update loop (one dict op per
        # distinct pair per batch) dominating the worker; buffering
        # defers ALL key collapsing to numpy.  The flush cap bounds the
        # packed buffer at flush_cap * 8 bytes (~32 MB) plus one length
        # group's expansion — the cap check runs inside the per-group
        # loop (r12), not once per Arrow batch, so a batch of large
        # baskets can no longer pile a whole batch's quadratic pair
        # expansion on top of the cap.  Out-of-range-id fallback frames
        # drain under the same cap.  Flush boundaries only affect how
        # much combining happens before the exchange, not the result —
        # the downstream sum re-aggregates.
        flush_cap = 4_000_000
        bufs: list = []
        buffered = 0

        def drain():
            nonlocal bufs, buffered
            if not bufs:
                return None
            packed = bufs[0] if len(bufs) == 1 else np.concatenate(bufs)
            bufs, buffered = [], 0
            uniq, cnt = np.unique(packed, return_counts=True)
            return pd.DataFrame(
                {"part_a": uniq >> 32, "part_b": uniq & 0xFFFFFFFF, "n": cnt}
            )

        fallback: list = []
        fallback_rows = 0

        def drain_fallback():
            nonlocal fallback, fallback_rows
            if not fallback:
                return None
            allp = pd.concat(fallback, ignore_index=True)
            fallback, fallback_rows = [], 0
            g = allp.groupby(["part_a", "part_b"], sort=False).size()
            return g.rename("n").reset_index()

        for pdf in batches:
            by_len: dict = {}
            for arr in pdf["parts"]:
                length = len(arr)
                if length >= 2:
                    by_len.setdefault(length, []).append(arr)
            for length, arrs in by_len.items():
                m = np.asarray(arrs, dtype=np.int64)
                iu, ju = np.triu_indices(length, k=1)
                a = m[:, iu].ravel()
                b = m[:, ju].ravel()
                if m.min() < 0 or m.max() >= (1 << 31):
                    fallback.append(pd.DataFrame({"part_a": a, "part_b": b}))
                    fallback_rows += a.size
                    if fallback_rows > flush_cap:
                        out = drain_fallback()
                        if out is not None:
                            yield out
                    continue
                bufs.append((a << 32) | b)
                buffered += a.size
                if buffered > flush_cap:
                    out = drain()
                    if out is not None:
                        yield out
        out = drain()
        if out is not None:
            yield out
        out = drain_fallback()
        if out is not None:
            yield out

    partial = baskets.mapInPandas(
        pair_counts, "part_a bigint, part_b bigint, n bigint"
    )
    return partial.groupBy("part_a", "part_b").agg(
        F.sum("n").alias("n_orders")
    )
