"""Scale smoke: measure how headline query cost scales with data volume.

Synthesizes a K-times-larger lineitem/orders in /tmp by unioning shifted
copies of the sf0.1 tables (keys offset per copy so join/agg cardinalities
scale realistically), then times a representative query set at 1x and Kx.
A near-linear ratio (~K for scans/aggs, <=K log K for sorts) is the
evidence that the plans survive scale-up: no accidental cross products, no
collapse-to-one-partition, no driver-side loops.

Usage: python tools/scale_smoke.py [--k 10] [--sf /root/testdata/sf0.1]
Writes SCALING.md at the repo root.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql.window import Window as W  # noqa: E402

from ub_etl_spark.functions.exact import cents, cents_disc, csum  # noqa: E402
from ub_etl_spark.functions.exact import cavg as _cavg  # noqa: E402
from ub_etl_spark.session import get_spark, release_persisted  # noqa: E402


def amplify(spark, src: str, out: str, k: int) -> None:
    """K shifted copies of lineitem+orders: key spaces offset per copy so
    distinct counts, join fan-out, and group cardinality all scale by K.

    part is amplified into DISJOINT y-bands (p_retailprice shifted per
    copy by more than one grid cell): the spatial plane gets K times the
    points at CONSTANT local density, so the grid join's candidate count
    scales by K — overlaying copies at the same coordinates would square
    the qualifying-pair count by construction and falsely flag the
    equi-join plan as super-linear (same argument as amplify_graph)."""
    li = spark.read.parquet(f"{src}/lineitem.parquet")
    o = spark.read.parquet(f"{src}/orders.parquet")
    pt = spark.read.parquet(f"{src}/part.parquet")
    max_ok = o.agg(F.max("o_orderkey")).first()[0] + 1
    max_pk = pt.agg(F.max("p_partkey")).first()[0] + 1
    # y = p_retailprice / 250 with cell width 4.0 -> a 2000-price shift
    # moves each copy 2 cells up: no cross-copy candidate pairs
    max_rp = pt.agg(F.max("p_retailprice")).first()[0] + 2000.0
    li_parts = [
        li.withColumn("l_orderkey", F.col("l_orderkey") + F.lit(i * max_ok)) for i in range(k)
    ]
    o_parts = [
        o.withColumn("o_orderkey", F.col("o_orderkey") + F.lit(i * max_ok)) for i in range(k)
    ]
    pt_parts = [
        pt.withColumn("p_partkey", F.col("p_partkey") + F.lit(i * max_pk)).withColumn(
            "p_retailprice", F.col("p_retailprice") + F.lit(i * max_rp)
        )
        for i in range(k)
    ]
    big_li = li_parts[0]
    for p in li_parts[1:]:
        big_li = big_li.unionByName(p)
    big_o = o_parts[0]
    for p in o_parts[1:]:
        big_o = big_o.unionByName(p)
    big_pt = pt_parts[0]
    for p in pt_parts[1:]:
        big_pt = big_pt.unionByName(p)
    big_li.write.mode("overwrite").parquet(f"{out}/lineitem.parquet")
    big_o.write.mode("overwrite").parquet(f"{out}/orders.parquet")
    big_pt.write.mode("overwrite").parquet(f"{out}/part.parquet")
    # dims pass through UNCHANGED: K times the facts over a fixed dim set
    # is the realistic fact-table growth mode (customer/supplier/nation
    # keys in the copied facts still resolve against the base dims), and
    # it lets cells measure registered builders directly against this dir
    for t in ("customer", "supplier", "nation"):
        spark.read.parquet(f"{src}/{t}.parquet").write.mode("overwrite").parquet(
            f"{out}/{t}.parquet"
        )
    # events (r8, r7 verdict task 5): K time-shifted copies with the SAME
    # user ids — per-user event counts grow by K, which is exactly the
    # per-key sequential-scan hazard class the sessionization/gapfill
    # cells measure (keys amplifying instead would keep per-key
    # cardinality flat and hide the window-sort growth term).  Each copy
    # shifts by 31 days: > the 30-minute session gap, so sessions never
    # merge across copies (session count scales by K), and the per-user
    # day span grows ~K so the gapfill grid scales by K too.  Must load
    # through load_table (TIMESTAMP(NANOS) source); the amplified copy
    # is written as regular micros and reads back through the same path.
    from ub_etl_spark.sources.tables import load_table

    ev = load_table(spark, src, "events")
    max_ev = ev.agg(F.max("event_id")).first()[0] + 1
    ev_parts = [
        ev.withColumn("event_id", F.col("event_id") + F.lit(i * max_ev)).withColumn(
            "ts", F.col("ts") + F.expr(f"INTERVAL {i * 31} DAYS")
        )
        for i in range(k)
    ]
    big_ev = ev_parts[0]
    for p in ev_parts[1:]:
        big_ev = big_ev.unionByName(p)
    big_ev.write.mode("overwrite").parquet(f"{out}/events.parquet")


def queries(spark, d: str):
    li = spark.read.parquet(f"{d}/lineitem.parquet")
    o = spark.read.parquet(f"{d}/orders.parquet")
    pt = spark.read.parquet(f"{d}/part.parquet")
    return {
        "agg_groupby": li.filter(
            F.col("l_shipdate") <= F.lit("2001-09-02").cast("timestamp")
        )
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            csum("l_quantity", "sum_qty"),
            (F.sum(cents_disc("l_extendedprice", "l_discount")) / 10000.0).alias("rev"),
            F.count(F.lit(1)).alias("n"),
        ),
        "join_agg": li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n")),
        "window_rank": o.select(
            "o_orderkey",
            F.row_number()
            .over(
                W.partitionBy("o_orderstatus")
                .orderBy(F.desc("o_totalprice"), "o_orderkey")
            )
            .alias("rn"),
        ).filter(F.col("rn") <= 3),
        "topk": li.orderBy(F.desc("l_extendedprice"), "l_orderkey", "l_linenumber").limit(100),
        "distinct_count": o.agg(F.countDistinct("o_custkey").alias("n")),
        "running_sum": o.select(
            "o_custkey",
            (
                F.sum(cents("o_totalprice")).over(
                    W.partitionBy("o_custkey")
                    .orderBy("o_orderdate", "o_orderkey")
                    .rowsBetween(-(1 << 31), 0)
                )
                / 100.0
            ).alias("rt"),
        ),
        # round-3 shapes: basket pair generation (HOF, no self-join),
        # two-phase weighted-median selection, and the two global-order
        # watch-items (ntile, rank) — measured so the "global sort is the
        # scale limit" claim carries a number, not just a docstring
        "basket_pairs": _basket_pairs(li),
        # r6 fused shape (one fact pass, two-sided explode of the 625-row
        # flow matrix): K times the cross-border fact rows re-aggregate
        # into the SAME |nations|^2 matrix, so linear certifies that the
        # cost lives in the fact join + first agg, not the matrix math
        "trade_balance": _trade_balance(spark, d),
        "weighted_median_2phase": _weighted_median(li),
        "quantile_disc_2phase": _quantile_disc(o),
        "equidepth_ntile_global": _equidepth(o),
        "equidepth_ntile_2phase": _equidepth_2phase(o),
        "equidepth_sketch_approx": _equidepth_approx(o),
        "gini_rank_global": _gini(o),
        "active_episodes": _episodes(li, o),
        "active_episodes_2phase": _episodes_2phase(li, o),
        "active_episodes_arrow": _episodes_arrow(li, o),
        # round-4/5 shape changes (r4 verdict task 4): the directed
        # half-ring spatial grid and the shared-basket lift plan, measured
        # as shipped
        "spatial_grid": _spatial_grid(pt),
        "basket_lift": _basket_lift(li),
        # r7 (r6 verdict task 3): the newest abs-gate crosser.  K times
        # the lineitem rows rebuild the SAME 25-nation edge set, so BFS
        # round count is invariant (diameter 2-3 on the dense trade
        # graph) and only the edge-build scan grows — linear certifies
        # that the iteration machinery is a constant, not a scale term
        "bfs_nation_hops": _bfs_nation(spark, d),
        # r8 (r7 verdict task 5): the two remaining per-key
        # sequential-scan shapes beside the interval stitch — fixed-gap
        # sessionization (lag + cumsum keyed windows) and forward-fill
        # gapfill (grid explode + left join + last-ignorenulls window).
        # Per-user event counts grow by K under the events amplification
        # above, so these cells measure the same window-sort growth term
        # active_episodes documents; session_window_arrow is the in-tree
        # lever (sessions ARE coalesced [ts, ts+gap] intervals — see
        # _session_arrow) measured beside the windowed form.
        "session_window_keyed": _session_windowed(spark, d),
        "session_window_arrow": _session_arrow(spark, d),
        "gapfill_forward_fill": _gapfill(spark, d),
        # r10 (r8 verdict task 4): the two remaining per-key-growth
        # window shapes under the events amplification — the expanding
        # two-window distinct rewrite and the RANGE-frame trailing count.
        # Per-user rows grow by K, so both cells measure keyed
        # window-sort growth plus, for the RANGE frame, the O(n)
        # sliding-lower-bound scan after the sort.
        "running_distinct_2window": _registered(spark, d, "window_running_distinct"),
        "burst_range_frame": _registered(spark, d, "events_burst_detection"),
        # r11 (r10 verdict task 7): the as-of family's amplification
        # cells — the only multi-member operator family (B75/B80/B158)
        # with no cell yet, and its one-window-pass claim (union-tag
        # merged stream: ONE hash exchange on user_id + in-partition
        # sort, never a range cross-join — operators/asof.py) is
        # load-bearing for all three.  Per-user event counts grow by K
        # under the events amplification, so these measure the keyed
        # window-sort growth term of the merged stream directly;
        # `nearest` is the worst family member (backward AND forward
        # carry passes + the tie-break), `tolerance` the backward pass
        # with the post-join conditional.
        "asof_nearest": _registered(spark, d, "join_asof_nearest"),
        "asof_tolerance": _registered(spark, d, "join_asof_tolerance"),
        # r11 (sf1 adjudication follow-through): the two measured-accept
        # sf1 perf tasks whose dispositions claim minimal scale-correct
        # plans get amplification cells backing the claim — otif is one
        # per-order MAX pre-agg + one join + a 5-row agg (the pre-agg is
        # the |lines|/|orders| exchange reduction), q18 aggregates
        # lineitem BEFORE any join so the HAVING prunes to the rare
        # heavy keys first.  Expect ~linear for both.
        "otif_rate": _registered(spark, d, "lineitem_otif_rate"),
        "q18_heavy_orders": _registered(spark, d, "tpch_q18_large_orders"),
    }


def _registered(spark, d: str, name: str):
    from ub_etl_spark.registry import load_all

    return load_all()[name].fn(spark, d)


def _session_windowed(spark, d: str):
    from ub_etl_spark.registry import load_all

    return load_all()["stream_session_window"].fn(spark, d)


def _session_arrow(spark, d: str):
    """stream_session_window re-expressed as interval coalescing: each
    event is the interval [ts, ts + 30 min]; 'overlapping or touching'
    coalescing merges exactly the pairs with gap <= 30 min (equal-length
    intervals make the running max the previous end), so episodes ARE
    sessions — session_start = episode_start, session_end =
    episode_end - 30 min, n_events = n, session_id = episode.  Zero new
    operator code: this is coalesce_intervals_arrow (operators/
    intervals.py) with a projected end column; the cell measures the
    O(n)-after-sort Arrow scan against the two-window form above."""
    from ub_etl_spark.operators.intervals import coalesce_intervals_arrow
    from ub_etl_spark.sources.tables import load_table

    e = load_table(spark, d, "events").select(
        "user_id",
        F.col("ts").alias("iv_start"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("iv_end"),
    )
    eps = coalesce_intervals_arrow(e, "user_id", "iv_start", "iv_end")
    return eps.select(
        "user_id",
        F.col("episode").alias("session_id"),
        F.col("n_orders").alias("n_events"),
        F.col("episode_start").alias("session_start"),
        (F.col("episode_end") - F.expr("INTERVAL 30 MINUTES")).alias("session_end"),
    )


def _gapfill(spark, d: str):
    from ub_etl_spark.registry import load_all

    return load_all()["timeseries_gapfill"].fn(spark, d)


def _bfs_nation(spark, d: str):
    from ub_etl_spark.registry import load_all

    return load_all()["graph_bfs_distance"].fn(spark, d)


def _episodes(li, o):
    from pyspark.sql import functions as F

    # r5 shape: fact pre-aggregated to per-order MAX(shipdate) BEFORE the
    # orders join (mirrors queries/warehouse.orders_active_episodes)
    last_ship = li.groupBy(F.col("l_orderkey").alias("o_orderkey")).agg(
        F.max("l_shipdate").alias("iv_end")
    )
    iv = o.select(
        "o_custkey", "o_orderkey", F.col("o_orderdate").alias("iv_start")
    ).join(last_ship, "o_orderkey")
    w_prev = (
        W.partitionBy("o_custkey")
        .orderBy("iv_start", "iv_end", "o_orderkey")
        .rowsBetween(-(1 << 31), -1)
    )
    prev_max = F.max("iv_end").over(w_prev)
    flagged = iv.select(
        "o_custkey", "o_orderkey", "iv_start", "iv_end",
        F.when(prev_max.isNull() | (F.col("iv_start") > prev_max), 1).otherwise(0).alias("new_ep"),
    )
    # r15: cum order totalized with o_orderkey, mirroring the shipped
    # plan's duplicate-interval tie fix (see warehouse.py docstring)
    w_cum = (
        W.partitionBy("o_custkey")
        .orderBy("iv_start", "iv_end", "o_orderkey")
        .rowsBetween(-(1 << 31), 0)
    )
    return (
        flagged.select("o_custkey", "iv_start", "iv_end", F.sum("new_ep").over(w_cum).alias("ep"))
        .groupBy("o_custkey", "ep")
        .agg(F.min("iv_start").alias("s"), F.max("iv_end").alias("e"), F.count(F.lit(1)).alias("n"))
    )


def _episodes_2phase(li, o):
    from pyspark.sql import functions as F

    from ub_etl_spark.operators.intervals import coalesce_intervals_agg

    # same interval build as _episodes, stitched by the agg-shaped
    # two-phase fold instead of the keyed windows (the documented lever
    # for the sort-envelope watch item; equality pinned in
    # tests/test_intervals.py)
    last_ship = li.groupBy(F.col("l_orderkey").alias("o_orderkey")).agg(
        F.max("l_shipdate").alias("iv_end")
    )
    iv = o.select(
        "o_custkey", "o_orderkey", F.col("o_orderdate").alias("iv_start")
    ).join(last_ship, "o_orderkey")
    return coalesce_intervals_agg(iv, "o_custkey", "iv_start", "iv_end")


def _episodes_arrow(li, o):
    from pyspark.sql import functions as F

    from ub_etl_spark.operators.intervals import coalesce_intervals_arrow

    # same interval build, stitched by the single vectorized Arrow pass
    # (exchange + local sort + O(n) numpy scan; carry across batches) —
    # the 100TB form of the three (see the notes)
    last_ship = li.groupBy(F.col("l_orderkey").alias("o_orderkey")).agg(
        F.max("l_shipdate").alias("iv_end")
    )
    iv = o.select(
        "o_custkey", "o_orderkey", F.col("o_orderdate").alias("iv_start")
    ).join(last_ship, "o_orderkey")
    return coalesce_intervals_arrow(iv, "o_custkey", "iv_start", "iv_end")


def _spatial_grid(pt):
    # the shipped directed half-ring plan (queries/advanced.join_spatial_grid):
    # equi hash join on cell id, 5x B-side explode, exact post-filter
    r = 4.0
    pts = pt.select(
        F.col("p_partkey").alias("id"),
        F.col("p_size").cast("double").alias("x"),
        (F.col("p_retailprice") / 250.0).alias("y"),
    )
    cx = F.floor(F.col("x") / r).cast("long")
    cy = F.floor(F.col("y") / r).cast("long")
    a = pts.select("id", "x", "y", cx.alias("cx"), cy.alias("cy"))
    offsets = [(0, 0), (0, 1), (1, -1), (1, 0), (1, 1)]
    b = pts.select(
        F.col("id").alias("id_b"),
        F.col("x").alias("xb"),
        F.col("y").alias("yb"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        (cx + F.lit(dx)).alias("cx"),
                        (cy + F.lit(dy)).alias("cy"),
                        F.lit(dx == 0 and dy == 0).alias("same"),
                    )
                    for dx, dy in offsets
                ]
            )
        ).alias("cell"),
    ).select(
        "id_b", "xb", "yb",
        F.col("cell.cx").alias("cx"),
        F.col("cell.cy").alias("cy"),
        F.col("cell.same").alias("same"),
    )
    d2 = (F.col("x") - F.col("xb")) ** 2 + (F.col("y") - F.col("yb")) ** 2
    return (
        a.join(b, ["cx", "cy"])
        .filter((~F.col("same") | (F.col("id") < F.col("id_b"))) & (d2 <= F.lit(r * r)))
        .select(
            F.least("id", "id_b").alias("id_a"),
            F.greatest("id", "id_b").alias("id_b"),
            (F.floor(F.sqrt(d2) * 1e6) / 1e6).alias("dist"),
        )
    )


def _basket_lift(li):
    # the shipped shared-basket plan (queries/behavior.market_basket_lift,
    # r11.3 form): ONE collect_set shuffle persisted; the Arrow pair-count
    # kernel + item supports + basket count all branch from it
    from ub_etl_spark.operators.selection import (
        basket_arrays,
        basket_pair_counts_arrow_from_arrays,
    )
    from ub_etl_spark.session import tracked_persist

    arrays = tracked_persist(basket_arrays(li, "l_orderkey", "l_partkey"))
    n_orders = arrays.agg(F.count(F.lit(1)).alias("n"))
    item = (
        arrays.select(F.explode("parts").alias("l_partkey"))
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("ni"))
    )
    pairs = (
        basket_pair_counts_arrow_from_arrays(arrays)
        .withColumnRenamed("n_orders", "nab")
        .filter(F.col("nab") >= 3)
    )
    ia = item.select(F.col("l_partkey").alias("part_a"), F.col("ni").alias("ni_a"))
    ib = item.select(F.col("l_partkey").alias("part_b"), F.col("ni").alias("ni_b"))
    return (
        pairs.join(F.broadcast(ia), "part_a")
        .join(F.broadcast(ib), "part_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "part_a", "part_b", "nab",
            ((F.col("nab").cast("double") * F.col("n"))
             / (F.col("ni_a").cast("double") * F.col("ni_b"))).alias("lift"),
            (F.col("nab").cast("double") / F.col("ni_a")).alias("confidence_a_to_b"),
        )
        .orderBy(F.desc("lift"), "part_a", "part_b")
        .limit(50)
    )


def _trade_balance(spark, d: str):
    # the registered builder itself (queries/warehouse.py): the cell
    # measures the exact shipped plan against the amplified dir
    from ub_etl_spark.registry import load_all

    return load_all()["nation_trade_balance"].fn(spark, d)


def _basket_pairs(li):
    # the shipped r11 plan (queries/behavior.market_basket_pairs): the
    # Arrow pre-agg pair kernel, counts through the exchange
    from ub_etl_spark.operators.selection import basket_pair_counts_arrow

    counted = basket_pair_counts_arrow(li, "l_orderkey", "l_partkey")
    w = W.partitionBy("part_a").orderBy(F.desc("n_orders"), F.asc("part_b"))
    return counted.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 3)


def _weighted_median(li):
    from ub_etl_spark.operators.selection import weighted_median_two_phase

    return weighted_median_two_phase(
        li, "l_returnflag", cents("l_extendedprice"), cents("l_quantity", scale=0)
    )


def _quantile_disc(o):
    # exact discrete p05/p95 WITHOUT a global-order window: the two-phase
    # bucket selection that replaced agg_winsorized_mean's row_number pass
    from ub_etl_spark.operators.selection import quantile_disc_two_phase

    v = o.select(cents("o_totalprice").alias("c"))
    return quantile_disc_two_phase(v, "c", [("lo", 1, 20), ("hi", 19, 20)])


def _equidepth(o):
    w = W.orderBy("o_totalprice", "o_orderkey")
    return (
        o.withColumn("bucket", F.ntile(10).over(w))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"), F.min("o_totalprice").alias("lo"))
    )


def _equidepth_2phase(o):
    # the EXACT scale path beside the global-NTILE watch-item: two-phase
    # global row number (range exchange + local sorts + broadcast
    # offsets, operators/selection.py) -> arithmetic NTILE; same output
    # contract as _equidepth, no Exchange SinglePartition on the fact
    from ub_etl_spark.operators.selection import ntile_two_phase

    return (
        ntile_two_phase(o, 10, ["o_totalprice", "o_orderkey"], out="bucket")
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"), F.min("o_totalprice").alias("lo"))
    )


def _equidepth_approx(o):
    # the scale path beside the exact global-NTILE watch-item: sketch
    # boundaries broadcast into a codegen assignment, no global sort
    cuts = o.agg(
        F.percentile_approx("o_totalprice", [i / 10.0 for i in range(1, 10)], 10000).alias("cuts")
    )
    bucket = F.lit(1) + F.size(F.filter("cuts", lambda c: F.col("o_totalprice") > c))
    return (
        o.crossJoin(F.broadcast(cuts))
        .select("o_totalprice", bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n"), F.min("o_totalprice").alias("lo"))
    )


def _gini(o):
    r = o.groupBy("o_custkey").agg(F.sum(cents("o_totalprice")).alias("rev"))
    ranked = r.withColumn("i", F.row_number().over(W.orderBy("rev", "o_custkey")))
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    s = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(d(F.col("i")) * d(F.col("rev"))).alias("sir"),
        F.sum(d(F.col("rev"))).alias("sr"),
    )
    return s.select(
        (
            (F.lit(2).cast("decimal(38,0)") * F.col("sir")
             - (F.col("n") + 1).cast("decimal(38,0)") * F.col("sr")).cast("double")
            / (d(F.col("n")) * F.col("sr")).cast("double")
        ).alias("gini")
    )


def amplify_graph(spark, src: str, out: str, k: int) -> None:
    """K copies of lineitem with BOTH orderkey and partkey offset: the
    co-purchase graph becomes K disjoint copies (nodes and edges scale
    by K, density constant) — the fair scaling fixture for graph
    algorithms.  Reusing amplify()'s orderkey-only shift would pour K
    times the orders over ONE part vocabulary, densifying the graph and
    flagging any triangle counter as super-linear by construction."""
    li = spark.read.parquet(f"{src}/lineitem.parquet")
    max_part = li.agg(F.max("l_partkey")).first()[0] + 1
    max_ok = li.agg(F.max("l_orderkey")).first()[0] + 1
    parts = [
        li.withColumn("l_orderkey", F.col("l_orderkey") + F.lit(i * max_ok))
        .withColumn("l_partkey", F.col("l_partkey") + F.lit(i * max_part))
        for i in range(k)
    ]
    big = parts[0]
    for p in parts[1:]:
        big = big.unionByName(p)
    big.write.mode("overwrite").parquet(f"{out}/lineitem_graph.parquet")


def graph_queries(spark, d: str, table: str):
    # both cells measure the REGISTERED r11 plans: edges via the Arrow
    # pair-count pass (basket_edges), never HOF expansion + distinct
    from ub_etl_spark.operators.graph import basket_edges, count_triangles

    li = spark.read.parquet(f"{d}/{table}")
    return {
        "triangle_count": count_triangles(
            basket_edges(li, "l_orderkey", "l_partkey")
        ),
        "jaccard_probes": _jaccard_probes(li),
    }


def _jaccard_probes(li):
    """The registered graph_jaccard_link_prediction plan inlined against
    the disjoint-copy graph table (the registered fn reads lineitem.parquet,
    whose orderkey-only amplification would densify the graph): arrow
    edges + probe-seeded wedges + broadcast center semi filter.  Probes
    are partkeys % 100 == 0 — ~1% of every disjoint copy, so the probe
    set grows with K and the cell measures the claimed
    O(|probes| x deg^2) term under constant density."""
    from ub_etl_spark.operators.graph import basket_edges
    from ub_etl_spark.session import tracked_persist

    edges = tracked_persist(basket_edges(li, "l_orderkey", "l_partkey"))
    sym = edges.unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    deg = sym.groupBy("u").agg(F.count(F.lit(1)).alias("d")).select(
        F.col("u").alias("node"), "d"
    )
    s1 = sym.select(F.col("u").alias("c"), F.col("v").alias("x")).filter(
        F.col("x") % 100 == 0
    )
    s2 = sym.select(F.col("u").alias("c"), F.col("v").alias("y")).join(
        F.broadcast(s1.select("c").distinct()), "c", "left_semi"
    )
    cand = (
        s1.join(s2, "c")
        .filter(F.col("x") != F.col("y"))
        .groupBy("x", "y")
        .agg(F.count(F.lit(1)).alias("cn"))
        .join(
            edges.select(F.col("u").alias("eu"), F.col("v").alias("ev")),
            (F.least(F.col("x"), F.col("y")) == F.col("eu"))
            & (F.greatest(F.col("x"), F.col("y")) == F.col("ev")),
            "left_anti",
        )
    )
    dx = deg.select(F.col("node").alias("x"), F.col("d").alias("dx"))
    dy = deg.select(F.col("node").alias("y"), F.col("d").alias("dy"))
    return (
        cand.join(F.broadcast(dx), "x")
        .join(F.broadcast(dy), "y")
        .select(
            "x",
            "y",
            "cn",
            (
                F.col("cn").cast("double")
                / (F.col("dx") + F.col("dy") - F.col("cn"))
            ).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), "x", "y")
        .limit(50)
    )


def amplify_corpus(spark, src: str, out: str, k: int) -> None:
    """K decorrelated copies of documents+embeddings.

    Documents get a per-copy salt token appended so cross-copy texts are
    NOT near-duplicates (exact copies would form K-cliques and the pair
    count would scale K^2 by construction, falsely flagging LSH as
    super-linear).  Embeddings are rotated by the copy index — norm
    preserved, directions decorrelated."""
    docs = spark.read.parquet(f"{src}/documents.parquet")
    emb = spark.read.parquet(f"{src}/embeddings.parquet")
    max_doc = docs.agg(F.max("doc_id")).first()[0] + 1
    max_vec = emb.agg(F.max("vec_id")).first()[0] + 1
    # per-copy PREFIX on every token — a bijective vocabulary rename: the
    # near-dup structure WITHIN each copy is preserved exactly (same shingle
    # relations under the renaming) and cross-copy shingle overlap is ZERO,
    # so pair counts scale linearly in K.  (Two rejected constructions:
    # appending a salt token leaves cross-copy texts near-identical ->
    # K-clique pair blowup; interleaving a copy token between words creates
    # "w_i b w_i" shingles shared by every doc in the copy over a small
    # vocabulary -> within-copy all-pairs blowup.)
    d_parts = [
        docs.withColumn("doc_id", F.col("doc_id") + F.lit(i * max_doc)).withColumn(
            "text", F.regexp_replace("text", r"(\S+)", f"c{i}_$1")
        )
        for i in range(k)
    ]
    e_parts = []
    for i in range(k):
        r = i % 64
        rot = (
            F.concat(F.slice("embedding", r + 1, 64 - r), F.slice("embedding", 1, r))
            if r
            else F.col("embedding")
        )
        e_parts.append(
            emb.withColumn("vec_id", F.col("vec_id") + F.lit(i * max_vec)).withColumn(
                "embedding", rot
            )
        )
    big_d = d_parts[0]
    for p in d_parts[1:]:
        big_d = big_d.unionByName(p)
    big_e = e_parts[0]
    for p in e_parts[1:]:
        big_e = big_e.unionByName(p)
    big_d.write.mode("overwrite").parquet(f"{out}/documents.parquet")
    big_e.write.mode("overwrite").parquet(f"{out}/embeddings.parquet")


def corpus_queries(spark, d: str):
    from ub_etl_spark.operators import dedup as D
    from ub_etl_spark.operators.curation import (
        contamination_check,
        gopher_quality,
        pack_sequences,
        redact_pii,
    )
    from ub_etl_spark.operators.training import (
        dedup_normalized_exact,
        l2_normalize_quantize,
        ngram_counts,
    )
    from ub_etl_spark.operators.vectors import knn_exact

    docs = spark.read.parquet(f"{d}/documents.parquet")
    emb = spark.read.parquet(f"{d}/embeddings.parquet")
    return {
        "minhash_lsh": D.minhash_lsh_pairs(
            docs, "doc_id", "text", n=3, num_perm=16, bands=8, threshold=0.25
        ),
        "normalized_dedup": dedup_normalized_exact(docs, "doc_id", "text"),
        "ngram_vocab": ngram_counts(docs, "text", n=2, top_k=200),
        "embedding_quantize": l2_normalize_quantize(emb, "vec_id", "embedding"),
        # bounded query set: cost must scale with the CORPUS (linear), not
        # with |Q| x corpus
        "knn_exact_10q": knn_exact(emb.filter(F.col("vec_id") < 10), emb, k=5),
        # curation tier: redact/gopher/pack are map-or-one-shuffle passes
        # (expect ~linear); contamination's benchmark side grows with the
        # corpus too (it broadcasts — ratio tracks corpus + bench growth)
        "pii_redact": docs.select("doc_id", redact_pii(F.col("text")).alias("t")),
        "quality_gopher": gopher_quality(docs, "doc_id", "text"),
        "contamination": contamination_check(
            docs.filter(F.col("doc_id") % 97 != 0),
            docs.filter(F.col("doc_id") % 97 == 0),
            "doc_id",
            "text",
            n=5,
        ),
        "pack_sequences": pack_sequences(docs, "doc_id", "text", budget=256, n_parts=8),
        # chunking is shuffle-free (expect ~linear map cost); the inverted
        # index shuffles (doc, term) pairs — expect ~linear with vocab
        # growth absorbed by map-side combine
        "chunk_sliding": _chunks(docs),
        "inverted_index": _inverted(docs),
        # analytics tier: survivorship is one keyed agg with map-side
        # partial_min_by; centroid shuffles |labels| x dim rows regardless
        # of corpus size (both expect ~linear map cost, flat shuffle)
        "survivorship": _survivorship(docs),
        "phash_hamming": _phash_pairs(docs),
        "pq_encode": _pq_encode(spark, d, emb),
        # r7 (r6 verdict task 3): the full PQ query as shipped after the
        # fusion rework — bounded 10-query set, train-once codebooks, one
        # fused encode+ADC pass with batch-local top-shortlist pruning.
        # Expect ~corpus-linear like knn_exact_10q: the ADC scan is the
        # only corpus-sized term; shortlist/re-rank are |Q|-bounded
        "pq_adc_scan_10q": _pq_adc(spark, d, emb),
        "centroid_per_label": emb.select(
            "label", F.posexplode("embedding").alias("pos", "val")
        )
        .groupBy("label", "pos")
        .agg(_cavg(F.col("val").cast("double"), "c", scale=6)),
        # r10: the newly note-documented text/search shapes, measured so
        # their "linear in corpus bytes / never all-pairs" claims carry
        # numbers.  tfidf_score = tokenize + tf agg + pruned two-phase
        # distinct df + term join; keyphrase adds a per-doc
        # WindowGroupLimit; hybrid_rrf holds |Q|=3 fixed (the
        # knn_exact_10q convention) so the ratio tracks the corpus-sized
        # terms only (lexical inverted-index probe + dense scoring)
        "tfidf_score": _registered(spark, d, "text_tfidf"),
        "keyphrase_topk": _registered(spark, d, "text_keyphrase_topk"),
        "hybrid_rrf_3q": _registered(spark, d, "hybrid_search_rrf"),
        # r11: the containment query's "linear in corpus bytes" note gets
        # its own cell (the r11 rework changed the plan: xxhash64 gram
        # keys + persisted gram frame) — expect byte-linear-ish like the
        # other salt-inflated corpus cells, with the candidate join
        # bounded by shared-gram pairs
        "containment_dedup": _registered(spark, d, "text_containment_dedup"),
        # r12 (r11 verdict task 2): the banded containment twin beside
        # its exact reference.  Expect flatter-than-exact growth: the
        # full-corpus work is one doc-keyed aggregate + a band join with
        # S-curve-capped buckets; verification is candidate-bounded
        # (array_intersect on compact per-doc sets), where the exact
        # form's gram join pays a row per co-occurring gram pair
        "containment_banded": _registered(spark, d, "text_containment_banded"),
        # r15: exact-substring span dedup (Lee et al. 2022).  The per-copy
        # token prefix rename keeps within-copy duplicated spans intact and
        # makes cross-copy k-gram overlap ZERO, so the true span set scales
        # exactly linearly in K.  Expect ~linear: the candidate pass is
        # token-linear (hash agg + semi join on 8-byte gram hashes), the
        # verify pass is bounded by the duplicated fraction
        "substring_span": _registered(spark, d, "dedup_substring_span"),
    }


def _phash_pairs(docs):
    from ub_etl_spark.operators.dedup import hamming_pairs
    from ub_etl_spark.operators.multimodal import phash_media, with_binary_payload

    h = phash_media(with_binary_payload(docs, "doc_id", "text"), fake=True)
    return hamming_pairs(h, id_col="doc_id", hash_col="phash", max_hamming=7, n_chunks=8)


_PQ_BOOKS_CACHE: dict[str, list] = {}


def _pq_encode(spark, d, emb):
    # train once on the BASE corpus (the train-once/encode-many shape);
    # the smoke measures ENCODING cost, which is the per-volume part
    from ub_etl_spark.operators.vectors import pq_codebooks, pq_encode

    base = "/root/testdata/sf0.1"
    if base not in _PQ_BOOKS_CACHE:
        _PQ_BOOKS_CACHE[base] = pq_codebooks(
            spark.read.parquet(f"{base}/embeddings.parquet"), dim=64, m=8, ksub=16
        )
    return pq_encode(emb, _PQ_BOOKS_CACHE[base]).select("vec_id", "pq_codes")


def _pq_adc(spark, d, emb):
    from ub_etl_spark.operators.vectors import knn_ann_pq, pq_codebooks

    base = "/root/testdata/sf0.1"
    if base not in _PQ_BOOKS_CACHE:
        _PQ_BOOKS_CACHE[base] = pq_codebooks(
            spark.read.parquet(f"{base}/embeddings.parquet"), dim=64, m=8, ksub=16
        )
    return knn_ann_pq(
        emb,
        k=5,
        dim=64,
        m=8,
        ksub=16,
        shortlist=50,
        query_filter=F.col("vec_id") < 10,
        books=_PQ_BOOKS_CACHE[base],
    )


def _survivorship(docs):
    from ub_etl_spark.operators.training import survivorship_dedup

    rank = F.substring("source", 4, 10).cast("bigint")
    return survivorship_dedup(docs, "doc_id", "source", rank, "text")


def _chunks(docs):
    size, stride = 32, 24
    toks = F.split(F.coalesce(F.col("text"), F.lit("")), " ")
    base = docs.select("doc_id", toks.alias("__toks"), F.size(toks).alias("__n"))
    n_extra = F.when(
        F.col("__n") > size, F.expr(f"(__n - {size} + {stride - 1}) DIV {stride}")
    ).otherwise(F.lit(0))
    chunks = base.select(
        "doc_id",
        "__toks",
        F.explode(F.sequence(F.lit(0), n_extra.cast("int"))).alias("chunk_idx"),
    )
    piece = F.slice(F.col("__toks"), F.col("chunk_idx") * stride + 1, size)
    return chunks.select(
        "doc_id", "chunk_idx", F.concat_ws(" ", piece).alias("chunk_text")
    )


def _inverted(docs):
    tok = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).distinct()
    return tok.groupBy("term").agg(
        F.sort_array(F.collect_list("doc_id")).alias("postings"),
        F.count(F.lit(1)).alias("df"),
    )


# Interpretation of the cells that are EXPECTED to flag — kept in the
# generator so a re-run can't silently drop the analysis (it used to be
# hand-appended to SCALING.md and one regeneration away from loss).
def sf1_section() -> list[str]:
    """Fold the one-off sf1 ratio pass (tools/sf1_bench.py, r10 verdict
    task 4) into SCALING.md so a full regeneration preserves it.  Reads
    the committed sf1_bench.json; returns [] when absent."""
    import json
    import os

    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "sf1_bench.json")
    if not os.path.exists(path):
        return []
    with open(path) as fh:
        doc = json.load(fh)
    lines = [
        "\n## sf1.0 ratio pass (tools/sf1_bench.py — one-off, r11)\n",
        f"Spark vs DuckDB over {doc['amplification']}; oracle convention:",
        f"{doc['oracle_convention']}; spark: {doc['spark_convention']};",
        f"job floor {doc['spark_job_floor_s']}s.  The 26 meaningful-oracle",
        "queries of the r10 sidecar + the two held-weak entries + the",
        "rows-only sf1 adjudications (spark_s only; bounds in BOUNDS.json).\n",
        "| query | spark sec | oracle sec | ratio | floor-adj | oracle mode |",
        "|---|---|---|---|---|---|",
    ]
    for name, r in sorted(
        doc["queries"].items(), key=lambda kv: -(kv[1].get("ratio") or 0)
    ):
        # rows-only queries carry no oracle by construction — render a
        # dash, not "err" (the err sentinel marks a FAILED measurement)
        no_oracle = "rows_only" in str(r.get("oracle_mode", ""))
        lines.append(
            f"| {name} | {r.get('spark_s', 'err')} "
            f"| {r.get('oracle_s', '-' if no_oracle else 'err')} "
            f"| {r.get('ratio', '-')} | {r.get('floor_adj_ratio', '-')} "
            f"| {r.get('oracle_mode', '-')} |"
        )
    lines.append(
        f"\n>2x floor-adjusted at sf1: {', '.join(doc.get('over_2x_floor_adjusted', [])) or 'none'}"
        " — see the sf1 note in the notes section below.\n"
    )
    return lines


NOTES = """Notes on the flagged cells:
- r15 sf1 VALUE PARITY, over-abs-gate set (r14 verdict task 3;
  tools/sf1_parity.py on /tmp/sf1_10x, shipped plans): **22/22 green**
  — 16 full order-insensitive multiset compares (outputs up to 1.5M
  rows: storage_bucketed_merge, storage_gdpr_delete),
  join_spatial_grid via the engine-side exact checksum mode (COUNT +
  per-column DECIMAL(38,0) sums + id-product sum computed in BOTH
  engines over the full qualifying pair set), and the 5 oracle-less
  hash-seeded queries rows-only with their deterministic sf1 value
  evidence in BOUNDS.json where feasible (bounds_sf1:
  dedup_minhash_lsh pair set == exact-Jaccard's, 2560/2560, equal;
  text_containment_banded recall 1.0 vs the exact form —
  simhash/ANN stay pinned at sf0.1, disclosed).  The sweep CAUGHT ONE
  REAL DEFECT on first contact — orders_active_episodes' cum-window
  tie ambiguity (its own note below) — which is the argument for the
  notch: sf0.001-0.1 parity had passed it 14 rounds running.
- r15 substring_span cell (6.1x@10x, measured as a SINGLE-CELL run via
  this module's own amplify_corpus/corpus_queries/run path — min-of-2,
  release_persisted + clearCache between scales — because the full
  table regeneration was not re-run this round; the cell is in
  corpus_queries() so every future full regen includes it): the
  exact-substring span dedup (dedup_substring_span, Lee et al. 2022)
  rides its candidate pass, which shuffles only (xxhash64 gram, doc_id,
  pos) — token-linear — while the string-verify pass is bounded by the
  duplicated fraction.  The amplifier's bijective per-copy token rename
  keeps the true span set exactly K-linear, so 6.1x@10x is per-query
  overhead still amortizing, not super-linear work.
- r15 active_episodes cell refresh (0.904s 1x / 62.915s 100x = 69.6x,
  single-cell re-measure on the retained 100x dir, min-of-2): the
  windowed plan changed this round — the sf1 VALUE-parity notch
  caught the cumulative-sum window ordering by (start, end) only,
  which is ambiguous for exact duplicate intervals (147k tied groups
  at sf1) and let Spark's non-stable window sort emit 28270 vs the
  oracle's 28300 episodes; both windows now share the FULL (start,
  end, orderkey) total order.  The fix is also a measured WIN: the
  identical orders collapse the two window sorts into one
  (same-session A/B old-vs-new: 1x 1.166s->0.904s, 100x
  86.4s->62.9s), cutting the cell from the pre-fix 115.7x to 69.6x.
  The 138.6x sort-envelope arithmetic below still describes the
  per-sort cost; the cell now pays ~one sort, not two.
- r14 full-value parity AT BENCH SCALE: tools/parity.py ran all 261
  registered queries at sf0.1 — 261/261 passed (246 with full
  row/schema/value-hash oracles, the rest rows-only by construction).
  Prior full-parity sweeps ran at sf0.001/sf0.01 (+ the r13 7-way
  partitioning re-run); this is the first value-hash certification at
  the 600k-row corpus the bench measures, closing the scale gap
  between the correctness evidence and the performance evidence.
  Also r14, a new independence axis: full 261/261 parity with
  spark.sql.adaptive.enabled=false (via the session's new
  SPARK_GRAFT_EXTRA_CONF override, verified taking effect) — results
  do not depend on AQE replanning, complementing the r13 7-way
  partition-count certification.  And a third axis: full 261/261
  parity with spark.sql.execution.arrow.maxRecordsPerBatch=97 — every
  Arrow kernel (mapInPandas/applyInPandas: the basket pair-count
  kernel, session windows, PQ encode+ADC, SimHash pack, episode
  merge, ...) produces identical results when its input arrives in
  tiny odd-sized batches, pinning batch-flush-boundary independence
  corpus-wide (the failure class the r12 kernel-cap fix belonged to).
  Fourth axis: 261/261 with spark.sql.codegen.wholeStage=false — the
  interpreted expression path agrees with compiled codegen everywhere.
  Together: results are invariant to partition count (r13), AQE
  replanning, Arrow batch sizing, and codegen mode — the four runtime
  knobs a cluster deployment actually varies.  A fifth combined
  "hostile runtime" sweep (AQE off + codegen off + 97-row Arrow
  batches + 7 shuffle partitions, all at once) also passes 261/261 —
  the invariances hold jointly, not just one knob at a time.
- sf1.0 adjudication (r11, closing r10 verdict task 4): at ~6M lineitem
  rows the per-job floor amortizes and 20/28 measured queries land
  at-or-under 2x floor-adjusted — the floor-dominance claim
  (PLANS.md) holds, so the bench's sf0.1 ratios for small-oracle
  queries are machinery arithmetic, not plan defects.  Both held-weak
  entries heal and their flags are RETIRED (their @register cost_note
  cites this table): `text_tfidf` 1.92 floor-adjusted at sf1 (vs ~4.5x
  at sf0.1 — the 3-stage tokenize/tf-agg/df-join plan amortizes
  exactly as its note claims) and `window_analytic` 1.35 (vs ~2.4-2.9x
  — one exchange + one WindowExec; the row-materialization machinery
  amortizes).  The 8 rows still over 2x at sf1 are named r11 perf
  tasks; per-query profiled dispositions follow in the bullet below.
- r12 adjudication: the three flags the r11 verdict held open are all
  resolved with same-session sf1 data.  `market_basket_pairs` DONE on
  a third measured non-change (exchange fusion via repartition(part_a)
  — 6 -> 4 exchanges, bit-equal output — 7.4s vs the shipped 6.0s:
  exchanges aren't the bottleneck; sidecar row refreshed 8.3s -> 6.1s
  post kernel-cap-fix, 14.7 floor-adjusted).  `text_containment_dedup`
  DONE: the banded corpus-scale twin is built and registered
  (text_containment_banded — see its 10x cell and BOUNDS.json recall
  1.0) with the exact form as recall reference; the exact form's
  sidecar row refreshed for the r12 composite-key plan, 4.1s -> 3.4s /
  5.2 floor-adjusted.  `graph_jaccard_link_prediction` DONE: the
  documented degree-cap lever measured as a non-change (12.6s uncapped
  vs 17.6s p99-capped — no hubs on this graph: degree p50=119/p99=182/
  max=222, under 2x spread; cap also perturbs 6 of the true top-50);
  residual is the deg^2 wedge work both engines pay.
- r14 over-abs-gate completion (r13 verdict task 4): every BENCH
  over-1.5s query now carries a same-plan sf1 row (sf1_bench.json's
  pinned OVER_ABS_GATE_SF1 set added the 11 missing), so each
  absolute-cost disposition in bench.py cites an sf1 number measured
  on the shipped plan.  The new rows confirm their stories rather than
  flag new work: graph_pagerank_trade 1.07 and storage_gdpr_delete
  1.25 floor-adjusted (the iteration/rewrite machinery amortizes,
  as their notes claim); dim_scd2_apply_changes 19.5x (10.4s) is the
  documented incremental-maintenance-vs-rebuild asymmetry — the
  two-phase stitch pays window stages the from-scratch oracle skips,
  and at scale touches only the delta; pipeline_course_normalize
  1867x is pure arithmetic (13 noop sink jobs over a FIXED-size dim
  table against a 2ms oracle — amplification cannot grow its input);
  udf_cogrouped_map 34x is the documented API-surface proof (Arrow
  serialization tax; the codegen fast path is join_asof);
  dedup_apply_canonical 26x / dedup_cluster_cc_star 25x sit on
  sub-0.07s oracles (iterative-CC job floors, the notes' claim);
  storage_bucketed_merge 7.3x pays the one-time bucketed LAYOUT WRITE
  the rows-only oracle skips; pipeline_training_manifest 4.4x is the
  sum of its three curation stages' sanctioned constants;
  join_bloom_prefilter 8.5x is 3 chained jobs on a 0.27s oracle; and
  market_basket_lift comes in at 0.38 floor-adjusted — Spark 8.8s vs
  DuckDB 22.7s, 2.6x FASTER where the Arrow pair-count kernel's
  in-worker pre-aggregation meets a pair set big enough to hurt the
  oracle's hash self-join (the regime the basket cells predicted).
- sf1 perf-task profiles (r11): each task got a same-session stage
  decomposition at sf1 (intermediate-frame noop timing) and either a
  landed rework or a measured-accept disposition.  Table values above
  are the POST-rework sidecar re-measurements; pre-rework values in
  the text.  Three reworks landed:
  * `text_containment_dedup` 15.9x/10.2s -> 6.3x/4.1s: grams re-keyed
    by xxhash64 BEFORE the distinct (strings never enter an exchange)
    + the hashed frame persisted for its three consumers (same-session
    shootout 9.0-11.0s string / 6.0s hash-first / 3.3s hash+persist —
    the sf0.1 persist-is-slower finding reverses at sf1).  Residual:
    gram-generation compute + the candidate join itself; next named
    lever is banding (minhash family).
  * `graph_jaccard_link_prediction` 4.5x/10.3s -> 3.2x/7.3s: edge set
    now built by the Arrow pair-count pass (basket_edges: distinct
    pairs through the exchange, never pair instances — 18.6s -> 7.1s
    edge build) plus a broadcast semi filter dropping probe-disjoint
    wedge centers before the wedge exchange (17.9s -> 13.7s full,
    same-session).  Residual: the wedge join's deg^2 work, which the
    oracle (2.28s, growing with probe fan-out) also pays.  The same
    basket_edges lever dropped `graph_triangle_count` to 0.81 (3.7s vs
    oracle 4.5s) — Spark now BEATS the oracle there.
  * `market_basket_pairs` 22.1x/17.6s (pre-round) -> 19.8x/8.3s: Arrow
    pre-agg pair pass + the r11.2 buffered np.unique drain.  Two
    measured non-changes close the search: the self-join form 15.8s,
    and a repartition+sortWithinPartitions worker-grouping kernel
    11.8s vs 8.8s (the sort costs more than the collect_set agg it
    replaces).  Residual: the basket exchange (3.1s) + a count
    exchange that key-shifted amplification keeps near pair-instance
    cardinality — shuffle-mandatory shape; DuckDB's in-process hash
    self-join pays neither exchange.
  Five accepted with measured decompositions (absolute seconds small;
  every plan already has its scale story):
  * `orders_active_episodes` 15.3x/6.3s: the exact GLOBAL windowed
    form, retained deliberately as the oracle-shaped reference — the
    registered scale default is `orders_active_episodes_arrow`
    (14.0x@100x vs 69.6x windowed, cells above; the sf1 sidecar's
    14.2s fresh row for the windowed form was taken at load 2.8 —
    the same-session r15 A/B below reads 62.9s at 100x, i.e. the
    plan did not slow, the session did).
  * `orders_active_episodes_arrow` 6.7x/2.7s: Arrow round-trip tax on
    a full fact scan; the tax buys the 100x headroom above — accepted.
  * `lineitem_otif_rate` 9.8x/2.5s: decomposition — per-order MAX
    pre-agg 1.55s (~60%), orders join +0.5s, rate agg the rest; one
    fact agg + one join is already minimal, accepted (backed by the
    otif_rate 23.5x@100x cell above).
  * `agg_weighted_median` 5.4x/1.3s: two fact scans BY DESIGN (the
    2-phase selection contract that avoids the global sort —
    11.8x@100x cell above); accepted.
  * `tpch_q18_large_orders` 4.5x/1.7s: the heavy-order lineitem agg is
    ~60% of the cost (1.59s of 2.86s same-session) and the joins see
    only qualifying keys — the aggregate-before-join shape is the
    scale plan; accepted (backed by the q18_heavy_orders 8.8x@100x
    cell above).
- `bfs_nation_hops` (r7): level-synchronous BFS over the trade graph.
  The 25-nation vertex set and the diameter are INVARIANT under fact
  amplification, so hop-round count is constant and the cell isolates
  the edge-build scan — the only corpus-sized term.  A ~linear ratio
  certifies the per-round job floors are a constant, matching the
  cost_note claim that bench-scale cost is iteration machinery.
- `pq_adc_scan_10q` (r7): the shipped fused encode+ADC PQ query with a
  fixed 10-query probe set (the knn_exact_10q convention).  Corpus-
  linear is the design claim: the single Arrow pass is the only term
  that grows; shortlist merge and exact re-rank stay |Q|-bounded
  (batch-local top-shortlist pruning caps Arrow output per partition).
- `equidepth_ntile_global` is the DOCUMENTED global-sort watch item; its
  sketch twin (`equidepth_sketch_approx`, same output contract) stays
  near-linear — the measured cost of the global sort and the value of
  its replacement (see quantile_bucket_approx).  The EXACT lever is now
  IN-TREE and measured beside it: `equidepth_ntile_2phase`
  (ntile_two_phase, operators/selection.py) derives NTILE
  arithmetically from a two-phase global row number — explicit-N range
  exchange + local sorts + mono-id local sequence + broadcast
  per-partition offsets; no WindowExec ever touches the fact.
  Controlled r7 measurement (fresh session, min-of-2): windowed 0.38s
  -> 36.8s (96.6x@100x, the single-partition sort), two-phase 1.58s ->
  3.15s (2.0x@100x, multi-job floors dominating BOTH cells) — 11.7x
  faster in absolute time at 100x.  Equality vs windowed NTILE is
  pinned row-for-row in tests/test_global_order.py.  As of r8 the
  lever is ALSO a registered, driver-hash-checked query
  (quantile_bucket_equidepth_2phase, sharing the windowed form's
  oracle) — the registered scale default, with the windowed form kept
  as the oracle-shaped reference.
- `quantile_disc_2phase` is the distributed EXACT answer to the same
  hazard class: discrete p05/p95 by bucketed two-phase selection (no
  global-order window), the operator behind agg_winsorized_mean.
- `active_episodes` at 100x rides the keyed-window SORT ENVELOPE, not
  past it: sort cost is n log n, so the expected 100x ratio is
  100 * ln(100n)/ln(n) = 138.6x for the sf0.1 order count (n=150k) —
  the two r7 clean-session runs (136.6x, 144.9x) straddle that
  computed envelope within ~5% (r5: 114.3x on a noisier 1x base).  The lever for
  sub-envelope growth is now IN-TREE and measured beside it:
  `active_episodes_2phase` (operators/intervals.py) replaces the keyed
  windows with bucket-by-start-month hash aggs + per-group array folds
  — no WindowExec anywhere.  Controlled r7 measurement (fresh session,
  min-of-2): windowed 0.90s -> 58.4s (64.7x@100x), two-phase 1.86s ->
  49.7s (26.8x@100x) — the agg shape pays ~2x fixed overhead at 1x and
  wins in ABSOLUTE time at 100x, with the gap widening as the sort's
  log factor grows.  The agg fold has its own growth term, though:
  _stitch_fold is an interpreted HOF whose accumulator copy is O(g^2)
  per group, and per-group interval counts g grow with fact volume
  (keys do not amplify) — so a THIRD form is the actual 100TB shape:
  `active_episodes_arrow` (coalesce_intervals_arrow), hash exchange +
  local sort (exactly what the keyed WindowExec pays) then ONE
  vectorized mapInPandas scan (numpy running-max/reduceat with
  cross-batch episode carry), O(n) after the sort.  Controlled r7
  three-way (fresh session, min-of-2, same machine window): windowed
  46.6s, agg 52.5s, arrow 22.4s at 100x — and arrow is also the
  FASTEST at 1x (0.70s vs 0.78s windowed).  Equality of all three is
  pinned row-for-row in tests/test_intervals.py (including a forced
  tiny-Arrow-batch carry case).  As of r8 the Arrow form is ALSO a
  registered, driver-hash-checked query (orders_active_episodes_arrow,
  sharing the windowed form's oracle) — the registered scale default,
  with the windowed form kept as the oracle-shaped reference.
- `session_window_keyed` / `session_window_arrow` / `gapfill_forward_fill`
  (r8, r7 verdict task 5): the two remaining per-key sequential-scan
  shapes beside the interval stitch, measured under the new events
  amplification (same user ids, 31-day-shifted copies: per-user event
  counts grow by K — the hazard class).  Controlled r8 100x
  measurement (fresh session, min-of-2, host load-avg 4.5-5.8 so read
  these as upper bounds): windowed sessionization 0.50s -> 9.6s
  (19.1x), gapfill 0.57s -> 13.6s (24.0x) — both comfortably UNDER K
  and far under their sort envelopes (the per-user sorts are small:
  6.7k events/user at 100x), so neither demands the intervals.py
  rework; the envelope-riding term that bit active_episodes was its
  100x orders+lineitem interval-build join, which these cells don't
  have.  The Arrow lever is measured beside them anyway:
  `session_window_arrow` re-expresses sessions as coalesced
  [ts, ts+30min] intervals (equal-length intervals make running-max ==
  previous end, so touching == gap <= 30 min; equality vs the windowed
  query pinned row-for-row in tests/test_intervals.py) — 0.97s at 1x
  (Arrow fixed overhead loses below ~1M events) but 6.0s at 100x,
  1.6x faster absolute, with the gap growing as per-key counts do.
  An Arrow gapfill twin was measured r12 and REJECTED with data
  (applyInPandas per-user searchsorted forward fill, row-equal):
  0.35s vs 3.6s at 1x and 11.9s vs 18.0s at 100x same-session — the
  many-small-groups regime (thousands of users, small per-user grids)
  pays a per-group pandas construction cost the session twin's
  mapInPandas batch shape never does, and the windowed form's per-user
  sorts stay tiny.  The keyed window IS the right plan here; the
  "neither shape demands a rework" conclusion carries a direct A/B,
  not just the envelope argument.
- `running_distinct_2window` / `burst_range_frame` (r10, r8 verdict
  task 4): the last two per-key-growth window shapes under the events
  amplification (per-user rows grow by K).  The expanding-distinct
  rewrite (first-seen ranking window on (user, type) + cumulative sum
  on user — the two keyed exchanges no native frame can avoid) measured
  18.0x and 26.7x@100x across two r10 runs; the RANGE-frame trailing
  count (value frame over epoch seconds + per-user max agg sharing the
  exchange) 36.5x and 46.5x.  Both sit far under K and far under the
  per-key sort envelope (~K*ln(Kn)/ln(n) ~ 139x at this volume) — the
  same conclusion as the sessionization/gapfill cells: per-user sorts
  stay small (6.7k events/user at 100x), the RANGE frame's sliding
  lower bound is O(n) after the sort, and neither shape demands an
  Arrow rework.  burst's higher ratio is its tiny 1x base (~0.2s,
  mostly floor), not a super-linear term.
- `otif_rate` / `q18_heavy_orders` (cells added r11, backing the two
  measured-accept sf1 dispositions with amplification data): otif
  0.78s -> 18.4s (23.5x@100x — per-order MAX pre-agg + join + 5-row
  agg; the keyed agg/join exchanges absorb 100x rows at ~K/4) and q18
  0.56s -> 4.9s (8.8x@100x — strongly sub-linear because the HAVING
  prune after the aggregate-before-join leaves the joins only the rare
  heavy keys, and heavy-key COUNT grows slower than rows under
  key-shifted amplification).  Both far inside linear: the sf1 ratios
  on these two were DuckDB-constant-factor gaps, not growth terms.
- `asof_nearest` / `asof_tolerance` (r11, r10 verdict task 7): the
  as-of family's amplification cells (B75/B80/B158 — previously the
  only multi-member family without one).  Both are events-on-events
  backward as-of joins via the union-tag merged stream (ONE hash
  exchange on user_id + in-partition window sort, never a range
  cross-join — operators/asof.py); per-user event counts grow by K, so
  the cells measure the claimed one-window-pass growth term directly.
  Controlled r11 measurement (fresh session, min-of-2, load-avg ~1.0):
  nearest 0.54s -> 6.74s (12.4x@100x — the worst family member:
  backward AND forward carry passes over the same unioned frame plus
  the per-row distance pick), tolerance 0.29s -> 5.97s (20.3x@100x —
  one carry pass + a post-join conditional).  Both far inside the
  per-key sort envelope (~139x) and in family with session_window_keyed
  23.5x / gapfill 36.4x: the merged-stream window sort is the whole
  cost, no rework indicated.
- `tfidf_score` / `keyphrase_topk` / `hybrid_rrf_3q` (r10): the text /
  search shapes whose bench ratios are sanctioned by cost_note
  stories claiming corpus linearity — measured so the claims carry numbers.  Against the
  ~15.5x byte-linear mark (10 copies x 1.55x salt-token inflation):
  tf-idf 4.1x@10x (tokenize + tf agg + pruned two-phase distinct df +
  term join), keyphrase 5.1x (same tree + per-doc WindowGroupLimit),
  hybrid RRF 2.4x with |Q|=3 held fixed (lexical inverted-index probe
  + dense scoring both corpus-sized, fusion |Q|-bounded).  All
  sub-byte-linear: fixed per-stage overhead still dominates at this
  volume, and no term grows faster than corpus bytes.
- Corpus cells whose cost is TEXT-BYTE-bound (`normalized_dedup`,
  `survivorship` — both dominated by the normalize-regex pass) ride
  above K by construction: the per-copy `c{i}_` token prefix inflates
  text bytes ~1.55x (measured on sf0.1), so K=10 copies carry ~15.5x
  the bytes — a ratio near 15 is byte-linear, not super-linear.
- `triangle_count` (cell refreshed r11 — it now measures the shipped
  r11 plan, Arrow basket_edges + degree-oriented wedge join): 3.1s ->
  8.4s (2.7x@10x, controlled one-off) vs the retired HOF-edge cell's
  2.4s -> 60.8s — the 10x side collapses 7x because the edge build's
  distinct exchange no longer moves pair instances.  History: the r7
  controlled re-measurement of both adjacency-attach paths (broadcast
  3.4s -> 11.0s / 3.2x, co-partitioned shuffle 6.6s -> 34.5s / 5.2x)
  still governs the adjacency choice — broadcast while the |V|-row
  adjacency fits executor memory, `count_triangles(
  broadcast_adjacency=False)` beyond; the old cell's ~25x@10x reading
  was dominated by external load windows the r7 controlled runs
  isolated (load-avg ~6 from outside the process tree, GCLocker
  retries), an environment artifact the refreshed cell no longer
  carries.
- `jaccard_probes` / `containment_dedup` (cells added r11, measuring
  the two r11-reworked plans): probe-seeded Jaccard 8.7s -> 10.7s
  (1.2x@10x — probes grow with K at constant density, but at this
  volume fixed machinery still dominates the |probes| x deg^2 wedge
  term; flat-ish certifies nothing super-linear hides in the arrow
  edge build or the broadcast center filter), containment 3.6s ->
  10.3s (2.9x@10x against the ~15.5x salt-inflated byte-linear mark —
  the hashed-gram join is bounded by shared-gram pairs and the gram
  frame persists once; the claim "linear in corpus bytes" in the bench
  note now carries this number).
- `containment_dedup` cell REFRESHED r12 (the registered plan changed:
  2x64-bit composite gram key, ADVICE close) and `containment_banded`
  added beside it (r11 verdict task 2 — the banded twin): exact 1.2s ->
  5.1s (4.2x@10x), banded 0.43s -> 3.6s (8.3x@10x; the higher ratio is
  a floor artifact of its small 1x side, not a growth term — both sit
  far under the ~15.5x byte-linear mark, and the banded form is
  absolutely faster at BOTH scales: 2.8x at 1x, 1.4x at 10x).  The
  banded plan's full-corpus work is one doc-keyed aggregate plus an
  S-curve-capped band join; verification is candidate-bounded
  array_intersect — the shape that keeps working when hot grams make
  the exact join's co-occurring-pair count super-linear.  Recall vs
  the exact form at threshold 0.8 is 1.0 at all three corpora, sourced
  per scale: sf0.001 pinned in tests/test_behavior.py, sf0.01 in
  BOUNDS.json `bounds` (25 true pairs), sf0.1 in BOUNDS.json
  `bounds_sf0.1` (256 true pairs — formalized r13 from the r12
  same-session note, re-measured on the shipped plan); its sf1 row
  lives in sf1_bench.json (2.65 s, rows_only — absolutely faster than
  the exact twin's 3.69 s there too; the twin's row was re-measured
  --fresh on its shipped composite-key plan, r13).  r13 also MEASURED-AND-REJECTED
  a composite 2x64-bit struct verify-set key (same-session interleaved
  A/B: +7% at 1x, +50% at 10x — struct elements leave array_intersect's
  primitive-long specialization; the collision-budget asymmetry vs the
  exact twin is documented in the operator docstring instead).
  The true pairs are near-identical twins; the size-skew recall decay
  is documented in the operator docstring and pinned on deterministic
  planted fixtures (test_containment_banded_skew_limitation_pinned).
- `spatial_grid` (added r5, measuring the r4 directed-half-ring plan):
  part amplifies into DISJOINT price bands (constant local density), so
  a linear ratio certifies the equi-join-on-cell plan; the 5x B-side
  explode is a constant factor, not a growth term.  Overlaid copies
  would square the qualifying pairs by construction — a data property,
  not a plan property.
- `basket_pairs` / `basket_lift` (cells refreshed r11 — they now
  measure the shipped Arrow pair-count plans): one persisted
  collect_set shuffle feeds pairs + supports + basket count;
  orderkey-offset amplification grows baskets by K over a fixed part
  vocabulary, so pair CARDINALITY is ~flat while counts grow — the
  expected shape is ~linear in basket rows with a flat broadcast side.
  The kernel swap moved lift's 100x side 29.4s -> 10.2s (13.1x ->
  4.3x@100x: with pairs repeating ~K times under a fixed vocabulary,
  in-worker pre-aggregation collapses the count exchange by ~K — the
  regime where the kernel wins MOST, complementing the key-shifted sf1
  regime where pairs barely repeat and the win is smaller); pairs
  7.2x@100x (26.2s), ratio-stable vs the retired HOF cell.  Cells
  REFRESHED again r12 (the kernel's flush-cap check moved inside the
  per-length-group loop and the fallback drain became incremental —
  ADVICE close; flush boundaries don't change results, only worker
  memory pacing): pairs 2.3s -> 19.6s (8.5x@100x), lift 3.6s -> 16.5s
  (4.6x@100x) — ratios within the r11 cell's band, absolutes inside
  the documented cross-session swing, confirming the cap fix is
  memory-bound-only.
- `active_episodes` re-measured r5 after the fact pre-aggregation
  (per-order MAX(shipdate) before the orders join): the join now moves
  |orders| rows, not |lineitem| rows.
- `trade_balance` (added r6, measuring the fused one-fact-pass shape):
  ~10x@100x controlled (r7 clean re-runs 9.7x and 12.5x; r6 recorded 7.5x; one in-suite r7 sample hit 21x in the same window that logged GCLocker retries — the single-session artifact class the triangle note documents) — the fact join +
  first aggregation absorb 100x the rows at well under K because the
  |nations|^2 matrix math after the first agg is constant-size; the
  cell certifies that fusing exports+imports into one pass left no
  second fact-sized term in the cost.
- `quality_gopher` re-measured r6 after the map-only rewrite (bigram
  mode = per-doc array_sort + aggregate() max-run fold, no explode, no
  shuffle): ~2x@10x (r7 clean re-runs 1.7x and 1.9x; r6 recorded 1.9x), down from
  3.7x with the exploded-corpus double shuffle — the cell now certifies
  an embarrassingly parallel projection whose only growth term is
  corpus bytes.
"""


def run(df) -> float:
    t0 = time.perf_counter()
    df.write.mode("overwrite").format("noop").save()
    return time.perf_counter() - t0


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--k", type=int, default=100, help="relational amplification")
    ap.add_argument("--corpus-k", type=int, default=10, help="documents/embeddings amplification")
    ap.add_argument("--graph-k", type=int, default=10, help="co-purchase graph amplification (disjoint copies)")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument(
        "--fold-sf1",
        action="store_true",
        help=(
            "splice the committed sf1_bench.json table + NOTES into the "
            "existing SCALING.md without re-measuring any cell (the full "
            "regeneration emits the identical tail, so this is a no-op "
            "after one)"
        ),
    )
    args = ap.parse_args()
    if args.fold_sf1:
        # The measured tables above the sf1 section are preserved verbatim;
        # everything from the sf1 header (or, before the first fold, from
        # the NOTES header) down is regenerated from sf1_bench.json + NOTES
        # — the same join("\n") tail main() writes, so fold-then-regenerate
        # and regenerate-then-fold produce identical bytes.
        with open("/root/repo/SCALING.md") as f:
            text = f.read()
        for marker in ("\n## sf1.0 ratio pass", "Notes on the flagged cells:"):
            cut = text.find(marker)
            if cut != -1:
                break
        if cut == -1:
            raise SystemExit("SCALING.md: neither sf1 nor NOTES header found")
        # drop exactly the one "\n" the join() below re-adds (the prefix's
        # other trailing newline belongs to the paragraph element itself)
        prefix = text[:cut].removesuffix("\n")
        with open("/root/repo/SCALING.md", "w") as f:
            f.write("\n".join([prefix] + sf1_section() + [NOTES]))
        print("folded sf1 section into SCALING.md")
        return
    spark = get_spark("scale_smoke")
    big_dir = os.path.join(tempfile.gettempdir(), f"ub_etl_scale_{args.k}x")
    shutil.rmtree(big_dir, ignore_errors=True)
    os.makedirs(big_dir)
    amplify(spark, args.sf, big_dir, args.k)
    amplify_corpus(spark, args.sf, big_dir, args.corpus_k)
    amplify_graph(spark, args.sf, big_dir, args.graph_k)

    lines = [
        "# SCALING — measured cost vs data volume (tools/scale_smoke.py)\n",
        f"Base: {args.sf}; relational amplified {args.k}x (key spaces offset, so",
        "join fan-out and group cardinality scale realistically); corpus",
        f"amplified {args.corpus_k}x (per-copy salt tokens so copies are NOT",
        "near-dups of each other, rotated embeddings).",
        "Ratio ~K = linear scaling; sorts may show K..K log K.  Each cell is",
        "min-of-2 steady-state seconds (noop sink).\n",
        f"## Relational ({args.k}x)\n",
        f"| query | 1x sec | {args.k}x sec | ratio |",
        "|---|---|---|---|",
    ]
    q1s, qks = queries(spark, args.sf), queries(spark, big_dir)
    for name in q1s:
        t1 = min(run(q1s[name]) for _ in range(2))
        tk = min(run(qks[name]) for _ in range(2))
        ratio = tk / t1 if t1 > 0 else float("inf")
        lines.append(f"| {name} | {t1:.3f} | {tk:.3f} | {ratio:.1f}x |")
        print(f"{name:16s} 1x={t1:.3f}s {args.k}x={tk:.3f}s ratio={ratio:.1f}x")
        release_persisted()
        spark.catalog.clearCache()  # episodes/persisted frames: fresh per cell
    lines += [
        f"\n## Graph ({args.graph_k}x disjoint copies)\n",
        f"| query | 1x sec | {args.graph_k}x sec | ratio |",
        "|---|---|---|---|",
    ]
    # 1x graph = the raw base lineitem; Kx = disjoint-copy amplification
    g1s = graph_queries(spark, args.sf, "lineitem.parquet")
    gks = graph_queries(spark, big_dir, "lineitem_graph.parquet")
    for name in g1s:
        t1 = min(run(g1s[name]) for _ in range(2))
        release_persisted()
        spark.catalog.clearCache()
        tk = min(run(gks[name]) for _ in range(2))
        release_persisted()
        spark.catalog.clearCache()
        ratio = tk / t1 if t1 > 0 else float("inf")
        lines.append(f"| {name} | {t1:.3f} | {tk:.3f} | {ratio:.1f}x |")
        print(f"{name:16s} 1x={t1:.3f}s {args.graph_k}x={tk:.3f}s ratio={ratio:.1f}x")
    lines += [
        f"\n## Corpus / embeddings ({args.corpus_k}x)\n",
        f"| query | 1x sec | {args.corpus_k}x sec | ratio |",
        "|---|---|---|---|",
    ]
    c1s, cks = corpus_queries(spark, args.sf), corpus_queries(spark, big_dir)
    for name in c1s:
        t1 = min(run(c1s[name]) for _ in range(2))
        tk = min(run(cks[name]) for _ in range(2))
        ratio = tk / t1 if t1 > 0 else float("inf")
        lines.append(f"| {name} | {t1:.3f} | {tk:.3f} | {ratio:.1f}x |")
        print(f"{name:16s} 1x={t1:.3f}s {args.corpus_k}x={tk:.3f}s ratio={ratio:.1f}x")
        release_persisted()
        spark.catalog.clearCache()  # persisted LSH frames: don't let 1x cache serve Kx
    lines.append(
        "\nA ratio well under K means fixed per-query overhead still"
        " dominates at this volume; well over it would flag a super-linear"
        " plan (the failure mode this smoke exists to catch).  knn_exact_10q"
        " holds |Q| fixed, so its ratio tracks corpus growth only.\n"
    )
    lines.extend(sf1_section())
    lines.append(NOTES)
    with open("/root/repo/SCALING.md", "w") as f:
        f.write("\n".join(lines))
    print("wrote SCALING.md")
    shutil.rmtree(big_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
