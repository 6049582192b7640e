"""Plan audit: check scale-critical properties of every registered
query's physical plan (SURVEY.md §4) and emit a per-query plan-shape
digest:

  - parquet pushdown: PushedFilters non-empty where the query filters a
    scanned column; ReadSchema pruned to the referenced columns
  - small-dim joins go broadcast (BroadcastHashJoin, no shuffle of the dim)
  - whole-stage codegen spans cover the hot path (no interpreted HOFs)

Each query's EXPECT entries are checked against its formatted plan plus
its executed final adaptive plan, both built in memory.  A failing
query's full plan goes to stdout.

Usage: python tools/explain_audit.py [--sf DIR] [query ...]
A run over every query rewrites the digest table at the top of this
checkout's PLANS.md: one row per query, PASS/FAIL plus the count of each
physical operator in the final plan (plan_digest).  Everything from the
file's first hand-kept ``## `` heading on is kept byte for byte.  A run
over named queries prints their rows and writes nothing.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import os
import re
import sys
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tools"))

from scale_smoke import hand_kept_tail  # noqa: E402
from ub_etl_spark.registry import load_all  # noqa: E402
from ub_etl_spark.session import get_spark, release_persisted  # noqa: E402

PLANS_MD = os.path.join(ROOT, "PLANS.md")
DIGEST_HEADING = "## Plan shapes"

# name -> list of substrings that MUST appear in the formatted plan.
# "codegen id :" is how formatted explain marks whole-stage-codegen spans.
EXPECT = {
    "scan_parquet": ["PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate", "codegen id :"],
    "filter_predicate": ["PushedFilters: [IsNotNull(l_quantity)", "codegen id :"],
    "join_broadcast": ["BroadcastHashJoin", "*("],
    "join_inner_equi": ["*(", "HashAggregate"],
    "agg_groupby": ["HashAggregate", "PushedFilters: [IsNotNull(l_shipdate)", "*("],
    "dedup_get_or_insert": ["BroadcastHashJoin"],
    "bridge_join": ["BroadcastHashJoin"],
    "sort_limit_topk": ["TakeOrderedAndProject"],
    "insert_ignore_antijoin": ["LeftAnti"],
    "join_semi_anti": ["LeftSemi", "LeftAnti"],
    "upsert_merge": ["Window"],
    "stream_tumbling_agg": ["HashAggregate"],
    "text_tokenize_stats": ["codegen id :"],
    "dedup_fuzzy": ["*(", "HashAggregate", "Generate"],
    "sim_knn_exact": ["ArrowEvalPython"],  # sanctioned Arrow batch path
    "join_full_outer": ["FullOuter"],
    "agg_cube_grouping": ["Expand", "HashAggregate"],  # cube = Expand + hash agg
    "window_range_frame": ["Window", "RangeFrame"],  # value-based frame bounds
    "window_ntile_dist": ["Window"],
    "agg_stats_exact": ["HashAggregate", "*("],  # long-cents moments stay codegen'd
    "join_skew_salted": ["Generate"],  # small side exploded across salts
    "agg_skew_salted": ["HashAggregate"],
    "text_fingerprint": ["codegen id :"],  # single shuffle-free projection
    # partition-pruned read: the IN predicate must land in PartitionFilters
    "storage_partitioned_write": ["PartitionFilters: [", "event_type#"],
    # the shingle+signature subplan is persisted (operators/dedup.py):
    # every consumer after the first must read the in-memory relation, not
    # re-scan parquet
    "dedup_minhash_lsh": ["InMemoryTableScan", "HashAggregate"],
    "dedup_simhash": ["InMemoryTableScan"],
    # training tier: vocab counting must plan the top-k (no full sort), the
    # split/quantize stay single-span map-only, sampling is one window pass
    "text_ngram_vocab": ["TakeOrderedAndProject", "Generate", "HashAggregate"],
    "split_train_val_test": ["codegen id :"],
    "embedding_quantize": ["codegen id :"],
    "sample_stratified_exact": ["Window", "codegen id :"],
    "dedup_normalized_exact": ["HashAggregate", "codegen id :"],
    # curation tier: redaction stays one codegen projection; contamination
    # broadcasts the benchmark gram set; packing windows per hash partition
    "text_pii_redact": ["codegen id :"],
    # r6 rewrite: per-doc bigram mode via array_sort + aggregate() fold —
    # pure map-only projection, NO shuffle and NO explode anywhere
    "text_quality_gopher": ["codegen id :", "!Exchange", "!Generate"],
    "contamination_ngram_check": ["BroadcastHashJoin", "Generate"],
    "pack_sequences": ["Window", "codegen id :"],
    "mix_weighted_sources": ["codegen id :"],
    # flagship composites: pushed date filters, broadcast dim, top-k plan
    "tpch_q1_pricing": ["PushedFilters: [IsNotNull(l_shipdate)", "HashAggregate", "*("],
    "tpch_q3_priority": ["BroadcastHashJoin", "TakeOrderedAndProject"],
    "events_funnel": ["BroadcastHashJoin", "HashAggregate"],
    # capstone composition: dims broadcast, no nested-loop anywhere
    "pipeline_training_manifest": ["BroadcastHashJoin", "HashAggregate", "Generate"],
    "join_interval_overlap": ["Generate", "HashAggregate"],
    # SCD2: both windows share one hash exchange on the dim key (the
    # second Window must NOT introduce another Exchange/Sort)
    "dim_scd2_history": ["Window", "Exchange hashpartitioning(o_custkey"],
    # drift ingest: single parse (two-step projection), pruned 2-col scan
    "json_schema_drift": ["from_json", "ReadSchema: struct<event_id:bigint,props:string>"],
    # merged-footer read: evolved column present in the unified ReadSchema
    "io_schema_evolution": ["c_acctbal"],
    # interval join: equi-key carries the join, range bound rides as the
    # join condition (never a nested loop); event_type filters pushed
    "stream_interval_join": ["Join condition: ((right_ts", "PushedFilters: [IsNotNull(event_type)"],
    # layout maintenance: clustered/compacted read-backs stay codegen scans
    "storage_zorder_cluster": ["codegen id :"],
    "storage_compact_small_files": ["codegen id :"],
    # reconcile diff: one full-outer equi-join, no nested loop
    "table_diff_reconcile": ["FullOuter"],
    # gapfill: distributed grid explode + keyed fill window
    "timeseries_gapfill": ["Generate", "Window"],
    # incremental refresh: partial aggs merged by hash agg, no extra scan
    "agg_incremental_refresh": ["HashAggregate", "Union"],
    # warehouse-analytics tier (B41-B49)
    "tpch_q5_local_supplier": ["BroadcastHashJoin", "HashAggregate", "PushedFilters: [IsNotNull(o_orderdate)"],
    # round-3 flagships: Q18 aggregates lineitem BEFORE the joins (partial
    # agg + deterministic top-k); Q21 computes per-order supplier stats as
    # window aggs over the join's own shuffle key (one fact exchange, dims
    # broadcast) instead of the textbook triple self-join
    "tpch_q18_large_orders": ["HashAggregate", "TakeOrderedAndProject", "BroadcastHashJoin"],
    "tpch_q21_waiting_suppliers": ["Window", "BroadcastHashJoin", "Exchange hashpartitioning(l_orderkey"],
    "events_retention_cohort": ["HashAggregate", "Exchange hashpartitioning(user_id"],
    "agg_histogram_fixed_width": ["HashAggregate", "codegen id :"],
    "window_topk_per_group": ["Window", "BroadcastHashJoin"],
    # min_by(string) buffers a non-primitive -> Spark plans SortAggregate,
    # but WITH partial_min_by map-side combine: the exchange still carries
    # one row per (partition, group).  Pin the partials + the keyed
    # exchange, which is what scale-safety actually requires.
    "dedup_source_priority": ["partial_min_by", "Exchange hashpartitioning(__nh"],
    "timeseries_multi_rollup": ["Expand", "HashAggregate"],
    "events_transition_counts": ["Window", "HashAggregate"],
    "events_anomaly_mad": ["HashAggregate"],
    "embedding_centroid_per_label": ["Generate", "HashAggregate"],
    "dedup_incremental_batch": ["LeftAnti", "HashAggregate"],
    "stream_topk_trending": ["Window", "HashAggregate"],
    # join-time dynamic partition pruning must inject a runtime pruning
    # predicate into the fact scan's PartitionFilters
    "storage_dpp_join": ["dynamicpruningexpression(event_type"],
    # chunking is embarrassingly parallel: one Generate, NO exchange of
    # any kind in the plan
    "text_chunk_sliding": ["Generate", "!Exchange"],
    "text_lang_confusion": ["HashAggregate"],
    # PMI: unigram side joins back twice; deterministic top-100 plans
    # TakeOrderedAndProject, never a full sort
    "text_collocation_pmi": ["TakeOrderedAndProject", "HashAggregate", "Generate"],
    # posting-list build: distinct + term-keyed agg, generate stays codegen
    "text_inverted_index": ["HashAggregate", "Generate", "codegen id :"],
    # bloom prefilter: the probe must run as a codegen Filter BEFORE the
    # semi join (prune-then-join, not join-then-prune)
    "join_bloom_prefilter": ["LeftSemi", "getbit", "codegen id :"],
    "window_value_functions": ["Window", "Exchange hashpartitioning(o_custkey"],
    # try_cast must stay in the single codegen projection (renders
    # literally as try_cast(...) inside the *(1) Project span); the RLIKE
    # guard (always-failing try-cast = exception per row, measured 8x the
    # scan) must also plan inside the same span
    "scalar_try_safe": ["try_cast(event_type", "RLIKE", "*(1) Project"],
    # SQL front door: grouping sets plan the same Expand+agg as rollup;
    # the correlated scalar subquery must decorrelate into an aggregate +
    # join (never a per-row nested-loop re-execution)
    "agg_grouping_sets_explicit": ["Expand", "HashAggregate"],
    "scalar_subquery_correlated": ["HashAggregate", "!BroadcastNestedLoopJoin"],
    # PIT join: shuffle on the dim key only; the interval predicate must
    # ride as a join condition, never a nested loop
    "dim_scd2_point_in_time": ["Join condition:", "Exchange hashpartitioning(o_custkey"],
    # bucketed co-located join: SortMergeJoin with NO exchange on the join
    # key — bucket i zips with bucket i straight off disk
    "storage_bucketed_join": [
        "SortMergeJoin",
        "Bucketed: true",
        "!Exchange hashpartitioning(l_orderkey",
        "!Exchange hashpartitioning(o_orderkey",
    ],
    # --- round-3 TPC-H completion (queries/tpch.py) ---
    # q2: part dim semi-joins the fact BEFORE the supply agg; per-part MIN
    # rides a window; EU dim broadcast; deterministic top-k
    "tpch_q2_min_cost_supplier": ["LeftSemi", "Window", "BroadcastHashJoin", "TakeOrderedAndProject"],
    "tpch_q4_priority_check": ["LeftSemi", "HashAggregate", "PushedFilters: [IsNotNull(o_orderdate)"],
    # q6: all three predicates reach the parquet scan; single-row agg
    "tpch_q6_forecast_revenue": ["PushedFilters: [IsNotNull(l_shipdate)", "HashAggregate", "*("],
    "tpch_q7_volume_shipping": ["BroadcastHashJoin", "HashAggregate", "PushedFilters: [IsNotNull(l_shipdate)"],
    "tpch_q8_market_share": ["BroadcastHashJoin", "LeftSemi", "HashAggregate"],
    "tpch_q9_product_profit": ["BroadcastHashJoin", "HashAggregate"],
    # q10: lineitem pre-aggregates per orderkey before the orders join
    # (agg-before-join, same as q18); top-20 never full-sorts
    "tpch_q10_returned_items": ["HashAggregate", "TakeOrderedAndProject", "BroadcastHashJoin"],
    "tpch_q11_important_parts": ["LeftSemi", "HashAggregate"],
    "tpch_q12_late_lines": ["HashAggregate", "codegen id :"],
    # q13: the zero-bucket depends on the ON-clause filter — join stays
    # LeftOuter (a WHERE would have turned it inner)
    "tpch_q13_customer_distribution": ["LeftOuter", "HashAggregate"],
    "tpch_q14_promo_revenue": ["BroadcastHashJoin", "HashAggregate"],
    "tpch_q15_top_supplier": ["HashAggregate", "BroadcastHashJoin"],
    "tpch_q16_supplier_count": ["LeftAnti", "BroadcastHashJoin", "HashAggregate"],
    # q17: correlated AVG as a window over the broadcast-pruned fact —
    # no lineitem self-join anywhere in the plan
    "tpch_q17_small_qty_revenue": ["Window", "BroadcastHashJoin", "HashAggregate"],
    "tpch_q19_disjunctive_filter": ["BroadcastHashJoin", "HashAggregate"],
    "tpch_q20_promotion_suppliers": ["Window", "BroadcastHashJoin", "HashAggregate"],
    "tpch_q22_dormant_customers": ["LeftAnti", "HashAggregate"],
    # --- round-3 ML-prep / governance tier (queries/mlprep.py) ---
    # union of per-column single-distinct aggs: a fused multi-distinct
    # would plan Expand (x6 rows, measured 94x oracle) — assert it's gone
    "profile_table_stats": ["HashAggregate", "Union", "!Expand"],
    "dq_expectation_checks": ["LeftAnti", "Union", "HashAggregate"],
    "feature_scale_standard": ["BroadcastHashJoin", "HashAggregate", "codegen id :"],
    # pure projection: no exchange of any kind
    "feature_onehot_encode": ["codegen id :", "!Exchange"],
    "feature_decay_rolling": ["Window", "codegen id :"],
    # rank-limited window must plan the per-partition partial top-k
    # (WindowGroupLimit), not a full per-group materialization
    "sample_reservoir_hash": ["WindowGroupLimit", "Window"],
    "privacy_k_anonymity": ["HashAggregate", "codegen id :"],
    # persisted edge list: every power iteration must read the in-memory
    # relation, not re-run the fact scan + joins
    "graph_pagerank_trade": ["InMemoryTableScan", "HashAggregate"],
    # --- round-3 advanced-analytics shapes (queries/advanced.py) ---
    # skyline: strictly-cheaper domination via a RANGE frame window
    "skyline_pareto_frontier": ["Window", "RangeFrame"],
    "agg_linear_regression": ["HashAggregate", "*("],
    "events_attribution_last_touch": ["Window", "HashAggregate", "Exchange hashpartitioning(user_id"],
    "quantile_bucket_equidepth": ["Window", "HashAggregate"],
    # two-phase NTILE (r8 registered lever): the FACT flows through an
    # explicit-N range exchange + broadcast offsets join; the only
    # Exchange SinglePartition in the plan sits on the 32-row stats
    # spine (__gr_cnt/__gr_base), bounded by construction — so assert
    # the range exchange + broadcast, not a SinglePartition negation
    "quantile_bucket_equidepth_2phase": [
        "Exchange rangepartitioning",
        "BroadcastHashJoin",
        "HashAggregate",
    ],
    "agg_gini_concentration": ["Window", "HashAggregate"],
    # banded theta join: bucket-exploded candidates through an EQUI join —
    # the inequality predicate must never degrade to a nested loop
    "join_theta_band": ["Generate", "!BroadcastNestedLoopJoin", "!CartesianProduct"],
    # --- round-3 behavior/sequence tier (queries/behavior.py) ---
    # ordered path collect fuses into the hash agg: no Window operator
    "events_path_topk": ["sort_array", "HashAggregate", "TakeOrderedAndProject", "!Window"],
    "market_basket_pairs": ["WindowGroupLimit", "HashAggregate"],
    "stream_late_data_accounting": ["Window", "HashAggregate", "Exchange hashpartitioning(user_id"],
    "text_containment_dedup": ["Generate", "HashAggregate", "codegen id :"],
    # banded twin (r12): the signature frame is persisted for the band
    # explode + both verify joins; candidate generation is an EQUI band
    # join (never a cross product); the wide gram-set arrays ride only
    # doc_id-keyed exchanges
    "text_containment_banded": [
        "InMemoryTableScan",
        "Generate",
        "HashAggregate",
        "!CartesianProduct",
        "!BroadcastNestedLoopJoin",
    ],
    # substring-span dedup: pass-1 k-gram hashes stay codegen'd through the
    # Generate, the candidate filter is a semi join, the verify rows are the
    # persisted (InMemory) relation, and nothing plans a cartesian product
    "dedup_substring_span": [
        "codegen id :",
        "Generate",
        "LeftSemi",
        "InMemoryTableScan",
        "!CartesianProduct",
        "!BroadcastNestedLoopJoin",
    ],
    # pandas GROUPED_AGG UDAF plans as a real aggregate (ArrowAggregatePython
    # over one group-key exchange) with the scan pruned to the 2 used columns
    "udaf_grouped_agg": [
        "ArrowAggregatePython",
        "Exchange hashpartitioning(o_orderpriority",
        "ReadSchema: struct<o_totalprice:double,o_orderpriority:string>",
    ],
    # --- round-3 warehouse-modeling tier (queries/warehouse.py) ---
    # calendar generation: one Generate, left-outer keeps idle days
    "dim_date_generate": ["Generate", "LeftOuter"],
    "orders_rfm_segmentation": ["Window", "HashAggregate", "ntile"],
    "orders_abc_classification": ["Window", "HashAggregate"],
    # sequence match: path builds in the agg, pattern is codegen RLIKE —
    # no Window, no per-stage joins
    "events_sequence_match": ["sort_array", "RLIKE", "HashAggregate", "!Window"],
    "agg_share_of_parent": ["BroadcastHashJoin", "Window", "HashAggregate"],
    "orders_interpurchase_gaps": ["Window", "HashAggregate", "Exchange hashpartitioning(o_custkey"],
    # KMV: per-group rank-limited top-k (WindowGroupLimit), no fact re-scan
    # for the merged row (it re-ranks the kept sketch rows)
    "agg_kmv_distinct": ["WindowGroupLimit", "HashAggregate"],
    # feature-store composite: one plan, LEFT join preserves one-order
    # customers, segment stats broadcast
    "pipeline_customer_features": ["Window", "HashAggregate", "LeftOuter", "BroadcastHashJoin"],
    # sweep-line backlog: union of deltas -> day agg -> spine window;
    # no day x interval join anywhere
    "orders_open_backlog_daily": ["Union", "HashAggregate", "Window"],
    "lineitem_yoy_growth": ["HashAggregate", "Window", "lag"],
    # sliding distinct: contribution explode (Generate) + exact distinct
    # aggs — no per-day correlated re-scan, no window
    "events_active_users_rolling": ["Generate", "HashAggregate", "!Window"],
    "timeseries_seasonal_decompose": ["Window", "HashAggregate"],
    # recursive-CTE emulation: per-level frontiers read from cache
    # (InMemoryTableScan), unioned without recompute
    "hierarchy_flatten_paths": ["InMemoryTableScan", "Union"],
    "events_ab_test_zscore": ["HashAggregate", "Exchange hashpartitioning(user_id"],
    # burst: value-based RANGE frame, window + agg share the user exchange
    "events_burst_detection": ["Window", "RangeFrame", "HashAggregate"],
    "events_user_entropy": ["HashAggregate", "Exchange hashpartitioning(user_id"],
    "agg_bitwise_flags": ["HashAggregate", "codegen id :"],
    # sketch-boundary equi-depth: NO sort, NO window anywhere in the plan
    "quantile_bucket_approx": ["HashAggregate", "!Window", "!Sort "],
    "events_survival_curve": ["HashAggregate", "Window"],
    # late-round-3 tier
    # benford: digit from the cents-integer string, 9-row agg, 1-row total
    "agg_benford_first_digit": ["HashAggregate", "codegen id :"],
    "feature_target_encode": ["BroadcastHashJoin", "HashAggregate"],
    "privacy_l_diversity": ["HashAggregate", "Exchange hashpartitioning(c_nationkey"],
    # bounded funnel: both conditional MINs share the user_id exchange
    "events_funnel_windowed": ["HashAggregate", "Exchange hashpartitioning(user_id"],
    "events_cohort_ltv": ["Window", "BroadcastHashJoin"],
    # ACF: fact collapses to the month spine before any window/join
    "timeseries_autocorrelation": ["HashAggregate", "BroadcastNestedLoopJoin"],
    "timeseries_cusum_changepoint": ["Window", "HashAggregate"],
    # rolling median: value-based RANGE frame over the day spine
    "timeseries_rolling_median": ["Window", "RangeFrame"],
    "events_stickiness_weekly": ["HashAggregate", "Exchange hashpartitioning(wk"],
    # episodes: both windows + the episode agg share ONE custkey exchange
    "orders_active_episodes": ["Window", "Exchange hashpartitioning(o_custkey"],
    # Arrow interval stitch (r8 registered lever): one custkey exchange
    # into the mapInPandas scan, ZERO WindowExec anywhere
    "orders_active_episodes_arrow": [
        "MapInPandas",
        "Exchange hashpartitioning(o_custkey",
        "!Window",
    ],
    "text_lexical_diversity": ["Generate", "HashAggregate"],
    "text_zipf_rank_fit": ["TakeOrderedAndProject", "HashAggregate"],
    # delete-where: result is a plain pruned parquet read-back
    "storage_gdpr_delete": ["codegen id :"],
    # triangles: adjacency attaches via broadcast, intersection in codegen,
    # nothing wedge-shaped shuffles
    "graph_triangle_count": ["BroadcastHashJoin", "array_intersect", "HashAggregate"],
    "graph_bfs_distance": ["InMemoryTableScan", "Union"],
    # otif: fact pre-aggregates to per-order MAX before the join — the
    # exchange carries l_orderkey partials, not raw lines
    "lineitem_otif_rate": ["HashAggregate", "Exchange hashpartitioning(l_orderkey"],
    "split_group_aware": ["HashAggregate", "Exchange hashpartitioning(split"],
    # trailing windows: conditional sums in ONE aggregate, no Window node
    "feature_trailing_windows": ["HashAggregate", "!Window"],
    # Theil: aggregate-only inequality — NO sort, NO window (Gini needs ranks)
    "agg_theil_inequality": ["HashAggregate", "!Window", "!Sort "],
    "dim_scd2_apply_changes": ["Window", "Exchange hashpartitioning(o_custkey"],
    # batch 10-13 additions
    "agg_mutual_information": ["HashAggregate", "BroadcastHashJoin"],
    "feature_woe_iv": ["HashAggregate", "BroadcastHashJoin"],
    # lift: one persisted basket_arrays shuffle feeds pairs+supports+count;
    # support joins broadcast
    "market_basket_lift": [
        "TakeOrderedAndProject",
        "HashAggregate",
        "Generate",
        "InMemoryTableScan",
        "BroadcastHashJoin",
    ],
    "multimodal_dedup_exact": ["HashAggregate", "codegen id :"],
    "text_keyphrase_topk": ["Window", "HashAggregate", "Generate"],
    # link prediction: wedge agg + anti-join of existing edges
    "graph_jaccard_link_prediction": ["LeftAnti", "TakeOrderedAndProject"],
    # KS: cumulative window over the constant bucket spine, no global data sort
    "agg_ks_test_bucketed": ["Window", "HashAggregate", "BroadcastHashJoin"],
    # winsorized mean: two-phase discrete-quantile selection — bucket-spine
    # window + broadcast fine join, never a global row_number sort
    "agg_winsorized_mean": [
        "HashAggregate",
        "BroadcastHashJoin",
        "BroadcastNestedLoopJoin",
    ],
    "events_funnel_any_order": ["HashAggregate", "Exchange hashpartitioning(user_id"],
    "io_csv_malformed_quarantine": ["codegen id :"],
    "join_asof_tolerance": ["Window"],
    # running distinct: two keyed windows, nothing global
    "window_running_distinct": ["Window", "Exchange hashpartitioning(user_id"],
    "storage_time_travel": ["Union", "codegen id :"],
    "storage_stats_pruned_read": ["PushedFilters: [IsNotNull(o_totalprice)", "codegen id :"],
    "pipeline_media_prepare": ["MapInPandas", "LeftSemi"],
    "supplier_concentration_hhi": ["HashAggregate", "BroadcastNestedLoopJoin"],
    "orders_repeat_purchase_rate": ["HashAggregate"],
    "text_unigram_logprob": ["HashAggregate", "Generate"],
    "pipeline_corpus_health": ["HashAggregate", "Window"],
    # cogrouped pandas surface: the dedicated physical node
    "udf_cogrouped_map": ["FlatMapCoGroupsInPandas"],
    "stat_crosstab_segments": ["HashAggregate", "BroadcastHashJoin"],
    # churn set: features/label both keyed on o_custkey, label via LEFT join
    "pipeline_churn_training_set": ["HashAggregate", "Exchange hashpartitioning(o_custkey"],
    "orders_backlog_aging": ["HashAggregate", "codegen id :"],
    "events_impact_diff_in_diff": ["HashAggregate", "codegen id :"],
    "events_dow_hour_heatmap": ["HashAggregate"],
    # r6: exports+imports fused into ONE matrix pass via two-sided explode
    # (the two-consumer shape duplicated the fact subtree); Generate is the
    # fusion explode, and the fact is scanned for one flows build only
    "nation_trade_balance": ["BroadcastHashJoin", "HashAggregate", "Generate"],
    # spatial grid: equi hash join on cell ids, the 3x3 explode stays a
    # Generate, never a nested loop
    "join_spatial_grid": ["Generate", "!BroadcastNestedLoopJoin", "codegen id :"],
    "stream_static_enrich": ["BroadcastHashJoin", "HashAggregate"],
    "events_bounce_rate": ["Window", "Exchange hashpartitioning(user_id"],
    # --- round-4: full-coverage entries (the 78 queries the r3 verdict
    # found unasserted).  Same contract as above: substrings that MUST
    # appear in the formatted physical plan ("!" prefix = must NOT).
    # round-3/4 analytics leftovers
    "events_funnel_rates": ["HashAggregate", "Exchange hashpartitioning(user_id"],
    # two-phase selection: coarse bucket agg + broadcast med-bucket
    # semi-filter; the fine window sees one bucket, never the fact
    "agg_weighted_median": ["BroadcastHashJoin", "Window", "HashAggregate"],
    "events_new_vs_returning": ["HashAggregate", "BroadcastHashJoin"],
    # temperature mixing: per-source weights broadcast back, one fact pass
    "mix_temperature_sampling": ["BroadcastHashJoin", "HashAggregate", "codegen id :"],
    "dedup_exact": ["HashAggregate", "codegen id :"],
    # CC seed pass is a map-only projection (iteration drives the rest)
    "dedup_cluster_cc": ["codegen id :"],
    "dedup_cluster_cc_star": ["HashAggregate", "Union", "!CartesianProduct"],
    # as-of family: union-tag + keyed window — NO join node of any kind
    "join_asof": ["Window", "Union", "!SortMergeJoin", "!BroadcastNestedLoopJoin"],
    "join_asof_forward": ["Window", "Union", "!SortMergeJoin", "!BroadcastNestedLoopJoin"],
    "join_asof_nearest": ["Window", "Union", "!SortMergeJoin", "!BroadcastNestedLoopJoin"],
    # range-bucket join: bucket explode rides a Generate into an EQUI join
    "join_range_bucket": ["Generate", "BroadcastHashJoin", "!BroadcastNestedLoopJoin", "!CartesianProduct"],
    "unpivot_stack": ["Expand", "HashAggregate"],
    "agg_percentile": ["ObjectHashAggregate"],
    "agg_approx_percentile": ["ObjectHashAggregate"],
    "array_advanced_funcs": ["codegen id :", "!Exchange"],
    "map_advanced_funcs": ["codegen id :", "!Exchange"],
    # mode: rank-limited window (partial top-1 per group), no full sort
    "agg_mode_per_group": ["WindowGroupLimit", "HashAggregate"],
    # bounded candidate pairs against a broadcast frame (pinned: broadcast,
    # not a shuffled cartesian)
    "string_fuzzy_levenshtein": ["BroadcastNestedLoopJoin", "!CartesianProduct", "levenshtein"],
    "agg_corr_exact": ["HashAggregate", "codegen id :"],
    # CDC: per-key latest via rank-limited window, deletes anti-joined
    "cdc_apply_changes": ["WindowGroupLimit", "LeftAnti", "Union"],
    "dq_schema_contract": ["codegen id :"],
    # multimodal: metadata ops stay codegen; decode paths are Arrow batches
    "multimodal_columns": ["codegen id :", "!Exchange"],
    "multimodal_decode": ["MapInPandas"],
    "multimodal_frame_sample": ["MapInPandas"],
    "multimodal_resize": ["MapInPandas"],
    # pHash near-dup: banded candidates through an equi join; the decoded
    # frame is persisted so band build + verify share one Arrow pass
    "multimodal_phash_dedup": ["MapInPandas", "InMemoryTableScan", "BroadcastHashJoin", "!CartesianProduct"],
    # nested access/explode surface (A3-A7)
    "project_struct_access": ["codegen id :", "!Exchange"],
    "explode_array_struct": ["Generate", "HashAggregate"],
    "explode_array_scalar": ["Generate", "HashAggregate"],
    "explode_map": ["Generate", "HashAggregate"],
    "filter_null_guard": ["codegen id :", "PushedFilters: [I"],
    # reference-pipeline composites
    "pipeline_course_normalize": ["Window", "Union", "InMemoryTableScan"],
    "pipeline_user_activity": ["WindowGroupLimit", "Union"],
    # relational Q-surface basics
    "join_left_outer": ["BroadcastHashJoin", "LeftOuter"],
    "agg_count_distinct": ["HashAggregate"],
    "agg_approx_distinct": ["HashAggregate"],
    "agg_rollup_cube": ["Expand", "HashAggregate"],
    # rank filter plans the per-partition partial top-k
    "window_rank": ["WindowGroupLimit", "Window"],
    "window_analytic": ["Window", "Exchange hashpartitioning"],
    "set_union_distinct": ["Union", "LeftSemi", "LeftAnti", "HashAggregate"],
    "scalar_string_funcs": ["codegen id :", "!Exchange"],
    "scalar_date_funcs": ["codegen id :", "!Exchange"],
    "scalar_math_case": ["codegen id :", "!Exchange"],
    "scalar_json_funcs": ["codegen id :", "!Exchange"],
    "array_map_funcs": ["ObjectHashAggregate", "codegen id :"],
    "count_running_total": ["HashAggregate"],
    "cast_types": ["codegen id :", "!Exchange"],
    "cast_timestamp": ["codegen id :", "!Exchange"],
    "pivot_wide": ["HashAggregate", "codegen id :"],
    # ANN family: Arrow-batched scoring, per-query rank-limited top-k;
    # candidates always arrive through an equi bucket/list join
    "sim_ann_lsh": ["ArrowEvalPython", "WindowGroupLimit", "Generate", "!CartesianProduct"],
    "sim_ann_ivf": ["ArrowEvalPython", "WindowGroupLimit", "!CartesianProduct"],
    "sim_ann_pq": ["ArrowEvalPython", "MapInPandas", "WindowGroupLimit"],
    "dedup_embedding_cosine": ["ArrowEvalPython", "BroadcastHashJoin"],
    "sim_rerank_mmr": ["FlatMapGroupsInPandas", "WindowGroupLimit"],
    "hybrid_search_rrf": ["WindowGroupLimit", "!CartesianProduct"],
    # mergeable sketches: ObjectHashAggregate carries the sketch state;
    # CMS probe returns a LocalTableScan (the estimates ARE metadata-sized)
    "agg_hll_mergeable": ["ObjectHashAggregate", "Union"],
    "agg_cms_term_counts": ["LocalTableScan"],
    "agg_hll_intersection": ["ObjectHashAggregate"],
    # storage/io surface
    "storage_bucketed_merge": ["codegen id :"],
    "rest_source_scan": ["codegen id :"],
    "io_multiformat_roundtrip": ["Union"],
    "io_binary_files": ["codegen id :"],
    # streaming batch twins
    "stream_sliding_agg": ["Expand", "HashAggregate"],
    "stream_session_window": ["Window", "HashAggregate"],
    # the Arrow sessionization lever: one exchange on user_id, in-partition
    # sort, one mapInPandas scan — NO WindowExec anywhere in the plan
    "session_window_arrow": [
        "MapInPandas",
        "Exchange hashpartitioning(user_id",
        "!Window",
    ],
    "stream_dedup_upsert": ["WindowGroupLimit", "Window"],
    "stream_session_native": ["HashAggregate"],
    "stream_interval_join_outer": ["LeftOuter", "BroadcastHashJoin", "!CartesianProduct"],
    # text tier basics
    "text_tfidf": ["Generate", "HashAggregate", "BroadcastHashJoin"],
    "text_lang_id": ["codegen id :", "!Exchange"],
    "text_quality_score": ["codegen id :", "!Exchange"],
    "text_bm25_rank": ["Generate", "TakeOrderedAndProject", "HashAggregate"],
    "dedup_apply_canonical": ["BroadcastHashJoin"],
    "pipeline_corpus_prepare": ["codegen id :"],
    # UDF surface: every Python crossing is Arrow-batched (the physical
    # node names ARE the assertion — no BatchEvalPython row path anywhere)
    "udf_surface": ["ArrowEvalPython", "!BatchEvalPython"],
    "udf_grouped_map": ["FlatMapGroupsInPandas", "!BatchEvalPython"],
    "udf_map_in_pandas": ["MapInPandas", "!BatchEvalPython"],
    "udtf_tokenize": ["ArrowEvalPythonUDTF", "!BatchEvalPython"],
    "orders_lines_per_order_hist": ["HashAggregate"],
}

# Nodes that say how AQE ran a plan rather than what the plan is: the
# query-stage wrappers, the partition-coalescing reads (their count moves
# with the core count) and the row/columnar adapters.
UNCOUNTED = frozenset(
    {
        "AdaptiveSparkPlan",
        "AQEShuffleRead",
        "BroadcastQueryStage",
        "ColumnarToRow",
        "InputAdapter",
        "ResultQueryStage",
        "ShuffleQueryStage",
        "TableCacheQueryStage",
    }
)
_HEADER = re.compile(r"( *)\+- == (Final|Current|Initial) Plan ==$")
_NODE = re.compile(r"((?:   |:  )*)([+:]- )(.*)")
_NAME = re.compile(r"(?:\*\(\d+\) )?([A-Za-z]\w*)")


def plan_digest(plan: str) -> str:
    """``Operator=count ...``, sorted by name, of the nodes in an
    ``executedPlan().toString()`` outside every ``== Initial Plan ==``
    section, less UNCOUNTED.

    An adaptive plan at tree depth D prints its headers at column 3*D
    and each section as a fresh tree indented by 3*(D+1) columns, also
    when it is nested in an InMemoryRelation, so indentation alone does
    not say where a section ends.  The parser keeps one frame per open
    tree: its indent and the last-child flags of its latest node (the
    ``:`` bars).  A line continues the innermost frame whose tree it
    fits (a child, an inner child two levels down, or the next sibling
    of an ancestor that had one); frames it skips are finished.  A line
    that fits no frame (the rest of a multi-line literal) is ignored."""
    # frame: [section kind, indent, adaptive-plan depth, last-child flags
    # of the latest node or None before the root]
    frames: list[list] = [["top", 0, -1, None]]
    counts: Counter[str] = Counter()
    for line in plan.splitlines():
        header = _HEADER.fullmatch(line)
        if header:
            depth = len(header.group(1)) // 3
            if header.group(2) == "Initial":
                # the final section of the same adaptive plan, and
                # everything nested in it, is finished
                while len(frames) > 1 and (
                    frames[-1][0] == "Initial" or frames[-1][2] != depth
                ):
                    frames.pop()
                del frames[max(len(frames) - 1, 1) :]
            frames.append([header.group(2), depth + 1, depth, None])
            continue
        for i in range(len(frames) - 1, -1, -1):
            flags = _fit(line, frames[i][1], frames[i][3])
            if flags is not None:
                del frames[i + 1 :]
                frames[i][3] = flags
                break
        else:
            continue
        name = _NAME.match(line.lstrip(" :+-"))
        if name and name.group(1) not in UNCOUNTED:
            if all(f[0] != "Initial" for f in frames):
                counts[name.group(1)] += 1
    return " ".join(f"{op}={n}" for op, n in sorted(counts.items()))


def _fit(line: str, indent: int, flags: list[bool] | None) -> list[bool] | None:
    """The last-child flags ``line`` leaves on a tree printed at
    ``indent`` whose latest node left ``flags``, or None when the line is
    not the tree's next node."""
    pad = "   " * indent
    if not line.startswith(pad):
        return None
    rest = line[len(pad) :]
    if flags is None:  # the root: no tree prefix
        return [] if rest[:1] not in ("", " ", ":", "+") else None
    node = _NODE.fullmatch(rest)
    if not node:
        return None
    bars = [node.group(1)[j : j + 3] == "   " for j in range(0, len(node.group(1)), 3)]
    depth = len(bars) + 1
    if depth <= len(flags):  # next sibling of an ancestor with one left
        ok = bars == flags[: depth - 1] and not flags[depth - 1]
    else:  # a child, or an inner child (subquery, cached plan) two down
        ok = depth <= len(flags) + 2 and bars[: len(flags)] == flags
    return bars + [node.group(2) == "+- "] if ok else None


def audit(spark, registry, name: str, sf: str) -> tuple[list[str], str, str]:
    """(failed EXPECT entries, checked plan text, executed plan) for one
    query.  "!substr" means the substring must NOT appear (e.g. no
    exchange on the join key of a bucketed co-located join)."""
    df = registry[name].fn(spark, sf)
    # execute THIS DataFrame's queryExecution (collect, not a write — a
    # write plans a separate execution): AQE only materializes the final
    # re-planned stages, and their codegen spans, after an action
    df.collect()
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    # formatted explain re-prints the *initial* adaptive plan; the
    # executed plan (with final codegen ids) lives on queryExecution
    executed = df._jdf.queryExecution().executedPlan().toString()
    plan = buf.getvalue() + "\n== Executed (final adaptive) plan ==\n" + executed
    bad = [s for s in EXPECT.get(name, []) if not s.startswith("!") and s not in plan]
    bad += [f"PRESENT(must be absent): {s[1:]}" for s in EXPECT.get(name, [])
            if s.startswith("!") and s[1:] in plan]
    return bad, plan, executed


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()
    registry = load_all()
    spark = get_spark("explain_audit")
    names = args.queries or sorted(EXPECT)
    rows, failures = [], 0
    for name in names:
        bad, plan, executed = audit(spark, registry, name, args.sf)
        release_persisted()  # each plan is planned alone, as the bench runs it
        row = f"| {name} | {'FAIL' if bad else 'PASS'} | {plan_digest(executed)} |"
        rows.append(row)
        print(row if not bad else f"{row}\n  {bad}\n{plan}", flush=True)
        failures += bool(bad)
    print(f"\n{len(names) - failures}/{len(names)} plan checks passed")
    if not args.queries:
        tail = ""
        if os.path.exists(PLANS_MD):
            with open(PLANS_MD) as f:
                tail = hand_kept_tail(f.read(), (DIGEST_HEADING,))
        lines = [
            "# PLANS — per-query plan-shape digest (tools/explain_audit.py)\n",
            "One row per registered query: its EXPECT check in",
            "tools/explain_audit.py and the count of each physical operator in",
            "its executed final adaptive plan.  `== Initial Plan ==` sections,",
            "`AQEShuffleRead`, the query-stage wrappers, `AdaptiveSparkPlan`,",
            "`ColumnarToRow` and `InputAdapter` are not counted, so expression",
            "ids and coalesced partition counts do not move a row; an AQE",
            "re-plan that changes a join or an exchange does.  A FAIL row's",
            "full plan is printed by the run, not kept here.\n",
            f"{DIGEST_HEADING} ({os.path.basename(args.sf.rstrip('/'))})\n",
            "| query | check | operators |",
            "|---|---|---|",
            *rows,
            "\n",
        ]
        with open(PLANS_MD, "w") as f:
            f.write("\n".join(lines) + tail)
        print(f"wrote {PLANS_MD}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
