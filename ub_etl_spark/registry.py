"""Query registry: name -> (DataFrame builder, DuckDB oracle SQL).

Every operator in SURVEY.md §2 registers here.  The driver contract
(__spark_entry__.py) is a thin view over this registry:

  - ``fn(spark, sf_dir)`` builds the Spark DataFrame for the operator.
  - ``oracle`` is the equivalent ANSI SQL DuckDB runs on the same parquet
    views; ``None`` marks a non-SQL-expressible operator (rows-only check).

Column names are aliased identically on both sides; floating aggregates go
through exact decimal arithmetic (functions/exact.py) so value hashes are
order-insensitive-deterministic across engines.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: QueryFn
    oracle: Optional[str]
    tier: str  # "A" reference-derived, "Q" derived relational surface, "B" north-star
    doc: str
    # Why the query costs what it costs: bench.py's absolute-time gate and
    # zero-residue accounting accept a slow or >2x query only with a note.
    cost_note: str = ""
    # The >2x ratio is a property of what the query deliberately exercises
    # (an API-surface proof, a real write the oracle skips, iteration or
    # per-stage machinery), not a plan defect: excluded from
    # aggregate_ratio_excl_subfloor_and_exceptions and from the residue.
    ratio_exception: bool = False


REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str,
    *,
    oracle: Optional[str] = None,
    tier: str = "A",
    doc: str = "",
    cost_note: str = "",
    ratio_exception: bool = False,
):
    """Decorator: register a (spark, sf_dir) -> DataFrame query builder."""
    if ratio_exception and not cost_note:
        raise ValueError(f"{name}: a ratio exception needs a cost_note")

    def deco(fn: QueryFn) -> QueryFn:
        REGISTRY[name] = QuerySpec(
            name,
            fn,
            oracle,
            tier,
            doc or (fn.__doc__ or "").strip(),
            cost_note,
            ratio_exception,
        )
        return fn

    return deco


_LOADED = False

# The driver's correctness gate checks the first 50 entries of ``queries()``
# in registration order, so DRIVER_PRIORITY decides which queries get a
# driver row each round (the 50-slot window; the per-round lists and their
# reasons are in git history).  A new query must add an operator family or
# a scale lever, never a near-duplicate plan shape.  Standing rules:
#   (a) a newly registered or reworked query gets two consecutive windows;
#   (b) all remaining slots go to the stalest driver evidence, oldest round
#       first, ties toward modules this round's perf work touched;
#   (c) each round names the queries it defers, so the next window is
#       decidable without re-deriving the evidence map.
DRIVER_PRIORITY = [
    # --- rule (a): registered/reworked r15, window 1 of 2 each
    "dedup_substring_span",
    "orders_active_episodes",
    "orders_active_episodes_arrow",
    # --- rule (b): the 18 r9-evidence deferrals named in the r14 residue
    "stream_interval_join_outer",
    "stream_topk_trending",
    "text_bm25_rank",
    "text_chunk_sliding",
    "text_collocation_pmi",
    "text_fingerprint",
    "text_inverted_index",
    "text_lang_confusion",
    "text_lang_id",
    "text_quality_score",
    "timeseries_multi_rollup",
    "tpch_q18_large_orders",
    "tpch_q21_waiting_suppliers",
    "tpch_q5_local_supplier",
    "udf_grouped_map",
    "udf_surface",
    "udtf_tokenize",
    "window_topk_per_group",
    # --- rule (c): alphabetically-first 29 oldest-r10 (18 named defer to
    # r16; orders_active_episodes counts under rule (a) above)
    "agg_corr_exact",
    "agg_gini_concentration",
    "agg_grouping_sets_explicit",
    "agg_ks_test_bucketed",
    "agg_linear_regression",
    "agg_mode_per_group",
    "agg_mutual_information",
    "agg_share_of_parent",
    "agg_weighted_median",
    "array_advanced_funcs",
    "dq_expectation_checks",
    "events_ab_test_zscore",
    "events_active_users_rolling",
    "events_anomaly_mad",
    "events_burst_detection",
    "events_funnel_rates",
    "events_path_topk",
    "events_sequence_match",
    "events_stickiness_weekly",
    "events_user_entropy",
    "feature_decay_rolling",
    "feature_onehot_encode",
    "feature_scale_standard",
    "graph_pagerank_trade",
    "hierarchy_flatten_paths",
    "join_theta_band",
    "lineitem_yoy_growth",
    "map_advanced_funcs",
    "orders_abc_classification",
]

def load_all() -> dict[str, QuerySpec]:
    """Import every query module (side effect: registration), returned with
    DRIVER_PRIORITY entries first so they land inside the driver's window."""
    global _LOADED
    if not _LOADED:
        from ub_etl_spark.queries import (  # noqa: F401
            advanced,
            analytics,
            behavior,
            curation,
            dedup,
            extras,
            flagship,
            graph,
            manifest,
            merge,
            mlprep,
            multimodal,
            nested,
            pipeline,
            relational,
            similarity,
            sketches,
            sql_surface,
            storage_io,
            streaming_batch,
            text,
            timeseries,
            tpch,
            training,
            udfs,
            udtf_ops,
            warehouse,
        )

        _LOADED = True
    ordered = {n: REGISTRY[n] for n in DRIVER_PRIORITY if n in REGISTRY}
    ordered.update((n, s) for n, s in REGISTRY.items() if n not in ordered)
    return ordered
