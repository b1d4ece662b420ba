"""The query registry: ``register`` records each named plan with its
DuckDB oracle, and ``apply_window`` puts the driver window first.

This module imports no plan module, so any plan module can import
``register`` from here without an import cycle. ``plans/__init__``
imports every plan module in a fixed order and then applies the window
once; registry order therefore does not depend on which module a
process happens to import first.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    fn: QueryFn
    oracle: str | None
    doc: str = ""


REGISTRY: dict[str, Query] = {}


def register(name: str, oracle: str | None = None, doc: str = ""):
    def deco(fn: QueryFn) -> QueryFn:
        REGISTRY[name] = Query(name=name, fn=fn, oracle=oracle, doc=doc)
        return fn

    return deco


# The external correctness gate checks the FIRST 50 registry entries in
# order. The window holds the queries whose plans changed most recently,
# then the stalest certifications that `python tools/cert_ledger.py`
# lists.
DRIVER_WINDOW = (
    "ann_ivf_pq_index",
    "ann_ivf_filtered_probe",
    "ann_ivf_trained_index",
    "ann_ivf_index_roundtrip",
    "streaming_ann_index_ingest",
    "agg_poisson_bootstrap_ci",
    "graph_pagerank_bipartite",
    "text_repetition",
    "dedup_common_spans",
    "text_winnow_fingerprints",
    "dedup_simhash_pairs",
    "layout_dpp_prune",
    "quality_profile_columns",
    "scalar_try_arithmetic",
    "dedup_containment_pairs",
    "corpus_decontaminate",
    "corpus_decontaminate_coverage",
    "corpus_funnel_report",
    "dedup_lsh_candidates",
    "dedup_jaccard_pairs",
    "dedup_near_composed",
    "dedup_components",
    "dedup_edit_distance_verify",
    "dedup_cluster_representatives",
    "dedup_minhash_estimate_accuracy",
    "corpus_dedup_threshold_curve",
    "dedup_lsh_tuning_curve",
    "agg_robust_mad",
    "agg_sketch_mergeable",
    "agg_stats_suite",
    "agg_string_concat_groups",
    "csv_corrupt_records",
    "events_anomaly_zscore",
    "events_scd2_islands",
    "events_sessionize_dynamic_gap",
    "events_sliding_windows",
    "events_windowed_topk",
    "join_lateral_topn",
    "join_null_safe_eq",
    "multimodal_image_resize",
    "multimodal_video_frames",
    "observe_audit_metrics",
    "parquet_schema_evolution",
    "pivot_multi_agg",
    "python_datasource_scan",
    "python_datasource_write_roundtrip",
    "python_udtf_regex_spans",
    "quality_constraint_checks",
    "rollup_incremental_merge",
    "scrape_url_worklist",
)


def apply_window(window: tuple[str, ...] = DRIVER_WINDOW) -> None:
    """Move ``window``'s names, in its order, to the front of REGISTRY;
    the rest keep their registration order. Raises, leaving REGISTRY
    untouched, unless the window is exactly 50 distinct registered names."""
    missing = [n for n in window if n not in REGISTRY]
    if missing:
        raise AssertionError(f"driver window names unknown queries: {missing}")
    if len(set(window)) != len(window):
        raise AssertionError("duplicate names in driver window")
    if len(window) != 50:
        raise AssertionError(
            f"driver window must fill all 50 slots, got {len(window)}"
        )
    ordered = {n: REGISTRY[n] for n in window}
    ordered.update({n: q for n, q in REGISTRY.items() if n not in ordered})
    REGISTRY.clear()
    REGISTRY.update(ordered)
