from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dataengineeringpipeline_spark.session import DEFAULT_CPUS, get_spark  # noqa: E402

#: Small sf for fast unit runs; override for the full oracle gate:
#:   SPARK_GRAFT_TEST_SF_DIR=/root/testdata/sf0.01 python -m pytest tests/
TEST_SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

# ---------------------------------------------------------------------------
# Fast/slow tier (round-11 verdict item 7): the full 627-test suite runs
# ~37 min — past the external driver's window, so a run that CAN'T finish
# is a run where a real failure could hide. The default tier skips the
# measured-slowest integration tests (every entry below ≥~8 s in the
# round-12 full-suite durations log, ~22 min total) so `pytest tests/`
# completes in ~15 min; `pytest tests/ --runslow` is the FULL suite and
# stays the builder-side gate before any round closes. Entries are
# "<file>.py::<test>[param]" — a renamed test silently drops off the
# list, i.e. fails safe INTO the fast tier.
# ---------------------------------------------------------------------------
_SLOW_TIER = {
    "test_mlpipe.py::test_bayesian_search_deterministic_in_range_and_improving",
    "test_mlpipe.py::test_random_search_is_deterministic_and_in_range",
    "test_mlpipe.py::test_bayesian_search_model_types_picks_best_and_reports_all",
    "test_mlpipe.py::test_train_regressor_rf_and_gbt",
    "test_mlpipe.py::test_train_logreg_and_gbt",
    "test_mlpipe.py::test_cross_validate_deterministic",
    "test_ivm.py::test_fold_stream_partials_compacts_state_exactly_once",
    "test_ivm.py::test_maintain_retry_with_batch_id_is_noop",
    "test_ivm.py::test_maintain_crash_recovery_never_leaves_a_mixed_table",
    "test_ivm.py::test_maintain_rewrites_only_touched_partitions",
    "test_ivm.py::test_streaming_ivm_crash_replay",
    "test_ivm.py::test_maintain_empty_delta_is_noop",
    "test_ivm.py::test_streaming_rule_ivm_crash_replay",
    "test_ivm.py::test_migrate_rule_fingerprint_detects_same_column_set_changes",
    "test_ivm.py::test_refresh_customer_analytics_is_delta_sized_and_idempotent",
    "test_ivm.py::test_refresh_large_delta_avoids_broadcast_and_matches",
    "test_ivm.py::test_migrate_rule_rebuilds_changed_schema_bit_for_bit",
    "test_ivm.py::test_quartile_rule_faces_match_batch_bit_for_bit",
    "test_scd_mix.py::test_streaming_stats_drift_crash_replay",
    "test_scd_mix.py::test_snapshot_diff_report_matches_policy_filters",
    "test_scd_mix.py::test_snapshot_diff_counts_added_removed",
    "test_streaming.py::test_stream_gold_refresh_converges_and_replays_exactly_once",
    "test_streaming.py::test_event_time_ttl_evicts_idle_state",
    "test_streaming.py::test_incremental_gold_matches_batch_rollup",
    "test_streaming.py::test_stream_cdc_changes_crash_replay_and_batch_parity",
    "test_streaming.py::test_stream_incremental_dedup_replay_is_idempotent",
    "test_streaming.py::test_stream_etl_is_incremental_exactly_once",
    "test_streaming.py::test_streaming_gold_refresh_invocations_are_independent",
    "test_streaming.py::test_single_drain_ordered_dedup_equals_sequential",
    "test_streaming.py::test_streaming_scd2_crash_replay",
    "test_streaming.py::test_streaming_cdc_merge_crash_replay",
    "test_streaming.py::test_stream_cdc_merge_queues_behind_concurrent_writer",
    "test_streaming.py::test_streamed_ann_index_equals_batch_index",
    "test_streaming.py::test_stream_incremental_dedup_covers_every_arrival_once",
    "test_streaming.py::test_stream_rule_summary_refresh_converges",
    "test_streaming.py::test_stream_cdc_merge_snapshot_each_batch_bounded",
    "test_properties.py::test_cdc_apply_matches_python_model_and_is_idempotent",
    "test_properties.py::test_merge_scd2_equals_logical_apply_for_any_batch",
    "test_properties.py::test_bloom_matches_python_model_and_never_drops_members",
    "test_properties.py::test_ivm_merge_equals_full_recompute_for_any_split",
    "test_properties.py::test_scd2_invariants",
    "test_properties.py::test_cms_estimate_dominates_truth_for_any_keys",
    "test_operators.py::test_materialized_corpus_matches_lazy_funnel",
    "test_operators.py::test_training_corpus_funnel_is_monotone_and_consistent",
    "test_operators.py::test_materialized_ann_index_matches_inline_ivfpq",
    "test_scale.py::test_auto_compaction_bounds_file_count_across_merges",
    "test_scale.py::test_ledger_bounds_across_merge_stream",
    "test_oracle_parity.py::test_query_matches_oracle[split_leakage_audit]",
    "test_oracle_parity.py::test_query_matches_oracle[snapshot_diff_report]",
    "test_oracle_parity.py::test_query_matches_oracle[item_pagerank]",
    "test_oracle_parity.py::test_query_matches_oracle[training_corpus_funnel]",
    "test_oracle_parity.py::test_query_matches_oracle[streaming_gold_refresh]",
    "test_oracle_parity.py::test_query_matches_oracle[streaming_rule_summary_table]",
    "test_layout.py::test_apply_layout_advice_closes_the_loop",
    "test_deployment.py::test_variant_metrics_and_promotion_gate",
    "test_deployment.py::test_ab_split_is_deterministic_and_covers_population",
    "test_scale.py::test_composite_key_merge_prunes_on_third_key",
    "test_scale.py::test_composite_key_merge_prunes_on_second_key",
    "test_scale.py::test_composite_key_scd2_merge_prunes_on_second_key",
    "test_scale.py::test_merge_and_purge_on_escaped_partition_key_values",
    "test_scale.py::test_distributed_prune_string_and_negative_keys",
    "test_scale.py::test_distributed_prune_uuid_keys_prefix_buckets",
    "test_scale.py::test_bloom_file_index_prunes_where_envelopes_cannot",
    "test_scale.py::test_table_stats_closed_form",
    "test_scale.py::test_merge_changes_large_batch_uses_distributed_key_path",
    "test_operators.py::test_leakage_safe_splits_keep_clusters_together",
    "test_operators.py::test_incremental_dedup_matches_full_corpus_pairs",
    "test_properties.py::test_bpe_train_matches_python_model",
    "test_properties.py::test_hll_registers_match_python_model",
    "test_ivm.py::test_percentile_fold_matches_engine_on_hostile_values",
    "test_alerts.py::test_pipeline_alerts_end_to_end",
    "test_performance.py::test_round5_operator_throughput_degrades_sublinearly",
    "test_oracle_parity.py::test_query_matches_oracle[streaming_incremental_dedup]",
    "test_oracle_parity.py::test_query_matches_oracle[streaming_ann_topk]",
}


def pytest_addoption(parser):
    parser.addoption(
        "--runslow",
        action="store_true",
        default=False,
        help="run the slow tier too (the FULL suite — builder-side gate)",
    )


def pytest_collection_modifyitems(config, items):
    if config.getoption("--runslow"):
        return
    skip = pytest.mark.skip(reason="slow tier: run with --runslow")
    for item in items:
        key = item.nodeid.rsplit("/", 1)[-1]  # "<file>.py::<test>[param]"
        if key in _SLOW_TIER or key.split("[", 1)[0] in _SLOW_TIER:
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(
        app_name="dep-spark-tests", cpus=DEFAULT_CPUS, shuffle_partitions=DEFAULT_CPUS
    )
    spark.sparkContext.setLogLevel("ERROR")
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return TEST_SF_DIR
