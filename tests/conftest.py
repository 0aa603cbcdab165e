import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_MED = os.environ.get("SPARK_GRAFT_TEST_SF_DIR_MED", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    from data_warehouse_copy_spark.session import get_spark

    s = get_spark(app_name="dwcs-tests", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def sf_dir_med():
    return SF_DIR_MED


# ---------------------------------------------------------------- slow tier
# Round-15 (r14 verdict item 1b): the suite outgrew the driver's verify
# window (53 min at r14; the capture truncated at 55% with zero failures,
# so VERIFY came back tests_ok:false on a green tree). The tests below —
# the measured >=8s tail of a full idle run (top-80 by --durations, ~25
# of the 49 minutes) — carry the storm/convergence/stress drills whose
# surfaces the faster tests and the driver's own 50-entry oracle pass
# already smoke-cover. They are MARKED, not removed: the default run
# (`pytest tests/`, via pytest.ini addopts `-m "not slow"`) finishes
# inside the window; the FULL tier is `pytest tests/ -m ""` (or
# `-m "slow or not slow"`) and stays the bar for round-level sign-off.
# Entries are exact nodeids; collection below tolerates misses, so
# tests/test_slow_tier.py fails when an entry no longer collects (a
# renamed slow test would otherwise slip into the default tier).
_SLOW_TESTS = frozenset([
    "tests/test_ann_index.py::test_build_is_deterministic",
    "tests/test_ann_index.py::test_build_search_recall_vs_brute_force",
    "tests/test_ann_index.py::test_drift_detected_and_rebuild_restores",
    "tests/test_ann_index.py::test_incremental_add_serves_new_vectors",
    "tests/test_ann_index.py::test_maybe_rebuild_policy_hook",
    "tests/test_ann_index.py::test_pq_add_and_rebuild_keep_codes",
    "tests/test_ann_index.py::test_pq_matches_flat_on_same_shortlist",
    "tests/test_ann_index.py::test_pq_recall_floor_and_probed_bytes",
    "tests/test_ann_index.py::test_probe_reads_only_probed_lists_files",
    "tests/test_bloom.py::test_absent_key_prunes_everything",
    "tests/test_bloom.py::test_declarative_reader_bloom_prunes",
    "tests/test_bloom.py::test_in_predicate_batched_lookup",
    "tests/test_bloom.py::test_no_false_negatives_over_every_key",
    "tests/test_bloom.py::test_string_bloom_lookup",
    "tests/test_catalog_formats.py::TestTextCorpusIngestion::test_training_prep_off_jsonl_matches_parquet",
    "tests/test_cdf.py::test_cdf_empty_range_schema",
    "tests/test_cdf.py::test_cdf_merge_renders_delete_plus_insert",
    "tests/test_cdf.py::test_cdf_skips_maintenance_commits",
    "tests/test_cdf.py::test_change_feed_composes_with_selective_where",
    "tests/test_cdf.py::test_declarative_changes_carry_change_type",
    "tests/test_cdf.py::test_streaming_change_feed",
    "tests/test_cdf.py::test_streaming_change_feed_restart_exactly_once",
    "tests/test_cdf_sync.py::test_apply_changes_txn_replay_is_noop",
    "tests/test_cdf_sync.py::test_stream_replica_restart_exactly_once",
    "tests/test_cdf_sync.py::test_stream_replica_tracks_dml_exactly",
    "tests/test_clone.py::test_clone_declarative_merge_honors_source_dv",
    "tests/test_clone.py::test_clone_writes_are_isolated_both_ways",
    "tests/test_comments_ddl.py::test_create_table_like",
    "tests/test_constraints.py::test_constraint_proof_paths_agree",
    "tests/test_constraints.py::test_writes_enforce_atomically",
    "tests/test_copy_upsert.py::test_range_copy_converges",
    "tests/test_copy_upsert.py::test_update_table_converges_target_to_source",
    "tests/test_copy_upsert.py::test_update_table_idempotent",
    "tests/test_datasource.py::test_drain_available_fully_drains_capped_stream",
    "tests/test_datasource.py::test_stream_change_commit_raises_unless_opted_in",
    "tests/test_datasource.py::test_stream_max_bytes_per_trigger",
    "tests/test_datasource.py::test_stream_max_commits_per_trigger",
    "tests/test_datasource.py::test_stream_max_files_per_trigger_splits_snapshot",
    "tests/test_datasource.py::test_stream_rate_caps_with_available_now_drain_progressively",
    "tests/test_datasource.py::test_stream_selective_tailing_with_where_option",
    "tests/test_datasource.py::test_stream_sink_auto_compact_bounds_live_files",
    "tests/test_datasource.py::test_stream_sink_complete_mode_truncates_per_batch",
    "tests/test_datasource.py::test_stream_sink_exactly_once_and_retry_noop",
    "tests/test_datasource.py::test_stream_snapshot_then_tail_exactly_once",
    "tests/test_datasource.py::test_stream_survives_mid_flight_schema_evolution",
    "tests/test_datasource.py::test_stream_write_partitioned_fact",
    "tests/test_defaults_identity.py::test_declarative_writer_rejects_identity_tables",
    "tests/test_defaults_identity.py::test_identity_by_default_fill_preserves_big_ints",
    "tests/test_defaults_identity.py::test_identity_by_default_merge_by_key_after_rename",
    "tests/test_defaults_identity.py::test_identity_by_default_merge_pk_upsert",
    "tests/test_defaults_identity.py::test_identity_by_default_mixed_explicit_and_allocated",
    "tests/test_defaults_identity.py::test_identity_by_default_mixed_writer_storm",
    "tests/test_defaults_identity.py::test_identity_collision_free_under_cross_process_storm",
    "tests/test_defaults_identity.py::test_identity_merge_clauses_and_merge_by_key_contract",
    "tests/test_deletion_vectors.py::test_dv_merge_by_key_rewrites_nothing",
    "tests/test_deletion_vectors.py::test_dv_merge_on_partitioned_table",
    "tests/test_distributed_plan.py::TestBoundedDmlCommit::test_bounded_delete_matches_classic",
    "tests/test_distributed_plan.py::TestBoundedDmlCommit::test_bounded_then_classic_interleave",
    "tests/test_distributed_plan.py::TestBoundedDmlCommit::test_bounded_update_matches_classic",
    "tests/test_distributed_plan.py::TestBoundedIngestCommit::test_bounded_merge_matches_classic",
    "tests/test_distributed_plan.py::TestBoundedIngestCommit::test_bounded_overwrite_remove_all",
    "tests/test_distributed_plan.py::TestBoundedIngestCommit::test_bounded_replace_where_matches_classic",
    "tests/test_distributed_plan.py::TestBoundedIngestCommit::test_wide_manifest_bounded_ingest",
    "tests/test_distributed_plan.py::test_bounded_history_matches_full_walk",
    "tests/test_distributed_plan.py::test_checkpoint_retention_sweeps_old",
    "tests/test_distributed_plan.py::test_distributed_read_matches_classic",
    "tests/test_distributed_plan.py::test_distributed_vacuum_matches_classic",
    "tests/test_distributed_plan.py::test_distributed_vacuum_respects_retention",
    "tests/test_distributed_plan.py::test_wide_manifest_point_lookup_plans_distributed",
    "tests/test_dynamic_prune.py::test_attach_broadcast_hint_small_tables",
    "tests/test_dynamic_prune.py::test_dfp_exists_constant_shift_correlation",
    "tests/test_dynamic_prune.py::test_dfp_exists_decorrelates_and_prunes",
    "tests/test_dynamic_prune.py::test_dfp_exists_multi_and_inequality",
    "tests/test_dynamic_prune.py::test_dfp_gate_random_star_queries_value_exact",
    "tests/test_dynamic_prune.py::test_dfp_in_subquery_prunes_and_stays_exact",
    "tests/test_dynamic_prune.py::test_dfp_left_join_null_tolerant_conjuncts_do_not_unlock",
    "tests/test_dynamic_prune.py::test_dfp_left_join_or_tautology_not_pruned",
    "tests/test_dynamic_prune.py::test_dfp_manifest_counts_gate_without_analyze",
    "tests/test_dynamic_prune.py::test_dfp_prunes_fact_files_and_stays_exact",
    "tests/test_dynamic_prune.py::test_dfp_star_multi_dim",
    "tests/test_entry_contract.py::test_ml_text_metrics_pinned",
    "tests/test_entry_contract.py::test_query_matches_oracle[catalog_sql_matview]",
    "tests/test_entry_contract.py::test_query_matches_oracle[catalog_sql_matview_dims]",
    "tests/test_entry_contract.py::test_query_matches_oracle[catalog_sql_matview_star]",
    "tests/test_entry_contract.py::test_query_matches_oracle[catalog_sql_merge]",
    "tests/test_entry_contract.py::test_query_matches_oracle[catalog_sql_predicate_dml]",
    "tests/test_entry_contract.py::test_query_matches_oracle[catalog_sql_table_changes]",
    "tests/test_entry_contract.py::test_query_matches_oracle[dedup_ngram_clusters]",
    "tests/test_entry_contract.py::test_query_matches_oracle[dedup_ngram_jaccard_capped]",
    "tests/test_entry_contract.py::test_query_matches_oracle[ml_text_metrics]",
    "tests/test_entry_contract.py::test_query_matches_oracle[q16_parts_supplier_counts]",
    "tests/test_entry_contract.py::test_query_matches_oracle[rollup_cdc_refresh]",
    "tests/test_entry_contract.py::test_query_matches_oracle[similarity_topk_ivf_pq]",
    "tests/test_entry_contract.py::test_query_matches_oracle[stream_cdf_replica_sync]",
    "tests/test_entry_contract.py::test_query_matches_oracle[stream_cdf_roundtrip]",
    "tests/test_entry_contract.py::test_query_matches_oracle[stream_curation_roundtrip]",
    "tests/test_entry_contract.py::test_semantic_kmeans_cluster_identity_sf001",
    "tests/test_entry_contract.py::test_semantic_lsh_arm_cluster_identity_sf001",
    "tests/test_entry_contract.py::test_semantic_registered_entry_identity_sf01",
    "tests/test_entry_contract.py::test_source_rollup_null_text_matches_oracle",
    "tests/test_generated_columns.py::test_clone_and_like_carry_generation",
    "tests/test_generated_columns.py::test_generated_composes_with_comment_clause",
    "tests/test_generated_columns.py::test_generated_narrowing_cast_checks_the_stored_value",
    "tests/test_generated_columns.py::test_generated_referencing_generated_refused",
    "tests/test_generated_columns.py::test_show_create_emits_and_reruns",
    "tests/test_generated_columns.py::test_update_rhs_sees_old_values_simultaneous_substitution",
    "tests/test_log_retention.py::test_churn_bounded_log_cardinality",
    "tests/test_log_retention.py::test_streaming_starting_version_below_floor_fails",
    "tests/test_logical_conflicts.py::test_blind_appends_and_compaction_stay_exempt",
    "tests/test_logical_conflicts.py::test_cross_process_disjoint_partition_mergers_both_commit",
    "tests/test_managed_table.py::TestReclusterIncremental::test_recluster_is_cdc_silent",
    "tests/test_managed_table.py::test_auto_compact_bounded_past_planning_gate",
    "tests/test_managed_table.py::test_auto_compact_bounds_append_loop",
    "tests/test_managed_table.py::test_auto_compact_byte_gate_never_recopies_large_files",
    "tests/test_managed_table.py::test_auto_compact_clustered_resorts_and_partitioned_scopes",
    "tests/test_managed_table.py::test_auto_compact_native_spark_merge_lifts_byte_ceiling",
    "tests/test_managed_table.py::test_auto_compact_past_gate_ignores_large_file_crowds",
    "tests/test_managed_table.py::test_auto_compact_past_gate_spark_merge_lifts_byte_ceiling",
    "tests/test_managed_table.py::test_auto_compact_past_gate_stops_checkpoint_scan_early",
    "tests/test_managed_table.py::test_auto_compact_zorder_merge_keeps_pruning",
    "tests/test_managed_table.py::test_copy_into_cross_process_two_loader_storm",
    "tests/test_managed_table.py::test_copy_into_single_file_and_sql_surface",
    "tests/test_managed_table.py::test_data_skipping_prunes_files_and_keeps_results_exact",
    "tests/test_managed_table.py::test_empty_table_read_has_schema",
    "tests/test_managed_table.py::test_merge_by_key_inserts_new_keys",
    "tests/test_managed_table.py::test_merge_by_key_upserts",
    "tests/test_managed_table.py::test_merge_empty_keyset_commits_noop",
    "tests/test_managed_table.py::test_merge_with_reserved_and_float_pk",
    "tests/test_managed_table.py::test_overwrite_range_rejects_out_of_window_data",
    "tests/test_managed_table.py::test_overwrite_range_removes_vanished_partitions",
    "tests/test_managed_table.py::test_read_changes_append_only_is_exact_cdc",
    "tests/test_managed_table.py::test_read_changes_over_dml_commits",
    "tests/test_managed_table.py::test_read_changes_skips_restore_replay",
    "tests/test_managed_table.py::test_timestamp_time_travel",
    "tests/test_managed_table.py::test_version_at_running_max_under_clock_skew",
    "tests/test_managed_table.py::test_zorder_survives_compaction",
    "tests/test_matview.py::test_matview_auto_refresh_policy",
    "tests/test_matview.py::test_matview_create_read_equals_recompute",
    "tests/test_matview.py::test_matview_dims_create_read_refresh_exact",
    "tests/test_matview.py::test_matview_dims_null_group_keys_stay_exact",
    "tests/test_matview.py::test_matview_dims_refresh_confinement_validates_under_flag",
    "tests/test_matview.py::test_matview_grammar_validation",
    "tests/test_matview.py::test_matview_name_clashes_and_drop",
    "tests/test_matview.py::test_matview_name_in_string_literal_not_replaced",
    "tests/test_matview.py::test_matview_persists_across_catalog_reopen",
    "tests/test_matview.py::test_matview_reads_exact_between_refreshes",
    "tests/test_matview.py::test_matview_refresh_cost_is_day_scoped",
    "tests/test_matview.py::test_matview_show_create_reruns",
    "tests/test_matview.py::test_matview_star_create_read_equals_recompute",
    "tests/test_matview.py::test_matview_star_dim_change_degrades_then_rebuilds",
    "tests/test_matview.py::test_matview_star_fact_churn_stays_day_scoped",
    "tests/test_matview.py::test_matview_star_grammar_rejections",
    "tests/test_matview.py::test_view_composes_over_matview",
    "tests/test_matview.py::test_view_over_matview_mirror_staleness_contract",
    "tests/test_merge_expressions.py::test_bounded_expression_merge_matches_classic",
    "tests/test_merge_expressions.py::test_legacy_single_clause_args_unchanged",
    "tests/test_merge_expressions.py::test_merge_schema_evolution",
    "tests/test_merge_expressions.py::test_upsert_update_plus_insert",
    "tests/test_names.py::test_catalog_roundtrip_persists",
    "tests/test_names.py::test_round10_review_fixes",
    "tests/test_names.py::test_sql_alter_cluster_by",
    "tests/test_names.py::test_sql_analyze_and_describe_extended",
    "tests/test_names.py::test_sql_create_drop_table_and_insert_overwrite",
    "tests/test_names.py::test_sql_create_or_replace_table",
    "tests/test_names.py::test_sql_deep_clone",
    "tests/test_names.py::test_sql_dml_delete_update_roundtrip",
    "tests/test_names.py::test_sql_dml_general_predicates",
    "tests/test_names.py::test_sql_dml_truncate_and_merge",
    "tests/test_names.py::test_sql_general_predicates_under_column_mapping",
    "tests/test_names.py::test_sql_insert_into",
    "tests/test_names.py::test_sql_insert_replace_where",
    "tests/test_names.py::test_sql_merge_full_clause_surface",
    "tests/test_names.py::test_sql_merge_insert_columns_values",
    "tests/test_names.py::test_sql_merge_with_schema_evolution",
    "tests/test_names.py::test_sql_ops_statements",
    "tests/test_names.py::test_sql_optimize_where_scopes_partitions",
    "tests/test_names.py::test_sql_shallow_clone",
    "tests/test_names.py::test_sql_show_create_table_roundtrips",
    "tests/test_names.py::test_sql_surface_joins_named_tables",
    "tests/test_names.py::test_sql_table_changes_tvf",
    "tests/test_names.py::test_sql_tblproperties_auto_compact",
    "tests/test_names.py::test_sql_time_travel_views_are_reused_not_leaked",
    "tests/test_names.py::test_sql_truncate_and_restore_timestamp",
    "tests/test_names.py::test_sql_vacuum_dry_run_and_show_partitions",
    "tests/test_pipeline_storm.py::test_concurrent_pipeline_processes_converge_over_socket_store",
    "tests/test_properties.py::test_copy_plus_update_converges",
    "tests/test_properties.py::test_datasource_writer_interleaves_with_native",
    "tests/test_properties.py::test_delete_where_equals_full_antifilter",
    "tests/test_properties.py::test_read_where_equals_full_filter",
    "tests/test_properties.py::test_update_where_equals_case_projection",
    "tests/test_properties.py::test_where_classifier_matches_whole_expression",
    "tests/test_schema_evolution.py::test_sql_alter_table_ddl",
    "tests/test_schema_evolution.py::test_stream_survives_midstream_rename",
    "tests/test_similarity.py::test_incremental_ivf_twin_precision_and_recall",
    "tests/test_similarity.py::test_ivf_recall_on_sorted_clustered_corpus",
    "tests/test_similarity.py::test_kmeans_bucket_distributed_quantizer_past_boundary",
    "tests/test_stateful_streaming.py::test_stateful_profile_matches_batch_across_batches",
    "tests/test_streaming.py::TestDeclarativeCuration::test_auto_state_width_derives_from_trigger_volume",
    "tests/test_streaming.py::TestDeclarativeCuration::test_drained_stream_equals_batch",
    "tests/test_streaming.py::TestDeclarativeCuration::test_state_width_pinned_and_session_conf_restored",
    "tests/test_streaming.py::test_rollup_refresh_from_changes_converges_late_dml",
    "tests/test_streaming.py::test_sliding_window_stream_matches_batch",
    "tests/test_streaming.py::test_stream_curation_from_bronze_table",
    "tests/test_streaming.py::test_stream_curation_matches_sequential_batches",
    "tests/test_streaming.py::test_stream_stream_join_matches_batch",
    "tests/test_streaming.py::test_stream_stream_outer_join_matches_batch",
    "tests/test_text.py::test_lsh_sketch_cache_scoped_per_input",
    "tests/test_views.py::test_dynamic_prune_fires_through_a_view",
])


def pytest_collection_modifyitems(config, items):
    for item in items:
        if item.nodeid in _SLOW_TESTS:
            item.add_marker(pytest.mark.slow)
