from __future__ import annotations

import os
import tempfile

import pytest

from mysql2clickhouse_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    # warehouse.dir is a STATIC conf — set before the session exists so
    # saveAsTable (bucketing tests) never writes into the repo checkout
    os.environ.setdefault(
        "SPARK_GRAFT_WAREHOUSE", tempfile.mkdtemp(prefix="m2c_warehouse_")
    )
    # r12: default the TEST session to local[8]/8 shuffle partitions —
    # at test-fixture sizes every stage is task-scheduling-bound, and
    # this box runs the whole bench FASTER at 8 cores than at 32
    # (BENCH_r11_c8 12.8 s vs BENCH_r11 18.0 s); the 51-minute full
    # suite was the same pathology suite-wide. setdefault only: an
    # explicit SPARK_GRAFT_CPUS (the driver's scaling probe, a perf
    # investigation) is honored unchanged.
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    os.environ.setdefault("SPARK_GRAFT_SHUFFLE_PARTITIONS", "8")
    s = get_spark("m2c-tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


#: r12 (r11 verdict task 2): the driver's verify budget cannot hold the
#: full-fat suite (51 min wall at local[32]; the r11 driver run was
#: killed at ~70% with zero failures). Tests below — measured >= 12 s
#: each in the committed durations run (/tmp log reproduced in
#: OPTIMIZATION_r12.md) — are store-lifecycle / certification
#: instruments whose coverage the per-round full-fat run and the
#: scripts/check_parity.py oracle sweep both repeat. They carry the
#: opt-in ``slow`` marker; the DEFAULT run deselects them
#: (pytest.ini addopts -m "not slow"). Full fat: pytest tests/ -m "".
SLOW_TESTS = frozenset({
    "test_accumulation_equals_one_shot_with_verify_prune_forced",
    "test_at_least_once_replay_absorbed_by_dedup",
    "test_batch_accumulation_equals_one_shot",
    "test_batch_accumulation_equals_one_shot_with_verify_prune_forced",
    "test_batched_fold_equals_one_fold",
    "test_bootstrap_plus_replay_equals_full_replay",
    "test_budgets_bound_each_run",
    "test_cc_matches_union_find",
    "test_checksum_properties_order_invariance_and_sensitivity",
    "test_cli_manifest_lifecycle",
    "test_cli_neardup_incremental",
    "test_cli_run_maintain_store",
    "test_compact_bounds_files_and_preserves_pairs[minhash]",
    "test_compact_bounds_files_and_preserves_pairs[simhash]",
    "test_compact_crash_after_commit_rolls_forward",
    "test_compact_crash_cannot_strand_stale_tombstones",
    "test_compact_crash_cannot_strand_stale_tombstones[minhash]",
    "test_compact_crash_cannot_strand_stale_tombstones[simhash]",
    "test_compact_ledger_folds_files_and_keeps_resume",
    "test_compact_merges_partials_and_keeps_ledger",
    "test_compact_reduces_files_and_preserves_answers",
    "test_compact_small_files_packs_without_changing_rows",
    "test_compact_small_files_tightens_rowgroup_stats",
    "test_concurrent_table_apply_equals_serial",
    "test_crash_before_ledger_write_replays_and_converges[events_state]",
    "test_crash_before_ledger_write_replays_and_converges[visits]",
    "test_delete_lifecycle_logical_physical_reingest",
    "test_fold_crash_before_marker_leaves_manifest_intact",
    "test_hot_bucket_quarantine_total_occupancy",
    "test_incremental_build_equals_oneshot",
    "test_incremental_fold_equals_one_shot",
    "test_ingest_crash_mid_promotion_converges_without_double_append",
    "test_interrupted_ledger_compaction_recovers_before_next_run",
    "test_legacy_unbucketed_store_migrates_once",
    "test_maintain_stores_covers_the_manifest",
    "test_manifest_makes_store_self_describing",
    "test_mutate_delete_moves_key_across_partitions",
    "test_mutate_touches_only_affected_partitions",
    "test_neardup_crash_mid_promotion_rolls_forward",
    "test_poison_rows_quarantined_not_fatal",
    "test_pq_store_adc_search_recall_and_column_pruning",
    "test_probe_is_read_only_and_equals_one_shot_cross_pairs",
    "test_query_matches_oracle[ann_ivf_deletes]",
    "test_query_matches_oracle[ann_ivf_incremental]",
    "test_query_matches_oracle[ann_recall_suite]",
    "test_query_matches_oracle[corpus_manifest_incremental]",
    "test_query_matches_oracle[dedup_cert_suite]",
    "test_query_matches_oracle[dedup_cluster_incremental]",
    "test_query_matches_oracle[dedup_incr_suite]",
    "test_query_matches_oracle[dedup_index_probe]",
    "test_query_matches_oracle[dedup_minhash_index_deletes]",
    "test_query_matches_oracle[dedup_simhash_incremental]",
    "test_query_matches_oracle[dedup_simhash_index_deletes]",
    "test_query_matches_oracle[sketch_suite]",
    "test_query_matches_oracle[sql_corpus_parity]",
    "test_query_matches_oracle[stream_ivf_ingest]",
    "test_query_matches_oracle[stream_manifest_ingest]",
    "test_query_matches_oracle[stream_neardup_index]",
    "test_query_matches_oracle[stream_simhash_ingest]",
    "test_query_matches_oracle[stream_substring_ingest]",
    "test_query_matches_oracle[text_ranking_suite]",
    "test_refresh_daily_aggregate_touches_only_given_months",
    "test_remove_batch_logical_then_physical",
    "test_replay_short_circuits_via_fingerprint",
    "test_run_once_recovers_interrupted_compaction_and_daily_agg",
    "test_run_session_budget_loop_and_gated_maintenance",
    "test_run_session_maintains_stores_past_census_threshold",
    "test_run_session_poison_does_not_spin",
    "test_run_session_resets_stale_maintenance_report",
    "test_schema_drift_report_and_strict",
    "test_simhash_substring_bm25_compact_buckets",
    "test_sql_corpus_parity_all_identical",
    "test_stale_staging_dirs_do_not_corrupt_next_run",
    "test_streaming_available_now",
    "test_streaming_continuous_processing_time",
    "test_three_batch_accumulation_equals_one_shot",
    "test_torn_commit_marker_is_treated_as_precommit_debris",
    "test_verify_replication_job_count_constant_in_table_count",
    "test_verify_replication_matches_then_flags_corruption",
    "test_verify_replication_surfaces_quarantined_rows_as_divergence",
    "test_windowed_counts_with_watermark",
})


def pytest_collection_modifyitems(config, items):
    for item in items:
        if item.name in SLOW_TESTS:
            item.add_marker(pytest.mark.slow)
