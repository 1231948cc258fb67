from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("DBBSPARK_TEST_SF_DIR", "/root/testdata/sf0.001")

# -m smoke tier (VERDICT r8 item 7): ONE fast representative test per
# operator-family module, so a builder iterating on one operator can
# sanity-check the whole surface in minutes instead of the ~30-minute
# full suite. Registered HERE (not as scattered decorators) so the tier
# stays a single reviewable list; the full suite remains the round
# gate. Excluded by design: the example pipelines (integration
# compositions of families already covered) and the full per-query
# oracle sweep (test_queries::test_query_matches_oracle — that IS the
# slow tier's core; smoke keeps its entry_smoke instead).
SMOKE = {
    "test_aggregates.py": "test_approx_distinct_within_5pct",
    "test_apidoc.py": "test_api_page_is_current",
    "test_aqe_skew.py": "test_salted_join_matches_plain_result",
    "test_audit.py": "test_transitive_overmerge_flagged",
    "test_bloom.py": "test_no_false_negatives",
    "test_bpe.py": "test_word_counts",
    "test_checkpoint_seam.py": "test_unset_reverts_to_local_mode",
    "test_classify.py": "test_scoring_is_map_only",
    "test_cli_quality.py": "test_overlap_cli",
    "test_codecs.py": "test_pgm_roundtrip",
    "test_commit.py": "test_commit_sequence_and_latest",
    "test_curriculum_mixing.py": "test_integer_repeats_exact",
    "test_dedup.py": "test_exact_dedup_keeps_lowest_id",
    "test_dpp.py": "test_dpp_subquery_in_plan",
    "test_driver_contract.py": "test_entry_from_foreign_cwd_hostile_tz",
    "test_executor_chaos.py": (
        "test_stills_gate_survives_executor_sigkill_between_writes"
    ),
    "test_functions.py": "test_ngram_array_short_doc_edges",
    "test_gate_lock_recovery.py": "test_stale_gate_lock_recovery",
    "test_gate_maintenance_race.py": (
        "test_gate_batch_and_removal_mutually_exclude"
    ),
    "test_funnel.py": "test_first_drop_attribution",
    "test_fuzzy.py": "test_matches_brute_force",
    "test_graph.py": "test_matches_dense_power_iteration",
    "test_index_remove.py": "test_remove_empties_partition_and_is_idempotent",
    "test_ingest.py": "test_batch_ingest_routing",
    "test_jdbc.py": "test_jdbc_whole_table",
    "test_jdbc_sink.py": "test_key_validation",
    "test_kmv.py": "test_unsaturated_is_exact",
    "test_layout.py": "test_zorder_key_matches_bit_reference",
    "test_lines.py": "test_matches_counter_oracle",
    "test_lm.py": "test_perplexity_matches_counter_oracle",
    "test_maintenance.py": "test_compact_preserves_rows_and_collapses_files",
    "test_mixing.py": "test_mixture_rates_most_constrained_source_caps_corpus",
    "test_monitor.py": "test_states_partition_universe",
    "test_normalize.py": "test_strip_control",
    "test_operator_equivalence.py": "test_asof_join_matches_pandas_merge_asof",
    "test_packing.py": "test_packing_semantics",
    "test_phash.py": "test_dhash_survives_resize_and_reencode",
    "test_plans.py": "test_equi_join_broadcasts_small_side",
    "test_pq.py": "test_codebook_shape",
    "test_profile.py": "test_profile_values",
    "test_property.py": "test_bpe_encode_lossless_on_random_corpora",
    "test_queries.py": "test_entry_smoke",
    "test_resize.py": "test_nn_resize_reference",
    "test_script.py": "test_dominant_scripts",
    "test_scrub.py": "test_scrub_redacts_and_counts",
    "test_select.py": "test_matches_serial_reference",
    "test_shards.py": "test_assignment_matches_serial_scan",
    "test_similarity.py": "test_ivf_recall_floor",
    "test_sketches.py": "test_sketch_card_matches_exact_counts",
    "test_smoke_tier.py": "test_smoke_registry_names_exist",
    "test_snapshot.py": "test_unsaturated_diff_is_exact",
    "test_spans.py": "test_cross_document_passage_found_and_merged",
    "test_streaming_annindex.py": "test_gate_rejects_cross_batch_and_within_batch_dups",
    "test_streaming_batch.py": "test_session_window_matches_native",
    "test_streaming_linededup.py": "test_gate_within_and_across_batches",
    "test_streaming_mediadedup.py": "test_gate_batch_greedy_keep_lowest_chain",
    "test_streaming_neardedup.py": "test_gate_across_micro_batches",
    "test_streaming_stateful.py": "test_windowed_counts_stream_equals_batch",
    "test_swap_crash.py": "test_remove_from_index_crash_between_renames_heals",
    "test_takedown.py": "test_takedown_composed",
    "test_textcorpus.py": "test_jsonl_corrupt_routing",
    "test_time_edges.py": "test_nite_bucket_matches_python_model",
    "test_timegrid.py": "test_numeric_gaps_filled_with_zero",
    "test_unused_imports.py": "test_no_unused_imports_in_package",
    "test_urls.py": "test_canonicalize_cases",
    "test_video.py": "test_frame_count_and_selective_extract",
    "test_vocab.py": "test_counts_and_df_match_oracle",
    "test_winnow.py": "test_matches_serial_reference",
}


# Driver-budget tier (VERDICT r13 item 6): the full suite runs ~55-65
# minutes on this box — past the verify budget of the external driver,
# whose round-13 pytest signal was truncated at ~30% with zero failures
# shown. The heaviest tests — multi-process race/chaos suites,
# streaming-trigger waits, and sf-heavy sweeps, selected from a
# --durations=0 run at the r14 HEAD — are SKIPPED in the default
# invocation (what the driver runs) and enabled with
# DBBSPARK_FULL_SUITE=1, the builder-side gate run before every round
# close. Entries are module -> set of test names, or ALL for the whole
# module; tests/test_smoke_tier.py fails if an entry goes stale, and
# every skipped module keeps at least its smoke representative running
# by construction (representatives are chosen from the fast tests).
ALL = "*"
SLOW: dict[str, object] = {
    "test_bloom.py": {
        "test_neardedup_streaming_bloom_across_batches",  # 21s
        "test_streaming_gate_with_bloom_across_batches",  # 13s
    },
    "test_bpe.py": {
        "test_batched_equals_sequential_adversarial",  # 42s
        "test_batched_equals_sequential_random",  # 34s
        "test_batched_equals_sequential_on_corpus",  # 20s
    },
    "test_checkpoint_seam.py": {
        "test_reliable_checkpoint_survives_executor_kill",  # 26s
    },
    "test_cli_quality.py": {
        "test_nightly_ops_script_composes_monitor_scrub_profile",  # 328s
        "test_media_dedup_cli_incremental",  # 16s
        "test_curate_funnel_attributes_script_drops",  # 14s
        "test_media_dedup_incremental_refuses_index_lag",  # 12s
    },
    "test_codecs.py": {
        "test_codecs_register_lazily_in_fresh_interpreter",  # 14s
    },
    "test_driver_contract.py": {
        # the external driver RUNS bench.py itself; this in-suite
        # replica is builder-gate material
        "test_bench_runs_and_emits_json",  # 177s
    },
    "test_example.py": {
        "test_ann_gate_ops_example",  # 95s
        "test_curation_pipeline_runs_and_shrinks",  # 78s
        "test_rolling_corpus_example",  # 13s
    },
    "test_example_multimodal.py": {
        "test_multimodal_pipeline_runs",  # 154s
    },
    "test_executor_chaos.py": {
        "test_clip_gate_survives_executor_sigkill_between_writes",  # 59s
    },
    "test_gate_lock_recovery.py": {
        "test_two_process_gate_vs_takedown_race",  # 29s
    },
    "test_gate_maintenance_race.py": {
        "test_threaded_race_no_torn_index_admissions",  # 51s
        "test_text_and_ann_gates_share_the_maintenance_lock",  # 26s
    },
    "test_graph.py": {
        "test_duplicate_edges_count_once",  # 12s
    },
    "test_index_remove.py": {
        "test_ann_gate_delete_from_multi_generation_index",  # 40s
        "test_ann_gate_delete_then_resubmit_accepted",  # 35s
        "test_bounded_state_through_delete_compact_cycles",  # 31s
        "test_clip_gate_delete_then_resubmit_accepted",  # 16s
        "test_media_gate_delete_then_resubmit_accepted",  # 13s
        "test_remove_composes_with_compacted_index",  # 13s
        "test_neardedup_delete_then_resubmit_accepted",  # 11s
    },
    "test_phash.py": {
        "test_ahash_and_color_and_cross_format",  # 23s
    },
    "test_pq.py": {
        "test_ivfpq_scores_match_explicit_reconstruction",  # 29s
        "test_adc_recall_and_rerank_monotone",  # 11s
        "test_ivfpq_encode_partition_invariant",  # 11s
    },
    "test_property.py": {
        "test_hamming_ball_stats_matches_brute_on_random_hashes",  # 16s
        "test_verify_archive_frames_matches_reference_on_random_faults",  # 15s
        "test_hamming_incremental_equals_full_on_random_hashes",  # 11s
        "test_epoch_repeats_count_bounds_property",  # 10s
    },
    "test_sketches.py": {
        "test_gate_sketch_telemetry_incremental_and_retry_idempotent",  # 12s
    },
    "test_streaming_annindex.py": {
        "test_lazy_rekey_scores_mixed_generations_and_converges",  # 89s
        "test_rekey_stale_partitions_bounded_and_idempotent",  # 56s
        "test_restart_after_retrain_uses_persisted_quantizer",  # 48s
        "test_drift_triggered_retrain_and_rebuild",  # 33s
        "test_restart_heals_crash_between_quantizer_save_and_rebuild",  # 28s
        "test_retry_is_idempotent",  # 20s
        "test_drift_gate_refuses_bootstrap_over_stamped_index",  # 19s
        "test_gen_column_survives_mixed_schema_index",  # 18s
        "test_quantizer_drift_detection",  # 17s
        "test_multi_gen_scoring_refuses_missing_generation",  # 11s
    },
    "test_streaming_linededup.py": {
        "test_soak_state_stays_bounded",  # 25s
    },
    "test_streaming_mediadedup.py": {
        "test_undecodable_accepted_and_not_indexed",  # 19s
        "test_stream_equals_batch_caller",  # 16s
        "test_clip_gate_degenerate_policy",  # 14s
        "test_gate_across_micro_batches",  # 12s
        "test_clip_gate_policy_keeps_live_path_verdicts",  # 12s
    },
    "test_streaming_neardedup.py": {
        "test_index_compaction_preserves_gate",  # 16s
        "test_bloom_enabled_mid_stream_covers_prior_corpus",  # 14s
        "test_retry_is_idempotent",  # 12s
    },
    "test_swap_crash.py": {
        "test_takedown_archive_crash_between_renames_heals",  # 11s
    },
    "test_takedown.py": {
        "test_takedown_partial_crash_heals",  # 25s
    },
}


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "smoke: fast tier — one representative test per operator family "
        "(run with `pytest -m smoke`; full suite remains the gate)",
    )
    config.addinivalue_line(
        "markers",
        "slow: driver-budget tier — skipped unless DBBSPARK_FULL_SUITE=1 "
        "(the builder-side full gate)",
    )


def pytest_collection_modifyitems(config, items):
    full = bool(os.environ.get("DBBSPARK_FULL_SUITE"))
    skip_slow = pytest.mark.skip(
        reason="slow tier: set DBBSPARK_FULL_SUITE=1 (builder full gate)"
    )
    for item in items:
        name = getattr(item, "originalname", None) or item.name
        fname = os.path.basename(str(item.fspath))
        if SMOKE.get(fname) == name:
            item.add_marker(pytest.mark.smoke)
        slow_spec = SLOW.get(fname)
        if slow_spec is not None and (
            slow_spec == ALL or name in slow_spec
        ):
            item.add_marker(pytest.mark.slow)
            if not full:
                item.add_marker(skip_slow)


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    from dbbspark.session import STATIC_CONFS, apply_runtime_confs

    import tempfile

    builder = (
        SparkSession.builder.master("local[4]")
        .appName("dbbspark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.warehouse.dir", tempfile.mkdtemp(prefix="dbbspark-wh-"))
        # one JVM hosts the whole 500+-test suite: localCheckpoint
        # blocks, broadcasts, and codegen compilation accumulate for
        # ~30 min — the default 1g driver heap OOM'd once (r7, a
        # block-manager cleanup thread died mid-suite). 4g + a tighter
        # ContextCleaner GC cadence keeps reclamation ahead of growth.
        .config("spark.driver.memory", "4g")
        .config("spark.cleaner.periodicGC.interval", "5min")
    )
    for k, v in STATIC_CONFS.items():
        builder = builder.config(k, v)
    s = builder.getOrCreate()
    apply_runtime_confs(s)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck(sf_dir):
    from dbbspark.verify import duckdb_connect

    con = duckdb_connect(sf_dir)
    yield con
    con.close()
