"""Shared fixtures: one SparkSession per test session, sf dirs — plus
the slow-tier marking (see pytest.ini).

The driver's verify runs the DEFAULT ``pytest tests/ -x -q`` under a
bounded budget; round 14's 607-test / 40+ minute suite was truncated at
~92% with zero failures (`VERIFY_r14.json tests_ok: false` — a timeout,
not a red test). The fix (r14 verdict, queue #3) is a fast/slow split:
the tests below — every test measured >= 8 s in a full ``--durations=0``
run (53 tests, ~820 s of the ~1590 s suite call time; multi-minute
replay/e2e/property tests) — are marked ``slow`` at collection and
excluded by the default ``-m "not slow"`` in pytest.ini. Run the slow
tier with ``pytest tests/ -m slow``; everything with
``-m "slow or not slow"``. The builder runs both tiers before
committing; the driver's budget sees the fast tier finish."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECTNESS = "/root/testdata/sf0.01"

# file.py::test_name (parametrized ids share the base name) — measured
# >= 8 s each in the round-15 --durations=0 sweep
_SLOW_TESTS = {
    "test_ann_recall.py::test_multi_table_lsh_recall",
    "test_curation_pipeline.py::test_curation_dsir_final_selection",
    "test_curation_pipeline.py::test_curation_quality_model_gate",
    "test_curation_pipeline.py::test_curate_increment_equals_recompute_on_new_ids",
    "test_curation_pipeline.py::test_incremental_entries_self_defend_against_narrow_input",
    "test_curation_sink.py::test_chunk_compaction_preserves_rows_and_clamps",
    "test_curation_sink.py::test_compaction_clamps_and_survives_replay",
    "test_curation_sink.py::test_compaction_preserves_rebuilt_epoch",
    "test_curation_sink.py::test_compaction_refuses_lost_sidecar",
    "test_curation_sink.py::test_gate_change_rebuild_loop",
    "test_curation_sink.py::test_missing_sidecar_raises_then_rebuilds",
    "test_curation_sink.py::test_quality_gates_in_stream_match_recompute",
    "test_curation_sink.py::test_rebuild_recurates_chunks",
    "test_curation_sink.py::test_replay_last_epoch_idempotent",
    "test_curation_sink.py::test_seq_epochs_match_arrival_order_recompute",
    "test_curation_sink.py::test_streaming_end_to_end_uuid_ids",
    "test_curation_sink.py::test_undersize_guard_held_count_is_index_cardinality",
    "test_curation_sink.py::test_undersized_pin_warns_and_migration_recovers",
    "test_example_demo.py::test_demo_runs_end_to_end",
    "test_example_demo.py::test_streaming_curation_sink_demo_runs_end_to_end",
    "test_export.py::test_manifest_roundtrip_and_tamper_detection",
    "test_ingest_pipeline.py::test_duplicate_message_id_in_one_batch_does_not_fan_out",
    "test_ingest_pipeline.py::test_s3_tre_override_keeps_raw_ref_for_file_operations",
    "test_langid.py::test_char_training_is_replay_exact",
    "test_langid.py::test_curate_corpus_with_langid_is_partitioning_invariant",
    "test_langid.py::test_gate_keep_set_matches_python_replay",
    "test_langid.py::test_incremental_api_honors_langid_gate",
    "test_langid.py::test_langid_gate_plan_is_shuffle_free",
    "test_langid.py::test_max_chars_cap_is_replay_exact_and_prefix_only",
    "test_langid.py::test_mapside_scorer_equals_aggregation_scorer",
    "test_langid.py::test_scoring_matches_python_replay_and_separates",
    "test_langid.py::test_streaming_sink_applies_langid_gate",
    "test_pca.py::test_pca_pq_composition_recall",
    "test_pq.py::test_ivfadc_with_pca_codebook_projects_coarse_tier",
    "test_quality_clf.py::test_classifier_separates",
    "test_quality_clf.py::test_train_is_replay_exact",
    "test_repetition_property.py::test_profile_matches_python_model",
    "test_report.py::test_report_langid_metrics",
    "test_round6_property.py::test_scd2_matches_python_model",
    "test_round7_property.py::test_span_detect_and_cut_match_python_model",
    "test_scalars_property.py::test_scalar_functions_match_reference_models",
    "test_semdedup.py::test_kmeans_driver_and_loop_paths_agree",
    "test_sketches.py::test_sketches_match_python_model_on_adversarial_unicode",
    "test_snapshot.py::test_jsd_property_arbitrary_corpora",
    "test_streaming_full_ingest.py::test_bucket_backup_is_recovered_before_state_read",
    "test_streaming_full_ingest.py::test_full_stream_redelivery_converges",
    "test_streaming_full_ingest.py::test_invalid_messages_land_in_quarantine_not_void",
    "test_streaming_neardup.py::test_cross_trigger_pairs_found",
    "test_streaming_neardup.py::test_streamed_pairs_equal_batch_detector",
    "test_streaming_semdedup.py::test_pca_projected_stream_pins_projection",
    "test_streaming_semdedup.py::test_quantizer_retrain_loop_end_to_end",
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        base = item.name.split("[", 1)[0]
        if f"{item.fspath.basename}::{base}" in _SLOW_TESTS:
            item.add_marker(pytest.mark.slow)


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    os.environ.setdefault("SPARK_GRAFT_SHUFFLE_PARTITIONS", "8")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "6g")
    from ds_caselaw_ingester_spark.session import get_spark

    s = get_spark("tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_correctness_dir():
    return SF_CORRECTNESS


class few_shuffle_partitions:
    """Stateful streaming runs one state-store task per shuffle partition
    per micro-batch; 32 partitions x N triggers dominates test wall time.
    The partition count is baked into each NEW checkpoint, so lowering it
    only affects queries started inside this context. Shared by the
    streaming test modules."""

    def __init__(self, spark, n=4):
        self.spark, self.n = spark, str(n)

    def __enter__(self):
        self.old = self.spark.conf.get("spark.sql.shuffle.partitions")
        self.spark.conf.set("spark.sql.shuffle.partitions", self.n)

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.shuffle.partitions", self.old)
