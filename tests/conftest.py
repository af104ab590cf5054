from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mapreduce_stockheadlines_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", master="local[4]", shuffle_partitions=4)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def assert_column_nondegenerate(df, col: str, context: str = "") -> None:
    """Promotion guard (the round-7 x17 ``same_bucket_t2`` lesson): a
    newly-registry-pinned flag/tag column must take at least TWO distinct
    values at the SF it is checked at — a constant column hash-matches
    trivially and pins nothing. Use in the promotion commit's test, at
    the largest SF where the value actually varies (and document that SF
    if it is not the default test SF)."""
    vals = {r[0] for r in df.select(col).distinct().limit(3).collect()}
    assert len(vals) >= 2, (
        f"promoted column {col!r} is degenerate ({vals}) {context}: "
        "it would hash-match even if the operator were broken"
    )


def _staged_grams(df, id_col: str, text_col: str, k: int):
    """(id, _wg): the winnow gram array through bound columns (norm ->
    chars -> grams), the staging x08 uses."""
    from pyspark.sql import functions as F

    from mapreduce_stockheadlines_spark.operators import textstats as TS

    return (
        df.select(
            F.col(id_col).alias("id"),
            TS._winnow_norm(F.col(text_col)).alias("_wn"),
        )
        .select("id", TS.winnow_char_col("_wn").alias("_wc"))
        .select("id", TS.winnow_gram_from_chars("_wc", k).alias("_wg"))
    )


def winnow_summary(df, id_col: str, text_col: str, k: int = 5, w: int = 4):
    """(id, n_winnow, winnow_fp8) from the staged winnow column
    builders, wired as x08 wires them."""
    from mapreduce_stockheadlines_spark.operators import textstats as TS

    return (
        _staged_grams(df, id_col, text_col, k)
        .select("id", TS.winnow_sel_col("_wg", w).alias("_ws"))
        .select("id", *TS.winnow_cols_from("_ws"))
    )


def cdc_summary(df, id_col: str, text_col: str, k: int = 5,
                divisor: int = 64, rem: int = 0, min_size: int = 16):
    """(id, n_cdc_chunks, cdc_fp8) from the staged CDC column builders
    (one greedy cut walk per row), wired as x08 wires them."""
    from mapreduce_stockheadlines_spark.operators import packing as PK

    return (
        _staged_grams(df, id_col, text_col, k)
        .select(
            "id", PK.cdc_cuts_col("_wg", divisor, rem, min_size).alias("_cuts")
        )
        .select("id", *PK.cdc_cols_from("_cuts"))
    )


# ---------------------------------------------------------------------------
# Slow-test split (round 13 — VERDICT r12 #1): the full suite outgrew the
# driver's verification window (611 tests, ~40 min on this box; the r12
# driver artifact cut off at 58% with zero failures, leaving test status
# unadjudicable). Tests measured >= 5 s in the full-run duration profile
# (/tmp-captured pytest --durations=0, 2026-08-18, 32-core box under light
# load) are marked `slow` HERE, centrally, and excluded from the default
# run by pytest.ini's `addopts = -m "not slow"` so the default gate
# finishes in ~10-14 min. Nothing is deleted:
#
#   python -m pytest tests/ -m slow          # the heavy half (~27 min)
#   python -m pytest tests/ -m ""            # everything (the old default)
#
# The excluded set skews to end-to-end pipeline/CLI runs, DuckDB-unrolled
# property pins and trainer invariance sweeps whose OPERATOR results the
# driver's own oracle gate re-verifies on every round (50 queries x 2 SFs);
# unit-level contract pins stay in the default run. Keep this list sorted;
# when adding a test that runs >= ~4 s, add it here in the same commit.
# ---------------------------------------------------------------------------
SLOW_TESTS = frozenset((
    "test_asof_join_matches_pandas_merge_asof",  # 6.8s
    "test_cdc_chunk_dedup_invariants",  # 17.9s
    "test_cdc_chunk_dedup_matches_duckdb",  # 6.9s
    "test_cdc_oracle_overflow_guard_fires",  # 34.8s
    "test_curate_blocklist_and_boilerplate_stages",  # 13.1s
    "test_curate_bpe_encode_and_pack_by_piece_count",  # 9.0s
    "test_curate_cdc_chunk_dedup_stage",  # 5.8s
    "test_curate_cdc_chunking_stage",  # 11.4s
    "test_curate_chunk_paragraphs_mode",  # 6.0s
    "test_curate_chunk_sentences_stage",  # 5.8s
    "test_curate_cli_dsir",  # 9.7s
    "test_curate_cli_mix_alpha",  # 16.5s
    "test_curate_dup_window_gate",  # 6.7s
    "test_curate_encode_and_pack_by_encoded_length",  # 5.7s
    "test_curate_end_to_end_content_pin",  # 75.5s
    "test_curate_fix_mojibake_stage",  # 8.3s
    "test_curate_gopher_and_c4_gates",  # 8.8s
    "test_curate_invariants",  # 6.4s
    "test_curate_max_per_domain_gate",  # 7.8s
    "test_curate_model_quality_gates",  # 7.2s
    "test_curate_moore_lewis_gate",  # 10.1s
    "test_curate_neardup_keep_best_policy",  # 11.9s
    "test_curate_remove_dup_spans_stage",  # 5.8s
    "test_curate_token_budget_gate",  # 11.5s
    "test_curate_unicode_normalization_stage",  # 7.8s
    "test_curate_unigram_encode_stage",  # 9.3s
    "test_curate_winnow_ml_gate_stack_oracle",  # 64.5s
    "test_curate_winnow_neardup_stage",  # 9.6s
    "test_curate_with_packing",  # 10.4s
    "test_curate_with_quantile_gate_and_chunking",  # 9.2s
    "test_curate_wordpiece_encode_stage",  # 9.9s
    "test_curate_wordpiece_frozen_vocab_matches_self_trained",  # 13.7s
    "test_dedup_by_pairs_keep_by_policy",  # 10.6s
    "test_embed_pipeline_build_and_search",  # 5.4s
    "test_embed_pipeline_ivfpq_cli",  # 5.4s
    "test_embed_pipeline_opq_build_search_eval",  # 29.2s
    "test_hits_matches_numpy_reference",  # 6.1s
    "test_hits_single_edge_fixed_point_and_quantized_invariance",  # 15.2s
    "test_ivfpq_deterministic_across_partitionings",  # 11.7s
    "test_ivfpq_exact_on_duplicate_vector_clusters",  # 5.2s
    "test_ivfpq_trains_residual_codebooks_and_recalls",  # 7.4s
    "test_kmeans_family_ignores_null_embeddings",  # 5.7s
    "test_kmeans_quantized_partitioning_invariant",  # 6.0s
    "test_lm_perplexity_recomputed_in_python",  # 12.6s
    "test_lsh_bucketed_block_decomposition_is_invisible",  # 6.4s
    "test_neardup_clusters_end_to_end_lsh",  # 19.2s
    "test_neardup_clusters_equal_union_find",  # 16.7s
    "test_opq_alternation_nonincreasing_and_partition_invariant",  # 24.3s
    "test_opq_rotation_orthonormal_and_beats_plain_pq",  # 8.0s
    "test_packing_is_partitioning_invariant",  # 7.8s
    "test_pagerank_matches_numpy_reference",  # 8.2s
    "test_pagerank_parallel_edges_and_validation",  # 6.8s
    "test_pagerank_quantized_is_partitioning_invariant",  # 52.2s
    "test_pca_components_orthonormal_and_projection_centered",  # 6.1s
    "test_pipeline_cli_bpe_artifact_round_trip",  # 7.6s
    "test_pipeline_cli_curriculum",  # 5.3s
    "test_pipeline_cli_decontaminate",  # 10.8s
    "test_pipeline_cli_epoch_weights",  # 8.8s
    "test_pipeline_cli_shuffle_plus_sized_output_preserves_order",  # 7.1s
    "test_pipeline_cli_split",  # 17.9s
    "test_pipeline_cli_unigram_artifact_round_trip",  # 15.8s
    "test_pipeline_cli_warc_dedup_urls",  # 48.3s
    "test_pipeline_cli_warc_input",  # 10.3s
    "test_pipeline_warc_end_to_end_matches_parquet_path",  # 57.9s
    "test_plan_guard_passes_shipped_queries",  # 60.2s
    "test_plans_md_regenerated_at_head",  # 115.5s
    "test_ppl_buckets_no_single_partition_and_x28_nondegenerate",  # 14.2s
    "test_pq_train_deterministic_across_partitionings",  # 7.0s
    "test_precomputed_tf_census_equivalence",  # 12.3s
    "test_query_matches_oracle[x04_minhash_lsh_pairs]",  # 8.1s
    "test_query_matches_oracle[x05_simhash_neardup]",  # 7.5s
    "test_query_matches_oracle[x08_text_stats]",  # 35.4s
    "test_query_matches_oracle[x16_approx_aggregates]",  # 5.4s
    "test_query_matches_oracle[x18_ivf_topk]",  # 5.9s
    "test_query_matches_oracle[x25_line_dedup]",  # 20.9s
    "test_query_matches_oracle[x27_quantize_embeddings]",  # 8.5s
    "test_query_matches_oracle[x28_lm_perplexity]",  # 7.0s
    "test_query_matches_oracle[x33_train_classifier]",  # 5.2s
    "test_rank_is_permutation",  # 10.5s
    "test_remove_dup_windows_matches_brute_force",  # 10.3s
    "test_report_cli_save_census",  # 7.1s
    "test_report_tokenizer_fertility_rows",  # 29.1s
    "test_report_tokenizer_metrics_rejects_zero",  # 5.3s
    "test_round8_promoted_columns_nondegenerate",  # 6.7s
    "test_running_sum_telescopes",  # 6.7s
    "test_semi_and_anti_partition_the_input",  # 21.6s
    "test_simhash_neardup_banding",  # 14.0s
    "test_stopword_removal_only_removes_stopwords",  # 5.3s
    "test_token_budget_filter",  # 7.2s
    "test_token_divergence_identical_and_disjoint",  # 7.2s
    "test_train_classifier_cli_roundtrip",  # 6.7s
    "test_train_classifier_matches_reference_and_learns",  # 35.8s
    "test_train_matches_naive_reference",  # 9.8s
    "test_warc_to_curate_end_to_end",  # 17.3s
    "test_x08_gopher_c4_columns_nondegenerate",  # 11.0s
    "test_x13_audio_columns_nondegenerate",  # 6.7s
    "test_x18_rrf_columns_nondegenerate",  # 5.4s
    "test_x27_mrl_columns_nondegenerate_and_rank_consistent",  # 8.4s
    "test_x27_opq_moment_columns_nondegenerate",  # 7.7s
    "test_x27_opq_serving_columns_nondegenerate_and_rotated",  # 7.0s
    "test_x27_pq_columns_nondegenerate",  # 12.8s
    "test_x28_kn_columns_nondegenerate_and_distinct_from_addk",  # 6.4s
    "test_x28_moore_lewis_column_nondegenerate",  # 5.0s
    "test_x28_unigram_columns_nondegenerate",  # 6.2s
    "test_x28_wp_columns_nondegenerate_and_distinct_from_bpe",  # 5.8s
))


def pytest_collection_modifyitems(config, items):
    for item in items:
        if item.name in SLOW_TESTS:
            item.add_marker(pytest.mark.slow)
