"""Parallelism stability: the same query must return IDENTICAL rows
under different shuffle-partition counts — the property that makes the
oracle hashes meaningful on a cluster whose partitioning the engine
does not control, and the cheapest proxy for "no partitioning-dependent
logic leaked into the semantics".
"""

from __future__ import annotations

import os

import pytest

from oracle_vector_search_spark.queries import REGISTRY, load_all_modules
from oracle_vector_search_spark.queries.pipeline_queries import _REF_CROPS

load_all_modules()

# the reference-crop queries read the reference's shipped crops
_needs_reference = pytest.mark.skipif(
    not os.path.isdir(_REF_CROPS), reason="reference data not present"
)

STABILITY_QUERIES = [
    "knn_label_propagation",
    "copurchase_bfs_hops",
    "psi_value_drift",
    "dbscan_embedding_clusters",
    "kcore_embedding_graph",
    "vocab_coverage_curve",
    "sprt_ab_sequential_test",
    "class_balanced_sample",
    "embedding_components_single_linkage",
    "hits_event_transitions",
    "graph_degree_assortativity",
    "local_clustering_coefficients",
    "item_cf_similar_parts_top3",
    "kaplan_meier_user_survival",
    "als_rank1_user_step",
    "split_conformal_intervals",
    "did_estimator",
    "mann_whitney_u_test",
    "spearman_value_time_corr",
    "session_hot_hour_overlap",
    "doc_readability_scores",
    "association_rules_pairs",
    "lang_id_confusion_matrix",
    "zipf_slope_fit",
    "kcenter_coreset_seeds",
    "binary_quantization_recall",
    "graph_edges_incremental_merge",
    "prf_rocchio_requery",
    "graph_ann_greedy_walk_recall",
    "qq_deciles_by_arm",
    "two_pass_exact_median",
    "join_size_estimate_audit",
    "ab_power_analysis",
    "streaming_psi_drift_monitor",
    "dedup_soft_sample_weights",
    "ann_recall_vs_exact_clustered",
    "audio_wav_feature_parity",
    "wordpiece_greedy_tokenize_top30",
    pytest.param("reference_crops_pixel_chain_profile", marks=_needs_reference),
    "video_mjpeg_frame_parity",
    "audio_vad_silence_segments",
    "image_dhash_dup_groups",
    "streaming_audio_vad_admission",
    "l_diversity_audit",
    "dp_noisy_counts_deterministic",
    "mutual_information_features",
    pytest.param("reference_crops_clahe_chain_profile", marks=_needs_reference),
    "video_keyframe_knn",
    "preference_pairs_dpo",
    "bradley_terry_mm_step",
    "preference_agreement_kappa",
    "reward_calibration_ece",
    "best_of_n_selection_lift",
    "unigram_viterbi_tokenize_top30",
    "image_png_decode_parity",
    "streaming_preference_bt_stats",
    "domain_mixture_mw_step",
    "truncation_loss_audit",
    "qdigest_quantile_audit",
    "sft_turn_alternation_audit",
    "sft_loss_mask_accounting",
    "pass_at_k_per_task",
    "grpo_group_advantage",
    "streaming_pass_at_k_stats",
    "epoch_capped_token_allocation",
    "bleu2_pair_eval",
    "preference_length_bias_audit",
    "bpe_apply_ranked_merges_top30",
    "suffix_array_repeated_substrings",
    "unigram_em_prune_step",
    "wordpiece_merge_gain_top20",
    "pca_top_eigenvector",
    "sql_udf_knn_top3",
    "udtf_token_windows",
    "doc_ngram_novelty",
]


def _rows(spark, sf_dir, name):
    df = REGISTRY[name][0](spark, sf_dir)
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("name", STABILITY_QUERIES)
def test_shuffle_partition_invariance(spark, sf_dir, name):
    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        a = _rows(spark, sf_dir, name)
        spark.conf.set("spark.sql.shuffle.partitions", "17")
        b = _rows(spark, sf_dir, name)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert a == b, f"{name} rows differ across partition counts"
