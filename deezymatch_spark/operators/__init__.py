"""Operator layer: blocking, ranking, dedup, clustering, knn, split."""

from .blocking import blocking_keys, candidate_pairs, cap_blocks
from .cc import connected_components
from .star import center_clusters, star_clusters
from .dedup import (
    contaminated_docs,
    decontaminate,
    dedup_keep_best,
    duplicated_sentences,
    embedding_dup_pairs,
    exact_dedup,
    exact_dup_groups,
    minhash_delta_pairs,
    minhash_dup_pairs,
    near_dedup,
    ngram_jaccard,
    semantic_dedup,
    sentence_dedup,
    simhash_dup_pairs,
    substring_dedup,
    substring_dup_spans,
    substring_dup_stats,
    url_dedup,
    url_dup_groups,
    word_ngram_hashes,
)
from .c4 import c4_clean_lines, c4_filter
from .gopher import GOPHER_DEFAULTS, gopher_filter
from .incremental import clusters_at_thresholds, remove_nodes, update_clusters
from .knn import (
    brute_force_topk,
    ivf_topk,
    knn_preflight,
    lsh_topk,
    refine_centroids,
)
from .lm import char_ngram_lm, lm_score
from .profiling import profile_columns, top_values
from .quality_lr import (
    fit_quality_lr,
    score_quality_lr,
    seed_quality_weights,
)
from .packing import (
    chunk_documents,
    materialize_sequences,
    pack_sequences,
    shuffle_sequences,
)
from .fs_linkage import (
    comparison_vectors,
    fs_fit,
    fs_match_weights,
    fs_pattern_counts,
    fs_score,
    fs_tf_adjust,
    seed_fs_params,
    seed_fs_weights,
    term_frequencies,
)
from .metrics import (
    bcubed,
    blocking_quality,
    classification_metrics,
    cluster_diff,
    cluster_graph_stats,
    mean_average_precision,
    pairwise_cluster_metrics,
)
from .comparators import soft_tfidf_pairs, tfidf_cosine_pairs, tfidf_token_weights
from .domains import blocked_domains, domain_filter, host_suffixes, url_host
from .graphrank import pagerank_micro
from .linkage import link_records, mutual_best_matches
from .meta_blocking import meta_block_weights, meta_blocked_pairs
from .ranker import candidate_ranker, validate_ranker_args
from .canopy import canopy_clusters
from .edjoin import edit_distance_join
from .ssjoin import jaccard_join
from .snm import sorted_neighborhood_pairs
from .sessions import session_stats, sessionize
from .survivorship import assign_clusters, golden_records
from .sampling import (
    apply_token_mix,
    hash_sample,
    plan_token_mix,
    sample_bucket,
    stratified_hash_sample,
)
from .split import train_val_test_split

__all__ = [
    "blocking_keys", "candidate_pairs", "cap_blocks",
    "center_clusters",
    "connected_components",
    "star_clusters",
    "embedding_dup_pairs", "exact_dedup", "exact_dup_groups",
    "minhash_delta_pairs", "minhash_dup_pairs", "near_dedup", "ngram_jaccard",
    "dedup_keep_best",
    "hash_sample", "stratified_hash_sample", "sample_bucket",
    "session_stats", "sessionize",
    "apply_token_mix", "plan_token_mix",
    "contaminated_docs", "decontaminate",
    "GOPHER_DEFAULTS", "gopher_filter",
    "c4_clean_lines", "c4_filter",
    "duplicated_sentences", "semantic_dedup", "sentence_dedup", "simhash_dup_pairs",
    "substring_dedup", "substring_dup_spans", "substring_dup_stats",
    "url_dedup", "url_dup_groups", "word_ngram_hashes",
    "clusters_at_thresholds", "remove_nodes", "update_clusters",
    "brute_force_topk", "ivf_topk", "knn_preflight", "lsh_topk",
    "refine_centroids",
    "char_ngram_lm", "lm_score",
    "chunk_documents", "materialize_sequences", "pack_sequences",
    "shuffle_sequences",
    "fit_quality_lr", "score_quality_lr", "seed_quality_weights",
    "bcubed", "blocking_quality", "classification_metrics", "cluster_diff",
    "cluster_graph_stats",
    "mean_average_precision", "pairwise_cluster_metrics",
    "comparison_vectors", "fs_fit", "fs_match_weights", "fs_pattern_counts",
    "fs_score", "fs_tf_adjust", "seed_fs_params", "seed_fs_weights",
    "term_frequencies",
    "meta_block_weights", "meta_blocked_pairs",
    "soft_tfidf_pairs", "tfidf_cosine_pairs", "tfidf_token_weights",
    "blocked_domains", "domain_filter", "host_suffixes", "url_host",
    "link_records",
    "pagerank_micro",
    "profile_columns", "top_values",
    "mutual_best_matches",
    "canopy_clusters",
    "edit_distance_join",
    "jaccard_join",
    "sorted_neighborhood_pairs",
    "candidate_ranker", "validate_ranker_args",
    "assign_clusters", "golden_records",
    "train_val_test_split",
]
