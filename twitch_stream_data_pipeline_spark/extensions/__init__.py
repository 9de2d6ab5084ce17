"""Large-scale training-data pipeline operators (SURVEY.md §2.9).

These extend the reference's surface with the operations a 100 TB
text/embedding corpus pipeline needs: deduplication (exact and
near-dup), similarity search over embeddings, text analysis, and
multimodal column plumbing. Most operators are built-in column
expressions (JVM-side, codegen). Python runs over Arrow or pandas
batches where a batched numpy kernel beats interpreted higher-order
functions, or where the member exists to pin a UDF tier: the
similarity scorers and index paths (``cosine_knn``, ``ivf_knn``, the
IVF and IVF+PQ layouts), ``semantic_dedup``, ``embedding_covariance``,
``pca_project``, ``norms_map_in_arrow``, k-means assignment,
``bpe_segment`` and the multimodal decoders.
"""

from .text_analysis import (
    boilerplate_ratio,
    bpe_token_count,
    language_id,
    pii_scrub,
    repetition_stats,
    text_fingerprint,
    text_quality,
    tfidf_top_terms,
    tokenize,
    token_count,
    bigram_logprob,
    unigram_logprob,
)
from .dedup_text import (
    append_to_lsh_index,
    band_keys,
    build_lsh_index,
    dedup_ingest,
    duplicate_span_stats,
    lsh_index_probe,
    near_dup_verify,
    canonical_dedup,
    winnow_fingerprints,
    winnow_near_dup_pairs,
    decontaminate,
    exact_dedup_groups,
    minhash_signatures,
    lsh_candidate_pairs,
    ngram_jaccard_pairs,
    simhash64,
    simhash_near_dup_pairs,
)
from .bpe import bpe_segment, bpe_train, word_frequencies
from .classify import nb_evaluate, nb_predict, nb_train
from .clustering import (
    assign_with_model,
    build_kmeans_model,
    cluster_balanced_sample,
    kmeans_embeddings,
)
from .graph import connected_components, count_triangles, pagerank
from .sampling import (
    budget_select,
    ntile_scalable,
    chunk_documents,
    mixture_sample,
    pack_sequences,
    global_row_index,
    split_assign,
    stratified_sample,
    temperature_sample,
    weighted_sample,
)
from .similarity import (
    append_to_ivf_index,
    append_to_ivfpq_index,
    build_ivfpq_index,
    ivfpq_index_knn,
    embedding_ingest,
    build_ivf_index,
    cosine_knn,
    embedding_covariance,
    ivf_index_knn,
    group_outlier_scores_scalable,
    ivf_knn,
    norms_map_in_arrow,
    pca_project,
    quantized_embedding,
    semantic_dedup,
)

from .multimodal import pool_features

__all__ = [
    "append_to_ivf_index",
    "append_to_lsh_index",
    "append_to_ivfpq_index",
    "build_ivfpq_index",
    "ivfpq_index_knn",
    "band_keys",
    "bpe_segment",
    "bpe_train",
    "word_frequencies",
    "build_lsh_index",
    "count_triangles",
    "pagerank",
    "kmeans_embeddings",
    "cluster_balanced_sample",
    "build_kmeans_model",
    "assign_with_model",
    "dedup_ingest",
    "embedding_ingest",
    "lsh_index_probe",
    "ntile_scalable",
    "bigram_logprob",
    "boilerplate_ratio",
    "bpe_token_count",
    "build_ivf_index",
    "ivf_index_knn",
    "pool_features",
    "winnow_fingerprints",
    "winnow_near_dup_pairs",
    "budget_select",
    "canonical_dedup",
    "chunk_documents",
    "connected_components",
    "cosine_knn",
    "embedding_covariance",
    "decontaminate",
    "duplicate_span_stats",
    "exact_dedup_groups",
    "global_row_index",
    "group_outlier_scores_scalable",
    "ivf_knn",
    "language_id",
    "lsh_candidate_pairs",
    "minhash_signatures",
    "mixture_sample",
    "near_dup_verify",
    "norms_map_in_arrow",
    "nb_evaluate",
    "nb_predict",
    "nb_train",
    "ngram_jaccard_pairs",
    "pack_sequences",
    "pca_project",
    "pii_scrub",
    "quantized_embedding",
    "repetition_stats",
    "semantic_dedup",
    "simhash64",
    "simhash_near_dup_pairs",
    "split_assign",
    "stratified_sample",
    "temperature_sample",
    "text_fingerprint",
    "text_quality",
    "tfidf_top_terms",
    "tokenize",
    "token_count",
    "unigram_logprob",
    "weighted_sample",
]
