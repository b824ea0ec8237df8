"""Large-scale training-data pipeline operators (beyond reference parity).

The reference (sidequery/yardstick) has no counterpart for these — they
are greenfield Spark-first designs for the 100 TB data-pipeline use case:
deduplication (exact / minhash-LSH / simhash / n-gram Jaccard),
similarity search over embeddings, text analysis (language id, quality,
tokens, fingerprints), and multimodal binary-column plumbing.

CACHE LIFECYCLE — read this if your session is long-lived.  Several
operators here register `cache()` / `localCheckpoint()` barriers
(candidate tables, curated sets, signature batches) so one logical
pass isn't recomputed per consumer.  Those barriers live until
explicitly released: call `clear_dedup_caches()` between pipeline
runs (bench.py does; a notebook or service should too), or the
persisted-RDD set grows with every run.  Results already materialized
stay valid after clearing; unmaterialized lazy results recompute
(correct, just slower).  `tests/test_text_ops.py::
test_pipeline_caches_do_not_accumulate` pins the contract.
"""

from .cluster import (  # noqa: F401
    connected_components,
    dedup_assign,
    dedup_keep_best,
    dedup_source_matrix,
    dedup_survivorship,
)
from .dedup import (  # noqa: F401
    clear_dedup_caches,
    exact_dedup,
    incremental_minhash_pairs,
    incremental_pairs_against_store,
    load_dedup_signatures,
    save_dedup_signatures,
    minhash_signatures,
    minhash_estimate_eval,
    minhash_lsh_pairs,
    ngram_containment_pairs,
    ngram_jaccard_pairs,
    remove_duplicate_lines,
    remove_duplicate_lines_incremental,
    save_line_frequencies,
    update_line_frequencies,
    simhash64,
    simhash_pairs,
)
from .fuzzy import (  # noqa: F401
    blocking_keys,
    fuzzy_cluster_edges,
    fuzzy_dedup_pairs,
)
from .multimodal import (  # noqa: F401
    attach_media_column,
    decode_media,
    frame_sample,
    media_stats,
    parse_jpeg,
    parse_png,
    parse_ppm,
    parse_wav,
    audio_fingerprint,
    phash64,
    phash_pairs,
    resize_media,
    scene_cuts,
    synth_video,
    synth_gradient_media,
    synth_jpeg_media,
    synth_png_media,
    synth_square_wav,
    synth_textured_media,
    synth_media,
    write_jpeg,
    write_png,
    write_ppm,
    write_wav,
)
from .ivf import (  # noqa: F401
    assign_cells_boundary, build_ivf_index, ivf_knn, ivf_knn_seeded,
    ivf_query_index, load_ivf_index, save_ivf_index, seed_centroids,
    semantic_pairs_against_index,
)
from .retrieval import (  # noqa: F401
    bm25_scores,
    bm25_search_index,
    bm25_sql,
    hybrid_search,
    retrieval_eval,
    rrf_fuse,
    save_bm25_index,
    tokenize_for_bm25,
    update_bm25_index,
)
from .similarity import (  # noqa: F401
    brute_force_knn,
    embedding_dedup_pairs,
    knn_lsh_from_index,
    lsh_bucketed_knn,
    save_lsh_index,
    lsh_probe_buckets_expr,
    margin_pairs,
    semantic_decontaminate,
    semantic_dedup_pairs,
    semantic_dedup_verdicts,
)
from .mining import (  # noqa: F401
    embedding_outliers,
    hard_negatives,
    label_medoids,
    label_prototypes,
    mmr_rerank,
    mmr_sql,
)
from .pq import (  # noqa: F401
    pq_codebook,
    pq_encode,
    pq_knn,
)
from .pca import (  # noqa: F401
    covariance_matrix,
    jl_project,
    pca_components,
    pca_project,
)
from .kmeans import (  # noqa: F401
    cluster_balanced_sample,
    kmeans_assign,
)
from .quantize import (  # noqa: F401
    dequantize_expr,
    quantization_params,
    quantize_embeddings,
    quantize_expr,
    quantized_knn,
)
from .pipeline import (  # noqa: F401
    curate_corpus,
    curate_corpus_full,
    curation_report,
    prepare_embedding_corpus,
)
from .text import (  # noqa: F401
    bigram_logprob,
    char_entropy,
    chunk_documents,
    corpus_report,
    decontaminate,
    decontaminate_bloom,
    doc_fingerprint,
    dsir_bucket_logratios,
    dsir_sample,
    dsir_score_with_store,
    dsir_weights,
    save_dsir_store,
    update_dsir_store,
    duplicated_spans,
    fingerprint_overlap_pairs,
    gopher_filter,
    language_id,
    pack_sequences,
    pii_redact,
    quality_score,
    repetition_stats,
    mojibake_score,
    ngram_counts,
    sample_mixture,
    sample_weighted,
    shard_assign,
    shard_manifest,
    source_quota,
    leakage_safe_split,
    split_corpus,
    split_leakage,
    token_budget_select,
    stratified_sample,
    temperature_mixture_weights,
    tfidf_terms,
    token_stats,
    top_terms,
    unigram_logprob,
    vocab_coverage,
    write_training_shards,
    zipf_fit,
)
