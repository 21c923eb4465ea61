"""LLM-training-data operators: text analysis, exact + near dedup,
similarity search, multimodal column plumbing.

These extend the reference's relational surface with the operations a
large-scale training-data pipeline needs (the brief's north-star list);
every operator is designed shuffle-conscious: no all-pairs joins without
a blocking/bucketing stage, no driver-side collects, JVM-side
expressions wherever the semantics allow.
"""

from sales_forecast_pyspark_spark.llmdata.cluster import (
    connected_components,
    dedup_clusters,
)
from sales_forecast_pyspark_spark.llmdata.dedup import (
    fingerprint_expr,
    minhash_near_dedup,
    ngram_jaccard_pairs,
    shingles_expr,
)
from sales_forecast_pyspark_spark.llmdata.multimodal import (
    attach_binary,
    decode_dimensions,
    decode_image,
    extract_features,
    fake_decode,
    resize_images,
    sample_frames,
)
from sales_forecast_pyspark_spark.llmdata.dedup_store import (
    append_to_minhash_store,
    build_minhash_store,
    compact_minhash_store,
    minhash_store_stats,
    screen_against_minhash_store,
    should_rescale_bands,
    stream_ingest_dedup,
)
from sales_forecast_pyspark_spark.llmdata.ann_index import (
    append_to_ivfpq_index,
    build_ivfpq_index,
    compact_ivfpq_index,
    ivfpq_index_stats,
    query_ivfpq_index,
    recommend_n_probe,
    screen_against_ivfpq_index,
    should_rebuild,
    stream_append_to_ivfpq_index,
    stream_ingest_semantic_dedup,
)
from sales_forecast_pyspark_spark.llmdata.ingest import (
    append_to_fp_store,
    build_fp_store,
    compact_fp_store,
    screen_against_fp_store,
    stream_ingest_dedup_all,
    triad_consistency_report,
)
from sales_forecast_pyspark_spark.llmdata.similarity import (
    cosine_topk,
    dequantize_embeddings,
    exact_self_similarity_join,
    group_centroids,
    ivf_topk,
    lsh_pairs_topk,
    lsh_similarity_join,
    quantize_embeddings,
)
from sales_forecast_pyspark_spark.llmdata.vectorize import (
    srp_signatures,
    term_tfidf,
    tfidf_near_pairs,
    tfidf_vectors,
)
from sales_forecast_pyspark_spark.llmdata.pack import (
    pack_sequences,
    pack_stats,
)
from sales_forecast_pyspark_spark.llmdata.text import (
    STOPWORD_PATTERN,
    chunk_documents,
    ngrams_expr,
    repetition_stats,
    pii_counts_exprs,
    scrub_pii_expr,
    lang_id_expr,
    quality_exprs,
    text_stats,
    tokens_expr,
)

__all__ = [
    "STOPWORD_PATTERN",
    "attach_binary",
    "append_to_fp_store",
    "append_to_ivfpq_index",
    "append_to_minhash_store",
    "build_fp_store",
    "compact_fp_store",
    "screen_against_fp_store",
    "stream_ingest_dedup_all",
    "triad_consistency_report",
    "build_minhash_store",
    "compact_minhash_store",
    "minhash_store_stats",
    "screen_against_minhash_store",
    "should_rescale_bands",
    "stream_ingest_dedup",
    "build_ivfpq_index",
    "compact_ivfpq_index",
    "ivfpq_index_stats",
    "query_ivfpq_index",
    "recommend_n_probe",
    "screen_against_ivfpq_index",
    "should_rebuild",
    "stream_append_to_ivfpq_index",
    "stream_ingest_semantic_dedup",
    "chunk_documents",
    "connected_components",
    "cosine_topk",
    "dedup_clusters",
    "dequantize_embeddings",
    "quantize_embeddings",
    "decode_dimensions",
    "resize_images",
    "sample_frames",
    "decode_image",
    "extract_features",
    "fake_decode",
    "ivf_topk",
    "exact_self_similarity_join",
    "lsh_pairs_topk",
    "lsh_similarity_join",
    "fingerprint_expr",
    "group_centroids",
    "lang_id_expr",
    "minhash_near_dedup",
    "ngram_jaccard_pairs",
    "ngrams_expr",
    "pack_sequences",
    "pack_stats",
    "pii_counts_exprs",
    "quality_exprs",
    "repetition_stats",
    "scrub_pii_expr",
    "shingles_expr",
    "srp_signatures",
    "term_tfidf",
    "text_stats",
    "tfidf_near_pairs",
    "tfidf_vectors",
    "tokens_expr",
]
