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
    extract_features,
    sample_frames,
)
from sales_forecast_pyspark_spark.llmdata.dedup_store import (
    append_to_minhash_store,
    build_minhash_store,
    compact_minhash_store,
    minhash_store_stats,
    screen_against_minhash_store,
    should_rescale_bands,
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
    group_centroids,
    lsh_similarity_join,
)
from sales_forecast_pyspark_spark.llmdata.vectorize import term_tfidf
from sales_forecast_pyspark_spark.llmdata.text import (
    chunk_documents,
    pii_counts_exprs,
    scrub_pii_expr,
    text_stats,
    tokens_expr,
)

__all__ = [
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
    "build_ivfpq_index",
    "compact_ivfpq_index",
    "ivfpq_index_stats",
    "query_ivfpq_index",
    "recommend_n_probe",
    "screen_against_ivfpq_index",
    "should_rebuild",
    "chunk_documents",
    "connected_components",
    "cosine_topk",
    "dedup_clusters",
    "sample_frames",
    "extract_features",
    "lsh_similarity_join",
    "fingerprint_expr",
    "group_centroids",
    "minhash_near_dedup",
    "ngram_jaccard_pairs",
    "pii_counts_exprs",
    "scrub_pii_expr",
    "shingles_expr",
    "term_tfidf",
    "text_stats",
    "tokens_expr",
]
