"""Driver contract for the spark-graft builder (PySpark target).

``entry()`` is the flagship query, ``queries()`` maps every declared query
name to its builder and ``oracle_sql()`` maps each value-checked query to
the DuckDB SQL that recomputes it from the same parquet tables.  Builders
and oracles live side by side in ``bigvectorbench_spark.queries``, one
module per query family; a query without an oracle gets the driver's
rows-only check.

Float-determinism conventions shared by both sides:
- distance sums fold left-to-right in double precision and outputs are
  rounded to 4-6 decimals;
- relational aggregates accumulate in DECIMAL (exact, order-independent)
  and cast to DOUBLE after rounding;
- ties in top-k are broken by ascending id (FIXTURES.md rule).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from bigvectorbench_spark.queries import (
    ann, dedup, dense, hybrid, metrics, mixing, relational, sparse, temporal,
    text)

SF_SMOKE = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: exact batch kNN on sf0.001 embeddings."""
    return dense.q_knn_euclid(spark, SF_SMOKE)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # The driver's correctness gate checks the first 50 queries in this
    # order each round; rotating the order covers every oracled query.
    return {
        "sketch_bounds": relational.q_sketch_bounds,
        "sparse_knn": sparse.q_sparse_knn,
        "sparse_filter_knn": sparse.q_sparse_filter_knn,
        "sparse_filter_adaptive": sparse.q_sparse_filter_adaptive,
        "sparse_prune_recall": sparse.q_sparse_prune_recall,
        "sparse_quantile_recall": sparse.q_sparse_quantile_recall,
        "sparse_delta_parity": sparse.q_sparse_delta_parity,
        "hybrid_sparse_rrf": hybrid.q_hybrid_sparse_rrf,
        "hybrid_sparse_scale": hybrid.q_hybrid_sparse_scale,
        "hybrid_rrf_scale": hybrid.q_hybrid_rrf_scale,
        "dedup_components": dedup.q_dedup_components,
        "corpus_curation": dedup.q_corpus_curation,
        "video_features": text.q_video_features,
        "pack_blocks": mixing.q_pack_blocks,
        "block_manifest": mixing.q_block_manifest,
        "llm_data_mix": mixing.q_llm_data_mix,
        "temperature_sample": mixing.q_temperature_sample,
        "ccnet_bins": text.q_ccnet_bins,
        "doc_chunks": mixing.q_doc_chunks,
        "training_shards": mixing.q_training_shards,
        "epoch_mix": mixing.q_epoch_mix,
        "mix_shards": mixing.q_mix_shards,
        "hashed_embed_knn": hybrid.q_hashed_embed_knn,
        "revenue_running": relational.q_revenue_running,
        "sessionize": temporal.q_sessionize,
        "clicks_before_purchase": temporal.q_clicks_before_purchase,
        "qps_by_type": metrics.q_qps_by_type,
        "pareto_frontier": metrics.q_pareto_frontier,
        "interval_clicks": temporal.q_interval_clicks,
        "best_search_time": metrics.q_best_search_time,
        "train_test_split": metrics.q_train_test_split,
        "customers_semi_returns": relational.q_customers_semi_returns,
        "customers_anti_urgent": relational.q_customers_anti_urgent,
        "lang_pivot": relational.q_lang_pivot,
        "peak_events": temporal.q_peak_events,
        "top_revenue_orders": relational.q_top_revenue_orders,
        "mmr_rerank": hybrid.q_mmr_rerank,
        "bq_knn": ann.q_bq_knn,
        "bq_recall": ann.q_bq_recall,
        "opq_knn": ann.q_opq_knn,
        "opq_recall": ann.q_opq_recall,
        "ivf_delta_report": ann.q_ivf_delta_report,
        "retrieval_eval": sparse.q_retrieval_eval,
        "quality_classifier": text.q_quality_classifier,
        "filter_knn_2label": dense.q_filter_knn_2label,
        "iud_final_state": temporal.q_iud_final_state,
        "knn_euclid": dense.q_knn_euclid,
        "knn_euclid_gemm": dense.q_knn_euclid_gemm,
        "knn_hamming_packed": dense.q_knn_hamming_packed,
        "knn_jaccard": dense.q_knn_jaccard,
        "mv_scale": dense.q_mv_scale,
        "mv_scale_parity": dense.q_mv_scale_parity,
        "hnsw_delta_report": ann.q_hnsw_delta_report,
        "hybrid_rrf_topk": hybrid.q_hybrid_rrf_topk,
        "hybrid_rrf_parity": hybrid.q_hybrid_rrf_parity,
        "mmr_scale": hybrid.q_mmr_scale,
        "sparse_delta_report": sparse.q_sparse_delta_report,
        "corpus_curation_scale": dedup.q_corpus_curation_scale,
        "embedding_cosine_dups_srp": dedup.q_embedding_cosine_dups_srp,
        "cm_heavy_hitters": relational.q_cm_heavy_hitters,
        "pricing_summary": relational.q_pricing_summary,
        "revenue_by_nation": relational.q_revenue_by_nation,
        "corpus_rollup": relational.q_corpus_rollup,
        "user_gap_stats": relational.q_user_gap_stats,
        "quality_deciles": relational.q_quality_deciles,
        "topk_per_group": relational.q_topk_per_group,
        "events_hourly": temporal.q_events_hourly,
        "latency_percentiles": metrics.q_latency_percentiles,
        "recall_summary": metrics.q_recall_summary,
        "doclen_percentiles": relational.q_doclen_percentiles,
        "corpus_stats": relational.q_corpus_stats,
        "knn_angular": dense.q_knn_angular,
        "knn_hamming": dense.q_knn_hamming,
        "mv_knn_fused": dense.q_mv_knn_fused,
        "jl_knn": ann.q_jl_knn,
        "mm_knn": dense.q_mm_knn,
        "filter_knn_range": dense.q_filter_knn_range,
        "srp_recall": dedup.q_srp_recall,
        "hnsw_scale_recall": ann.q_hnsw_scale_recall,
        "embedding_cosine_dups": dedup.q_embedding_cosine_dups,
        "ngram_jaccard_dups": dedup.q_ngram_jaccard_dups,
        "lsh_dedup": dedup.q_lsh_dedup,
        "semantic_dups": ann.q_semantic_dups,
        "incremental_dedup": dedup.q_incremental_dedup,
        "substring_spans": dedup.q_substring_spans,
        "substring_rewrite": dedup.q_substring_rewrite,
        "paragraph_dedup": dedup.q_paragraph_dedup,
        "c4_line_filter": text.q_c4_line_filter,
        "gopher_repetition": text.q_gopher_repetition,
        "bpe_train": text.q_bpe_train,
        "bpe_token_stats": text.q_bpe_token_stats,
        "lm_fluency": text.q_lm_fluency,
        "dsir_select": mixing.q_dsir_select,
        "ivf_auto_recall": ann.q_ivf_auto_recall,
        "pq_delta_report": ann.q_pq_delta_report,
        "hnsw_delta_knn": ann.q_hnsw_delta_knn,
        "ivf_delta_knn": ann.q_ivf_delta_knn,
        "ivfpq_knn": ann.q_ivfpq_knn,
        "filter_ivf_knn": ann.q_filter_ivf_knn,
        "filter_ivf_recall": ann.q_filter_ivf_recall,
        "hnsw_knn": ann.q_hnsw_knn,
        "hnsw_recall": ann.q_hnsw_recall,
        "filter_knn_eq": dense.q_filter_knn_eq,
        "postfilter_knn": dense.q_postfilter_knn,
        "mv_knn": dense.q_mv_knn,
        "groundtruth_pack": metrics.q_groundtruth_pack,
        "ivf_knn": ann.q_ivf_knn,
        "pq_knn": ann.q_pq_knn,
        "ivf_recall": ann.q_ivf_recall,
        "pq_recall": ann.q_pq_recall,
        "asof_clicks": temporal.q_asof_clicks,
        "audio_features": text.q_audio_features,
        "bm25_topk": sparse.q_bm25_topk,
        "decontaminate": dedup.q_decontaminate,
        "dedup_exact": dedup.q_dedup_exact,
        "doc_fingerprints": dedup.q_doc_fingerprints,
        "domain_mix": mixing.q_domain_mix,
        "gopher_quality": text.q_gopher_quality,
        "lang_id": text.q_lang_id,
        "media_pipeline": text.q_media_pipeline,
        "minhash_dups": dedup.q_minhash_dups,
        "pii_scrub": text.q_pii_scrub,
        "quality_scores": text.q_quality_scores,
        "recall_lowdim_vs_full": metrics.q_recall_lowdim_vs_full,
        "simhash_dups": dedup.q_simhash_dups,
        "substring_dedup": dedup.q_substring_dedup,
        "token_stats": text.q_token_stats,
        "top_terms_per_source": sparse.q_top_terms_per_source,
        "sq8_knn": ann.q_sq8_knn,
        "sq8_recall": ann.q_sq8_recall,
        "bloom_decontaminate": dedup.q_bloom_decontaminate,
        "weighted_sample": mixing.q_weighted_sample,
        "stratified_sample": mixing.q_stratified_sample,
        "hnsw_scale_search": ann.q_hnsw_scale_search,
        "corpus_stats_approx": relational.q_corpus_stats_approx,
        "quality_tags_approx": relational.q_quality_tags_approx,
        "insert_latency": temporal.q_insert_latency,
        "update_latency": temporal.q_update_latency,
        "delete_latency": temporal.q_delete_latency,
    }


def oracle_sql() -> dict[str, str]:
    return (dense.oracles() | ann.oracles() | metrics.oracles()
            | relational.oracles() | temporal.oracles() | dedup.oracles()
            | mixing.oracles() | text.oracles() | sparse.oracles()
            | hybrid.oracles())
