"""Driver contract for the spark-graft builder (PySpark target).

Registry of every implemented operator from SURVEY.md §2 (reference
surface: Q1-Q4, MR shim, KV/shard semantics), §2.5 (relational coverage),
and §7.4 (north-star dedup/similarity/text/multimodal) — each as a
``(spark, sf_dir) -> DataFrame`` plus, where SQL-expressible, a DuckDB
oracle with identical column names and determinism conventions (see
tinymapreduce_spark/plans/analytics.py docstring).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from tinymapreduce_spark.operators import (
    classifier,
    clustering,
    curation,
    dedup,
    graph,
    kv,
    multimodal,
    packing,
    reference_queries,
    retrieval,
    shards,
    similarity,
    sketches,
    textstats,
    tokenizer,
    udaf,
)
from tinymapreduce_spark.operators.mapreduce import (
    run_mapreduce,
    wc_map,
    wc_merge,
    wc_reduce,
)
from tinymapreduce_spark.plans import analytics, events, layout, maintenance, subqueries
from tinymapreduce_spark.sources import avrofiles, manifest_sink, tarfiles, textfiles, warcfiles, zipfiles
from tinymapreduce_spark.sources.loaders import text_documents
from tinymapreduce_spark.streaming import sinks as stream_sinks
from tinymapreduce_spark.streaming import state as stream_state
from tinymapreduce_spark.streaming import windows as stream_windows

SF0001 = "/root/testdata/sf0.001"

# Shared CTE: the reference-shaped (filename, contents) corpus view.
_DOCS_CTE = (
    "WITH docs AS (SELECT 'doc-' || CAST(doc_id AS VARCHAR) AS filename, text AS contents FROM documents)"
)

_TOK = "list_filter(regexp_split_to_array(contents, '[^A-Za-z]+'), x -> x <> '')"

_WORD_COUNT_SQL = f"""
{_DOCS_CTE}
SELECT word, COUNT(*) AS cnt
FROM (SELECT UNNEST({_TOK}) AS word FROM docs)
GROUP BY word
"""


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: Q1 word count over the sf0.001 corpus (SURVEY.md §7.1)."""
    return reference_queries.word_count(spark, SF0001)


def _mr_wordcount_shim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generic-MR surface (D1/D5) running the reference wc app verbatim:
    Python mapf/reducef through mapInPandas + applyInPandas."""
    return run_mapreduce(text_documents(spark, sf_dir), wc_map, wc_reduce)


def _mr_wordcount_combiner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shim's skew-safe path: wc as an associative merge fold with
    map-side combining (one partial per Arrow batch reaches the
    shuffle). Same oracle as the plain shim — results must be equal."""
    return run_mapreduce(text_documents(spark, sf_dir), wc_map, merge=wc_merge)


# The driver records CORRECTNESS rows for EXACTLY the first 50 queries()
# entries, so registry order = verification priority: queries() puts
# the current window first. ROTATION.md keeps every earlier round's
# window and schedules the next one, which replaces this list.
# Round-11 window (VERDICT r10 gate note + next-round item #2): the r10
# driver did NOT rotate, so 22 r10-optimization-touched keys have no
# driver oracle row at the r10 HEAD. This window leads with every
# r11-TOUCHED key (this round's optimizations: graph tier, kmeans /
# perceptron / ann literal-frame fix, stream_ann publish layout,
# hybrid retrieval materialization, manifest footer-stats gate +
# vacuum lock scope), then every r10-touched key from the VERDICT
# list, topped up with the oldest-checked keys (r4 cohort, never
# re-checked since) in their r4 order.
_R11_WINDOW = [
    # --- r11-touched ---
    "pagerank_trade",
    "label_propagation",
    "bfs_hops",
    "kmeans_clusters",
    "perceptron_quality",
    "stream_ann_ingest",
    "semdedup_drops",
    "semdedup_recall",
    "hybrid_rrf_ndcg",
    "hybrid_rrf_retrieval",
    "manifest_metadata_agg",
    "set_ops",
    "manifest_expire_vacuum",
    "manifest_upsert",
    "manifest_delete_rewrite",
    "ann_ivfpq_recall",
    "ann_ivf_recall",
    # --- r10-touched (VERDICT r10 next-round #2 list) ---
    "stream_cdc_upsert",
    "stream_dv_erasure",
    "stream_cdc_apply_changes",
    "stream_pack_nextfit",
    "ann_pq_topk",
    "ann_ivfpq_topk",
    "ann_ivf_topk",
    "winnow_fingerprints",
    "winnow_neardup_pairs",
    "xml_roundtrip_agg",
    "csv_roundtrip_agg",
    "content_chunk_dedup",
    "stream_chunk_ingest",
    "stream_quality_filter",
    "stream_perplexity_buckets",
    "stream_decontaminate",
    "custom_source_runs",
    "custom_source_pushdown",
    "dedup_minhash_lsh",
    "dedup_simhash",
    "dedup_incremental_minhash",
    "boilerplate_spans",
    # --- freshness: oldest-checked (r4 cohort, r4 order) ---
    "dsir_importance_weights",
    "k_anonymity_risk",
    "ann_lsh_topk",
    "sketch_error_bounds",
    "extract_entities",
    "gopher_rules",
    "lang_id",
    "quality_score",
    "fingerprint",
    "pii_mask",
    "bigram_lm",
]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Registry order = driver verification priority: the _R11_WINDOW
    keys (50, all oracle-backed) come first, then every other key in
    its family order. ROTATION.md schedules the next window.
    """
    base = {
        # --- north-star LLM pipeline: dedup / similarity (§7.4) ---
        "dedup_exact": dedup.dedup_exact,
        "segment_dedup_clean": dedup.segment_dedup_clean,
        "dedup_ngram_jaccard": dedup.dedup_ngram_jaccard,
        "dedup_sorted_neighborhood": dedup.dedup_sorted_neighborhood,
        "dedup_minhash_lsh": dedup.dedup_minhash_lsh,
        "dedup_simhash": dedup.dedup_simhash,
        "dedup_incremental": dedup.dedup_incremental,
        "dedup_clusters": dedup.dedup_clusters,
        "dedup_clusters_minhash": dedup.dedup_clusters_minhash,
        "boilerplate_spans": dedup.boilerplate_spans,
        "dup_passage_coverage": dedup.dup_passage_coverage,
        "tf_cosine_pairs": dedup.tf_cosine_pairs,
        "ann_topk_cosine": similarity.ann_topk_cosine,
        "embedding_neardup_pairs": similarity.embedding_neardup_pairs,
        "embedding_quantize": similarity.embedding_quantize,
        "bm25_topk": retrieval.bm25_topk,
        "hybrid_rrf_retrieval": retrieval.hybrid_rrf_retrieval,
        "hybrid_rrf_ndcg": retrieval.hybrid_rrf_ndcg,
        "fuzzy_join_levenshtein": similarity.fuzzy_join_levenshtein,
        "bpe_train_merges": tokenizer.bpe_train_merges,
        "bpe_encode_vocab": tokenizer.bpe_encode_vocab,
        "bigram_novelty": textstats.bigram_novelty,
        "perceptron_quality": classifier.perceptron_quality,
        # --- round-2 additions + K6 (oracle added this round) ---
        "mr_wordcount_combiner": _mr_wordcount_combiner,
        "manifest_wap_roundtrip": manifest_sink.manifest_wap_roundtrip,
        "recursive_cte_hierarchy": subqueries.recursive_cte_hierarchy,
        "lateral_topn_per_group": subqueries.lateral_topn_per_group,
        "observed_metrics": maintenance.observed_metrics,
        "map_functions": analytics.map_functions,
        "custom_sink_roundtrip": textfiles.custom_sink_roundtrip,
        "custom_stream_sink": textfiles.custom_stream_sink,
        "text_normalize": textstats.text_normalize,
        "arrow_text_stats": textstats.arrow_text_stats,
        "shard_rebalance": shards.shard_rebalance,
        # --- streaming (sliding/wap/cms variants follow the window:
        # their oracles are shared with in-window family members) ---
        "stream_static_join": stream_windows.stream_static_join,
        "stream_tumbling_window": stream_windows.stream_tumbling_window,
        "stream_kv_state": stream_state.stream_kv_state,
        "stream_kv_dedup": stream_state.stream_kv_dedup,
        "stream_tws_counter": stream_state.stream_tws_counter,
        "stream_session_window": stream_state.stream_session_window,
        "stream_dedup": stream_state.stream_dedup,
        "stream_stream_join": stream_windows.stream_stream_join,
        # --- curation (one key per sub-family; the rest follow the window) ---
        "deterministic_sample": curation.deterministic_sample,
        "train_val_test_split": curation.train_val_test_split,
        "contamination_check": curation.contamination_check,
        "stream_decontaminate": stream_sinks.stream_decontaminate,
        "sequence_pack": curation.sequence_pack,
        "doc_chunk_overlap": curation.doc_chunk_overlap,
        "training_shuffle": curation.training_shuffle,
        "curation_pipeline": curation.curation_pipeline,
        "pack_nextfit_bins": packing.pack_nextfit_bins,
        "length_curriculum": packing.length_curriculum,
        "stream_pack_nextfit": stream_state.stream_pack_nextfit,
        # --- multimodal ---
        "multimodal_features": multimodal.multimodal_features,
        "audio_energy_windows": multimodal.audio_energy_windows,
        "image_header_parse": multimodal.image_header_parse,
        # new in round 4: REAL pure-Python BMP/PPM + WAV decode paths
        "image_decode_stats": multimodal.image_decode_stats,
        "audio_decode_stats": multimodal.audio_decode_stats,
        "jpeg_decode_stats": multimodal.jpeg_decode_stats,
        "jpeg420_decode_stats": multimodal.jpeg420_decode_stats,
        "jpeg_progressive_decode_stats": multimodal.jpeg_progressive_decode_stats,
        "png_decode_stats": multimodal.png_decode_stats,
        "png16_decode_stats": multimodal.png16_decode_stats,
        "png_subbyte_decode_stats": multimodal.png_subbyte_decode_stats,
        "gif_decode_stats": multimodal.gif_decode_stats,
        "g711_decode_stats": multimodal.g711_decode_stats,
        "video_decode_stats": multimodal.video_decode_stats,
        "video420_decode_stats": multimodal.video420_decode_stats,
        "audio_spectral_bins": multimodal.audio_spectral_bins,
        "image_augment_stats": multimodal.image_augment_stats,
        "tiff_decode_stats": multimodal.tiff_decode_stats,
        "tiff_lzw_decode_stats": multimodal.tiff_lzw_decode_stats,
        "jpeg_lossless_decode_stats": multimodal.jpeg_lossless_decode_stats,
        "jpeg12_decode_stats": multimodal.jpeg12_decode_stats,
        "jpeg_arith_decode_stats": multimodal.jpeg_arith_decode_stats,
        "jpeg_hier_decode_stats": multimodal.jpeg_hier_decode_stats,
        "jpeg_hier_dct_decode_stats": multimodal.jpeg_hier_dct_decode_stats,
        "jpeg_arith_prog_decode_stats": multimodal.jpeg_arith_prog_decode_stats,
        "audio_adpcm_stats": multimodal.audio_adpcm_stats,
        "stream_adpcm_ingest": multimodal.stream_adpcm_ingest,
        "columnar_encoding_stats": multimodal.columnar_encoding_stats,
        "warc_ingest_stats": warcfiles.warc_ingest_stats,
        "stream_warc_ingest": warcfiles.stream_warc_ingest,
        "tar_shard_ingest": tarfiles.tar_shard_ingest,
        "zip_shard_ingest": zipfiles.zip_shard_ingest,
        "avro_ingest_stats": avrofiles.avro_ingest_stats,
        "avro_snappy_ingest": avrofiles.avro_snappy_ingest,
        "wds_image_pipeline": tarfiles.wds_image_pipeline,
        "stream_tar_ingest": tarfiles.stream_tar_ingest,
        "url_host_stats": textstats.url_host_stats,
        "html_extract_stats": textstats.html_extract_stats,
        "mojibake_repair": textstats.mojibake_repair,
        "robots_url_filter": textstats.robots_url_filter,
        "crawl_curation_pipeline": textstats.crawl_curation_pipeline,
        "image_phash_dedup": multimodal.image_phash_dedup,
        # new in round 4: CDC apply (MERGE with deletes), batch + streaming
        "manifest_apply_changes": manifest_sink.manifest_apply_changes,
        "stream_cdc_apply_changes": stream_sinks.stream_cdc_apply_changes,
        # new in round 4: binaryFile-source ingest over real .bmp files
        "binary_files_decode": multimodal.binary_files_decode,
        "stream_binary_files_decode": stream_sinks.stream_binary_files_decode,
        # new in round 4: state-store introspection (Spark 4 state source)
        "state_store_read": stream_state.state_store_read,
        # --- S1-S5 source/sink surface (VERDICT r01: never driver-checked) ---
        "text_roundtrip_wordcount": textfiles.text_roundtrip_wordcount,
        "json_runs_roundtrip": textfiles.json_runs_roundtrip,
        # --- iterative/sketch ops whose exact oracles landed this round ---
        "kmeans_clusters": clustering.kmeans_clusters,
        "pagerank_trade": graph.pagerank_trade,
        "cms_heavy_hitters": sketches.cms_heavy_hitters,
        # === the driver's ~50-entry window ends here (entry #50 =
        # cms_heavy_hitters; r01 recorded exactly 50 rows) ===
        "bfs_hops": graph.bfs_hops,
        "label_propagation": graph.label_propagation,
        "stream_sliding_window": stream_windows.stream_sliding_window,
        "stream_wap_sink": stream_sinks.stream_wap_sink,
        "stream_cms_sink": stream_sinks.stream_cms_sink,
        "extract_entities": textstats.extract_entities,
        "custom_source_runs": textfiles.custom_source_runs,
        "custom_source_pushdown": textfiles.custom_source_pushdown,
        "custom_stream_source": textfiles.custom_stream_source,
        "grouped_arrow_stats": textstats.grouped_arrow_stats,
        "manifest_skipping_scan": manifest_sink.manifest_skipping_scan,
        "manifest_delete_rewrite": manifest_sink.manifest_delete_rewrite,
        "manifest_append_incremental": manifest_sink.manifest_append_incremental,
        "manifest_upsert": manifest_sink.manifest_upsert,
        "dedup_incremental_bloom": dedup.dedup_incremental_bloom,
        "stream_dedup_within_watermark": stream_state.stream_dedup_within_watermark,
        "hll_overlap": sketches.hll_overlap,
        "token_budget_mix": curation.token_budget_mix,
        "join_skew_profile": maintenance.join_skew_profile,
        "stream_stream_outer_join": stream_windows.stream_stream_outer_join,
        "gopher_rules": textstats.gopher_rules,
        "interval_overlap_join": events.interval_overlap_join,
        "activity_gaps": events.activity_gaps,
        "exact_quota_split": curation.exact_quota_split,
        "manifest_optimize": manifest_sink.manifest_optimize,
        "stream_observe_metrics": stream_sinks.stream_observe_metrics,
        "pseudonymized_join": maintenance.pseudonymized_join,
        "xml_roundtrip_agg": textfiles.xml_roundtrip_agg,
        "stream_available_now": stream_sinks.stream_available_now,
        "pretrain_mix_pipeline": curation.pretrain_mix_pipeline,
        "sql_execute_immediate": analytics.sql_execute_immediate,
        "iterator_udf_scoring": udaf.iterator_udf_scoring,
        "approx_topk_builtin": sketches.approx_topk_builtin,
        "catalog_partition_overwrite": maintenance.catalog_partition_overwrite,
        "try_arithmetic": analytics.try_arithmetic,
        "lang_id": textstats.lang_id,
        "doc_hash_embedding": similarity.doc_hash_embedding,
        "doc_ann_topk": similarity.doc_ann_topk,
        "dedup_survivors": dedup.dedup_survivors,
        "dedup_incremental_minhash": dedup.dedup_incremental_minhash,
        "negative_sampling": similarity.negative_sampling,
        "stratified_sample": curation.stratified_sample,
        "weighted_sample": curation.weighted_sample,
        "per_source_cap": curation.per_source_cap,
        "mix_weights": curation.mix_weights,
        "multimodal_resize": multimodal.multimodal_resize,
        "frame_sample": multimodal.frame_sample,
        "quality_score": textstats.quality_score,
        "token_stats": textstats.token_stats,
        "fingerprint": textstats.fingerprint,
        "repetition_score": textstats.repetition_score,
        # --- ANN tier: integer-exact codebooks since round 4, so every
        # ann_*_topk now carries a FULL-pipeline oracle (training rounds
        # replayed in SQL); recall invariants additionally pinned in
        # test_invariants.py; scheduled for driver rows in r5 ---
        "ann_ivf_topk": similarity.ann_ivf_topk,
        "ann_lsh_topk": similarity.ann_lsh_topk,
        "ann_pq_topk": similarity.ann_pq_topk,
        "ann_ivfpq_topk": similarity.ann_ivfpq_topk,
        "semdedup_drops": similarity.semdedup_drops,
        "embedding_pca_power": similarity.embedding_pca_power,
        "embedding_random_projection": similarity.embedding_random_projection,
        "pii_mask": textstats.pii_mask,
        "tfidf_top_terms": textstats.tfidf_top_terms,
        "bigram_lm": textstats.bigram_lm,
        "char_entropy": textstats.char_entropy,
        "sentiment_lexicon": textstats.sentiment_lexicon,
        "winnow_fingerprints": textstats.winnow_fingerprints,
        "winnow_neardup_pairs": textstats.winnow_neardup_pairs,
        "compressibility": textstats.compressibility,
        "bwt_transform_stats": textstats.bwt_transform_stats,
        "ngram_lm_kneser_ney": textstats.ngram_lm_kneser_ney,
        "ngram_lm_kn_trigram": textstats.ngram_lm_kn_trigram,
        "vocab_growth_stats": textstats.vocab_growth_stats,
        "corpus_merkle_root": curation.corpus_merkle_root,
        # --- sketches / graph ---
        "hll_portable_distinct": sketches.hll_portable_distinct,
        "digit_bucket_quantiles": sketches.digit_bucket_quantiles,
        "hll_distinct_merge": sketches.hll_distinct_merge,
        "kll_quantile_merge": sketches.kll_quantile_merge,
        "triangle_count": graph.triangle_count,
        # --- physical layout: bucketing / pruning / skew / bloom ---
        "bucketed_join_revenue": layout.bucketed_join_revenue,
        "partitioned_sink_pruned_scan": layout.partitioned_sink_pruned_scan,
        "salted_skew_join": layout.salted_skew_join,
        "compact_small_files": layout.compact_small_files,
        "zorder_pruned_agg": layout.zorder_pruned_agg,
        "dpp_partitioned_join": layout.dpp_partitioned_join,
        "bloom_filter_join": layout.bloom_filter_join,
        # --- event analytics: windows / sessions / as-of ---
        "tumbling_window_agg": events.tumbling_window_agg,
        "sliding_window_agg": events.sliding_window_agg,
        "sessionize": events.sessionize,
        "asof_join": events.asof_join,
        "cogrouped_asof": events.cogrouped_asof,
        "resample_ffill": events.resample_ffill,
        "value_histogram": events.value_histogram,
        "funnel_steps": events.funnel_steps,
        "retention_cohorts": events.retention_cohorts,
        "anomaly_zscore": events.anomaly_zscore,
        "time_to_conversion": events.time_to_conversion,
        "event_path_trigrams": events.event_path_trigrams,
        "rolling_active_users": events.rolling_active_users,
        "stickiness_ratio": events.stickiness_ratio,
        "autocorrelation_lags": events.autocorrelation_lags,
        # --- warehouse maintenance ---
        "merge_upsert": maintenance.merge_upsert,
        "scd2_history": maintenance.scd2_history,
        "profile_columns": maintenance.profile_columns,
        "dq_checks": maintenance.dq_checks,
        "snapshot_diff": maintenance.snapshot_diff,
        "incremental_agg_merge": maintenance.incremental_agg_merge,
        "distribution_drift": maintenance.distribution_drift,
        # --- remaining relational / UDF / source surface ---
        "window_rank_funcs": analytics.window_rank_funcs,
        "window_range_frame": analytics.window_range_frame,
        "mode_median_stats": analytics.mode_median_stats,
        "copurchase_pairs": analytics.copurchase_pairs,
        "trend_slope": analytics.trend_slope,
        "sql_interface": analytics.sql_interface,
        "sql_pipe_syntax": analytics.sql_pipe_syntax,
        "sql_group_by_all": analytics.sql_group_by_all,
        "sql_scripting": analytics.sql_scripting,
        "sql_udf_function": analytics.sql_udf_function,
        "sql_parameterized": analytics.sql_parameterized,
        "grouped_correlation": analytics.grouped_correlation,
        "equidepth_deciles": analytics.equidepth_deciles,
        "equidepth_sampled": analytics.equidepth_sampled,
        "sql_python_udf": analytics.sql_python_udf,
        "shuffle_hash_join_control": analytics.shuffle_hash_join_control,
        "winsorize_stats": analytics.winsorize_stats,
        "rfm_segments": analytics.rfm_segments,
        "pivot_counts": subqueries.pivot_counts,
        "unpivot_stack": subqueries.unpivot_stack,
        "range_join_bucketed": subqueries.range_join_bucketed,
        "approx_aggregates": subqueries.approx_aggregates,
        "grouped_agg_udaf": udaf.grouped_agg_udaf,
        "python_udtf_split": udaf.python_udtf_split,
        "python_udtf_table_arg": udaf.python_udtf_table_arg,
        "python_udtf_dynamic_schema": udaf.python_udtf_dynamic_schema,
        "csv_roundtrip_agg": textfiles.csv_roundtrip_agg,
        "orc_roundtrip_agg": textfiles.orc_roundtrip_agg,
        "parquet_zstd_roundtrip": textfiles.parquet_zstd_roundtrip,
        "manifest_time_travel": manifest_sink.manifest_time_travel,
        # ================= driver-green in round 1 (CORRECTNESS_r01) =====
        # --- reference MR application surface (SURVEY.md §2.3) ---
        "word_count": reference_queries.word_count,
        "inverted_index": reference_queries.inverted_index,
        "per_source_count": reference_queries.per_file_count,
        "sorted_group_concat": reference_queries.sorted_group_concat,
        "mr_wordcount_shim": _mr_wordcount_shim,
        # --- keyed-state / sharding semantics (SURVEY.md §2.4) ---
        "kv_replay": kv.kv_replay,
        "kv_replay_dedup": kv.kv_replay_dedup,
        "kv_snapshot_replay": kv.kv_snapshot_replay,
        "shard_distribution": kv.shard_distribution,
        "shard_migration": shards.shard_migration,
        # --- relational operator coverage (SURVEY.md §2.5) ---
        "q1_pricing_summary": analytics.q1_pricing_summary,
        "q2_min_cost_supplier": analytics.q2_min_cost_supplier,
        "q3_shipping_priority": analytics.q3_shipping_priority,
        "q5_local_supplier_volume": analytics.q5_local_supplier_volume,
        "q4_order_priority": analytics.q4_order_priority,
        "q6_forecast_revenue": analytics.q6_forecast_revenue,
        "q7_volume_shipping": analytics.q7_volume_shipping,
        "q8_market_share": analytics.q8_market_share,
        "q9_product_profit": analytics.q9_product_profit,
        "q10_returned_items": analytics.q10_returned_items,
        "q11_supplier_concentration": analytics.q11_supplier_concentration,
        "q12_priority_lines": analytics.q12_priority_lines,
        "q13_customer_distribution": analytics.q13_customer_distribution,
        "q14_promo_revenue": analytics.q14_promo_revenue,
        "q15_top_supplier": analytics.q15_top_supplier,
        "q16_supplier_counts": analytics.q16_supplier_counts,
        "q17_small_quantity_revenue": analytics.q17_small_quantity_revenue,
        "q18_large_orders": analytics.q18_large_orders,
        "q19_disjunctive_parts": analytics.q19_disjunctive_parts,
        "q20_promo_heavy_suppliers": analytics.q20_promo_heavy_suppliers,
        "q21_waiting_suppliers": analytics.q21_waiting_suppliers,
        "q22_idle_customers": analytics.q22_idle_customers,
        "global_sort_range": analytics.global_sort_range,
        "semi_anti_join": analytics.semi_anti_join,
        "outer_join_coverage": analytics.outer_join_coverage,
        "theta_join_nl": analytics.theta_join_nl,
        "window_running_sum": analytics.window_running_sum,
        "topk_per_group": analytics.topk_per_group,
        "rollup_revenue": analytics.rollup_revenue,
        "cube_orders": analytics.cube_orders,
        "grouping_sets_revenue": analytics.grouping_sets_revenue,
        "distinct_counts": analytics.distinct_counts,
        "set_ops": analytics.set_ops,
        "set_ops_all": analytics.set_ops_all,
        "scalar_functions": analytics.scalar_functions,
        "variant_extract": analytics.variant_extract,
        "collated_group": analytics.collated_group,
        "array_functions": analytics.array_functions,
        "sort_limit": analytics.sort_limit,
        "correlated_scalar_subquery": subqueries.correlated_scalar_subquery,
        "in_subquery": subqueries.in_subquery,
        "exact_percentiles": subqueries.exact_percentiles,
        # --- new in round 3 ---
        "stream_cdc_upsert": stream_sinks.stream_cdc_upsert,
        "dsir_importance_weights": curation.dsir_importance_weights,
        "k_anonymity_risk": maintenance.k_anonymity_risk,
        "manifest_delete_by_table": manifest_sink.manifest_delete_by_table,
        "golden_wc_parity": reference_queries.golden_wc_parity,
        "ann_ivf_recall": similarity.ann_ivf_recall,
        "ann_lsh_recall": similarity.ann_lsh_recall,
        "ann_pq_recall": similarity.ann_pq_recall,
        "ann_ivfpq_recall": similarity.ann_ivfpq_recall,
        "semdedup_recall": similarity.semdedup_recall,
        "sketch_error_bounds": sketches.sketch_error_bounds,
        # --- new in round 4 (post-window): privacy + streaming index ---
        "l_diversity_audit": maintenance.l_diversity_audit,
        "stream_ann_ingest": stream_sinks.stream_ann_ingest,
        "content_chunk_dedup": dedup.content_chunk_dedup,
        "manifest_expire_vacuum": manifest_sink.manifest_expire_vacuum,
        "stream_chunk_ingest": stream_sinks.stream_chunk_ingest,
        "manifest_merge_on_read": manifest_sink.manifest_merge_on_read,
        "manifest_change_feed": manifest_sink.manifest_change_feed,
        "manifest_metadata_agg": manifest_sink.manifest_metadata_agg,
        "cdf_incremental_mv": manifest_sink.cdf_incremental_mv,
        "manifest_schema_evolution": manifest_sink.manifest_schema_evolution,
        "stream_dv_erasure": stream_sinks.stream_dv_erasure,
        # --- new in round 4 (post-window): quality/privacy tier ---
        "perplexity_buckets": textstats.perplexity_buckets,
        "randomized_response_estimate": maintenance.randomized_response_estimate,
        "stream_quality_filter": stream_sinks.stream_quality_filter,
        "manifest_bloom_skipping": manifest_sink.manifest_bloom_skipping,
        # --- new in round 9: the bloom sidecar posture, driver-checked ---
        "manifest_bloom_sidecar": manifest_sink.manifest_bloom_sidecar,
        "stream_perplexity_buckets": stream_sinks.stream_perplexity_buckets,
    }
    window = {k: base[k] for k in _R11_WINDOW}
    return window | {k: v for k, v in base.items() if k not in window}


def oracle_sql() -> dict[str, str]:
    """DuckDB oracles — since r7 EVERY registered key has one (the
    rows-only tier is closed; VERDICT r6 #1). The trained-index tier is
    fully oracle-backed: ann_lsh_topk replays planes, signatures,
    multi-probe, candidates and scores; ann_{{ivf,pq,ivfpq}}_topk and
    semdedup_drops replay their integer-Lloyd's codebook training,
    cell/code assignment, ADC tables, pools and re-rank/keeper
    selection — every training and blocking decision is exact integer
    arithmetic on the 1e-6 grid, so the four ann_*_recall rows and
    semdedup_recall also derive their hit/caught counts in SQL;
    dedup_minhash_lsh / dedup_simhash / cms_heavy_hitters ride the
    portable integer md5-60-bit hash family with exact replays;
    kmeans_clusters runs Lloyd's on integer-quantized coordinates with
    an exact oracle of all 5 rounds. The former rows-only keys were
    converted in r6/r7 to hash-checked forms whose exact columns the
    oracle recomputes and whose error-envelope booleans are driven by
    the live kernels (raw scale paths stay as *_raw functions):
    approx_aggregates + equidepth_sampled (r6), hll_distinct_merge +
    kll_quantile_merge (r7, sketch_error_bounds-style audit forms),
    and compressibility (r7: from-scratch deflate legs — the dist-1
    RLE stream size is replayed closed-form in SQL, the greedy-LZ77
    leg is pinned by per-doc bound booleans).
    """
    return {
        "word_count": _WORD_COUNT_SQL,
        "text_roundtrip_wordcount": _WORD_COUNT_SQL,
        "inverted_index": f"""
            {_DOCS_CTE},
            dw AS (
              SELECT DISTINCT filename, word
              FROM (SELECT filename, UNNEST({_TOK}) AS word FROM docs)
            )
            SELECT word, COUNT(*) AS n_docs,
                   array_to_string(list_sort(list(filename)), ',') AS doc_list
            FROM dw GROUP BY word
        """,
        "per_source_count": "SELECT source, COUNT(*) AS cnt FROM documents GROUP BY source",
        "sorted_group_concat": """
            SELECT lang AS key,
                   array_to_string(list_sort(list(DISTINCT source)), ' ') AS value
            FROM documents GROUP BY lang
        """,
        "mr_wordcount_shim": f"""
            {_DOCS_CTE}
            SELECT word AS key, CAST(COUNT(*) AS VARCHAR) AS value
            FROM (SELECT UNNEST({_TOK}) AS word FROM docs)
            GROUP BY word
        """,
        "mr_wordcount_combiner": f"""
            {_DOCS_CTE}
            SELECT word AS key, CAST(COUNT(*) AS VARCHAR) AS value
            FROM (SELECT UNNEST({_TOK}) AS word FROM docs)
            GROUP BY word
        """,
        "kv_replay": kv.KV_REPLAY_SQL,
        # at-least-once retries + dedup rung replayed in SQL
        "kv_replay_dedup": kv.KV_REPLAY_DEDUP_SQL,
        # oracle = the FULL-log fold: a hash match proves
        # snapshot(prefix) + replay(suffix) == replay(full)
        "kv_snapshot_replay": kv.KV_REPLAY_SQL,
        "shard_rebalance": shards.SHARD_REBALANCE_SQL,
        # K6 data plane: rebalance chain -> lag diff -> per-shard counts
        "shard_migration": shards.SHARD_MIGRATION_SQL,
        "shard_distribution": f"""
            WITH ops AS ({kv.OPS_LOG_SQL})
            SELECT CAST(CASE WHEN length(key) > 0 THEN ascii(substr(key, 1, 1)) % 10 ELSE 0 END AS INT) AS shard,
                   COUNT(*) AS n_ops,
                   COUNT(DISTINCT key) AS n_keys
            FROM ops GROUP BY 1
        """,
        "q1_pricing_summary": analytics.Q1_SQL,
        "q2_min_cost_supplier": analytics.Q2_SQL,
        "q3_shipping_priority": analytics.Q3_SQL,
        "q5_local_supplier_volume": analytics.Q5_SQL,
        "q4_order_priority": analytics.Q4_SQL,
        "q6_forecast_revenue": analytics.Q6_SQL,
        "q7_volume_shipping": analytics.Q7_SQL,
        "q8_market_share": analytics.Q8_SQL,
        "q9_product_profit": analytics.Q9_SQL,
        "q10_returned_items": analytics.Q10_SQL,
        "q11_supplier_concentration": analytics.Q11_SQL,
        "q12_priority_lines": analytics.Q12_SQL,
        "q13_customer_distribution": analytics.Q13_SQL,
        "q14_promo_revenue": analytics.Q14_SQL,
        "q15_top_supplier": analytics.Q15_SQL,
        "q16_supplier_counts": analytics.Q16_SQL,
        "q17_small_quantity_revenue": analytics.Q17_SQL,
        "q18_large_orders": analytics.Q18_SQL,
        "q19_disjunctive_parts": analytics.Q19_SQL,
        "q20_promo_heavy_suppliers": analytics.Q20_SQL,
        "q21_waiting_suppliers": analytics.Q21_SQL,
        "q22_idle_customers": analytics.Q22_SQL,
        "global_sort_range": analytics.GLOBAL_SORT_SQL,
        "semi_anti_join": analytics.SEMI_ANTI_SQL,
        "outer_join_coverage": analytics.OUTER_SQL,
        "theta_join_nl": analytics.THETA_JOIN_SQL,
        "window_running_sum": analytics.WINDOW_SQL,
        "topk_per_group": analytics.TOPK_SQL,
        "rollup_revenue": analytics.ROLLUP_SQL,
        "cube_orders": analytics.CUBE_SQL,
        "grouping_sets_revenue": analytics.GROUPING_SETS_SQL,
        "distinct_counts": analytics.DISTINCT_SQL,
        "set_ops": analytics.SET_OPS_SQL,
        "set_ops_all": analytics.SET_OPS_ALL_SQL,
        "scalar_functions": analytics.SCALAR_SQL,
        "variant_extract": analytics.VARIANT_SQL,
        "collated_group": analytics.COLLATED_SQL,
        "array_functions": analytics.ARRAY_FUNCTIONS_SQL,
        "json_runs_roundtrip": _WORD_COUNT_SQL,
        "custom_sink_roundtrip": _WORD_COUNT_SQL,
        # the stream sink's multi-epoch output must reassemble to the
        # straight word count (same oracle as the batch connector)
        "custom_stream_sink": _WORD_COUNT_SQL,
        "text_normalize": textstats.TEXT_NORMALIZE_SQL,
        "arrow_text_stats": textstats.ARROW_TEXT_STATS_SQL,
        "grouped_arrow_stats": textstats.GROUPED_ARROW_SQL,
        "custom_source_runs": _WORD_COUNT_SQL,
        "custom_source_pushdown": f"""
{_DOCS_CTE}
SELECT word, COUNT(*) AS cnt
FROM (SELECT UNNEST({_TOK}) AS word FROM docs)
WHERE word > 'm'
GROUP BY word
""",
        "csv_roundtrip_agg": textfiles.ROUNDTRIP_AGG_SQL,
        "orc_roundtrip_agg": textfiles.ROUNDTRIP_AGG_SQL,
        "parquet_zstd_roundtrip": textfiles.ROUNDTRIP_AGG_SQL,
        "manifest_time_travel": manifest_sink.MANIFEST_TT_SQL,
        "manifest_delete_by_table": manifest_sink.MANIFEST_DELETE_BY_TABLE_SQL,
        "stream_cdc_upsert": stream_sinks.STREAM_CDC_UPSERT_SQL,
        "dsir_importance_weights": curation.DSIR_SQL,
        "k_anonymity_risk": maintenance.K_ANONYMITY_SQL,
        "l_diversity_audit": maintenance.L_DIVERSITY_SQL,
        "stream_ann_ingest": stream_sinks.STREAM_ANN_INGEST_SQL,
        "content_chunk_dedup": dedup.CONTENT_CHUNK_SQL,
        "manifest_expire_vacuum": manifest_sink.MANIFEST_EXPIRE_VACUUM_SQL,
        "stream_chunk_ingest": dedup.CONTENT_CHUNK_SQL,
        "manifest_merge_on_read": manifest_sink.MANIFEST_MOR_SQL,
        # version contents are deterministic transforms of customer -- the
        # per-commit row-level diffs replay as plain CTEs
        "manifest_change_feed": manifest_sink.MANIFEST_CHANGE_FEED_SQL,
        # the oracle SCANS the table the manifest fold never opens
        "manifest_metadata_agg": manifest_sink.MANIFEST_METADATA_AGG_SQL,
        # oracle recomputes the final version; the MV only ever saw v1 + deltas
        "cdf_incremental_mv": manifest_sink.CDF_INCREMENTAL_MV_SQL,
        "manifest_schema_evolution": manifest_sink.MANIFEST_SCHEMA_EVOLUTION_SQL,
        "stream_dv_erasure": stream_sinks.STREAM_DV_ERASURE_SQL,
        "perplexity_buckets": textstats.PERPLEXITY_BUCKETS_SQL,
        "randomized_response_estimate": maintenance.RANDOMIZED_RESPONSE_SQL,
        "stream_quality_filter": stream_sinks.STREAM_QUALITY_SQL,
        "manifest_bloom_skipping": manifest_sink.MANIFEST_BLOOM_SQL,
        "manifest_bloom_sidecar": manifest_sink.MANIFEST_BLOOM_SIDECAR_SQL,
        "stream_perplexity_buckets": stream_sinks.STREAM_PPLX_SQL,
        "golden_wc_parity": reference_queries.GOLDEN_WC_PARITY_SQL,
        "ann_lsh_topk": similarity.ANN_LSH_TOPK_SQL,
        "ann_ivf_topk": similarity.ANN_IVF_TOPK_SQL,
        "ann_pq_topk": similarity.ANN_PQ_TOPK_SQL,
        "ann_ivfpq_topk": similarity.ANN_IVFPQ_TOPK_SQL,
        "semdedup_drops": similarity.SEMDEDUP_DROPS_SQL,
        "embedding_pca_power": similarity.EMBEDDING_PCA_SQL,
        "embedding_random_projection": similarity.EMBEDDING_RP_SQL,
        "ann_ivf_recall": similarity.ANN_IVF_RECALL_SQL,
        "ann_lsh_recall": similarity.ANN_LSH_RECALL_VALUE_SQL,
        "ann_pq_recall": similarity.ANN_PQ_RECALL_SQL,
        "ann_ivfpq_recall": similarity.ANN_IVFPQ_RECALL_SQL,
        "semdedup_recall": similarity.SEMDEDUP_RECALL_SQL,
        "sketch_error_bounds": sketches.SKETCH_ERROR_BOUNDS_SQL,
        # r7: former rows-only tier, now oracle-backed (VERDICT r6 #1)
        "compressibility": textstats.COMPRESSIBILITY_SQL,
        "bwt_transform_stats": textstats.BWT_TRANSFORM_SQL,
        "ngram_lm_kneser_ney": textstats.KN_LM_SQL,
        "ngram_lm_kn_trigram": textstats.KN_TRIGRAM_SQL,
        "vocab_growth_stats": textstats.VOCAB_GROWTH_SQL,
        "corpus_merkle_root": curation.CORPUS_MERKLE_SQL,
        "hll_distinct_merge": sketches.HLL_DISTINCT_MERGE_SQL,
        "kll_quantile_merge": sketches.KLL_QUANTILE_MERGE_SQL,
        "manifest_skipping_scan": manifest_sink.MANIFEST_SKIP_SQL,
        "manifest_delete_rewrite": manifest_sink.MANIFEST_DELETE_SQL,
        "manifest_append_incremental": manifest_sink.MANIFEST_INCREMENTAL_SQL,
        "manifest_upsert": manifest_sink.MANIFEST_UPSERT_SQL,
        "dedup_incremental_bloom": dedup.DEDUP_INCREMENTAL_SQL,
        "stream_dedup_within_watermark": stream_state.STREAM_DEDUP_SQL,
        "hll_overlap": sketches.HLL_OVERLAP_SQL,
        "token_budget_mix": curation.TOKEN_BUDGET_MIX_SQL,
        "join_skew_profile": maintenance.JOIN_SKEW_SQL,
        "stream_stream_outer_join": stream_windows.STREAM_STREAM_OUTER_SQL,
        "manifest_wap_roundtrip": textfiles.ROUNDTRIP_AGG_SQL,
        "sort_limit": analytics.SORT_LIMIT_SQL,
        "bucketed_join_revenue": layout.BUCKETED_JOIN_SQL,
        "partitioned_sink_pruned_scan": layout.PARTITIONED_SINK_SQL,
        "salted_skew_join": layout.SALTED_SKEW_SQL,
        "compact_small_files": layout.COMPACT_SQL,
        "zorder_pruned_agg": layout.ZORDER_SQL,
        "dpp_partitioned_join": layout.DPP_SQL,
        "bloom_filter_join": layout.BLOOM_JOIN_SQL,
        "tumbling_window_agg": events.TUMBLING_SQL,
        "sessionize": events.SESSIONIZE_SQL,
        "asof_join": events.ASOF_SQL,
        "cogrouped_asof": events.ASOF_SQL,
        "resample_ffill": events.RESAMPLE_SQL,
        "merge_upsert": maintenance.MERGE_UPSERT_SQL,
        "scd2_history": maintenance.SCD2_SQL,
        "value_histogram": events.HISTOGRAM_SQL,
        "window_rank_funcs": analytics.WINDOW_RANK_SQL,
        "stream_static_join": stream_windows.STREAM_STATIC_SQL,
        "stream_tumbling_window": stream_windows.STREAM_TUMBLING_SQL,
        "stream_kv_state": kv.KV_REPLAY_SQL,
        # streaming at-least-once feed + dedup state == the batch rung
        "stream_kv_dedup": kv.KV_REPLAY_DEDUP_SQL,
        "stream_tws_counter": stream_state.STREAM_TWS_SQL,
        "stream_session_window": stream_state.STREAM_SESSION_SQL,
        "stream_dedup": stream_state.STREAM_DEDUP_SQL,
        "stream_stream_join": stream_windows.STREAM_STREAM_JOIN_SQL,
        "stream_wap_sink": stream_sinks.STREAM_WAP_SQL,
        "correlated_scalar_subquery": subqueries.CORRELATED_SQL,
        "in_subquery": subqueries.IN_SUBQUERY_SQL,
        "exact_percentiles": subqueries.PERCENTILES_SQL,
        "pivot_counts": subqueries.PIVOT_SQL,
        "unpivot_stack": subqueries.UNPIVOT_SQL,
        "range_join_bucketed": subqueries.RANGE_JOIN_SQL,
        "recursive_cte_hierarchy": subqueries.RECURSIVE_CTE_SQL,
        "lateral_topn_per_group": subqueries.LATERAL_TOPN_SQL,
        "observed_metrics": maintenance.OBSERVED_METRICS_SQL,
        "map_functions": analytics.MAP_FUNCTIONS_SQL,
        "grouped_agg_udaf": udaf.GROUPED_AGG_SQL,
        "python_udtf_split": udaf.PYTHON_UDTF_SQL,
        "python_udtf_table_arg": udaf.PYTHON_UDTF_TABLE_SQL,
        # schema bound at PLAN time by analyze(); the 2-gram extraction
        # replays as list indexing
        "python_udtf_dynamic_schema": udaf.PYTHON_UDTF_DYNAMIC_SQL,
        "dedup_exact": dedup.DEDUP_EXACT_SQL,
        # the cleaned corpus itself oracle-checks (md5 per doc)
        "segment_dedup_clean": dedup.SEGMENT_DEDUP_SQL,
        "dedup_ngram_jaccard": dedup.DEDUP_NGRAM_SQL,
        "dedup_sorted_neighborhood": dedup.DEDUP_SNM_SQL,
        "dedup_minhash_lsh": dedup.DEDUP_MINHASH_SQL,
        "dedup_simhash": dedup.DEDUP_SIMHASH_SQL,
        "dedup_incremental": dedup.DEDUP_INCREMENTAL_SQL,
        "dedup_clusters": dedup.DEDUP_CLUSTERS_SQL,
        "dedup_clusters_minhash": dedup.DEDUP_CLUSTERS_MINHASH_SQL,
        "bpe_train_merges": tokenizer.BPE_TRAIN_SQL,
        "bpe_encode_vocab": tokenizer.BPE_ENCODE_SQL,
        "bigram_novelty": textstats.BIGRAM_NOVELTY_SQL,
        "perceptron_quality": classifier.PERCEPTRON_SQL,
        "ann_topk_cosine": similarity.ANN_TOPK_SQL,
        "embedding_neardup_pairs": similarity.EMB_NEARDUP_SQL,
        "gopher_rules": textstats.GOPHER_RULES_SQL,
        "interval_overlap_join": events.INTERVAL_OVERLAP_SQL,
        "activity_gaps": events.ACTIVITY_GAPS_SQL,
        "exact_quota_split": curation.EXACT_QUOTA_SPLIT_SQL,
        "manifest_optimize": manifest_sink.MANIFEST_SKIP_SQL,
        "stream_observe_metrics": stream_sinks.STREAM_OBSERVE_SQL,
        "pseudonymized_join": maintenance.PSEUDONYMIZED_SQL,
        "xml_roundtrip_agg": textfiles.ROUNDTRIP_AGG_SQL,
        "stream_available_now": stream_sinks.STREAM_AVAILABLE_NOW_SQL,
        "pretrain_mix_pipeline": curation.PRETRAIN_MIX_SQL,
        "sql_execute_immediate": analytics.SQL_EXECUTE_IMMEDIATE_SQL,
        "iterator_udf_scoring": udaf.ITERATOR_SCORING_SQL,
        # under-capacity frequent-items sketch degenerates to exact counts
        "approx_topk_builtin": _WORD_COUNT_SQL,
        "catalog_partition_overwrite": maintenance.CATALOG_OVERWRITE_SQL,
        "try_arithmetic": analytics.TRY_ARITHMETIC_SQL,
        "lang_id": textstats.LANG_ID_SQL,
        "quality_score": textstats.QUALITY_SQL,
        "token_stats": textstats.TOKEN_STATS_SQL,
        "fingerprint": textstats.FINGERPRINT_SQL,
        "repetition_score": textstats.REPETITION_SQL,
        "pii_mask": textstats.PII_MASK_SQL,
        "tfidf_top_terms": textstats.TFIDF_SQL,
        "multimodal_features": multimodal.MULTIMODAL_SQL,
        "multimodal_resize": multimodal.MULTIMODAL_RESIZE_SQL,
        "frame_sample": multimodal.FRAME_SAMPLE_SQL,
        "sliding_window_agg": events.SLIDING_SQL,
        "stream_sliding_window": events.SLIDING_SQL,
        "deterministic_sample": curation.DETERMINISTIC_SAMPLE_SQL,
        "stratified_sample": curation.STRATIFIED_SAMPLE_SQL,
        "train_val_test_split": curation.TRAIN_VAL_TEST_SQL,
        "contamination_check": curation.CONTAMINATION_SQL,
        # streaming twin: per-batch partials sum to the one-shot batch
        # aggregate (static eval-gram set, per-doc predicate), so the
        # batch oracle IS the streaming oracle
        "stream_decontaminate": curation.CONTAMINATION_SQL,
        "sequence_pack": curation.SEQUENCE_PACK_SQL,
        "doc_chunk_overlap": curation.DOC_CHUNK_SQL,
        "curation_pipeline": curation.CURATION_PIPELINE_SQL,
        "pack_nextfit_bins": packing.PACK_NEXTFIT_BINS_SQL,
        "length_curriculum": packing.LENGTH_CURRICULUM_SQL,
        # the streaming packer emits exactly the bins the batch packer
        # builds (sentinel-flushed), so it shares the recursive oracle
        "stream_pack_nextfit": packing.PACK_NEXTFIT_BINS_SQL,
        "triangle_count": graph.TRIANGLE_SQL,
        "weighted_sample": curation.WEIGHTED_SAMPLE_SQL,
        "per_source_cap": curation.PER_SOURCE_CAP_SQL,
        "fuzzy_join_levenshtein": similarity.FUZZY_LEV_SQL,
        "window_range_frame": analytics.RANGE_FRAME_SQL,
        "mode_median_stats": analytics.MODE_MEDIAN_SQL,
        "funnel_steps": events.FUNNEL_SQL,
        "retention_cohorts": events.RETENTION_SQL,
        "anomaly_zscore": events.ANOMALY_SQL,
        "profile_columns": maintenance.PROFILE_SQL,
        "embedding_quantize": similarity.EMBEDDING_QUANTIZE_SQL,
        "dq_checks": maintenance.DQ_CHECKS_SQL,
        "snapshot_diff": maintenance.SNAPSHOT_DIFF_SQL,
        "copurchase_pairs": analytics.COPURCHASE_SQL,
        "trend_slope": analytics.TREND_SLOPE_SQL,
        "bigram_lm": textstats.BIGRAM_LM_SQL,
        "char_entropy": textstats.CHAR_ENTROPY_SQL,
        "sentiment_lexicon": textstats.SENTIMENT_SQL,
        "winnow_fingerprints": textstats.WINNOW_SQL,
        "winnow_neardup_pairs": textstats.WINNOW_NEARDUP_SQL,
        "mix_weights": curation.MIX_WEIGHTS_SQL,
        "sql_interface": analytics.SQL_INTERFACE_SQL,
        "sql_pipe_syntax": analytics.SQL_PIPE_SYNTAX_SQL,
        "sql_group_by_all": analytics.SQL_GROUP_BY_ALL_SQL,
        "sql_scripting": analytics.SQL_SCRIPTING_SQL,
        "sql_udf_function": analytics.SQL_UDF_FUNCTION_SQL,
        "sql_parameterized": analytics.SQL_PARAMETERIZED_SQL,
        "grouped_correlation": analytics.GROUPED_CORR_SQL,
        "equidepth_deciles": analytics.EQUIDEPTH_SQL,
        # r6: audited forms — exact values + pinned error-bound booleans
        # driven by the live sketches (raw one-pass forms stay exported)
        "approx_aggregates": subqueries.APPROX_AGGREGATES_SQL,
        "equidepth_sampled": analytics.EQUIDEPTH_SAMPLED_SQL,
        "audio_energy_windows": multimodal.AUDIO_ENERGY_SQL,
        "image_header_parse": multimodal.IMAGE_HEADER_SQL,
        "image_decode_stats": multimodal.IMAGE_DECODE_SQL,
        "audio_decode_stats": multimodal.AUDIO_DECODE_SQL,
        # dequant + fixed-point integer IDCT replayed in SQL (the
        # entropy-coded bytes round-trip only on the Spark side)
        "jpeg_decode_stats": multimodal.JPEG_DECODE_SQL,
        # per-PLANE IDCT replay: chroma at its own subsampled resolution
        "jpeg420_decode_stats": multimodal.JPEG420_DECODE_SQL,
        # progressive entropy coding is lossless over quantized
        # coefficients, so the oracle stays the same IDCT replay
        "jpeg_progressive_decode_stats": multimodal.JPEG_PROGRESSIVE_DECODE_SQL,
        # zlib INFLATE of our own encodes is version-independent, so the
        # PNG oracle replays the pixel formula directly
        "png_decode_stats": multimodal.PNG_DECODE_SQL,
        "png16_decode_stats": multimodal.PNG16_DECODE_SQL,
        "png_subbyte_decode_stats": multimodal.PNG_SUBBYTE_DECODE_SQL,
        # LZW decode of our own encodes is exactly lossless — formula replay
        "gif_decode_stats": multimodal.GIF_DECODE_SQL,
        # G.711 expansions are stateless bit formulas — exact SQL replay
        "g711_decode_stats": multimodal.G711_DECODE_SQL,
        # MJPEG frames are baseline JFIFs from quantized coefficients —
        # the sampled-frame IDCT replays in SQL exactly
        "video_decode_stats": multimodal.VIDEO_DECODE_SQL,
        "video420_decode_stats": multimodal.VIDEO420_DECODE_SQL,
        # integer DFT: quantized tables inlined verbatim in the SQL
        "audio_spectral_bins": multimodal.AUDIO_SPECTRAL_SQL,
        # each variant = a coordinate remap of the pixel formula; the
        # (x + 3y) weighting is the orientation witness
        "image_augment_stats": multimodal.IMAGE_AUGMENT_SQL,
        # PackBits + endianness axes: decode(encode) exact, formula replay
        "tiff_decode_stats": multimodal.TIFF_DECODE_SQL,
        "tiff_lzw_decode_stats": multimodal.TIFF_LZW_DECODE_SQL,
        "jpeg_lossless_decode_stats": multimodal.JPEG_LOSSLESS_DECODE_SQL,
        "jpeg12_decode_stats": multimodal.JPEG12_DECODE_SQL,
        "jpeg_arith_decode_stats": multimodal.JPEG_ARITH_DECODE_SQL,
        "jpeg_hier_decode_stats": multimodal.JPEG_HIER_DECODE_SQL,
        "jpeg_hier_dct_decode_stats": multimodal.JPEG_HIER_DCT_DECODE_SQL,
        "jpeg_arith_prog_decode_stats": multimodal.JPEG_ARITH_PROG_DECODE_SQL,
        "audio_adpcm_stats": multimodal.AUDIO_ADPCM_SQL,
        "stream_adpcm_ingest": multimodal.STREAM_ADPCM_SQL,
        "columnar_encoding_stats": multimodal.COLUMNAR_ENCODING_SQL,
        # WARC framing is exact; gzip-member decode is version-free INFLATE
        "warc_ingest_stats": warcfiles.WARC_INGEST_SQL,
        "stream_warc_ingest": warcfiles.STREAM_WARC_SQL,
        # ustar framing is exact; .tar.gz decodes through the
        # FROM-SCRATCH RFC 1951 inflate — formula replay either way
        "tar_shard_ingest": tarfiles.TAR_INGEST_SQL,
        # STORE + from-scratch-DEFLATE legs both verified per archive
        "zip_shard_ingest": zipfiles.ZIP_INGEST_SQL,
        # zigzag negatives, block framing and both codec legs replay
        "avro_ingest_stats": avrofiles.AVRO_INGEST_SQL,
        "avro_snappy_ingest": avrofiles.AVRO_SNAPPY_SQL,
        # container x codec x label join in one plan — all formulas replay
        "wds_image_pipeline": tarfiles.WDS_IMAGE_SQL,
        "stream_tar_ingest": tarfiles.STREAM_TAR_SQL,
        "url_host_stats": textstats.URL_HOST_STATS_SQL,
        "html_extract_stats": textstats.HTML_EXTRACT_SQL,
        # the oracle hashes the CLEAN text — repair must invert the
        # double-encoding byte-for-byte
        "mojibake_repair": textstats.MOJIBAKE_SQL,
        # the oracle rebuilds the per-host rules and replays the
        # longest-match / allow-wins-ties precedence as a window
        "robots_url_filter": textstats.ROBOTS_SQL,
        # WARC -> HTML -> text -> gate in one kernel; the md5 certifies
        # the actual text handed to tokenization
        "crawl_curation_pipeline": textstats.CRAWL_CURATION_SQL,
        # oracle = brute-force all-pairs Hamming from the pixel formula;
        # the banded join is complete for hamming <= 3 by pigeonhole
        "image_phash_dedup": multimodal.IMAGE_PHASH_SQL,
        "manifest_apply_changes": manifest_sink.MANIFEST_APPLY_CHANGES_SQL,
        "stream_cdc_apply_changes": manifest_sink.MANIFEST_APPLY_CHANGES_SQL,
        "binary_files_decode": multimodal.BINARY_FILES_SQL,
        "stream_binary_files_decode": stream_sinks.STREAM_BINARY_FILES_SQL,
        "state_store_read": stream_state.STATE_STORE_READ_SQL,
        "sql_python_udf": analytics.SQL_PYTHON_UDF_SQL,
        "extract_entities": textstats.EXTRACT_ENTITIES_SQL,
        "incremental_agg_merge": maintenance.INCREMENTAL_AGG_SQL,
        "distribution_drift": maintenance.DRIFT_SQL,
        "time_to_conversion": events.TIME_TO_CONVERSION_SQL,
        "dedup_survivors": dedup.DEDUP_SURVIVORS_SQL,
        "boilerplate_spans": dedup.BOILERPLATE_SQL,
        "tf_cosine_pairs": dedup.TF_COSINE_SQL,
        "training_shuffle": curation.TRAINING_SHUFFLE_SQL,
        "shuffle_hash_join_control": analytics.SHUFFLE_HASH_SQL,
        "winsorize_stats": analytics.WINSORIZE_SQL,
        "event_path_trigrams": events.EVENT_PATH_SQL,
        "rolling_active_users": events.ROLLING_WAU_SQL,
        "stickiness_ratio": events.STICKINESS_SQL,
        # exact integer moment algebra at calendar lags (float r never
        # materializes — grouped_correlation's convention at lag)
        "autocorrelation_lags": events.ACF_SQL,
        "negative_sampling": similarity.NEGATIVE_SAMPLING_SQL,
        "rfm_segments": analytics.RFM_SQL,
        "cms_heavy_hitters": sketches.CMS_SQL,
        "pagerank_trade": graph.PAGERANK_TRADE_SQL,
        "bfs_hops": graph.BFS_HOPS_SQL,
        "label_propagation": graph.LABEL_PROPAGATION_SQL,
        "bm25_topk": retrieval.BM25_SQL,
        "hybrid_rrf_retrieval": retrieval.HYBRID_RRF_SQL,
        "hybrid_rrf_ndcg": retrieval.HYBRID_NDCG_SQL,
        "dup_passage_coverage": dedup.DUP_PASSAGE_SQL,
        "kmeans_clusters": clustering.KMEANS_SQL,
        "dedup_incremental_minhash": dedup.DEDUP_INCREMENTAL_MINHASH_SQL,
        "hll_portable_distinct": sketches.HLL_PORTABLE_SQL,
        "digit_bucket_quantiles": sketches.DIGIT_BUCKET_SQL,
        "stream_cms_sink": sketches.CMS_SQL,
        "custom_stream_source": _WORD_COUNT_SQL,
        "doc_hash_embedding": similarity.DOC_HASH_EMBEDDING_SQL,
        "doc_ann_topk": similarity.DOC_ANN_TOPK_SQL,
    }
