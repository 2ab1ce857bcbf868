"""Registry query families and the registry_sweep query set.

FAMILIES maps every ``SparkEntry.queries`` name to its operator family.
SWEEP is the fixed, name-ordered query set the registry_sweep workload
runs: one or two queries per family, chosen so that a run of two
sweeps fits the benchmark's run length while every family is
exercised, including SentemQC (q_sentem_o2) and a curation kernel with
driver rounds and persisted intermediates (q_dedup_minhash).
"""

_FAMILY_NAMES = {
    "qc": """q_step_infer q_dedup_median q_seasonal_summary q_flat_runs
        q_binary_switches q_isolated q_sentinels q_qc_suite q_rolling_slope
        q_flat_slopes q_decimal_uniformity q_dominant_decimal q_quant_step
        q_sentem_o2 q_sentem_ph q_sentem_no3 q_pipeline q_events_all
        q_seasonal_events q_wrtds_local q_wrtds q_wrtds_check q_buster_check
        q_resample q_rolling_time q_slice_stats q_gaussian""",
    "dedup": """q_dedup_exact q_dedup_ngram q_dedup_ngram_capped
        q_dedup_ngram_prefix q_dedup_minhash q_dedup_simhash
        q_dedup_simhash_capped q_dedup_clusters q_dedup_incremental
        q_dedup_incr_near q_dedup_ingest q_dedup_substring
        q_dedup_substring_apply q_dedup_lines q_dedup_keep q_winnow
        q_novelty q_split_safe_near q_split_safe_incr q_curation_incr
        q_dup_matrix q_containment q_decontaminate q_decontaminate_bloom""",
    "similarity": """q_embed_pairs q_embed_clusters q_margin_mine
        q_margin_mine_lsh q_margin_mine_recall q_margin_mine_ivf_recall
        q_knn_label q_dedup_semantic q_dedup_semantic_recall q_ann_brute
        q_ann_rerank q_ann_lsh_probe q_ann_pq q_ann_lsh q_ann_ivf
        q_ann_ivf_recall q_ann_pq_recall q_rproj q_rproj_recall
        q_embed_quant q_bm25 q_bm25_indexed q_bm25_capped q_hard_negatives
        q_decontaminate_semantic q_embed_drift""",
    "text": """q_tfidf q_vocab_prune q_clean_seeded q_pii q_domains
        q_domains_join q_text_tokens q_text_quality q_lang_id q_lm_score
        q_text_clean q_curation_e2e q_corpus_filter q_quality_train
        q_quality_apply q_quality_eval q_unicode_norm q_fingerprint
        q_repetition q_chunks q_vocab q_cms_check q_bpe_train
        q_bpe_train_batched q_bpe_encode q_bpe_check q_bpe_apply
        q_heavy_hitters q_keep_score q_vocab_bigrams q_pack_batches
        q_pack_bucketed""",
    "sampling": """q_sample_fixed q_priority_sample q_priority_sample_strat
        q_dsir_weights q_dsir_sample q_dsir_incr q_split q_split_safe
        q_quantile_buckets q_source_mix q_temp_mix q_source_kl
        q_budget_select q_sample_stratified q_topk_quality q_cluster_sample
        q_source_stats""",
    "relational": """q1_pricing q_salted_agg q_salted_join q_rollup q_cube
        q_approx_distinct q_snapshot_diff q_cdc_merge q_histogram
        q_linear_fit q_robust_fit q_pivot q_hop_windows q_debounce q_scd2
        q_percentiles q_approx_percentiles q_psi_drift q_sessionize
        q_funnel q_bucket_join q_asof q_interval_join q_latest""",
    "multimodal": """q_media_meta q_media_decode q_media_frames
        q_media_neardup q_media_hashes q_jpeg_meta q_jpeg_neardup
        q_audio_meta q_audio_neardup q_video_frames q_video_neardup""",
}

FAMILIES = {name: fam for fam, names in _FAMILY_NAMES.items()
            for name in names.split()}
FAMILY_ORDER = list(_FAMILY_NAMES)

# query -> the generated tables it reads (for obs_per_s)
SWEEP = {
    "q_flat_runs": ["events"],
    "q_sentem_o2": ["events"],
    "q_dedup_minhash": ["documents"],
    "q_dedup_exact": ["documents"],
    "q_embed_pairs": ["embeddings"],
    "q_tfidf": ["documents"],
    "q_text_quality": ["documents"],
    "q_split_safe": ["documents"],
    "q1_pricing": ["lineitem"],
    "q_media_meta": ["documents"],
}
