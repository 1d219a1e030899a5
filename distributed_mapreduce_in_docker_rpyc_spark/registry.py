"""Query registry — the bridge between operator modules and the driver
contract (``__spark_entry__.py``).  The reference has no query registry -
its one job is hardcoded (SURVEY.md §3: 'there is no query language'); the
registry is what makes the engine a queryable surface instead.

Every implemented operator registers a named query callable
``(spark, sf_dir) -> DataFrame`` and, when SQL-expressible, a DuckDB oracle SQL
string computing the same result with the same column names (the driver's
comparison sorts columns by name and hash-compares values — FIXTURES.md §5).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register ``fn`` under ``name``, optionally with oracle SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = " ".join(oracle.split())
        return fn

    return deco


# The round driver verifies 50 queries per round in registration order.
# Generated by `scripts/gen_driver_priority.py` from the CORRECTNESS_r01-r11
# union and spliced here verbatim: the two markov queries lead (their
# driver-side replay, functions/exactmath.py, has no driver oracle row yet),
# then every query STALEST-FIRST by its latest driver correctness row (the
# within-round tie-break is the round file's row order); the two
# hash-typing canaries stay pinned last (question closed; permanent guard:
# tests/test_output_typing.py).  `scripts/verify_driver.py --strict`
# recomputes where the 50-slot line falls; trust it, not the comments.
DRIVER_PRIORITY: tuple[str, ...] = (
# (1) head: driver-side markov replay, first driver row
    "events_markov_stationary",
    "events_markov_attribution",
# --- latest driver row: r3 ---
    "dq_referential_integrity",
    "dq_join_key_skew",
    "dq_k_anonymity",
    "heavy_hitters_verified",
    "cms_word_estimates",
    "stat_corr_matrix",
    "multimodal_meta",
    "multimodal_decode_stub",
    "multimodal_frame_sample",
    "multimodal_resize",
    "asof_purchase_click",
    "interval_join_error_window",
    "events_funnel",
    "events_hourly_anomaly",
    "events_variant_props",
    "events_transition_matrix",
    "events_active_users_7d",
    "q2_min_cost_supplier",
    "q15_top_supplier",
    "q20_potential_promotion",
    "q21_waiting_orders",
    "orders_monthly_growth",
    "supplier_pareto",
    "part_price_histogram",
    "customer_rfm_segments",
    "scd2_priority_history",
    "cdc_snapshot_diff",
    "winsorized_prices",
    "order_item_quantities",
    "basket_part_pairs",
    "fuzzy_supplier_pairs",
    "date_spine_daily_revenue",
    "mv_incremental_daily_revenue",
    "udf_scalar_pandas_net_price",
    "udaf_weighted_avg_pandas",
    "cogrouped_order_fill_pandas",
# --- latest driver row: r4 ---
    "jsondict_roundtrip",
    "multimodal_decode_bmp",
    "multimodal_decode_wav",
    "text_unigram_logprob",
    "bpe_merge_pairs",
    "sim_lsh_recall",
    "pagerank_word_graph",
    "sim_topk_vectorized",
    "sim_quantized_recall",
    "grouped_zscore_pandas",
    "q12_priority_by_flag",
    "sim_topk_ivf",   # <-- 50-slot line
    "sim_ann_recall_report",
    "bfs_word_distances",
    "corpus_shuffle_shards",
    "stream_cep_funnel",
    "ts_interpolate_daily",
    "analyze_table_stats",
    "hybrid_search_rrf",
    "corpus_temperature_mixture",
    "quantile_binning",
    "c4_line_dedup",
    "dedup_substring_coverage",
    "emb_gram_matrix",
    "recursive_cte_inventory",
    "stream_watermark_finalize",
    "text_length_outliers_mad",
    "join_null_safe",
    "corpus_chunk_windows",
    "feature_hashing_trick",
    "target_encode_brand",
    "target_encode_kfold",
    "ab_test_conversion",
    "stream_upsert_user_state",
    "multimodal_phash",
    "multimodal_phash_pairs",
    "emb_whiten_diag",
    "text_byte_entropy",
    "linreg_normal_equations",
    "token_label_mi",
    "unpivot_order_metrics",
    "naive_bayes_langid",
    "kmv_daily_distinct",
    "skyline_parts",
    "linreg_by_returnflag",
    "dedup_prefix_filter",
    "dedup_sorted_neighborhood",
    "logreg_gradient_descent",
    "graph_kcore_parts",
# --- latest driver row: r5 ---
    "kmv_weekly_merge",
    "basket_association_rules",
    "events_sequence_loglik",
    "stream_join_left_outer",
    "ts_rolling_median_revenue",
    "emb_quantile_normalize",
    "bootstrap_mean_ci",
    "dedup_cluster_keep_best",
    "ts_ewma_revenue",
    "knn_label_vote",
    "decision_stump_train",
    "bloom_filter_probe",
    "theilsen_daily_trend",
    "tfidf_cosine_pairs",
    "text_bigram_lm_score",
    "multimodal_wav_energy",
    "orc_roundtrip",
    "events_attribution_credit",
    "dq_l_diversity",
    "sim_kmeans_report",
    "phrase_search_positional",
    "scd2_point_in_time_join",
    "kmv_type_intersection",
    "events_active_streaks",
    "multimodal_pixel_histogram",
    "dedup_lsh_tuning_report",
    "dq_benford_leading_digit",
    "text_readability_scores",
    "corpus_reservoir_sample",
    "vocab_oov_rate",
    "ts_seasonal_decompose",
    "multimodal_wav_hadamard",
    "bitmap_index_intersection",
    "text_rake_phrases",
    "multimodal_bmp_gradient",
    "asof_nearest_purchase",
    "bucketed_join_colocated",
    "stream_wordcount_totals",
    "dq_completeness_matrix",
    "emb_matryoshka_recall",
    "events_time_to_convert",
    "graph_link_prediction",
    "orders_open_backlog",
    "hll_portable_daily",
    "bradley_terry_strength",
    "logreg_calibration_bins",
# --- latest driver row: r6 ---
    "logreg_roc_auc",
    "logreg_threshold_sweep",
    "graph_connected_components",
    "text_chi2_keyness",
    "survival_kaplan_meier",
    "events_cusum_changepoint",
    "ts_autocorrelation",
    "ols_kfold_cv",
    "ams_f2_sketch",
    "emb_pca_power_iteration",
    "customer_gini_concentration",
    "stat_mannwhitney_u",
    "stat_welch_ttest",
    "stat_spearman_corr",
    "dq_psi_drift",
    "corpus_js_divergence",
    "text_ngram_novelty",
    "dedup_winnowing",
    "partitioned_write_pruning",
    "conformal_interval_coverage",
    "events_interval_coverage",
    "emb_silhouette",
    "text_content_chunks",
    "stat_ks_test",
    "stat_mann_kendall",
    "corpus_heaps_law",
    "stat_chisq_independence",
    "stat_anova_oneway",
    "lineitem_weighted_median",
    "inverted_index_stats",
    "ziptext_datasource_scan",
    "hll_daily_distinct_error",
    "approx_percentile_error",
    "stat_kruskal_wallis",
# --- latest driver row: r7 ---
    "jsonl_roundtrip",
    "csv_roundtrip",
    "compaction_roundtrip",
    "stat_levene_brown_forsythe",
    "stat_jarque_bera",
    "stat_cohens_kappa",
    "dq_t_closeness",
    "histogram_quantile_portable",
    "events_poisson_rate_test",
    "mlm_masking_plan",
    "preference_pair_builder",
    "join_cardinality_estimate",
    "sim_mmr_diversify",
    "emb_pq_codebook",
    "stat_fleiss_kappa",
    "dq_column_entropy",
    "events_cohort_ltv",
    "dq_outlier_iqr_report",
    "dq_freshness_lag_report",
    "forecast_pinball_loss",
    "stat_permutation_test",
    "text_pii_report",
    "text_pii_totals",
    "bpe_second_merge_round",
    "text_quality_rules_report",
    "decontam_eval_report",
    "search_ndcg_report",
    "xml_roundtrip",
    "emb_centroid_drift_report",
    "stat_bh_fdr_report",
    "events_did_analysis",
    "dq_uniqueness_profile",
    "events_session_gap_sensitivity",
    "stat_tost_equivalence",
    "stat_mcnemar_test",
    "stat_cochran_armitage",
    "feature_woe_iv",
# --- latest driver row: r8 ---
    "span_corruption_plan",
    "negative_sampling_plan",
    "dq_contract_validation",
    "sim_pq_adc_topk",
    "stat_friedman_test",
    "dp_noised_count_report",
    "graph_label_propagation",
    "stat_bartlett_test",
    "dedup_survivorship_report",
    "contrastive_pair_mining",
    "multimodal_audio_constellation",
    "jsonl_gzip_roundtrip",
    "setop_except_all",
    "setop_intersect_all",
    "mv_incremental_join_delta",
    "stat_effect_sizes_report",
    "storage_zorder_cluster",
    "eval_pass_at_k",
    "forecast_mase_backtest",
    "events_top_paths",
    "stat_sprt_sequential",
    "stat_power_mde_report",
    "text_repetition_report",
    "events_stickiness_dau_mau",
    "corpus_importance_resample",
# --- latest driver row: r9 ---
    "jsonl_source_agreement",
    "csv_source_agreement",
    "compaction_source_agreement",
    "dataset_fingerprint_report",
    "ann_join_nearest_neighbor",
    "ann_join_ivf",
    "sim_ann_join_recall_report",
    "bpe_train_k_merges",
    "bpe_encode_corpus",
    "graph_pagerank",
    "corpus_filter_funnel",
    "corpus_curriculum_plan",
    "dataset_snapshot_diff",
    "ab_uplift_by_segment",
    "events_bandit_ucb",
    "linreg_ridge",
    "stat_dunn_posthoc",
    "wordcount_top20",
    "wordcount_full",
    "wordcount_rdd_core",
    "ingest_zip_wordcount",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q4_order_priority_check",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q10_returned_items",
    "q14_promo_revenue_share",
    "q18_large_volume_customers",
    "filter_project_pushdown",
    "join_broadcast_dim",
    "join_left_outer",
    "join_full_outer",
    "join_semi",
    "join_anti",
    "agg_distinct",
# --- latest driver row: r10 ---
    "ann_join_auto_k_multiprobe",
    "sim_multiprobe_recall_report",
    "ann_join_query_directed_probe",
    "sim_directed_probe_recall_report",
    "pack_sequences_write",
    "pack_windows_content_readback",
    "dedup_semdedup_report",
    "dedup_semdedup_survivors",
    "pack_attention_mask_plan",
    "stream_pack_sequences",
    "agg_stats",
    "rollup_agg",
    "cube_agg",
    "window_topk_per_group",
    "window_running_sum",
    "window_lag_gap",
    "setop_union",
    "setop_intersect",
    "setop_except",
    "orderby_limit_global",
    "distinct_projection",
    "scalar_functions",
    "pivot_status_by_flag",
    "scalar_subquery_above_avg",
    "grouping_sets_sql",
    "salted_join_revenue_by_priority",
    "q7_volume_shipping",
    "q9_product_type_profit",
    "q13_customer_order_histogram",
    "q16_supplier_part_counts",
    "q22_global_sales_opportunity",
    "agg_percentiles",
    "window_analytics",
    "q8_market_share",
    "q11_important_stock",
    "q17_small_quantity_revenue",
    "q19_disjunctive_predicates",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_embedding_cosine",
    "dedup_simhash",
    "dedup_simhash_pairs",
    "dedup_keep_first",
    "dedup_clusters",
    "dedup_incremental",
    "dedup_containment",
    "sim_cosine_pairs",
    "sim_topk_bruteforce",
    "sim_topk_lsh",
# --- latest driver row: r11 ---
    "graph_pagerank_dangling",
    "stream_ann_index_maintenance",
    "ann_join_auto_k",
    "sim_auto_k_recall_report",
    "dataset_fingerprint_incremental",
    "pack_sequences_plan",
    "pack_sequences_manifest",
    "dataloader_shard_plan",
    "batch_padding_plan",
    "emb_outliers_by_label",
    "text_stats",
    "text_langid",
    "text_token_count_bpe",
    "text_fingerprint",
    "text_bigram_freq",
    "text_quality_score",
    "text_langid_confusion",
    "corpus_split",
    "corpus_mixture_plan",
    "corpus_stratified_sample",
    "corpus_packing_plan",
    "text_tfidf_top_terms",
    "text_pii_scrub",
    "udtf_sentence_split",
    "text_collocations_pmi",
    "word_cooc_triangles",
    "zipf_law_fit",
    "text_gopher_quality",
    "decontam_ngram_overlap",
    "text_bm25_search",
    "corpus_pipeline_report",
    "corpus_weighted_sample",
    "events_tumbling_hourly",
    "events_sliding_10m_5m",
    "events_sessionize",
    "events_json_extract",
    "events_top_users",
    "window_range_frame_rolling",
    "events_cohort_retention",
    "label_centroids",
    "emb_quantize_int8",
    "stream_tumbling_hourly",
    "stream_sliding_10m_5m",
    "stream_stateful_user_totals",
    "stream_session_windows",
    "stream_static_join_segments",
    "stream_dedup_pairs",
    "stream_stream_join_attribution",
    "stream_dedup_against_corpus",
    "dq_orders_report",
# --- spent diagnostics (pinned last) ---
    "probe_hash_typing_hugeint",
    "probe_hash_typing_decimal38",
)

# Permanently rows-only reports (no SQL-replayable oracle by design: file
# sizes are environment truth).  Registered LAST so a driver budget slot
# never again produces a `no_oracle` error row (r3 spent 3 of its 50 slots
# on these — VERDICT r3 "wrong" #2).  The HLL / approx-percentile error
# reports left this list in r6: their oracles now pin the exact side plus
# the error bound as integer columns (VERDICT r5 next-round #5).
DRIVER_DEMOTE: tuple[str, ...] = (
    "storage_file_report",
)

# Queries whose BUILDER executes real Spark work before returning the
# DataFrame — streaming jobs run to completion (awaitTermination inside the
# build), scratch datasets written and read back, or iterative training
# loops with bounded per-round collects.  Plan-only consumers (the output
# typing lint, plan fingerprinting when it wants to stay cheap) use this to
# skip the Spark-side build: for these names "build the lazy frame and read
# .schema" is neither lazy nor side-effect-free (ADVICE r9).  Execution-
# level checks (scripts/verify_driver.py, the driver itself) still cover
# every one of them dtype-faithfully — membership here trades only LINT
# coverage, never correctness coverage.  Curated by family; erring on
# inclusion is safe for the same reason.
EAGER: frozenset[str] = frozenset(
    {
        # structured-streaming jobs: the builder starts a query, drives it
        # to completion, and returns the sink/readback frame
        "stream_tumbling_hourly",
        "stream_sliding_10m_5m",
        "stream_stateful_user_totals",
        "stream_session_windows",
        "stream_static_join_segments",
        "stream_dedup_pairs",
        "stream_stream_join_attribution",
        "stream_dedup_against_corpus",
        "stream_cep_funnel",
        "stream_watermark_finalize",
        "stream_upsert_user_state",
        "stream_join_left_outer",
        "stream_wordcount_totals",
        "stream_ann_index_maintenance",
        "stream_pack_sequences",
        # filesystem round-trips: write scratch, read back, compare
        "jsonl_roundtrip",
        "jsonl_gzip_roundtrip",
        "jsonl_source_agreement",
        "csv_roundtrip",
        "csv_source_agreement",
        "compaction_roundtrip",
        "compaction_source_agreement",
        "xml_roundtrip",
        "orc_roundtrip",
        "jsondict_roundtrip",
        "partitioned_write_pruning",
        "bucketed_join_colocated",
        "storage_zorder_cluster",
        "storage_file_report",
        "ziptext_datasource_scan",
        "ingest_zip_wordcount",
        "pack_sequences_write",
        "pack_windows_content_readback",
        # iterative algorithms / trainers: per-round bounded collects or
        # counts at plan-build time (loop depth is data-dependent)
        "graph_pagerank",
        "graph_pagerank_dangling",
        "graph_connected_components",
        "graph_kcore_parts",
        "graph_label_propagation",
        "pagerank_word_graph",
        "bfs_word_distances",
        "dedup_clusters",
        "dedup_cluster_keep_best",
        "events_markov_stationary",
        "events_markov_attribution",
        "logreg_gradient_descent",
        "logreg_calibration_bins",
        "logreg_roc_auc",
        "logreg_threshold_sweep",
        "emb_pca_power_iteration",
        "emb_pq_codebook",
        "sim_mmr_diversify",
        "sim_topk_ivf",
        "sim_ann_recall_report",
        "sim_quantized_recall",
        "sim_kmeans_report",
        "dedup_semdedup_report",
        "dedup_semdedup_survivors",
        "ann_join_ivf",
        "ann_join_auto_k",
        "ann_join_auto_k_multiprobe",
        "sim_auto_k_recall_report",
        "sim_multiprobe_recall_report",
        "ann_join_query_directed_probe",
        "sim_directed_probe_recall_report",
        "bpe_train_k_merges",
        "bpe_encode_corpus",
        "bpe_second_merge_round",
        "bradley_terry_strength",
        "naive_bayes_langid",
        "heavy_hitters_verified",
        "text_tfidf_top_terms",
        "dq_completeness_matrix",
    }
)


def load_all() -> None:
    """Import every operator module so its ``@register`` calls run, then
    reorder the registry so :data:`DRIVER_PRIORITY` names come first.

    Registration order is deliberate: the round driver verifies queries in
    registration order under a budget (50/round), so the queries still missing
    a driver correctness row go FIRST and the already-driver-green surface
    registers behind them.
    """
    for mod in (
        "queries_dedup",
        "queries_similarity",
        "queries_text",
        "queries_events",
        "queries_temporal",
        "queries_quality",
        "queries_sketches",
        "queries_streaming",
        "queries_multimodal",
        "queries_wordcount",
        "queries_relational",
        "queries_features",
        "queries_probes",
    ):
        try:
            __import__(f"distributed_mapreduce_in_docker_rpyc_spark.operators.{mod}")
        except ModuleNotFoundError as exc:
            # Only tolerate genuinely-optional third-party deps; a missing
            # module of THIS package (typo'd import, broken refactor) must
            # fail loudly, not silently shrink the query surface.
            if (exc.name or "").startswith("distributed_mapreduce_in_docker_rpyc_spark"):
                raise
            import warnings

            warnings.warn(
                f"operator module {mod!r} skipped: missing optional dependency {exc.name!r}",
                stacklevel=2,
            )

    missing = [n for n in (*DRIVER_PRIORITY, *DRIVER_DEMOTE) if n not in QUERIES]
    if missing:
        raise ValueError(f"DRIVER_PRIORITY/DEMOTE names not registered: {missing}")
    pins = (*DRIVER_PRIORITY, *DRIVER_DEMOTE)
    dups = sorted({n for n in pins if pins.count(n) > 1})
    if dups:
        # a silent duplicate would shift every later name's slot and break
        # the 50-query budget-line math without failing anything visible
        raise ValueError(f"duplicate DRIVER_PRIORITY/DEMOTE names: {dups}")
    pinned = {*DRIVER_PRIORITY, *DRIVER_DEMOTE}
    ordered = [
        *DRIVER_PRIORITY,
        *(n for n in QUERIES if n not in pinned),
        *DRIVER_DEMOTE,
    ]
    for d in (QUERIES, ORACLES):
        items = {n: d[n] for n in ordered if n in d}
        d.clear()
        d.update(items)
