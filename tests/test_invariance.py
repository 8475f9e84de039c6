"""Partition-count invariance sweep (the reference's n_procs=1 vs 4 CI
discipline, SURVEY.md §5): representative queries must produce identical
canonical results under different shuffle parallelism — the driver runs them
in its own session with its own settings."""

import hashlib

import pytest

import hpmr_spark.all_queries  # noqa: F401
from hpmr_spark.catalog import QUERIES

REPRESENTATIVE = [
    "mapreduce_revenue_by_order",
    "reducer_keep_overwrite",
    "q1_pricing_summary",
    "join_multiway_region_revenue",
    "window_top3_orders_per_customer",
    "topk_global_orders",
    "rollup_returnflag_linestatus",
    "skew_salted_sum_by_status",
    "skew_salted_join_revenue",
    "dedup_minhash_lsh",
    "dedup_simhash_pairs",
    "similarity_cosine_topk",
    "text_quality_score",
    "kv_f1_reducer_surface",
    "sample_deterministic_10pct",
    "train_test_split_counts",
    "bucketed_join_revenue",
    "asof_join_purchase_view",
    "sessionize_clicks",
    # session additions: iterative, session-window, merge, fuzzy-dedup,
    # rows-frame window, arrow kernel
    "graph_pagerank_trade",
    "session_window_builtin",
    "merge_upsert_customers",
    "dedup_levenshtein_fuzzy",
    "window_moving_avg_7row",
    "mapinarrow_embedding_norms",
    # corpus-pipeline batch: packing (global prefix sum), mixing (hash
    # gating), contamination (broadcast semi), quantization (row-local)
    "pack_sequences_ctx512",
    "mixture_weighted_sources",
    "contamination_check_5gram",
    "embedding_quantize_int8",
    # corpus-stats batch: bigram shuffle agg, exact-integer centroids
    "bigram_lm_counts",
    "embedding_centroids_exact",
    # corpus-quality/analytics/temporal batches: persisted-pairs LM score,
    # gaps-and-islands SCD2, IGNORE-NULLS carry-forward, per-dim ranks,
    # staged funnel joins, exact-moment doubles
    "doc_lm_score_ppm",
    "scd2_user_event_history",
    "locf_gap_fill_values",
    "embedding_rank_normalize",
    "funnel_view_click_purchase",
    "skew_kurtosis_quantity",
    "time_weighted_avg_value",
    "pipeline_pretraining_report",
    # late round-2: iterative BFS, integer z² anomaly flags, min_by/max_by
    # bars, one-level Arrow custom-reducer fold after the key shuffle, JL
    # projection
    "graph_bfs_3hop",
    "event_rate_anomaly_hours",
    "ohlc_hourly_bars",
    "custom_reducer_max_qty",
    "embedding_random_projection",
    # closing batch: corpus-wide fingerprint window, bucketized interval
    # join, trailing window-list EWMA, rank-selected percentile clip
    "dedup_substring_ngram",
    "session_overlap_pairs",
    "ewma_user_value_exact",
    "winsorize_clip_stats",
    # final additions: rolling-distinct explode, basket pair join, rank
    # selections, digit profile, RDD custom partitioner physical placement
    "dau_wau_mau_rollup",
    "assoc_rules_support_ppm",
    "pareto_revenue_concentration",
    "benford_first_digit_ppm",
    "custom_partitioner_buckets",
    # mleval/scale-sketch/IR batches: global rank window, sketch+recount
    # two-pass, broadcast bitset probe, bit_or rollup, LN-commitment
    # scoring, sweep-line islands, rank-selected quartile fences
    "binary_classifier_eval_auc",
    "heavy_hitters_mg",
    "bloom_semi_prune",
    "bitmap_daily_activity",
    "bm25_topk_docs",
    "token_entropy_by_lang",
    "interval_coverage_union",
    "iqr_fences_outliers",
    # log-domain LM batch (persisted pair frame, LN commitment), profiling
    # (stack one-pass), hypothesis tests (tiny-cell rollups), dominance
    # sweep + tie-broken ntile
    "doc_perplexity_avg_nll",
    "weighted_sample_topk_es",
    "softmax_temperature_mixture",
    "column_profile_orders",
    "percentile_grid_exact",
    "chi_square_independence",
    "ab_test_z2_gate",
    "skyline_price_date",
    "histogram_equidepth_cents",
    "zipf_fit_slope",
    # CEP string-pattern rollup, broadcast int8 GEMM top-k
    "match_recognize_vcp",
    "similarity_topk_int8",
    # MR physical patterns + second sketch batch
    "secondary_sort_fold",
    "pca_power_iteration_int",
    "linear_counting_distinct",
    "clustering_coefficient_ppm",
    # physical control, exact allocation, versioned snapshots, accumulator
    "join_hint_smj_revenue",
    "attribution_position_based",
    "sink_versioned_snapshots",
    "accumulator_row_audit",
    # deterministic Poisson bootstrap (explode x32 + 32-cell combine)
    "bootstrap_ci_poisson",
    # policy evaluation + time-anchored funnel
    "bandit_replay_ctr",
    "funnel_time_bounded",
    # observation metrics + grouped applyInArrow
    "observe_metrics_audit",
    "applyinarrow_lang_stats",
    # bloom-gated stream (complete-mode rerun) + permissive CSV quarantine
    "streaming_bloom_prune_counts",
    "source_csv_permissive_quarantine",
    # crossmodal encoder + matryoshka eval + l-diversity
    "crossmodal_text_to_vec_topk",
    "matryoshka_truncation_recall",
    "l_diversity_audit",
    # round-5 representatives: two-pass ranking machinery consumers, pair
    # joins on bounded rollups, committed-hash structures, unrolled DP
    "acf_lags_revenue",
    "runs_test_above_median",
    "theil_sen_slope_milli",
    "cuped_adjusted_lift",
    "kmv_distinct_estimate",
    "t_closeness_audit",
    "consistent_hash_ring",
    "rrf_fused_ranking",
    "graph_hits_scores",
    "hilbert_clustering_key",
    "unigram_viterbi_segment",
    "pq_encode_subvectors",
    "nelson_aalen_hazard",
    "weekday_seasonality_profile",
    "frequent_triples_support",
    "source_unique_coverage_value",
    "silhouette_centroid_ppm",
    "voptimal_histogram_dp",
    "pq_adc_topk_search",
]


def canon(df) -> str:
    pdf = df.toPandas()
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pdf[c].dtype.kind == "f":
            pdf[c] = pdf[c].round(6)
        pdf[c] = pdf[c].astype(str)
    rows = sorted("|".join(t) for t in pdf.itertuples(index=False, name=None))
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


@pytest.mark.parametrize("name", REPRESENTATIVE)
def test_partition_invariance(spark, sf_dir, name):
    orig = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "5")
        h5 = canon(QUERIES[name](spark, sf_dir))
        spark.conf.set("spark.sql.shuffle.partitions", "64")
        h64 = canon(QUERIES[name](spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", orig)
    assert h5 == h64, f"{name} result depends on shuffle partitioning"


@pytest.mark.parametrize(
    "name",
    [
        "streaming_tumbling_counts",  # complete mode
        "streaming_stateful_user_totals",  # update mode
        "streaming_stream_stream_join",  # append mode
    ],
)
def test_stream_state_partition_invariance(spark, sf_dir, name, monkeypatch):
    # _run_to_table pins the stream's shuffle (= state) partitions to
    # STREAM_SHUFFLE_PARTITIONS over the session's value, so the sweep above
    # never varies them; vary the pin itself.
    from hpmr_spark.streaming import windows

    hashes = []
    for n in (1, 8):
        monkeypatch.setattr(windows, "STREAM_SHUFFLE_PARTITIONS", n)
        hashes.append(canon(QUERIES[name](spark, sf_dir)))
    assert hashes[0] == hashes[1], f"{name} result depends on state partitioning"
