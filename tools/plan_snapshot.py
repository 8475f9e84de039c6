"""Snapshot physical-plan shape metrics (shuffle count, broadcast presence,
codegen spans) for every analyzable query into plans_golden.json.

Run after intentional plan changes: python tools/plan_snapshot.py
tests/test_plan_regression.py compares current plans against the snapshot —
a shuffle-count increase is a scale regression caught at test time.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

GOLDEN = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans_golden.json")

SKIP = {
    # execute work at build time (streaming runs, collects, table writes)
    "streaming_statestore_read",  # runs the checkpointed stream at build
    "sql_scripting_isqrt_loop",  # SQL script executes eagerly at build
    "cuckoo_feasibility_census",  # iterative CC: checkpoints at build
    "streaming_tumbling_counts",
    "streaming_sliding_activity",
    "streaming_stateful_user_totals",
    "streaming_append_closed_windows",
    "streaming_stream_stream_join",
    "streaming_left_outer_join",
    "streaming_dedup_events",
    "setops_union_intersect_except",
    "similarity_topk_numpy",
    "bucketed_join_revenue",
    "sink_parquet_roundtrip",
    "sink_csv_roundtrip",
    "sink_json_roundtrip",
    "dedup_cluster_components",  # iterative: checkpoints at build
    "doc_perplexity_avg_nll",  # persisted pair frame: plan shape flips to InMemoryTableScan once any earlier test materializes it
    "chi_square_independence",  # persisted cell frame, same reason
    "dedup_incremental_epochs",
    "sketch_countmin_status",  # driver-side sketch build + collect
    "streaming_dedup_against_corpus",
    "text_tfidf_scaled",  # driver-side count during build
    "sink_orc_roundtrip",
    "source_binaryfile_fingerprints",  # writes payload files at build
    "partition_pruning_proof",  # writes partitioned parquet + inputFiles()
    "pca_power_iteration_int",  # collects the 64x64 Gram at build
    "sink_versioned_snapshots",  # writes snapshot dirs at build
    "lm_greedy_decode_steps",  # persisted bigram frame (InMemoryTableScan flake)
    "graph_triangle_count",  # persisted edge frames, same flake
    "clustering_coefficient_ppm",  # persisted edge frames, same flake
    "accumulator_row_audit",  # foreachPartition action at build
    "observe_metrics_audit",  # collect at build (Observation materialization)
    "streaming_bloom_prune_counts",  # runs the stream at build
    "source_csv_permissive_quarantine",  # writes CSV shards + cache at build
    "sink_xml_roundtrip",
    "sink_text_roundtrip",
    "sink_dynamic_partition_overwrite",
    "pydatasource_sink_roundtrip",  # writes the JSON-lines shards at build
    "ivm_checkpoint_resume",  # writes the history checkpoint at build
    "ivm_join_delta_merge",  # writes the history join partials at build
    "sink_partitioned_pruned",
    "streaming_session_windows",
    "streaming_foreachbatch_sink",
    "streaming_static_enrich",
    "graph_pagerank_trade",  # plan depends on cache materialization state
    "streaming_funnel_stages",
    "doc_lm_score_ppm",  # persists the pairs frame at build
    "graph_bfs_3hop",  # persists the edge frame at build (iterative)
    "graph_kcore_2",  # iterative peel: checkpoints at build
    "rfm_user_scores",  # persisted multi-consumer user frame (InMemoryTableScan flake)
    "pareto_revenue_concentration",  # persisted per-customer frame, same
    "graph_lpa_communities",  # persisted edge frames (iterative LPA), same
    "kneser_ney_bigram_ppb",  # persisted bigram-type frame (plan-unique dummy), same
    "conformal_threshold_coverage",  # persisted per-customer frame, same
    "km_survival_curve",  # persisted duration histogram, same
    "sprt_purchase_rate",  # persisted llr prefix frame, same
    "streaming_token_bucket",  # runs the stream at build
    "acf_lags_revenue",  # persisted day rollup (InMemoryTableScan flake)
    "rolling_median_7day",  # persisted day rollup, same
    "mann_kendall_trend",  # persisted day rollup, same
    "runs_test_above_median",  # persisted day rollup, same
    "cuped_adjusted_lift",  # persisted per-user frame, same
    "theil_sen_slope_milli",  # persisted weekly rollup, same
    "t_closeness_audit",  # persisted cell frame, same
    "graph_hits_scores",  # persisted edge frames, same
    "weekday_seasonality_profile",  # persisted day rollup, same
    "nelson_aalen_hazard",  # persisted duration histogram, same
    "frequent_triples_support",  # persisted basket frames, same
    "source_unique_coverage_value",  # persisted gram frame, same
    "voptimal_histogram_dp",  # persisted prefix/cost frames, same
    "dpp_join_pruned_counts",  # writes the partitioned layout at build
    "isotonic_calibration_minimax",  # persisted bin frame, same
    "streaming_checkpoint_exactly_once",  # runs two stream phases at build
    "ivfpq_topk_search",  # k-means training + codebook seeds collect at build
    "elo_online_ratings",  # persisted weekly rollup (3 consumers)
    "adjusted_rand_index",  # eager localCheckpoint on the contingency table
    "perceptron_online_epoch",  # eager localCheckpoint on the 1-row fold
    "assortativity_degree_trade",  # persisted trade-edge frames (pe/sym)
    "katz_centrality_trade",  # persisted trade-edge frames, same
    "ivfpq_recall_clustered_gate",  # same trainer collects + persisted synth corpus
    "semdedup_centroid_prune",  # integer-Lloyd collects + persisted assign frame
    "dedup_minhash_lsh",  # persisted shingle frame: the r8 bounded-regime
    # repartition is inside the cached subtree, so the counted shuffle set
    # flips with cache-registration order (InMemoryTableScan flake class)
    "bpe_train_8_merges",  # 8 argmax collects + persisted vocab at build
    "bpe_apply_compression_report",  # same trainer collects at build
    "dedup_threshold_sweep",  # bounded ceiling-guard count() at build
    "seasonal_decompose_additive",  # persisted day rollup (InMemoryTableScan flake)
    "control_chart_we_rules",  # persisted day rollup, same
    "link_prediction_adamic_adar",  # persisted edge list, same
    "lttb_downsample_12",  # UNpersisted day rollup: flips to InMemoryTableScan once the persisted timeseries-family day frames materialize in a shared session
    "holt_winters_daily_forecast",  # UNpersisted day rollup, same class
    "seasonal_anomaly_days",  # persisted day rollup + residual frame
    "binseg_changepoints_revenue",  # persisted rank/prefix + split frames
    "emd_1d_price_shift",  # persisted support frame (rn-equi gap join)
    "dtw_nation_revenue",  # persisted (nation, month) grid (a/b-side pair join)
    "textrank_keywords",  # persisted node/edge frames (3 bounded iterations)
    "slope_one_recommend",  # persisted ratings rollup (4 consumers)
    "grid_dbscan_clusters",  # iterative components: localCheckpoints at build
    "dickey_fuller_unit_root",  # persisted scaled day frame (lag rn-join)
    "ransac_line_inliers",  # persisted day rollup (rank + inlier consumers)
    "haar_wavelet_compress",  # persisted base/top8 frames (transform + recon)
    "blocking_quality_metrics",  # ngram_jaccard_pairs persists the shingle frame
    "streaming_ewma_user_state",  # runs the stream at build
    "graph_modularity_ppm",  # persisted edge/label frames (LPA pattern)
    "pmi_top_pairs",  # persisted bigram frame (4 consumers)
    "token_f1_paired_docs",  # persisted token-count frame (3 consumers)
    "brandes_betweenness_trade",  # eager localCheckpoints on the hop frames
    "context_recall_topk",  # persisted distinct-token frame (2 consumers)
    "wand_upper_bound_prune",  # persisted postings + scored frames
    "nearest_centroid_eval",  # persisted quantized (vec, dim) frame
    "hill_tail_index",  # persisted top-17 frame (threshold + log-sum)
    "influence_cascade_reach",  # persisted edge/frontier frames (BFS)
    "closeness_harmonic_h12",  # persisted sym/dist frames (relaxation rounds)
    "pinball_loss_quantile_eval",  # persisted train-histogram running frame
    "delete_cascade_audit",  # persisted order-flag frame (agg + lineitem join)
    "theil_u2_seasonal",  # persisted day frame (three lag consumers)
    "triplet_violation_rate",  # persisted quantized vector frame (5 consumers)
    "markov_stationary_power",  # persisted transition frame (8 iterations)
    "ccnet_ppl_buckets",  # persisted per-doc token-count frame (plan-unique dummy)
    "cluster_balanced_sample",  # bounded seed-vector collect at build
    "lm_beam_search_decode",  # per-step 2-row localCheckpoint + persisted bigram frame
    "matrix_profile_daily",  # persisted day rollup (InMemoryTableScan flake class)
    "kcenter_greedy_coreset",  # 8 per-step argmax collects at build
    "ssl_prototype_prune",  # integer-Lloyd collects at build; shares the
    # semdedup assignment subtree (SKIPped-persisted-sibling rule)
    "good_turing_unseen_mass",  # persisted spectrum frame (3 consumers)
    "youden_j_threshold",  # persisted score histogram (totals + prefix)
    "krippendorff_alpha_nominal",  # persisted (doc, label) counts (2 consumers)
    "randomization_test_mean_diff",  # persisted calendar-day rollup (obs + B-fold)
    "sax_symbolic_motifs",  # persisted PAA rollup (rank + totals consumers)
    "bh_fdr_control",  # persisted hypothesis grid (rank + m consumers)
    "wordpiece_maxmatch_tokenize",  # bounded vocab TakeOrdered collects at build
    "moe_router_load_balance",  # persisted 8-row expert census (totals + final)
    "successive_halving_replay",  # persisted rung frame + per-rung localCheckpoints
    "condorcet_copeland_winner",  # persisted 25-row ranked frame (3 consumers)
    "jaro_winkler_pairs",  # persisted vocab frame (rank + join-back)
    "mink_prob_membership",  # persisted unigram LM frame (tot + token join)
    "fairness_equalized_odds_audit",  # persisted 3-row rates frame (gaps + final)
    "hodges_lehmann_location",  # persisted calendar-day rollup (3 consumers)
    "cliffs_delta_effect",  # persisted calendar-day rollup (4 consumers)
    "pystream_source_tumbling",  # runs the Python stream at build
    "energy_distance_twosample",  # persisted calendar-day rollup (5 consumers)
    "rmst_survival_time",  # persisted KM output frame (builds on a SKIPped query)
    "median_absolute_deviation",  # r11: persisted cents histogram
    # (unconditional MEMORY_AND_DISK; 5 downstream consumers — a size
    # dispatch was probed and rejected, OPTIMIZATION_r11.md)
    "naive_bayes_lang_eval",  # r11: persisted per-doc postings frame (dwc)
    "bcubed_dedup_eval",  # r11: persisted (pred, truth) cells frame
}

SF_DIR = "/root/testdata/sf0.001"


def snapshot() -> dict:
    from __spark_entry__ import queries

    from hpmr_spark.engine import get_spark
    from hpmr_spark.plans.explain import (
        has_broadcast_join,
        n_shuffles,
        n_single_partition_windows,
        whole_stage_codegen_spans,
    )

    spark = get_spark("plan-snapshot")
    # ONE build per query, with AQE off for the whole measurement: codegen
    # markers only exist on non-adaptive plans (queryExecution caches the
    # planning conf), and a single fn() invocation means a side-effecting
    # query that was forgotten in SKIP executes its build-time effects once,
    # not twice — the snapshot is polluted either way (add it to SKIP), but
    # it can no longer double-append state.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    out = {}
    try:
        for name, fn in sorted(queries().items()):
            if name in SKIP:
                continue
            try:
                df = fn(spark, SF_DIR)
                out[name] = {
                    "n_shuffles": n_shuffles(df),
                    "broadcast_join": has_broadcast_join(df),
                    "codegen_spans": whole_stage_codegen_spans(df),
                    "n_global_windows": n_single_partition_windows(df),
                }
            except Exception as e:  # noqa: BLE001
                out[name] = {"error": str(e)[:120]}
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.stop()
    return out


if __name__ == "__main__":
    snap = snapshot()
    with open(GOLDEN, "w") as f:
        json.dump(snap, f, indent=1, sort_keys=True)
    print(f"wrote {GOLDEN}: {len(snap)} plans")
