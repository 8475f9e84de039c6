"""Snapshot physical-plan shape metrics (shuffle count, broadcast presence,
codegen spans) for every analyzable query into plans_golden.json.

Run after intentional plan changes: python tools/plan_snapshot.py
tests/test_plan_regression.py compares current plans against the snapshot —
a shuffle-count increase is a scale regression caught at test time.

Each query is built on a fresh cache and measured right away, so a pin does
not depend on which queries ran before it. SKIP holds the queries whose
build itself runs work (streams, collects, writes, eager checkpoints).
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

GOLDEN = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans_golden.json")

SKIP = {
    # each build runs work before any action (stream runs, collects,
    # writes, eager checkpoints); tools/observe.py counts its jobs
    "streaming_statestore_read",  # runs the checkpointed stream at build
    "sql_scripting_isqrt_loop",  # SQL script executes eagerly at build
    "cuckoo_feasibility_census",  # iterative CC: checkpoints at build
    "streaming_tumbling_counts",  # runs the stream at build
    "streaming_sliding_activity",  # runs the stream at build
    "streaming_stateful_user_totals",  # runs the stream at build
    "streaming_append_closed_windows",  # runs the stream at build
    "streaming_stream_stream_join",  # runs the stream at build
    "streaming_left_outer_join",  # runs the stream at build
    "streaming_dedup_events",  # runs the stream at build
    "setops_union_intersect_except",  # three count() actions at build
    "similarity_topk_numpy",  # counts and collects the query side at build
    "bucketed_join_revenue",  # writes the bucketed tables at build
    "sink_parquet_roundtrip",  # writes the sink at build
    "sink_csv_roundtrip",  # writes the sink at build
    "sink_json_roundtrip",  # writes the sink at build
    "dedup_cluster_components",  # iterative: checkpoints at build
    "sketch_countmin_status",  # driver-side sketch build + collect
    "streaming_dedup_against_corpus",  # runs the stream at build
    "sink_orc_roundtrip",  # writes the sink at build
    "source_binaryfile_fingerprints",  # writes payload files at build
    "partition_pruning_proof",  # writes partitioned parquet + inputFiles()
    "pca_power_iteration_int",  # collects the 64x64 Gram at build
    "sink_versioned_snapshots",  # writes snapshot dirs at build
    "accumulator_row_audit",  # foreachPartition action at build
    "observe_metrics_audit",  # collect at build (Observation materialization)
    "streaming_bloom_prune_counts",  # runs the stream at build
    "source_csv_permissive_quarantine",  # writes CSV shards at build
    "sink_xml_roundtrip",  # writes the sink at build
    "sink_text_roundtrip",  # writes the sink at build
    "sink_dynamic_partition_overwrite",  # writes the partitions at build
    "pydatasource_sink_roundtrip",  # writes the JSON-lines shards at build
    "ivm_checkpoint_resume",  # writes the history checkpoint at build
    "ivm_join_delta_merge",  # writes the history join partials at build
    "sink_partitioned_pruned",  # writes the partitioned sink at build
    "streaming_session_windows",  # runs the stream at build
    "streaming_foreachbatch_sink",  # runs the stream at build
    "streaming_static_enrich",  # runs the stream at build
    "streaming_funnel_stages",  # runs the stream at build
    "graph_kcore_2",  # iterative peel: checkpoints at build
    "streaming_token_bucket",  # runs the stream at build
    "dpp_join_pruned_counts",  # writes the partitioned layout at build
    "streaming_checkpoint_exactly_once",  # runs two stream phases at build
    "ivfpq_topk_search",  # k-means training + codebook seeds collect at build
    "adjusted_rand_index",  # eager localCheckpoint on the contingency table
    "perceptron_online_epoch",  # eager localCheckpoint on the 1-row fold
    "ivfpq_recall_clustered_gate",  # the ivfpq trainer collects at build
    "semdedup_centroid_prune",  # integer-Lloyd collects at build
    "bpe_train_8_merges",  # 8 argmax collects at build
    "bpe_apply_compression_report",  # the bpe trainer collects at build
    "grid_dbscan_clusters",  # iterative components: localCheckpoints at build
    "streaming_ewma_user_state",  # runs the stream at build
    "brandes_betweenness_trade",  # eager localCheckpoints on the hop frames
    "cluster_balanced_sample",  # bounded seed-vector collect at build
    "lm_beam_search_decode",  # per-step 2-row localCheckpoints at build
    "kcenter_greedy_coreset",  # 8 per-step argmax collects at build
    "ssl_prototype_prune",  # integer-Lloyd collects at build
    "wordpiece_maxmatch_tokenize",  # bounded vocab TakeOrdered collects at build
    "successive_halving_replay",  # per-rung localCheckpoints at build
    "pystream_source_tumbling",  # runs the Python stream at build
}

SF_DIR = "/root/testdata/sf0.001"


def snapshot() -> dict:
    from __spark_entry__ import queries

    from hpmr_spark.engine import get_spark
    from hpmr_spark.plans.explain import plan_pins

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
            # another query's cached frames must not shape this plan
            spark.catalog.clearCache()
            try:
                out[name] = plan_pins(fn(spark, SF_DIR))
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
