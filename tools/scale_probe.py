"""Scale probe: synthesize a corpus 20-200× bigger than sf0.1's documents
table and measure the dedup/text operators' scaling behavior — the empirical
backing for SCALE.md's claims. Not part of the driver contract; run ad hoc:

    python tools/scale_probe.py [n_docs]

Synthetic docs: ~60-word texts composed from a 40-word vocab with planted
near-dups (1% of docs get a copy with one word changed), mirroring the
testdata generator's shape.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F


VOCAB = (
    "the a key order sort table scan merge part window small hash join batch "
    "stream spark dup group query row data slow filter customer line value "
    "agg column big fast vector count state shuffle disk node core plan cost"
).split()


def synth_docs(spark, n: int):
    """Deterministic synthetic corpus with ~1% planted near-dups."""
    vocab = F.array(*[F.lit(w) for w in VOCAB])
    base = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.transform(
                F.sequence(F.lit(1), F.lit(60)),
                lambda i: F.element_at(
                    vocab,
                    ((F.xxhash64(F.col("id") * 1000 + i) % len(VOCAB) + len(VOCAB)) % len(VOCAB) + 1).cast("int"),
                ),
            ),
        ).alias("text"),
    )
    dups = (
        base.where(F.col("doc_id") % 100 == 0)
        .select(
            (F.col("doc_id") + n).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" extra")).alias("text"),
        )
    )
    return base.unionByName(dups)




def synth_events(spark, n: int):
    """Deterministic synthetic event stream: ~1K users over one day."""
    return spark.range(n).select(
        F.col("id").alias("event_id"),
        ((F.xxhash64("id") % 1000 + 1000) % 1000).alias("user_id"),
        F.timestamp_micros(
            F.lit(1700000000000000)
            + ((F.xxhash64(F.col("id") + 7) % 86400000000 + 86400000000) % 86400000000)
        ).alias("ts"),
    )


def pagerank_probe(spark, m: int, fanout: int = 8, iters: int = 3):
    """Integer-ppb PageRank over a synthetic hash graph (m nodes, ~8m edges)."""
    nodes = spark.range(m).select(F.col("id").alias("node"))
    edges = (
        nodes.select(
            F.col("node").alias("src"),
            F.explode(F.sequence(F.lit(1), F.lit(fanout))).alias("k"),
        )
        .select(
            "src", ((F.xxhash64(F.col("src") * 31 + F.col("k")) % m + m) % m).alias("dst")
        )
        .distinct()
        .persist()
    )
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    init = 10**9 // m
    tele = (15 * 10**9 // 100) // m
    pr = nodes.select("node", F.lit(init).cast("long").alias("pr"))
    for _ in range(iters):
        contrib = (
            edges.join(outdeg, "src")
            .join(pr.select(F.col("node").alias("src"), "pr"), "src")
            .select(F.col("dst").alias("node"), F.expr("((pr * 850) div 1000) div deg").alias("c"))
        )
        pr = (
            nodes.join(contrib.groupBy("node").agg(F.sum("c").alias("s")), "node", "left")
            .select("node", (F.lit(tele) + F.coalesce(F.col("s"), F.lit(0))).cast("long").alias("pr"))
        )
    return pr



def corpus_probe(spark, n: int):
    """Write a synthetic documents+embeddings 'sf' directory and run the
    round-2 corpus-pipeline queries exactly as registered (same plans the
    driver checks), so the scaling numbers measure the real operators."""
    import shutil
    import tempfile

    from __spark_entry__ import queries

    qs = queries()
    tmp = tempfile.mkdtemp(prefix="scale_corpus_")
    try:
        docs = synth_docs(spark, n).select(
            "doc_id",
            "text",
            F.concat(F.lit("l"), (F.col("doc_id") % 5).cast("string")).alias("lang"),
            F.concat(F.lit("src"), (F.col("doc_id") % 20).cast("string")).alias("source"),
            F.length("text").alias("n_chars"),
        )
        docs.write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
        emb = spark.range(n // 5).select(
            F.col("id").alias("vec_id"),
            F.expr(
                "transform(sequence(1, 64), i -> CAST((pmod(xxhash64(id * 64 + i),"
                " 2000) - 1000) / 1000.0 AS FLOAT))"
            ).alias("embedding"),
            (F.col("id") % 10).cast("int").alias("label"),
        )
        emb.write.mode("overwrite").parquet(f"{tmp}/embeddings.parquet")

        for name in [
            "pack_sequences_ctx512",
            "chunk_sliding_window64",
            "vocab_topn_encode",
            "contamination_check_5gram",
            "bigram_lm_counts",
            "text_repetition_stats",
            "embedding_quantize_int8",
            "embedding_centroids_exact",
            "doc_lm_score_ppm",
            "pipeline_pretraining_report",
            "cooccurrence_window2",
            "token_gini_impurity_ppm",
            "embedding_random_projection",
            "inverted_index_postings",
        ]:
            t0 = time.time()
            cnt = qs[name](spark, tmp).count()
            print(f"{name}: {cnt} rows in {time.time()-t0:.1f}s")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)



def closing_probe(spark, n: int):
    """Synthesize a full-schema events table (+ the synth docs corpus) and
    run the round-2 closing-batch queries exactly as registered."""
    import shutil
    import tempfile

    from __spark_entry__ import queries

    qs = queries()
    tmp = tempfile.mkdtemp(prefix="scale_closing_")
    try:
        docs = synth_docs(spark, n).select(
            "doc_id",
            "text",
            F.concat(F.lit("l"), (F.col("doc_id") % 5).cast("string")).alias("lang"),
            F.concat(F.lit("src"), (F.col("doc_id") % 20).cast("string")).alias("source"),
            F.length("text").alias("n_chars"),
        )
        docs.write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
        n_ev = n * 30
        types = F.array(*[F.lit(t) for t in ("view", "click", "purchase", "signup", "error")])
        ev = spark.range(n_ev).select(
            F.col("id").alias("event_id"),
            F.timestamp_micros(
                F.lit(1700000000000000)
                + ((F.xxhash64(F.col("id") + 7) % 2592000000000 + 2592000000000) % 2592000000000)
            ).alias("ts"),
            ((F.xxhash64("id") % 1000 + 1000) % 1000).alias("user_id"),
            F.element_at(types, ((F.xxhash64(F.col("id") + 3) % 5 + 5) % 5 + 1).cast("int")).alias("event_type"),
            (((F.xxhash64(F.col("id") + 11) % 49000 + 49000) % 49000 + 100) / 100.0).alias("value"),
            F.lit('{"k": 1}').alias("props"),
        )
        ev.write.mode("overwrite").parquet(f"{tmp}/events.parquet")

        for name in [
            "dedup_substring_ngram",
            "session_overlap_pairs",
            "dau_wau_mau_rollup",
            "assoc_rules_support_ppm",
            "user_behavior_cosine",
            "ewma_user_value_exact",
            "latency_histogram_pow2",
            "markov_transitions_ppm",
            "attribution_last_touch",
            "user_active_streaks",
            "wow_growth_revenue",
        ]:
            t0 = time.time()
            cnt = qs[name](spark, tmp).count()
            print(f"{name}: {cnt} rows in {time.time()-t0:.1f}s")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def continuation_probe(spark, n: int):
    """Full-schema synth (docs + events + embeddings) for the continuation
    batches: sketches, IR/log-domain, CEP, eval — empirical linearity
    backing for SCALE.md."""
    import shutil
    import tempfile

    from __spark_entry__ import queries

    qs = queries()
    tmp = tempfile.mkdtemp(prefix="scale_cont_")
    try:
        docs = synth_docs(spark, n).select(
            "doc_id",
            "text",
            F.concat(F.lit("l"), (F.col("doc_id") % 5).cast("string")).alias("lang"),
            F.concat(F.lit("src"), (F.col("doc_id") % 20).cast("string")).alias("source"),
            F.length("text").alias("n_chars"),
        )
        docs.write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
        n_ev = n * 30
        types = F.array(*[F.lit(t) for t in ("view", "click", "purchase", "signup", "error")])
        ev = spark.range(n_ev).select(
            F.col("id").alias("event_id"),
            F.timestamp_micros(
                F.lit(1700000000000000)
                + ((F.xxhash64(F.col("id") + 7) % 2592000000000 + 2592000000000) % 2592000000000)
            ).alias("ts"),
            ((F.xxhash64("id") % 1000 + 1000) % 1000).alias("user_id"),
            F.element_at(types, ((F.xxhash64(F.col("id") + 3) % 5 + 5) % 5 + 1).cast("int")).alias("event_type"),
            (((F.xxhash64(F.col("id") + 11) % 49000 + 49000) % 49000 + 100) / 100.0).alias("value"),
            F.lit('{"k": 1}').alias("props"),
        )
        ev.write.mode("overwrite").parquet(f"{tmp}/events.parquet")
        emb = spark.range(max(n // 5, 1000)).select(
            F.col("id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(1), F.lit(64)),
                lambda i: (
                    ((F.xxhash64(F.col("id") * 100 + i) % 1000 + 1000) % 1000).cast("double") / 1000.0 - 0.5
                ).cast("float"),
            ).alias("embedding"),
            (F.col("id") % 10).cast("int").alias("label"),
        )
        emb.write.mode("overwrite").parquet(f"{tmp}/embeddings.parquet")

        for name in [
            "heavy_hitters_mg",
            "bm25_topk_docs",
            "token_entropy_by_lang",
            "zipf_fit_slope",
            "doc_perplexity_avg_nll",
            "softmax_temperature_mixture",
            "weighted_sample_topk_es",
            "interval_coverage_union",
            "match_recognize_vcp",
            "bitmap_daily_activity",
            "chi_square_independence",
            "ab_test_z2_gate",
            "binary_classifier_eval_auc",
            "similarity_topk_int8",
        ]:
            t0 = time.time()
            cnt = qs[name](spark, tmp).count()
            print(f"{name}: {cnt} rows in {time.time()-t0:.1f}s")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def ranking_probe(spark, n: int):
    """Round-3 migration check: the eight queries that used to run a
    partition-less Window.orderBy (single-partition global sort) now go
    through functions/ranking.py's two-pass bucketed form — this probe
    proves they stay near-linear where the window form was a one-worker
    chokepoint. Synthesizes orders at n rows (plus events n·3 and
    embeddings n/5) and runs the REGISTERED queries unchanged."""
    import shutil
    import tempfile

    from __spark_entry__ import queries

    qs = queries()
    tmp = tempfile.mkdtemp(prefix="scale_rank_")
    try:
        prio = F.array(*[F.lit(p) for p in ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT", "5-LOW")])
        orders = spark.range(n).select(
            F.col("id").alias("o_orderkey"),
            ((F.xxhash64(F.col("id") + 29) % (n // 10) + n // 10) % (n // 10)).alias("o_custkey"),
            (((F.xxhash64("id") % 49000000 + 49000000) % 49000000 + 100000) / 100.0).alias("o_totalprice"),
            F.timestamp_micros(
                F.lit(820454400000000)
                + ((F.xxhash64(F.col("id") + 13) % 63072000000000 + 63072000000000) % 63072000000000)
            ).alias("o_orderdate"),
            F.element_at(prio, ((F.xxhash64(F.col("id") + 3) % 5 + 5) % 5 + 1).cast("int")).alias("o_orderpriority"),
        )
        orders.write.mode("overwrite").parquet(f"{tmp}/orders.parquet")
        n_ev = n * 3
        types = F.array(*[F.lit(t) for t in ("view", "click", "purchase", "signup", "error")])
        ev = spark.range(n_ev).select(
            F.col("id").alias("event_id"),
            F.timestamp_micros(
                F.lit(1700000000000000)
                + ((F.xxhash64(F.col("id") + 7) % 2592000000000 + 2592000000000) % 2592000000000)
            ).alias("ts"),
            ((F.xxhash64("id") % 1000 + 1000) % 1000).alias("user_id"),
            F.element_at(types, ((F.xxhash64(F.col("id") + 3) % 5 + 5) % 5 + 1).cast("int")).alias("event_type"),
            (((F.xxhash64(F.col("id") + 11) % 49000 + 49000) % 49000 + 100) / 100.0).alias("value"),
            F.lit('{"k": 1}').alias("props"),
        )
        ev.write.mode("overwrite").parquet(f"{tmp}/events.parquet")
        emb = spark.range(max(n // 5, 1000)).select(
            F.col("id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(1), F.lit(8)),
                lambda i: (
                    ((F.xxhash64(F.col("id") * 100 + i) % 1000 + 1000) % 1000).cast("double") / 1000.0 - 0.5
                ).cast("float"),
            ).alias("embedding"),
            (F.col("id") % 10).cast("int").alias("label"),
        )
        emb.write.mode("overwrite").parquet(f"{tmp}/embeddings.parquet")

        for name in [
            "ntile_price_deciles",
            "histogram_equidepth_cents",
            "equi_depth_histogram_bounds",
            "percent_rank_prices",
            "winsorize_clip_stats",
            "skyline_price_date",
            "event_lateness_profile",
            "binary_classifier_eval_auc",
            "gini_wealth_coefficient",
            "ks_two_sample_prices",
            "spearman_freq_revenue",
            "trimmed_mean_10pct",
            "quantile_table_11pt",
            "lorenz_curve_deciles",
            "interpolate_hourly_gaps",
            # round-4 additions (VERDICT r3 item 8): the remaining r3
            # statistics at 10x — confirm stage overhead still dominates
            # when the data part grows
            "cusum_changepoint_hours",
            "mann_whitney_u_gate",
            "theil_index_revenue",
            "median_absolute_deviation",
        ]:
            t0 = time.time()
            cnt = qs[name](spark, tmp).count()
            print(f"{name}: {cnt} rows in {time.time()-t0:.1f}s")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def round5_probe(spark, n: int):
    """Round-5 family at synthetic scale: the time-series diagnostics run
    over a CALENDAR-BOUNDED day/week rollup (pair joins must stay
    constant-cost while fact rows grow — this probe proves it), the
    experimentation stats shuffle per-customer aggregates only, and the
    ring join must stay a zero-blowup broadcast band join."""
    import shutil
    import tempfile

    from __spark_entry__ import queries

    qs = queries()
    tmp = tempfile.mkdtemp(prefix="scale_r5_")
    try:
        prio = F.array(*[F.lit(p) for p in ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT", "5-LOW")])
        orders = spark.range(n).select(
            F.col("id").alias("o_orderkey"),
            ((F.xxhash64(F.col("id") + 29) % (n // 10) + n // 10) % (n // 10)).alias("o_custkey"),
            (((F.xxhash64("id") % 49000000 + 49000000) % 49000000 + 100000) / 100.0).alias("o_totalprice"),
            F.timestamp_micros(
                F.lit(820454400000000)
                + ((F.xxhash64(F.col("id") + 13) % 63072000000000 + 63072000000000) % 63072000000000)
            ).alias("o_orderdate"),
            F.element_at(prio, ((F.xxhash64(F.col("id") + 3) % 5 + 5) % 5 + 1).cast("int")).alias("o_orderpriority"),
            F.lit("O").alias("o_orderstatus"),
        )
        orders.write.mode("overwrite").parquet(f"{tmp}/orders.parquet")
        segs = F.array(*[F.lit(s) for s in ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")])
        cust = spark.range(n // 10).select(
            F.col("id").alias("c_custkey"),
            (F.col("id") % 25).cast("long").alias("c_nationkey"),
            F.element_at(segs, (F.col("id") % 5 + 1).cast("int")).alias("c_mktsegment"),
            (((F.xxhash64(F.col("id") + 41) % 1100000 + 1100000) % 1100000 - 100000) / 100.0).alias("c_acctbal"),
            F.concat(F.lit("Customer#"), F.col("id").cast("string")).alias("c_name"),
        )
        cust.write.mode("overwrite").parquet(f"{tmp}/customer.parquet")
        for name in [
            "acf_lags_revenue",
            "rolling_median_7day",
            "mann_kendall_trend",
            "runs_test_above_median",
            "weekday_seasonality_profile",
            "kmv_distinct_estimate",
            "theil_sen_slope_milli",
            "cuped_adjusted_lift",
            "t_closeness_audit",
            "consistent_hash_ring",
        ]:
            t0 = time.time()
            cnt = qs[name](spark, tmp).count()
            print(f"{name}: {cnt} rows in {time.time()-t0:.1f}s")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def round6_probe(spark, n: int):
    """Round-6 family at synthetic scale: the two shuffle-diet rewrites
    (stacked encoding advisor, fused conformal) must scale with ONE fact
    shuffle each; the Holt fold runs on the calendar-bounded weekly
    rollup (flat); the BPE trainer's per-step cost is VOCAB-bounded (the
    corpus only pays the initial word count); the PIT join is one
    user-keyed window; the threshold sweep prices all five policies at
    one θ=50 pass."""
    import shutil
    import tempfile

    from __spark_entry__ import queries

    qs = queries()
    tmp = tempfile.mkdtemp(prefix="scale_r6_")
    try:
        prio = F.array(*[F.lit(p) for p in ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT", "5-LOW")])
        orders = spark.range(n).select(
            F.col("id").alias("o_orderkey"),
            ((F.xxhash64(F.col("id") + 29) % (n // 10) + n // 10) % (n // 10)).alias("o_custkey"),
            (((F.xxhash64("id") % 49000000 + 49000000) % 49000000 + 100000) / 100.0).alias("o_totalprice"),
            F.timestamp_micros(
                F.lit(820454400000000)
                + ((F.xxhash64(F.col("id") + 13) % 63072000000000 + 63072000000000) % 63072000000000)
            ).alias("o_orderdate"),
            F.element_at(prio, ((F.xxhash64(F.col("id") + 3) % 5 + 5) % 5 + 1).cast("int")).alias("o_orderpriority"),
            F.lit("O").alias("o_orderstatus"),
        )
        orders.write.mode("overwrite").parquet(f"{tmp}/orders.parquet")
        segs = F.array(*[F.lit(s) for s in ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")])
        cust = spark.range(n // 10).select(
            F.col("id").alias("c_custkey"),
            (F.col("id") % 25).cast("long").alias("c_nationkey"),
            F.element_at(segs, (F.col("id") % 5 + 1).cast("int")).alias("c_mktsegment"),
        )
        cust.write.mode("overwrite").parquet(f"{tmp}/customer.parquet")
        nation = spark.range(25).select(
            F.col("id").alias("n_nationkey"),
            F.concat(F.lit("NATION_"), F.col("id").cast("string")).alias("n_name"),
        )
        nation.write.mode("overwrite").parquet(f"{tmp}/nation.parquet")
        docs = synth_docs(spark, max(n // 50, 1000)).select(
            "doc_id",
            F.concat(F.lit("src"), (F.col("doc_id") % 20).cast("string")).alias("source"),
            "text",
        )
        docs.write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
        types = F.array(*[F.lit(t) for t in ("view", "click", "purchase", "error", "signup")])
        events = spark.range(n // 10).select(
            F.col("id").alias("event_id"),
            ((F.xxhash64("id") % (n // 1000) + n // 1000) % (n // 1000)).alias("user_id"),
            F.timestamp_micros(
                F.lit(1700000000000000)
                + ((F.xxhash64(F.col("id") + 7) % 86400000000 + 86400000000) % 86400000000)
            ).alias("ts"),
            F.element_at(types, ((F.xxhash64(F.col("id") + 5) % 5 + 5) % 5 + 1).cast("int")).alias("event_type"),
            (((F.xxhash64(F.col("id") + 11) % 10000 + 10000) % 10000) / 100.0).alias("value"),
        )
        events.write.mode("overwrite").parquet(f"{tmp}/events.parquet")
        for name in [
            "encoding_advisor_columns",
            "conformal_threshold_coverage",
            "holt_linear_forecast_weekly",
            "bpe_train_8_merges",
            "bpe_apply_compression_report",
            "dedup_threshold_sweep",
            "pit_join_feature_spend",
            "logrank_test_cohorts",
        ]:
            t0 = time.time()
            cnt = qs[name](spark, tmp).count()
            print(f"{name}: {cnt} rows in {time.time()-t0:.1f}s")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)



def round6b_probe(spark, n: int):
    """Round-6 third wave at synthetic scale: the attribution family is
    one user-keyed events shuffle + a constant-size DP; the time-series
    trio runs on the calendar-bounded day rollup (flat); boilerplate/
    RAKE/FIM are explode + keyed-count shapes (linear); Adamic-Adar is
    the capped 2-hop join (bounded per-order co-purchase); HRW/Neyman/
    qnorm are per-row expressions + dimension aggregates."""
    import shutil
    import tempfile

    from __spark_entry__ import queries

    qs = queries()
    tmp = tempfile.mkdtemp(prefix="scale_r6b_")
    try:
        orders = spark.range(n).select(
            F.col("id").alias("o_orderkey"),
            (((F.xxhash64("id") % 49000000 + 49000000) % 49000000 + 100000) / 100.0).alias("o_totalprice"),
            F.timestamp_micros(
                F.lit(820454400000000)
                + ((F.xxhash64(F.col("id") + 13) % 63072000000000 + 63072000000000) % 63072000000000)
            ).alias("o_orderdate"),
        )
        orders.write.mode("overwrite").parquet(f"{tmp}/orders.parquet")
        li = spark.range(n * 2).select(
            (F.col("id") % n).alias("l_orderkey"),
            ((F.xxhash64("id") % (n // 20) + n // 20) % (n // 20)).alias("l_partkey"),
        )
        li.write.mode("overwrite").parquet(f"{tmp}/lineitem.parquet")
        segs = F.array(*[F.lit(x) for x in ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")])
        cust = spark.range(n // 10).select(
            F.col("id").alias("c_custkey"),
            (F.col("id") % 25).cast("int").alias("c_nationkey"),
            F.element_at(segs, (F.col("id") % 5 + 1).cast("int")).alias("c_mktsegment"),
            (((F.xxhash64("id") % 1100000 + 1100000) % 1100000) / 100.0 - 1000.0).alias("c_acctbal"),
        )
        cust.write.mode("overwrite").parquet(f"{tmp}/customer.parquet")
        langs = F.array(*[F.lit(x) for x in ("en", "de", "fr", "es", "pt")])
        docs = synth_docs(spark, max(n // 50, 1000)).select(
            "doc_id",
            "text",
            F.element_at(langs, (F.col("doc_id") % 5 + 1).cast("int")).alias("lang"),
            F.concat(F.lit("src"), (F.col("doc_id") % 20).cast("string")).alias("source"),
            F.length("text").cast("long").alias("n_chars"),
        )
        docs.write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
        types = F.array(*[F.lit(t) for t in ("view", "click", "purchase", "error", "signup")])
        events = spark.range(n).select(
            F.col("id").alias("event_id"),
            ((F.xxhash64("id") % (n // 100) + n // 100) % (n // 100)).alias("user_id"),
            F.timestamp_micros(
                F.lit(1700000000000000)
                + ((F.xxhash64(F.col("id") + 7) % 86400000000 + 86400000000) % 86400000000)
            ).alias("ts"),
            F.element_at(types, ((F.xxhash64(F.col("id") + 5) % 5 + 5) % 5 + 1).cast("int")).alias("event_type"),
            (((F.xxhash64(F.col("id") + 11) % 10000 + 10000) % 10000) / 100.0).alias("value"),
        )
        events.write.mode("overwrite").parquet(f"{tmp}/events.parquet")
        for name in [
            "attribution_removal_effect",
            "attribution_time_decay",
            "attribution_shapley_exact",
            "seasonal_decompose_additive",
            "control_chart_we_rules",
            "holt_winters_daily_forecast",
            "dedup_boilerplate_segments",
            "rake_keyphrases",
            "fim_transform_psm",
            "link_prediction_adamic_adar",
            "rendezvous_hash_assign",
            "neyman_allocation_sample",
            "quantile_normalize_doclen",
            "preference_pairs_build",
        ]:
            t0 = time.time()
            cnt = qs[name](spark, tmp).count()
            print(f"{name}: {cnt} rows in {time.time()-t0:.1f}s")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)




def round6c_probe(spark, n: int):
    """Round-6 sixth wave at synthetic scale: the distance/model/test
    family is one fact pass into bounded frames (support histograms, the
    50-quantity profile, day rollups, 11/21-point grids); DTW/WIS/UCB1/
    Haar run their sequential parts on calendar/constant-bounded frames;
    the corpus family (NB, TextRank, Heaps, PMI, B-cubed) is explode +
    keyed counts (linear) with bounded graph/grid tails."""
    import shutil
    import tempfile

    from __spark_entry__ import queries

    qs = queries()
    tmp = tempfile.mkdtemp(prefix="scale_r6c_")
    try:
        flags = F.array(*[F.lit(x) for x in ("A", "N", "R")])
        orders = spark.range(n).select(
            F.col("id").alias("o_orderkey"),
            ((F.xxhash64("id") % (n // 10) + n // 10) % (n // 10)).alias("o_custkey"),
            (((F.xxhash64("id") % 49000000 + 49000000) % 49000000 + 100000) / 100.0).alias("o_totalprice"),
            F.timestamp_micros(
                F.lit(820454400000000)
                + ((F.xxhash64(F.col("id") + 13) % 63072000000000 + 63072000000000) % 63072000000000)
            ).alias("o_orderdate"),
            F.lit("F").alias("o_orderstatus"),
            F.concat(F.lit("P"), (F.col("id") % 5).cast("string")).alias("o_orderpriority"),
        )
        orders.write.mode("overwrite").parquet(f"{tmp}/orders.parquet")
        li = spark.range(n * 2).select(
            (F.col("id") % n).alias("l_orderkey"),
            ((F.xxhash64("id") % (n // 20) + n // 20) % (n // 20)).alias("l_partkey"),
            ((F.xxhash64(F.col("id") + 3) % 1000 + 1000) % 1000).alias("l_suppkey"),
            (F.col("id") % 7).cast("int").alias("l_linenumber"),
            (((F.xxhash64(F.col("id") + 1) % 50 + 50) % 50) + 1).cast("double").alias("l_quantity"),
            (((F.xxhash64(F.col("id") + 2) % 10000000 + 10000000) % 10000000 + 100000) / 100.0).alias("l_extendedprice"),
            (((F.xxhash64(F.col("id") + 4) % 11 + 11) % 11) / 100.0).alias("l_discount"),
            F.lit(0.05).alias("l_tax"),
            F.element_at(flags, ((F.xxhash64(F.col("id") + 6) % 3 + 3) % 3 + 1).cast("int")).alias("l_returnflag"),
            F.lit("O").alias("l_linestatus"),
            F.timestamp_micros(
                F.lit(820454400000000)
                + ((F.xxhash64(F.col("id") + 8) % 63072000000000 + 63072000000000) % 63072000000000)
            ).alias("l_shipdate"),
        )
        li.write.mode("overwrite").parquet(f"{tmp}/lineitem.parquet")
        cust = spark.range(n // 10).select(
            F.col("id").alias("c_custkey"),
            (F.col("id") % 25).cast("int").alias("c_nationkey"),
        )
        cust.write.mode("overwrite").parquet(f"{tmp}/customer.parquet")
        nation = spark.range(25).select(
            F.col("id").cast("int").alias("n_nationkey"),
            F.concat(F.lit("NATION"), F.col("id").cast("string")).alias("n_name"),
        )
        nation.write.mode("overwrite").parquet(f"{tmp}/nation.parquet")
        langs = F.array(*[F.lit(x) for x in ("en", "de", "fr", "es", "pt")])
        docs = synth_docs(spark, max(n // 50, 1000)).select(
            "doc_id",
            "text",
            F.element_at(langs, (F.col("doc_id") % 5 + 1).cast("int")).alias("lang"),
            F.concat(F.lit("src"), (F.col("doc_id") % 20).cast("string")).alias("source"),
            F.length("text").cast("long").alias("n_chars"),
        )
        docs.write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
        types = F.array(*[F.lit(t) for t in ("view", "click", "purchase", "error", "signup")])
        events = spark.range(n).select(
            F.col("id").alias("event_id"),
            ((F.xxhash64("id") % (n // 100) + n // 100) % (n // 100)).alias("user_id"),
            F.timestamp_micros(
                F.lit(1700000000000000)
                + ((F.xxhash64(F.col("id") + 7) % 86400000000 + 86400000000) % 86400000000)
            ).alias("ts"),
            F.element_at(types, ((F.xxhash64(F.col("id") + 5) % 5 + 5) % 5 + 1).cast("int")).alias("event_type"),
            (((F.xxhash64(F.col("id") + 11) % 10000 + 10000) % 10000) / 100.0).alias("value"),
        )
        events.write.mode("overwrite").parquet(f"{tmp}/events.parquet")
        emb = spark.range(max(n // 500, 500)).select(
            F.col("id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(1), F.lit(64)),
                lambda i: (((F.xxhash64(F.col("id") * 64 + i) % 2000 + 2000) % 2000 - 1000) / 1000.0).cast("float"),
            ).alias("embedding"),
            (F.col("id") % 10).cast("int").alias("label"),
        )
        emb.write.mode("overwrite").parquet(f"{tmp}/embeddings.parquet")
        for name in [
            "emd_1d_price_shift",
            "kendall_tau_nations",
            "mahalanobis_outliers_top20",
            "kde_price_grid_nano",
            "decision_stump_gini_split",
            "business_days_latency",
            "jackknife_ratio_variance",
            "functional_dependency_audit",
            "dickey_fuller_unit_root",
            "ransac_line_inliers",
            "max_drawdown_cents",
            "haar_wavelet_compress",
            "dtw_nation_revenue",
            "grid_dbscan_clusters",
            "ecdf_dkw_band",
            "convex_hull_upper_qty_price",
            "naive_bayes_lang_eval",
            "textrank_keywords",
            "heaps_law_fit",
            "bcubed_dedup_eval",
            "pmi_top_pairs",
            "pass_at_k_estimate",
            "ucb1_replay_arms",
            "weighted_interval_scheduling",
            "fisher_discriminant_dims",
            "jl_distortion_audit",
        ]:
            t0 = time.time()
            cnt = qs[name](spark, tmp).count()
            print(f"{name}: {cnt} rows in {time.time()-t0:.1f}s")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)




def round7_llm_probe(spark, n: int, vocab_size: int = 0, ops: str = ""):
    """Round-7 LLM-pipeline headliner probe (VERDICT r6 item 3): minhash
    LSH dedup, hyperplane-LSH embedding near-dup, IVF-PQ ANN, and
    boilerplate removal at n synthetic docs/vectors, logging CANDIDATE
    counts alongside wall time. The scale contract under test: candidates
    grow with band collisions (planted dups + n^2 * Jbar^2 * b random
    collisions for minhash; n^2/2^r for hyperplanes), not corpus^2 — with
    the documented r = ceil(log2 n) + 4 rule the hyperplane collision term
    stays sub-linear. vocab_size=0 uses the 40-word synth_docs vocabulary
    (J-bar inflated -> the collision-dominated minhash regime);
    vocab_size=4096 is the realistic regime (random-pair J ~ 0, candidates
    ~ planted). ops = comma list of minhash,embedding,ivfpq,boiler."""
    import shutil
    import tempfile
    import time

    from __spark_entry__ import queries

    from hpmr_spark.dedup.minhash import lsh_candidate_pairs, minhash_signatures

    qs = queries()
    do = set(ops.split(",")) if ops else {"minhash", "embedding", "ivfpq", "boiler"}
    tmp = tempfile.mkdtemp(prefix="scale_r7llm_")
    try:
        # ------------------------------------------------ synthetic corpora
        langs = F.array(*[F.lit(x) for x in ("en", "de", "fr", "es", "pt")])
        if vocab_size:
            base_d = spark.range(n).select(
                F.col("id").alias("doc_id"),
                F.concat_ws(" ", F.transform(
                    F.sequence(F.lit(1), F.lit(60)),
                    lambda i: F.concat(F.lit("w"), (
                        (F.xxhash64(F.col("id") * 1000 + i) % vocab_size
                         + vocab_size) % vocab_size).cast("string")),
                )).alias("text"))
            dups_d = base_d.where(F.col("doc_id") % 100 == 0).select(
                (F.col("doc_id") + n).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" extra")).alias("text"))
            raw_docs = base_d.unionByName(dups_d)
        else:
            raw_docs = synth_docs(spark, n)
        docs = raw_docs.select(
            "doc_id",
            "text",
            F.element_at(langs, (F.col("doc_id") % 5 + 1).cast("int")).alias("lang"),
            F.concat(F.lit("src"), (F.col("doc_id") % 20).cast("string")).alias("source"),
            F.length("text").cast("long").alias("n_chars"),
        )
        docs.write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
        base = spark.range(n).select(
            F.col("id").alias("vec_id"),
            F.transform(
                F.sequence(F.lit(1), F.lit(64)),
                lambda i: (((F.xxhash64(F.col("id") * 64 + i) % 2000 + 2000) % 2000 - 1000) / 1000.0).cast("float"),
            ).alias("embedding"),
            (F.col("id") % 10).cast("int").alias("label"),
        )
        pert = base.where(F.col("vec_id") % 100 == 0).select(
            (F.col("vec_id") + n).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x, i: (x.cast("double")
                    + ((F.xxhash64(F.col("vec_id") * 64 + i + 17) % 1000 + 1000) % 1000 - 500) * 0.00001
                ).cast("float"),
            ).alias("embedding"),
            F.col("label"),
        )
        base.unionByName(pert).write.mode("overwrite").parquet(f"{tmp}/embeddings.parquet")
        docs_df = spark.read.parquet(f"{tmp}/documents.parquet")
        emb_df = spark.read.parquet(f"{tmp}/embeddings.parquet")

        if "minhash" in do:
            t0 = time.time()
            cands = lsh_candidate_pairs(minhash_signatures(docs_df)).count()
            t_cand = time.time() - t0
            t0 = time.time()
            verified = qs["dedup_minhash_lsh"](spark, tmp).count()
            t_ver = time.time() - t0
            print(f"minhash_lsh n={n} vocab={vocab_size or 40}: "
                  f"candidates={cands} [{t_cand:.1f}s], "
                  f"verified_pairs={verified} [{t_ver:.1f}s]")
        if "embedding" in do:
            _embedding_lsh_probe(spark, emb_df, n)
        if "ivfpq" in do:
            _ivfpq_probe(spark, emb_df, n)
        if "boiler" in do:
            # NOTE: count() on this query is join-eliminated (the per-doc
            # frame left-joins back to docs on a unique key), so force the
            # full computation through an aggregate over its outputs.
            t0 = time.time()
            agg = (qs["dedup_boilerplate_segments"](spark, tmp)
                   .agg(F.sum("tokens_kept").alias("tk"),
                        F.sum("n_boiler").alias("nb")).collect()[0])
            t_b = time.time() - t0
            print(f"boilerplate n={n}: tokens_kept={agg['tk']} "
                  f"n_boiler={agg['nb']} [{t_b:.1f}s]")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def round8_probe(spark, n: int, ops: str = ""):
    """Round-8 probes (VERDICT r7 items 5 + 8).

    semdedup: within-cluster pair counts must be bounded by cluster
    OCCUPANCY, not n² — the SemDeDup scale contract. Cluster count grows
    with the corpus (bits = log2(n/64), target occupancy ~64; the
    registered operator's 8 trained centroids are the oracle-scale
    instance of the same shape), so Σ occ²/2 ≈ n·occ/2 stays LINEAR in n.
    Cells here are integer hyperplane sign bits (the committed-plane
    machinery) standing in for a trained router at probe scale; the prune
    join and τ decision are the operator's own integer arithmetic.

    sigagg: the 10M minhash signature aggregation fell back to sort-based
    agg in round 7 (SCALE.md round7llm: 1161 s sig+cand wall). Measures
    the same 32-min groupBy under (a) defaults, (b) 4× shuffle
    partitions, (c) input pre-repartitioned by doc_id (exchange elided by
    EnsureRequirements; per-task hash maps cover n/N groups each).
    """
    import math
    import time

    do = set(ops.split(",")) if ops else {"semdedup", "sigagg"}

    if "semdedup" in do:
        from hpmr_spark.similarity.lsh import PLANES

        occ_target = 64
        bits = max(4, int(math.ceil(math.log2(max(n, 1) / occ_target))))
        planes = [
            [int(round(x * 1_000_000)) for x in PLANES[b]] for b in range(bits)
        ]
        # clustered int-micro corpus: 8-member planted clusters
        comp = (
            "transform(sequence(1, 64), i -> "
            " (pmod(xxhash64(id DIV 8 * 64 + i), 2000001) - 1000000)"
            " + (pmod(xxhash64(id * 64 + i + 7), 40001) - 20000))"
        )
        vi = spark.range(n).selectExpr(
            "id AS vec_id", f"{comp} AS v"
        )
        dot = (
            "aggregate(zip_with(v, array({arr}), (a, b) -> a * b),"
            " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
        )
        bit_terms = []
        for b, plane in enumerate(planes):
            arr = ",".join(str(x) for x in plane)
            bit_terms.append(
                f"(CASE WHEN {dot.format(arr=arr)} > 0"
                f" THEN CAST({1 << b} AS BIGINT) ELSE 0 END)"
            )
        cell_expr = " + ".join(bit_terms)
        celled = vi.selectExpr("vec_id", "v", f"({cell_expr}) AS cell").persist()
        t0 = time.time()
        occ = (
            celled.groupBy("cell")
            .agg(F.count(F.lit(1)).alias("occ"))
            .agg(
                F.count(F.lit(1)).alias("n_cells"),
                F.max("occ").alias("max_occ"),
                F.sum(F.col("occ") * (F.col("occ") - 1) / 2).alias("pairs"),
            )
            .collect()[0]
        )
        t_cells = time.time() - t0
        print(
            f"semdedup n={n} bits={bits}: n_cells={occ['n_cells']} "
            f"max_occ={occ['max_occ']} candidate_pairs={int(occ['pairs'])} "
            f"pairs/n={occ['pairs']/n:.1f} [{t_cells:.1f}s]"
        )
        a = celled.select(
            F.col("cell").alias("cell"),
            F.col("vec_id").alias("ida"),
            F.col("v").alias("va"),
        )
        b_ = celled.select(
            F.col("cell").alias("cellb"),
            F.col("vec_id").alias("idb"),
            F.col("v").alias("vb"),
        )
        d_ab = F.expr(
            "aggregate(zip_with(va,vb,(a,b)->a*b),CAST(0 AS BIGINT),(acc,x)->acc+x)"
        )
        na2 = F.expr(
            "aggregate(zip_with(va,va,(a,b)->a*b),CAST(0 AS BIGINT),(acc,x)->acc+x)"
        )
        nb2 = F.expr(
            "aggregate(zip_with(vb,vb,(a,b)->a*b),CAST(0 AS BIGINT),(acc,x)->acc+x)"
        )
        t0 = time.time()
        pruned = (
            a.hint("merge")
            .join(b_, (a["cell"] == b_["cellb"]) & (a["ida"] < b_["idb"]))
            .where(
                (d_ab > 0)
                & (
                    d_ab.cast("decimal(38,0)") * d_ab * 10000
                    >= F.lit(2025) * na2.cast("decimal(38,0)") * nb2
                )
            )
            .select("idb")
            .distinct()
            .count()
        )
        t_prune = time.time() - t0
        print(
            f"semdedup n={n}: pruned={pruned} "
            f"({1000 * pruned // n} permille) [{t_prune:.1f}s prune join]"
        )
        celled.unpersist()

    if "sigagg" in do:
        from hpmr_spark.dedup.shingles import shingle_sets
        from hpmr_spark.functions.hashing import N_PERM, hash32, minhash_perm

        vocab = 4096
        docs = spark.range(n).select(
            F.col("id").alias("doc_id"),
            F.concat_ws(" ", F.transform(
                F.sequence(F.lit(1), F.lit(60)),
                lambda i: F.concat(F.lit("w"), (
                    (F.xxhash64(F.col("id") * 1000 + i) % vocab
                     + vocab) % vocab).cast("string")),
            )).alias("text"))
        hashed = shingle_sets(docs).select(
            "doc_id", F.explode("sh").alias("shingle")
        ).select("doc_id", hash32(F.col("shingle")).alias("h32"))
        aggs = [
            F.min(minhash_perm(F.col("h32"), j)).alias(f"sig_{j}")
            for j in range(N_PERM)
        ]
        base_sp = spark.conf.get("spark.sql.shuffle.partitions")

        def run(tag):
            t0 = time.time()
            cnt = hashed.groupBy("doc_id").agg(*aggs).count()
            print(f"sigagg n={n} {tag}: {cnt} signatures "
                  f"[{time.time()-t0:.1f}s]")

        run(f"defaults(sp={base_sp})")
        spark.conf.set("spark.sql.shuffle.partitions", str(int(base_sp) * 4))
        run(f"sp={int(base_sp)*4}")
        spark.conf.set("spark.sql.shuffle.partitions", base_sp)
        t0 = time.time()
        cnt = (
            hashed.repartition(int(base_sp) * 4, "doc_id")
            .groupBy("doc_id")
            .agg(*aggs)
            .count()
        )
        print(f"sigagg n={n} pre-repartition(doc_id,{int(base_sp)*4}): "
              f"{cnt} signatures [{time.time()-t0:.1f}s]")
        # the round-8 structural fix: per-row array_min signatures — the
        # aggregation does not exist, so neither does its sort fallback
        from hpmr_spark.dedup.minhash import signatures_from_shingles

        t0 = time.time()
        cnt = signatures_from_shingles(shingle_sets(docs)).count()
        print(f"sigagg n={n} array-based(map-only): {cnt} signatures "
              f"[{time.time()-t0:.1f}s]")


def _embedding_lsh_probe(spark, emb_df, n):
    import math
    import time

    from hpmr_spark.similarity.lsh import (
        MAX_PLANES,
        PLANES,
        _sign_bit,
        lsh_signature_pairs,
    )

    # r = ceil(log2 n) + 4 keeps random collisions ~ n * n/2^r <= 0.1n;
    # bands fill the remaining committed plane budget.
    rows = min(int(math.ceil(math.log2(max(n, 2)))) + 4, 31)
    bands = max(MAX_PLANES // rows, 2)
    v = emb_df.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
    band_structs = []
    for bi in range(bands):
        bits = [_sign_bit(F.col("vec"), PLANES[bi * rows + ri]) for ri in range(rows)]
        key = bits[0]
        for b_ in bits[1:]:
            key = key * 2 + b_
        band_structs.append(F.struct(F.lit(bi).alias("band_idx"), key.alias("band_key")))
    banded = v.select("id", F.explode(F.array(*band_structs)).alias("band")).select(
        "id", "band.band_idx", "band.band_key")
    a, b = banded.alias("a"), banded.alias("b")
    t0 = time.time()
    ecands = (
        a.hint("merge").join(b, (F.col("a.band_idx") == F.col("b.band_idx"))
               & (F.col("a.band_key") == F.col("b.band_key"))
               & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct().count())
    t_ecand = time.time() - t0
    t0 = time.time()
    epairs = lsh_signature_pairs(emb_df, threshold=0.9, rows=rows, bands=bands).count()
    t_ever = time.time() - t0
    print(f"embedding_lsh n={n} (r={rows}, b={bands}): candidates={ecands} "
          f"[{t_ecand:.1f}s], verified_pairs={epairs} [{t_ever:.1f}s]")


def _ivfpq_probe(spark, emb_df, n):
    import time

    from hpmr_spark.similarity.ivfpq import ivfpq_topk
    from hpmr_spark.similarity.lsh import nearest_cell, nearest_cells, train_centroids

    q = emb_df.where(F.col("vec_id") < 10)
    t0 = time.time()
    nn = ivfpq_topk(emb_df, q, k=10, n_cells=8).count()
    t_ivf = time.time() - t0
    # ADC-scored candidate rows = corpus occupancy of the probed cells
    cents = train_centroids(
        emb_df.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec")),
        n_cells=8, train_iters=2, salt="ivfpq:")
    occ = {r["cell"]: r["c"] for r in (
        emb_df.select(nearest_cell(F.col("embedding"), cents).alias("cell"))
        .groupBy("cell").agg(F.count(F.lit(1)).alias("c")).collect())}
    probed = (
        q.select(F.explode(nearest_cells(F.col("embedding"), cents, 2)).alias("cell"))
        .collect())
    adc_rows = sum(occ.get(r["cell"], 0) for r in probed)
    print(f"ivfpq n={n}: result_rows={nn} [{t_ivf:.1f}s], "
          f"adc_scored_rows={adc_rows} (of {n} corpus x 10 queries; "
          f"probed 2/8 cells)")




def round9_probe(spark, n: int, vocab_size: int = 4096, ops: str = ""):
    """Round-9 probes: the per-doc window pipelines (Gopher repetition
    fractions, contamination span profile) at 1M/3M/10M synthetic docs.

    Scale contracts under test: gopher is ONE stacked-gram count keyed on
    (doc, n, gram) plus doc-partitioned windows — wall must be linear in
    corpus tokens with per-doc memory; contamination is an explode + a
    broadcast semi-join against the bounded eval gram set + doc windows —
    linear, hit-count-bounded. vocab_size=4096 is the realistic regime
    (cross-doc 5-gram hits ~ planted); the 40-word vocab would saturate
    contamination hits (the round-7 J-bar artifact). Probe walls force
    real work through aggregates over the computed columns (a naive
    count() gets join-eliminated — round-7 lesson)."""
    import time

    from hpmr_spark.operators.pretrain2_queries import (
        contamination_spans_df,
        gopher_fractions_df,
    )

    do = set(ops.split(",")) if ops else {"gopher", "contam"}
    base = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("src"), (F.col("id") % 20).cast("string")).alias(
            "source"
        ),
        F.concat_ws(" ", F.transform(
            F.sequence(F.lit(1), F.lit(60)),
            lambda i: F.concat(F.lit("w"), (
                (F.xxhash64(F.col("id") * 1000 + i) % vocab_size
                 + vocab_size) % vocab_size).cast("string")),
        )).alias("text"))
    # plant contamination: every 500th non-eval doc quotes a 12-token run
    # from an eval (src0) doc — a contiguous span the union must merge
    quoted = (
        base.where((F.col("doc_id") % 20 == 0) & (F.col("doc_id") % 500 == 0))
        .select(
            (F.col("doc_id") + 7).alias("doc_id"),
            F.lit("src7").alias("source"),
            F.concat(
                F.concat_ws(" ", F.transform(
                    F.sequence(F.lit(1), F.lit(20)),
                    lambda i: F.concat(F.lit("q"), (
                        (F.xxhash64(F.col("doc_id") * 31 + i) % vocab_size
                         + vocab_size) % vocab_size).cast("string")),
                )),
                F.lit(" "),
                F.substring_index(F.col("text"), " ", 12),
            ).alias("text"),
        )
    )
    docs = base.where(F.col("doc_id") % 500 != 7).unionByName(quoted)

    if "gopher" in do:
        t0 = time.time()
        row = (
            gopher_fractions_df(docs.select("doc_id", "text"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("top2_ppm").alias("s2"),
                F.sum("dup5_cover_ppm").alias("s5"),
            )
            .collect()[0]
        )
        print(
            f"round9 gopher n={n} wall={time.time() - t0:.1f}s "
            f"docs={row['n']} sum_top2={row['s2']} sum_dup5={row['s5']}"
        )

    if "contam" in do:
        t0 = time.time()
        row = (
            contamination_spans_df(docs)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("n_contam_grams").alias("g"),
                F.sum("longest_span_tok").alias("sp"),
            )
            .collect()[0]
        )
        print(
            f"round9 contam n={n} wall={time.time() - t0:.1f}s "
            f"contam_docs={row['n']} hit_grams={row['g']} "
            f"sum_longest={row['sp']}"
        )


def round9b_probe(spark, n: int, vocab_size: int = 4096, ops: str = ""):
    """Round-9 second-sitting probes: the three heaviest new per-token
    pipelines at 1M/3M/10M synthetic docs.

    Scale contracts under test: softdedup is one gram explode + one corpus
    gram-count agg + one hash join + per-doc/per-source aggs — wall linear
    in corpus tokens; stupid_backoff is 3 linear gram explodes + 2
    hash-keyed count joins + a per-occurrence pivot regroup — linear with
    a ~5x token fan (the stacked-key table); mlm is a token explode + a
    bounded vocab broadcast + a per-doc agg — linear. Nothing quadratic
    anywhere; probe walls force real work through aggregates over computed
    columns (a naive count() gets join-eliminated — round-7 lesson)."""
    import time

    from hpmr_spark.operators.corpus_lm2_queries import stupid_backoff_df
    from hpmr_spark.operators.pretrain3_queries import (
        mlm_masking_df,
        softdedup_commonness_df,
    )

    do = set(ops.split(",")) if ops else {"softdedup", "backoff", "mlm"}
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("l"), (F.col("id") % 5).cast("string")).alias("lang"),
        F.concat(F.lit("src"), (F.col("id") % 20).cast("string")).alias(
            "source"
        ),
        F.concat_ws(" ", F.transform(
            F.sequence(F.lit(1), F.lit(60)),
            lambda i: F.concat(F.lit("w"), (
                (F.xxhash64(F.col("id") * 1000 + i) % vocab_size
                 + vocab_size) % vocab_size).cast("string")),
        )).alias("text"))

    if "softdedup" in do:
        t0 = time.time()
        row = (
            softdedup_commonness_df(docs)
            .agg(
                F.count(F.lit(1)).alias("k"),
                F.sum("eff_tok").alias("eff"),
                F.sum("mean_common_nano").alias("mc"),
            )
            .collect()[0]
        )
        print(
            f"round9b softdedup n={n} wall={time.time() - t0:.1f}s "
            f"sources={row['k']} eff_tok={row['eff']} sum_mean={row['mc']}"
        )

    if "backoff" in do:
        t0 = time.time()
        row = (
            stupid_backoff_df(docs)
            .agg(
                F.count(F.lit(1)).alias("k"),
                F.sum("n_tri").alias("tri"),
                F.sum("sb_mean_nano").alias("sb"),
            )
            .collect()[0]
        )
        print(
            f"round9b backoff n={n} wall={time.time() - t0:.1f}s "
            f"docs={row['k']} trigrams={row['tri']} sum_mean={row['sb']}"
        )

    if "mlm" in do:
        t0 = time.time()
        row = (
            mlm_masking_df(docs)
            .agg(
                F.count(F.lit(1)).alias("k"),
                F.sum("n_sel").alias("sel"),
                F.sum("repl_rank_sum").alias("rr"),
            )
            .collect()[0]
        )
        print(
            f"round9b mlm n={n} wall={time.time() - t0:.1f}s "
            f"docs={row['k']} selected={row['sel']} repl_checksum={row['rr']}"
        )


def round10_probe(spark, n: int, vocab_size: int = 4096, ops: str = ""):
    """Round-10 probes: the in-row fold operators at 1M/3M synthetic docs.

    Scale contracts under test: every one of these is a map-only in-row
    computation followed by ONE small-key aggregate, so wall must be
    linear in corpus size with flat per-row memory:
    - cdc: one committed md5 per char position (the honest CDC cost) +
      an exact-distinct census;
    - rouge: the 81-cell LCS DP fold per doc;
    - moe: 8 hash logits + softmax + argmax per token, ×8 explode;
    - wordpiece: the ≤8-step greedy maximal-munch fold per token
      (probe uses a fixed literal vocab — the registered query derives
      its committed vocab from the corpus with two bounded collects).
    """
    import time

    do = set(ops.split(",")) if ops else {"cdc", "rouge", "moe", "wordpiece"}
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("en").alias("lang"),
        F.concat_ws(" ", F.transform(
            F.sequence(F.lit(1), F.lit(60)),
            lambda i: F.concat(F.lit("w"), (
                (F.xxhash64(F.col("id") * 1000 + i) % vocab_size
                 + vocab_size) % vocab_size).cast("string")),
        )).alias("text"))

    if "cdc" in do:
        from hpmr_spark.operators.storage_quant_queries import _cdc_spark

        t0 = time.time()
        row = (
            docs.select(F.explode(F.expr(_cdc_spark())).alias("chunk"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.countDistinct("chunk").alias("d"),
                F.sum(F.length("chunk")).alias("s"),
            )
            .collect()[0]
        )
        print(
            f"round10 cdc n={n} wall={time.time() - t0:.1f}s "
            f"chunks={row['n']} distinct={row['d']} chars={row['s']}"
        )

    if "rouge" in do:
        from hpmr_spark.operators.seq_align_queries import _RL_M, _lcs_spark

        t0 = time.time()
        row = (
            docs.select(F.split("text", " ").alias("t"))
            .select(
                F.expr(f"slice(t, 1, {_RL_M})").alias("a"),
                F.expr(f"slice(t, size(t) - {_RL_M - 1}, {_RL_M})").alias("b"),
            )
            .select(F.expr(_lcs_spark("a", "b")).alias("lcs"))
            .agg(F.count(F.lit(1)).alias("n"), F.sum("lcs").alias("s"))
            .collect()[0]
        )
        print(
            f"round10 rouge n={n} wall={time.time() - t0:.1f}s "
            f"docs={row['n']} sum_lcs={row['s']}"
        )

    if "moe" in do:
        from hpmr_spark.operators.tokenize_serving_queries import (
            _MOE_E,
            _MOE_LOGIT_SPARK,
        )

        t0 = time.time()
        row = (
            docs.select(F.explode(F.split("text", " ")).alias("w"))
            .select(
                F.expr(
                    f"transform(sequence(0, {_MOE_E - 1}),"
                    f" e -> ({_MOE_LOGIT_SPARK} % 1000))"
                ).alias("la")
            )
            .select(
                F.expr(
                    f"array_max(transform(sequence(0, {_MOE_E - 1}), e ->"
                    f" named_struct('l', element_at(la, CAST(e + 1 AS INT)),"
                    f" 'nege', 0 - e))).nege"
                ).alias("nege")
            )
            .agg(F.count(F.lit(1)).alias("n"), F.sum("nege").alias("s"))
            .collect()[0]
        )
        print(
            f"round10 moe n={n} wall={time.time() - t0:.1f}s "
            f"tokens={row['n']} route_checksum={row['s']}"
        )

    if "wordpiece" in do:
        from hpmr_spark.operators.tokenize_serving_queries import (
            _wp_fold_spark,
        )

        v2 = "array(" + ",".join(f"'w{i}'" for i in range(10, 30)) + ")"
        v3 = "array(" + ",".join(f"'w{i}0'" for i in range(1, 11)) + ")"
        t0 = time.time()
        row = (
            docs.select(F.explode(F.split("text", " ")).alias("w"))
            .select(F.expr(_wp_fold_spark(v2, v3)).alias("np"))
            .agg(F.count(F.lit(1)).alias("n"), F.sum("np").alias("s"))
            .collect()[0]
        )
        print(
            f"round10 wordpiece n={n} wall={time.time() - t0:.1f}s "
            f"words={row['n']} pieces={row['s']}"
        )


def round11_probe(spark, n: int, vocab_size: int = 4096, ops: str = ""):
    """Round-11 probes: the new fold operators at synthetic scale.

    Contracts: lz78/fk are map-only per-doc folds + one small agg (must
    be linear); hmm/croston are per-group folds whose state is bounded
    by group size (one groupBy shuffle + map-side fold — linear)."""
    import time

    do = set(ops.split(",")) if ops else {"lz78", "fk", "hmm", "croston"}
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.lit("en").alias("lang"),
        F.concat_ws(" ", F.transform(
            F.sequence(F.lit(1), F.lit(60)),
            lambda i: F.concat(F.lit("w"), (
                (F.xxhash64(F.col("id") * 1000 + i) % vocab_size
                 + vocab_size) % vocab_size).cast("string")),
        )).alias("text"))

    if "lz78" in do:
        from hpmr_spark.operators.corpus_text2_queries import (
            _LZ_COUNT,
            _WL,
            _lz78_fold,
        )

        t0 = time.time()
        row = (
            docs.select(F.expr(_WL).alias("wl"))
            .select(
                F.expr(
                    f"aggregate(wl, '|#', {_lz78_fold('instr')})"
                ).alias("z")
            )
            .select(F.expr(f"CAST({_LZ_COUNT} AS BIGINT)").alias("np"))
            .agg(F.count(F.lit(1)).alias("n"), F.sum("np").alias("s"))
            .collect()[0]
        )
        print(
            f"round11 lz78 n={n} wall={time.time() - t0:.1f}s "
            f"docs={row['n']} sum_phrases={row['s']}"
        )

    if "fk" in do:
        from hpmr_spark.operators.corpus_text2_queries import (
            _GRADE,
            _WL,
            _fk_cols,
        )

        t0 = time.time()
        row = (
            docs.select(F.expr(_WL).alias("wl"))
            .select(F.expr(f"struct({_fk_cols('')})").alias("f"))
            .select("f.w_cnt", "f.y_cnt")
            .withColumn("s_cnt", F.expr("(w_cnt + 14) div 15"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.expr(f"CAST(SUM({_GRADE}) AS BIGINT)").alias("s"),
            )
            .collect()[0]
        )
        print(
            f"round11 fk n={n} wall={time.time() - t0:.1f}s "
            f"docs={row['n']} grade_checksum={row['s']}"
        )

    if "hmm" in do:
        from hpmr_spark.operators.seq_models_queries import (
            _el_spark,
            _hmm_fold,
        )

        t0 = time.time()
        ev = spark.range(n).select(
            (F.col("id") / 64).cast("long").alias("user_id"),
            F.col("id").alias("eid"),
            ((F.xxhash64("id") % 5 + 5) % 5).cast("double").alias("code"),
        )
        row = (
            ev.groupBy("user_id")
            .agg(
                F.expr(
                    "aggregate(transform(sort_array(collect_list("
                    "struct(eid, code))), p -> array(p.code)),"
                    " array(0.5e0, 0.5e0, 0.0e0),"
                    f" {_hmm_fold(_el_spark)})"
                ).alias("s")
            )
            .select(
                F.expr(
                    f"CAST(FLOOR({_el_spark('s', '3')} * 1000000000.0e0)"
                    " AS BIGINT)"
                ).alias("ll")
            )
            .agg(F.count(F.lit(1)).alias("n"), F.sum("ll").alias("s"))
            .collect()[0]
        )
        print(
            f"round11 hmm n={n} wall={time.time() - t0:.1f}s "
            f"users={row['n']} loglik_checksum={row['s']}"
        )

    if "croston" in do:
        from hpmr_spark.operators.seq_models_queries import (
            _croston_fold,
            _el_spark,
        )

        t0 = time.time()
        dem = spark.range(n).select(
            (F.col("id") / 30).cast("long").alias("pk"),
            (F.col("id") % 30 * 7 + (F.xxhash64("id") % 5 + 5) % 5)
            .cast("double")
            .alias("day"),
            ((F.xxhash64("id", "id") % 50 + 50) % 50 + 1)
            .cast("double")
            .alias("q"),
        )
        row = (
            dem.groupBy("pk")
            .agg(
                F.expr(
                    "aggregate(sort_array(collect_list(array(day, q))),"
                    " array(0.0e0, 0.0e0, 0.0e0, 0.0e0),"
                    f" {_croston_fold(_el_spark)})"
                ).alias("s")
            )
            .select(
                F.expr(
                    f"CAST(FLOOR({_el_spark('s', '1')} * 1000.0e0) AS BIGINT)"
                ).alias("z")
            )
            .agg(F.count(F.lit(1)).alias("n"), F.sum("z").alias("s"))
            .collect()[0]
        )
        print(
            f"round11 croston n={n} wall={time.time() - t0:.1f}s "
            f"parts={row['n']} size_checksum={row['s']}"
        )


def round12_probe(spark, n: int, ops: str = ""):
    """Round-12 probes (VERDICT r9 item 8): the round-11 fold family's
    largest members at 10×+ — ELO's 25-rating weekly fold and Katz's K=8
    exact-rational series. Both are calendar/rank-BOUNDED: the fold/walk
    state never grows with fact count; only the one fact-pass rollup
    scales. The probe runs the EXACT committed query pipelines over
    synthetic fact tables (a _t monkeypatch), so the measured wall is the
    real operator, not a replica."""
    import time

    do = set(ops.split(",")) if ops else {"elo", "katz"}

    n_cust = 10_000
    n_supp = 1_000
    orders = spark.range(n).select(
        F.col("id").alias("o_orderkey"),
        (F.col("id") % n_cust).alias("o_custkey"),
        F.expr(
            "CAST(date_add(DATE '1995-01-01',"
            " CAST((xxhash64(id) % 2400 + 2400) % 2400 AS INT)) AS TIMESTAMP_NTZ)"
        ).alias("o_orderdate"),
        F.expr(
            "CAST((xxhash64(id * 7) % 500000 + 500000) % 500000 + 100 AS DOUBLE)"
            " / 100.0"
        ).alias("o_totalprice"),
    )
    customer = spark.range(n_cust).select(
        F.col("id").alias("c_custkey"),
        (F.col("id") % 25).cast("int").alias("c_nationkey"),
    )
    lineitem = spark.range(n).select(
        (F.col("id") % (n // 4 + 1)).alias("l_orderkey"),
        (F.col("id") % n_supp).alias("l_suppkey"),
        F.expr(
            "CAST((xxhash64(id * 13) % 900000 + 900000) % 900000 + 100"
            " AS DOUBLE) / 100.0"
        ).alias("l_extendedprice"),
    )
    orders_k = spark.range(n // 4 + 1).select(
        F.col("id").alias("o_orderkey"),
        (F.col("id") % n_cust).alias("o_custkey"),
    )
    supplier = spark.range(n_supp).select(
        F.col("id").alias("s_suppkey"),
        (F.col("id") % 25).cast("int").alias("s_nationkey"),
    )

    if "elo" in do:
        import hpmr_spark.operators.seq_models_queries as sm

        tables = {"orders": orders, "customer": customer}
        orig = sm._t
        sm._t = lambda s, d, name: tables[name]
        try:
            t0 = time.time()
            rows = sm.elo_online_ratings(spark, "synthetic").collect()
            print(
                f"round12 elo n={n} wall={time.time() - t0:.1f}s "
                f"rows={len(rows)}",
                flush=True,
            )
        finally:
            sm._t = orig

    if "katz" in do:
        import hpmr_spark.operators.edit_graph_queries as eg

        tables = {
            "customer": customer,
            "orders": orders_k,
            "lineitem": lineitem,
            "supplier": supplier,
        }
        orig = eg._t
        eg._t = lambda s, d, name: tables[name]
        try:
            t0 = time.time()
            rows = eg.katz_centrality_trade(spark, "synthetic").collect()
            print(
                f"round12 katz n={n} wall={time.time() - t0:.1f}s "
                f"rows={len(rows)}",
                flush=True,
            )
        finally:
            eg._t = orig


def round13_probe(spark, n: int, ops: str = ""):
    """Round-13 probes (VERDICT r10 item 5): the wave-7/8 families at
    1M-10M synthetic rows — multi_pattern_contamination_scan (mp),
    token_pruning_census (tp), knapsack_source_selection (ks),
    freshness_decay_weights (fresh), linear_probe_displacement_census
    (lp). All run the EXACT committed query pipelines via _t / loader
    monkeypatches, so the measured wall is the real operator. The lp
    probe scales the table size to the next power of two ≥ 2× the key
    count (the module's own sf1 routing guidance) so the α < 1 contract
    holds at every probed n."""
    import time

    do = set(ops.split(",")) if ops else {"mp", "tp", "ks", "fresh", "lp"}

    langs = F.array(*[F.lit(x) for x in ("en", "de", "fr", "es", "pt")])
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.element_at(langs, ((F.xxhash64("id") % 5 + 5) % 5 + 1).cast("int"))
        .alias("lang"),
        F.concat(
            F.lit("src"), ((F.xxhash64(F.col("id") + 3) % 8 + 8) % 8)
        ).alias("source"),
        F.concat_ws(
            " ",
            F.transform(
                F.sequence(F.lit(1), F.lit(60)),
                lambda i: F.concat(
                    F.lit("w"),
                    (
                        (F.xxhash64(F.col("id") * 1000 + i) % 4096 + 4096)
                        % 4096
                    ),
                ),
            ),
        ).alias("text"),
    )

    if "mp" in do:
        import hpmr_spark.operators.corpus_scan2_queries as cs

        orig = cs._t
        cs._t = lambda s, d, name: docs
        try:
            t0 = time.time()
            rows = cs.multi_pattern_contamination_scan(
                spark, "synthetic"
            ).collect()
            print(
                f"round13 mp n={n} wall={time.time() - t0:.1f}s "
                f"rows={len(rows)} "
                f"hits={sum(r['docs_hit'] for r in rows)}",
                flush=True,
            )
        finally:
            cs._t = orig

    if "tp" in do:
        import hpmr_spark.operators.corpus_scan2_queries as cs

        orig = cs._t
        cs._t = lambda s, d, name: docs
        try:
            t0 = time.time()
            rows = cs.token_pruning_census(spark, "synthetic").collect()
            print(
                f"round13 tp n={n} wall={time.time() - t0:.1f}s "
                f"rows={len(rows)} "
                f"prune_ppm={[r['prune_ppm'] for r in rows]}",
                flush=True,
            )
        finally:
            cs._t = orig

    if "ks" in do:
        import hpmr_spark.operators.budget_knapsack_queries as bk

        orig = bk._t
        bk._t = lambda s, d, name: docs
        try:
            t0 = time.time()
            rows = bk.knapsack_source_selection(spark, "synthetic").collect()
            print(
                f"round13 ks n={n} wall={time.time() - t0:.1f}s "
                f"rows={len(rows)} "
                f"best={max(r['best_value'] for r in rows)}",
                flush=True,
            )
        finally:
            bk._t = orig

    if "fresh" in do:
        import hpmr_spark.operators.freshness_queries as fq

        types = F.array(
            *[F.lit(x) for x in ("view", "click", "purchase", "scroll", "exit")]
        )
        ev = spark.range(n).select(
            F.col("id").alias("event_id"),
            ((F.xxhash64("id") % 100000 + 100000) % 100000).alias("user_id"),
            F.element_at(
                types, ((F.xxhash64(F.col("id") + 11) % 5 + 5) % 5 + 1).cast("int")
            ).alias("event_type"),
            F.timestamp_micros(
                F.lit(1700000000000000)
                + (
                    (F.xxhash64(F.col("id") + 7) % 2592000000000
                     + 2592000000000) % 2592000000000
                )
            ).alias("ts"),
        )
        orig = fq.load_events
        fq.load_events = lambda s, d: ev
        try:
            t0 = time.time()
            rows = fq.freshness_decay_weights(spark, "synthetic").collect()
            print(
                f"round13 fresh n={n} wall={time.time() - t0:.1f}s "
                f"rows={len(rows)} "
                f"ppm={[r['freshness_ppm'] for r in rows]}",
                flush=True,
            )
        finally:
            fq.load_events = orig

    if "lp" in do:
        import hpmr_spark.operators.hashtable_sim_queries as ht

        cust = spark.range(n).select(F.col("id").alias("c_custkey"))
        n_keys = n // ht._LP_KMOD
        m = 1
        while m < 2 * n_keys:
            m *= 2
        import hpmr_spark.sources.tables as tables

        orig_t, orig_m, orig_nr = ht._t, ht._LP_M, tables.table_rows
        ht._t = lambda s, d, name: cust
        ht._LP_M = m
        tables.table_rows = lambda d, name: n
        try:
            t0 = time.time()
            rows = ht.linear_probe_displacement_census(
                spark, "synthetic"
            ).collect()
            r = rows[0]
            print(
                f"round13 lp n={n} M={m} wall={time.time() - t0:.1f}s "
                f"keys={r['n_keys']} disp={r['total_displacement']} "
                f"maxo={r['max_cluster_overflow']}",
                flush=True,
            )
        finally:
            ht._t, ht._LP_M = orig_t, orig_m
            tables.table_rows = orig_nr


def main():
    if len(sys.argv) > 1 and sys.argv[1] == "round13":
        from hpmr_spark.engine import get_spark

        spark = get_spark("scale-probe-round13")
        round13_probe(
            spark,
            int(sys.argv[2]) if len(sys.argv) > 2 else 1_000_000,
            ops=sys.argv[3] if len(sys.argv) > 3 else "",
        )
        spark.stop()
        return

    if len(sys.argv) > 1 and sys.argv[1] == "round12":
        from hpmr_spark.engine import get_spark

        spark = get_spark("scale-probe-round12")
        round12_probe(
            spark,
            int(sys.argv[2]) if len(sys.argv) > 2 else 1_000_000,
            ops=sys.argv[3] if len(sys.argv) > 3 else "",
        )
        spark.stop()
        return

    if len(sys.argv) > 1 and sys.argv[1] == "round11":
        from hpmr_spark.engine import get_spark

        spark = get_spark("scale-probe-round11")
        round11_probe(
            spark,
            int(sys.argv[2]) if len(sys.argv) > 2 else 1_000_000,
            vocab_size=int(sys.argv[3]) if len(sys.argv) > 3 else 4096,
            ops=sys.argv[4] if len(sys.argv) > 4 else "",
        )
        spark.stop()
        return

    if len(sys.argv) > 1 and sys.argv[1] == "round10":
        from hpmr_spark.engine import get_spark

        spark = get_spark("scale-probe-round10")
        round10_probe(
            spark,
            int(sys.argv[2]) if len(sys.argv) > 2 else 1_000_000,
            vocab_size=int(sys.argv[3]) if len(sys.argv) > 3 else 4096,
            ops=sys.argv[4] if len(sys.argv) > 4 else "",
        )
        spark.stop()
        return

    if len(sys.argv) > 1 and sys.argv[1] == "round9b":
        from hpmr_spark.engine import get_spark

        spark = get_spark("scale-probe-round9b")
        round9b_probe(
            spark,
            int(sys.argv[2]) if len(sys.argv) > 2 else 1_000_000,
            vocab_size=int(sys.argv[3]) if len(sys.argv) > 3 else 4096,
            ops=sys.argv[4] if len(sys.argv) > 4 else "",
        )
        spark.stop()
        return

    if len(sys.argv) > 1 and sys.argv[1] == "round9":
        from hpmr_spark.engine import get_spark

        spark = get_spark("scale-probe-round9")
        round9_probe(
            spark,
            int(sys.argv[2]) if len(sys.argv) > 2 else 1_000_000,
            vocab_size=int(sys.argv[3]) if len(sys.argv) > 3 else 4096,
            ops=sys.argv[4] if len(sys.argv) > 4 else "",
        )
        spark.stop()
        return

    if len(sys.argv) > 1 and sys.argv[1] == "round7llm":
        from hpmr_spark.engine import get_spark

        spark = get_spark("scale-probe-round7llm")
        round7_llm_probe(
            spark,
            int(sys.argv[2]) if len(sys.argv) > 2 else 1_000_000,
            vocab_size=int(sys.argv[3]) if len(sys.argv) > 3 else 0,
            ops=sys.argv[4] if len(sys.argv) > 4 else "",
        )
        spark.stop()
        return
    # `python tools/scale_probe.py round8 <n> [ops]` — semdedup occupancy
    # scaling + minhash signature-agg strategy comparison (SCALE.md round 8)
    if len(sys.argv) > 1 and sys.argv[1] == "round8":
        from hpmr_spark.engine import get_spark

        spark = get_spark("scale-probe-round8")
        round8_probe(
            spark,
            int(sys.argv[2]) if len(sys.argv) > 2 else 1_000_000,
            ops=sys.argv[3] if len(sys.argv) > 3 else "",
        )
        spark.stop()
        return

    if len(sys.argv) > 1 and sys.argv[1] == "round6c":
        from hpmr_spark.engine import get_spark

        spark = get_spark("scale-probe-round6c")
        round6c_probe(spark, int(sys.argv[2]) if len(sys.argv) > 2 else 1_000_000)
        return

    if len(sys.argv) > 1 and sys.argv[1] == "round6b":
        from hpmr_spark.engine import get_spark

        spark = get_spark("scale-probe-round6b")
        round6b_probe(spark, int(sys.argv[2]) if len(sys.argv) > 2 else 1_000_000)
        spark.stop()
        return

    if len(sys.argv) > 1 and sys.argv[1] == "round6":
        from hpmr_spark.engine import get_spark

        spark = get_spark("scale-probe-round6")
        round6_probe(spark, int(sys.argv[2]) if len(sys.argv) > 2 else 1_000_000)
        spark.stop()
        return
    # `python tools/scale_probe.py ranking <n>` runs ONLY the ranking/
    # order-statistics probe at n synthetic orders (the 1x/3x/10x sweep
    # driver for SCALE.md's statistics table)
    if len(sys.argv) > 1 and sys.argv[1] == "ranking":
        from hpmr_spark.engine import get_spark

        spark = get_spark("scale-probe-ranking")
        ranking_probe(spark, int(sys.argv[2]) if len(sys.argv) > 2 else 1_000_000)
        spark.stop()
        return
    if len(sys.argv) > 1 and sys.argv[1] == "round5":
        from hpmr_spark.engine import get_spark

        spark = get_spark("scale-probe-round5")
        round5_probe(spark, int(sys.argv[2]) if len(sys.argv) > 2 else 1_000_000)
        spark.stop()
        return
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 100_000
    from hpmr_spark.engine import get_spark
    from hpmr_spark.dedup.minhash import minhash_dedup_pairs
    from hpmr_spark.dedup.exact import dedup_exact
    from hpmr_spark.functions.text import quality_score_ppm, token_count

    spark = get_spark("scale-probe")
    docs = synth_docs(spark, n).persist()
    print(f"corpus: {docs.count()} docs")

    t0 = time.time()
    n_fp = dedup_exact(docs).count()
    print(f"dedup_exact: {n_fp} groups in {time.time()-t0:.1f}s")

    t0 = time.time()
    n_tok = docs.select(
        token_count(F.col("text")).alias("t"), quality_score_ppm(F.col("text")).alias("q")
    ).agg(F.sum("t"), F.sum("q")).collect()
    print(f"text scoring: {time.time()-t0:.1f}s ({n_tok[0][0]} tokens)")

    t0 = time.time()
    pairs = minhash_dedup_pairs(docs, threshold_pct=90, bands=16, rows=2).count()
    print(f"minhash_lsh pairs: {pairs} in {time.time()-t0:.1f}s")

    n_ev = n * 30
    ev = synth_events(spark, n_ev).persist()
    ev.count()
    t0 = time.time()
    n_sessions = (
        ev.groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .count()
    )
    print(f"session_window: {n_sessions} sessions over {n_ev} events in {time.time()-t0:.1f}s")

    t0 = time.time()
    n_keys = (
        ev.withColumn("event_type", (F.col("event_id") % 5).cast("string"))
        .groupBy("user_id", "event_type")
        .agg(F.max(F.struct("ts", "event_id")).alias("m"))
        .count()
    )
    print(f"cdc_latest: {n_keys} keys in {time.time()-t0:.1f}s")

    m = max(n // 100, 1000)
    t0 = time.time()
    total = pagerank_probe(spark, m).agg(F.sum("pr")).collect()[0][0]
    print(f"pagerank: {m} nodes x3 iters, mass {total} ppb in {time.time()-t0:.1f}s")

    corpus_probe(spark, n)

    closing_probe(spark, n)

    continuation_probe(spark, n)

    ranking_probe(spark, n * 10)

    spark.stop()


if __name__ == "__main__":
    main()
