"""Streaming operator tests (independent of the oracle gate): streaming
results must equal their batch equivalents on the same data."""

from pyspark.sql import functions as F

from hpmr_spark.sources.tables import load_events
from hpmr_spark.streaming.windows import stateful_user_totals, tumbling_window_counts


def test_tumbling_counts_equal_batch(spark, sf_dir):
    stream = tumbling_window_counts(spark, sf_dir)
    batch = (
        load_events(spark, sf_dir)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
        )
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events", "value_cents")
    )
    assert stream.count() == batch.count()
    assert stream.exceptAll(batch).count() == 0
    assert batch.exceptAll(stream).count() == 0


def test_stateful_totals_equal_batch(spark, sf_dir):
    stream = stateful_user_totals(spark, sf_dir)
    batch = load_events(spark, sf_dir).groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
    )
    assert stream.exceptAll(batch).count() == 0
    assert batch.exceptAll(stream).count() == 0


def test_ngram_prefix_filter_equals_naive(spark, sf_dir):
    """The PPJoin prefix-filter path must produce exactly the naive
    inverted-index path's pairs (exactness of the optimization)."""
    from hpmr_spark.dedup.ngram import ngram_jaccard_pairs
    from hpmr_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    fast = {
        (r["doc_a"], r["doc_b"], r["n_common"], r["n_union"])
        for r in ngram_jaccard_pairs(docs, 90, prefix_filter=True).collect()
    }
    naive = {
        (r["doc_a"], r["doc_b"], r["n_common"], r["n_union"])
        for r in ngram_jaccard_pairs(docs, 90, prefix_filter=False).collect()
    }
    assert fast == naive and len(fast) > 0


def test_checkpoint_restart_processes_only_delta(spark, sf_dir):
    """streaming_checkpoint_exactly_once: phase 2 (restart on the same
    checkpoint) must ingest EXACTLY the delta file's rows — the file
    source's offsets live in the checkpoint, so nothing from phase 1 is
    re-read (exactly-once accounting). Its source/checkpoint dir is gone
    when it returns; the result is read from the memory sink."""
    import os

    from hpmr_spark.streaming import windows as W

    rows = W.checkpoint_exactly_once(spark, sf_dir).collect()
    info = W._CKPT_ONCE_LAST
    assert info is not None
    assert not os.path.exists(info["dir"]), info
    assert rows
    assert info["phase2_rows"] == info["n_delta"], info
    assert info["n_delta"] > 0
