"""Oracle-checked streaming queries.

Each runs genuinely through Structured Streaming (micro-batch planner +
state store, Trigger.AvailableNow) and lands in a memory sink; the returned
DataFrame is then hash-compared against a batch-SQL oracle. Tumbling windows
align to the epoch, matching DuckDB's time_bucket.
"""

from __future__ import annotations

from hpmr_spark.catalog import register
from hpmr_spark.streaming.windows import (
    sliding_window_activity,
    stateful_user_totals,
    stream_static_enrich,
    tumbling_window_counts,
)


@register(
    "streaming_static_enrich",
    """
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY window_start, c_mktsegment
    """,
)
def streaming_static_enrich(spark, sf_dir):
    """Stream-static broadcast enrichment before the windowed agg (the
    enrich-then-aggregate feature-pipeline topology)."""
    return stream_static_enrich(spark, sf_dir)


@register(
    "streaming_tumbling_counts",
    """
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
    FROM events GROUP BY window_start, event_type
    """,
)
def streaming_tumbling_counts(spark, sf_dir):
    return tumbling_window_counts(spark, sf_dir)


@register(
    "streaming_sliding_activity",
    """
    WITH buckets AS (
      SELECT time_bucket(INTERVAL '1 hour', ts) AS b, ts FROM events)
    SELECT ws AS window_start, CAST(COUNT(*) AS BIGINT) AS n_events
    FROM (SELECT b AS ws, ts FROM buckets
          UNION ALL SELECT b - INTERVAL '1 hour' AS ws, ts FROM buckets)
    GROUP BY ws
    """,
)
def streaming_sliding_activity(spark, sf_dir):
    """2h windows sliding 1h: each event lands in 2 windows — the oracle
    replicates via the window-start union trick."""
    return sliding_window_activity(spark, sf_dir)


@register(
    "streaming_dedup_events",
    """
    SELECT event_type, CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_unique
    FROM events GROUP BY event_type
    """,
)
def streaming_dedup_events(spark, sf_dir):
    """Streaming exact dedup: dropDuplicates on the event-id key with a
    watermark bounding the dedup state window — the streaming twin of
    dedup_exact_groups. Counts per type after in-stream dedup ≡ batch
    COUNT(DISTINCT)."""
    from pyspark.sql import functions as F

    from hpmr_spark.streaming.windows import _events_stream, _run_to_table

    ev = _events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    deduped = ev.dropDuplicatesWithinWatermark(["event_id"])
    agg = deduped.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_unique"))
    return _run_to_table(agg, "sdedup", "complete")


@register(
    "streaming_stream_stream_join",
    """
    SELECT p.user_id, p.event_id AS purchase_id, v.event_id AS view_id,
           p.ts AS p_ts, v.ts AS v_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON p.user_id = v.user_id
     AND v.ts <= p.ts AND v.ts >= p.ts - INTERVAL '1 hour'
    """,
)
def streaming_stream_stream_join(spark, sf_dir):
    """Stream-stream inner join (purchase ⋈ views within preceding hour),
    watermark-bounded state on both sides; over a static corpus ≡ the batch
    time-range join."""
    from hpmr_spark.streaming.joins import purchases_with_recent_views

    return purchases_with_recent_views(spark, sf_dir)


@register(
    "streaming_append_closed_windows",
    """
    WITH wm AS (SELECT MAX(ts) - INTERVAL '1 hour' AS watermark FROM events)
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events, wm
    GROUP BY window_start, event_type, watermark
    HAVING window_start + INTERVAL '1 hour' <= watermark
    """,
)
def streaming_append_closed_windows(spark, sf_dir):
    """Watermark/late-data semantics: append mode emits only windows closed by
    the final watermark (max ts − 1h); the oracle reproduces that window set
    in batch SQL."""
    from hpmr_spark.streaming.late_data import append_mode_closed_windows

    return append_mode_closed_windows(spark, sf_dir)


@register(
    "streaming_stateful_user_totals",
    """
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
    FROM events GROUP BY user_id
    """,
)
def streaming_stateful_user_totals(spark, sf_dir):
    """applyInPandasWithState running totals — final state ≡ batch groupBy."""
    return stateful_user_totals(spark, sf_dir)


@register(
    "streaming_session_windows",
    """
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS us FROM events
    ),
    m AS (
      SELECT *, CASE WHEN us - LAG(us) OVER (PARTITION BY user_id ORDER BY us) > 1800000000
                      OR LAG(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
                     THEN 1 ELSE 0 END AS is_new
      FROM e
    ),
    s AS (
      SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY us
                                  ROWS UNBOUNDED PRECEDING) AS seq
      FROM m
    ),
    wm AS (SELECT MAX(epoch_us(ts)) - 3600000000 AS w_us FROM events)
    SELECT user_id,
           make_timestamp(MIN(us)) AS session_start,
           make_timestamp(MAX(us) + 1800000000) AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM s, wm
    GROUP BY user_id, seq, w_us
    HAVING MAX(us) + 1800000000 <= w_us
    """,
)
def streaming_session_windows(spark, sf_dir):
    """Streaming session windows (stateful session merge in the state store):
    30-min gap sessions per user, append mode — only sessions closed by the
    final watermark (max ts − 1h) emit; open tails stay withheld. The oracle
    is batch lag/cumsum sessionization restricted by the same watermark
    predicate. Session state is bounded by the watermark: closed sessions
    evict, so state ∝ active users × open sessions, not history."""
    from pyspark.sql import functions as F

    from hpmr_spark.streaming.windows import _events_stream, _run_to_table

    ev = _events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = ev.groupBy(
        F.session_window("ts", "30 minutes").alias("sw"), "user_id"
    ).agg(F.count(F.lit(1)).alias("n_events"))
    out = _run_to_table(agg, "sessionwin", "append")
    return out.select(
        "user_id",
        F.col("sw.start").alias("session_start"),
        F.col("sw.end").alias("session_end"),
        "n_events",
    )


@register(
    "streaming_foreachbatch_sink",
    """
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
    FROM events GROUP BY event_type
    """,
)
def streaming_foreachbatch_sink(spark, sf_dir):
    """foreachBatch: the custom-sink escape hatch — each micro-batch arrives
    as a BATCH DataFrame with full write API (parquet here; JDBC/MERGE at a
    real deployment). Complete output mode makes every batch a full
    snapshot, so overwrite-per-batch is idempotent under retries — the
    exactly-once pattern for non-transactional sinks."""
    from pyspark.sql import functions as F

    from hpmr_spark.engine import scratch_dir
    from hpmr_spark.streaming.windows import _events_stream

    ev = _events_stream(spark, sf_dir)
    agg = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
    )
    path = scratch_dir("feb_sink") + "/out"

    def write_batch(batch_df, epoch_id):
        batch_df.write.mode("overwrite").parquet(path)

    q = (
        agg.writeStream.foreachBatch(write_batch)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.read.parquet(path)


@register(
    "streaming_dedup_against_corpus",
    """
    WITH f AS (
      SELECT doc_id,
             md5(array_to_string(string_split(text, ' ')[1:5], ' ')) AS fp
      FROM documents
    )
    SELECT doc_id, fp FROM f
    WHERE doc_id >= 250
      AND fp NOT IN (SELECT fp FROM f WHERE doc_id < 250)
    """,
)
def streaming_dedup_against_corpus(spark, sf_dir):
    """Streaming ingest dedup against an existing corpus: arriving
    documents (the doc_id ≥ 250 half, streamed through the file source)
    are anti-joined on a 5-word-prefix shingle fingerprint against the
    static fingerprint set of the already-ingested corpus (doc_id < 250)
    — the new-data-vs-history shape every incremental pretraining ingest
    runs (prefix fingerprints, not full-text hashes, so boilerplate-opening
    near-dups drop too; 13 docs are filtered on this corpus). Stream-static
    LEFT ANTI is stateless (no watermark, no state store): each micro-batch
    scans only its new files, and the static side is a broadcast of
    fingerprints, never text. The batch oracle is the same anti-join as
    one SQL query."""
    from pyspark.sql import functions as F

    from hpmr_spark.sources.tables import load_table
    from hpmr_spark.streaming.windows import _docs_stream, _run_to_table

    prefix_fp = F.md5(F.array_join(F.slice(F.split("text", " "), 1, 5), " "))
    docs = _docs_stream(spark, sf_dir)
    arriving = docs.where(F.col("doc_id") >= 250).select(
        "doc_id", prefix_fp.alias("fp")
    )
    corpus_fps = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 250)
        .select(prefix_fp.alias("fp"))
        .distinct()
    )
    surviving = arriving.join(corpus_fps, "fp", "left_anti").select("doc_id", "fp")
    return _run_to_table(surviving, "corpusdedup", "append")


@register(
    "streaming_funnel_stages",
    """
    WITH v AS (
      SELECT user_id, MIN(epoch_us(ts)) AS t1
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, MIN(epoch_us(e.ts)) AS t2
      FROM events e JOIN v ON e.user_id = v.user_id
                          AND epoch_us(e.ts) >= v.t1
      WHERE e.event_type = 'click' GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, MIN(epoch_us(e.ts)) AS t3
      FROM events e JOIN c ON e.user_id = c.user_id
                          AND epoch_us(e.ts) >= c.t2
      WHERE e.event_type = 'purchase' GROUP BY e.user_id
    )
    SELECT u.user_id,
           CAST(CASE WHEN p.user_id IS NOT NULL THEN 3
                     WHEN c.user_id IS NOT NULL THEN 2
                     WHEN v.user_id IS NOT NULL THEN 1
                     ELSE 0 END AS BIGINT) AS stage_reached
    FROM (SELECT DISTINCT user_id FROM events) u
    LEFT JOIN v ON u.user_id = v.user_id
    LEFT JOIN c ON u.user_id = c.user_id
    LEFT JOIN p ON u.user_id = p.user_id
    """,
)
def streaming_funnel_stages(spark, sf_dir):
    """Stateful streaming funnel (applyInPandasWithState state machine) —
    final per-user stage ≡ the batch funnel oracle; the streaming twin of
    funnel_view_click_purchase with four-integer bounded state per key."""
    from hpmr_spark.streaming.windows import stateful_funnel_stages

    return stateful_funnel_stages(spark, sf_dir)


@register(
    "streaming_left_outer_join",
    """
    WITH p AS (SELECT * FROM events WHERE event_type = 'purchase'),
    v AS (SELECT * FROM events WHERE event_type = 'view'),
    matched AS (
      SELECT p.user_id, p.event_id AS purchase_id, v.event_id AS view_id,
             p.ts AS p_ts, v.ts AS v_ts
      FROM p JOIN v
        ON p.user_id = v.user_id
       AND v.ts <= p.ts AND v.ts >= p.ts - INTERVAL '1 hour'
    ),
    wm AS (SELECT MAX(ts) - INTERVAL '2 hours' AS cutoff FROM events)
    SELECT * FROM matched
    UNION ALL
    SELECT p.user_id, p.event_id, NULL, p.ts, NULL
    FROM p, wm
    WHERE p.ts < wm.cutoff
      AND NOT EXISTS (
        SELECT 1 FROM v WHERE v.user_id = p.user_id
          AND v.ts <= p.ts AND v.ts >= p.ts - INTERVAL '1 hour')
    """,
)
def streaming_left_outer_join(spark, sf_dir):
    """LEFT OUTER stream-stream join with watermark-bounded state: matched
    pairs emit immediately; a purchase with NO view in its preceding hour
    emits a NULL-view row only after the view watermark (2h) passes it —
    unmatched purchases younger than max(ts) − 2h are still held as state
    when AvailableNow terminates, exactly as the oracle's cutoff predicate
    encodes. THE semantics distinction vs the inner variant: late data
    cannot turn an emitted NULL row into a match."""
    from hpmr_spark.streaming.joins import purchases_with_recent_views_outer

    return purchases_with_recent_views_outer(spark, sf_dir)


def _tb_oracle():
    from hpmr_spark.operators.linkage_queries import TOKEN_BUCKET_ORACLE_SQL

    return TOKEN_BUCKET_ORACLE_SQL


@register("streaming_token_bucket", _tb_oracle())
def streaming_token_bucket(spark, sf_dir):
    """Token-bucket rate limiter as a LIVE stateful streaming operator —
    the streaming twin of token_bucket_replay (same committed integer
    recurrence, same recursive-CTE oracle): applyInPandasWithState keyed
    by user, O(1) state (four longs), cumulative emissions finalized by
    max-processed per user. See streaming/windows.streaming_token_bucket."""
    from hpmr_spark.streaming.windows import streaming_token_bucket as _run

    return _run(spark, sf_dir)


@register(
    "streaming_checkpoint_exactly_once",
    """
    WITH both_phases AS (
      SELECT user_id, value FROM events
      UNION ALL
      SELECT user_id, value * 2 AS value FROM events
      WHERE event_type = 'purchase'
    )
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
             AS value_cents
    FROM both_phases GROUP BY user_id
    """,
)
def streaming_checkpoint_exactly_once(spark, sf_dir):
    """Checkpointed restart: phase 1 aggregates file A with a persistent
    checkpoint, file B (purchase replay, doubled value) lands, phase 2
    RESTARTS the same query on the same checkpoint and processes only B.
    Final totals ≡ batch aggregation of A ∪ B (this oracle);
    tests/test_streaming.py pins phase-2 numInputRows = |B| — the
    exactly-once accounting proof."""
    from hpmr_spark.streaming.windows import checkpoint_exactly_once

    return checkpoint_exactly_once(spark, sf_dir)


@register(
    "streaming_window_topk_types",
    """
    WITH counts AS (
      SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
             event_type, CAST(COUNT(*) AS BIGINT) AS n_events
      FROM events GROUP BY 1, 2
    ),
    ranked AS (
      SELECT window_start, event_type, n_events,
             ROW_NUMBER() OVER (PARTITION BY window_start
                                ORDER BY n_events DESC, event_type ASC)
               AS rk
      FROM counts
    )
    SELECT window_start, event_type, n_events, CAST(rk AS BIGINT) AS rank
    FROM ranked WHERE rk <= 3
    ORDER BY window_start, rank
    """,
)
def streaming_window_topk_types(spark, sf_dir):
    """Streaming per-window top-k: a stateful tumbling-window count per
    (window, event_type) runs as an AvailableNow stream into a memory
    sink (complete mode), then a window-PARTITIONED batch re-rank emits
    the top-3 event types per hour with the full (count DESC, type ASC)
    tie-break — the leaderboard topology (stateful streaming agg +
    downstream batch re-rank over the sink table). The re-rank is a
    per-window partitioned row_number (never global); state sizing per
    the _run_to_table note."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from hpmr_spark.streaming.windows import _events_stream, _run_to_table

    ev = _events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = ev.groupBy(
        F.window("ts", "1 hour").alias("w"), "event_type"
    ).agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    tbl = _run_to_table(agg, "wintopk", "complete")
    ranked = tbl.select(
        F.col("w.start").alias("window_start"), "event_type", "n_events"
    ).withColumn(
        "rank",
        F.row_number()
        .over(
            W.partitionBy("window_start").orderBy(
                F.desc("n_events"), F.asc("event_type")
            )
        )
        .cast("long"),
    )
    return ranked.where(F.col("rank") <= 3).orderBy("window_start", "rank")


from hpmr_spark.operators.advanced2_queries import _EWMA_SQL as _EWMA_TWIN_SQL  # noqa: E402


@register("streaming_ewma_user_state", _EWMA_TWIN_SQL)
def streaming_ewma_user_state(spark, sf_dir):
    """Stateful streaming twin of ewma_user_value_exact: trailing-16
    dyadic EWMA per user via applyInPandasWithState (capped-array state,
    mergeable top-16 fold — batch-equivalent at any micro-batching); the
    oracle is the batch window SQL. See streaming/windows.py."""
    from hpmr_spark.streaming.windows import streaming_ewma_user_state as _run

    return _run(spark, sf_dir)
