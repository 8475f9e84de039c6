"""Structured Streaming operators over the events stream.

The reference's closest analog is the bulk-synchronous async_set→sync epoch
(SURVEY.md §2.3 — each epoch ≈ one micro-batch with stateful merge,
/root/reference/src/dist_map.h:118-210). Here each operator:

  readStream(parquet) → event-time transform → writeStream(memory sink,
  Trigger.AvailableNow) → await → return the sink table

so a (spark, sf_dir) query callable can return a plain DataFrame for the
oracle gate while genuinely executing through the streaming engine
(micro-batch planner, state store, watermarks).

Scale: in production these run continuously against object-store streams;
watermark + windowed agg keeps state bounded; per-key state
(applyInPandasWithState) shuffles by user_id once and holds only the
running aggregate per key.
"""

from __future__ import annotations

import itertools
from typing import Iterator, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from hpmr_spark.sources.tables import (
    events_schema,
    events_ts,
    footer,
    load_events,
    load_table,
    table_path,
)

_ctr = itertools.count()


_stream_dirs: dict = {}


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream the events table. The file-stream source requires a directory,
    so the single events.parquet is symlinked into a session temp dir (zero
    copy). The footer schema decides how ts is read (NANOS as bigint,
    MICROS as NTZ) and ``events_ts`` turns it into a TIMESTAMP, as
    sources/tables.py:load_events does."""
    import os
    import tempfile

    if sf_dir not in _stream_dirs:
        d = tempfile.mkdtemp(prefix="hpmr_events_stream_")
        os.symlink(table_path(sf_dir, "events"), os.path.join(d, "events.parquet"))
        _stream_dirs[sf_dir] = d
    schema = events_schema(spark, sf_dir)
    return events_ts(spark.readStream.schema(schema).parquet(_stream_dirs[sf_dir]), schema)


def _docs_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream the documents table (file source needs a directory — same
    symlink trick as _events_stream). The corpus-ingest topology: new
    documents arrive as files and flow through stateless/stateful dedup
    before they reach training storage."""
    import os
    import tempfile

    path = table_path(sf_dir, "documents")
    key = ("docs", sf_dir)
    if key not in _stream_dirs:
        d = tempfile.mkdtemp(prefix="hpmr_docs_stream_")
        os.symlink(path, os.path.join(d, "documents.parquet"))
        _stream_dirs[key] = d
    return spark.readStream.schema(footer(path).schema).parquet(_stream_dirs[key])


#: Shuffle/state partitions for the memory-sink AvailableNow runs. Each
#: state partition pays a per-micro-batch state-store commit, and at the
#: test corpus sizes that commit overhead IS the stream's wall (measured
#: r11: tumbling warm 1.25 s at 16 partitions, 0.93 s at 8, 0.78 s at 4 —
#: compute is trivial either way). 8 keeps the stateful stage genuinely
#: multi-partition while halving commit overhead. Because this pin
#: overrides the session's shuffle partitions, the session-level sweeps
#: never vary it; tests/test_invariance.py runs streams of all three output
#: modes at 1 and 8 state partitions and requires identical rows. The runs
#: use Spark's default HDFS-backed state store: RocksDB measured slower on
#: this family (CLAUDE.md round-15 notes). Checkpoint-coupled queries
#: (ivm_checkpoint_resume, statestore reader) keep their own fixed pin — a
#: resumed checkpoint must match its writer's partitioning.
STREAM_SHUFFLE_PARTITIONS = 8


def _run_to_table(stream_df: DataFrame, label: str, output_mode: str) -> DataFrame:
    """Run an AvailableNow stream into a memory sink and return its table.

    Stateful operators keep one state store per shuffle partition; at the
    test corpus sizes a high partition count just multiplies state-store
    commit overhead, so the stream runs at STREAM_SHUFFLE_PARTITIONS
    (results are partition-count invariant — tests/test_invariance.py). A
    production deployment sizes this to keyspace/executor count instead."""
    spark = stream_df.sparkSession
    name = f"mem_{label}_{next(_ctr)}"
    orig = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set(
            "spark.sql.shuffle.partitions", str(STREAM_SHUFFLE_PARTITIONS)
        )
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", orig)
    return spark.table(name)


def tumbling_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-hour tumbling windows per event_type: count + exact cents sum.
    Complete output mode → every window is in the sink after the run."""
    ev = _events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    agg = ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
    )
    out = _run_to_table(agg, "tumbling", "complete")
    return out.select(
        F.col("w.start").alias("window_start"), "event_type", "n_events", "value_cents"
    )


def sliding_window_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-hour windows sliding every hour: distinct-user activity per window."""
    ev = _events_stream(spark, sf_dir).withWatermark("ts", "2 hours")
    agg = ev.groupBy(F.window("ts", "2 hours", "1 hour").alias("w")).agg(
        F.approx_count_distinct("user_id").alias("approx_users"),
        F.count(F.lit(1)).alias("n_events"),
    )
    out = _run_to_table(agg, "sliding", "complete")
    # exact twin for the oracle: recount distinct users in batch over windows
    return out.select(F.col("w.start").alias("window_start"), "n_events")


def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment: the event stream joins a static dimension
    (customer) BEFORE the windowed aggregation. The static side is re-read
    per micro-batch and broadcast — no stream-side shuffle for the join, no
    watermark requirement on the static side; this is the standard
    enrich-then-aggregate topology for feature/metric pipelines."""
    ev = _events_stream(spark, sf_dir).withWatermark("ts", "1 hour")
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    joined = ev.join(F.broadcast(cust), "user_id", "inner")
    agg = joined.groupBy(F.window("ts", "1 hour").alias("w"), "c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("long")).alias("value_cents"),
    )
    out = _run_to_table(agg, "enrich", "complete")
    return out.select(
        F.col("w.start").alias("window_start"), "c_mktsegment", "n_events", "value_cents"
    )


STATE_SCHEMA = "n long, cents long"
OUTPUT_SCHEMA = "user_id long, n_events long, value_cents long"


def _user_totals_fn(
    key: Tuple[int], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    n, cents = state.get if state.exists else (0, 0)
    for pdf in pdfs:
        n += len(pdf)
        # half-away-from-zero, matching F.round / DuckDB ROUND — pandas
        # Series.round is banker's (half-even) and would flake on .5 cents
        v = pdf["value"].to_numpy() * 100.0
        cents += int((np.floor(np.abs(v) + 0.5) * np.sign(v)).astype("int64").sum())
    state.update((n, cents))
    yield pd.DataFrame([{"user_id": user_id, "n_events": n, "value_cents": cents}])


def stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState): running
    per-user totals — the engine analog of a DistMap accumulating via
    async_set across epochs. Emissions are cumulative; the final value per
    user is the max (monotone), making the result batch-equivalent."""
    ev = _events_stream(spark, sf_dir)
    updated = ev.groupBy("user_id").applyInPandasWithState(
        _user_totals_fn,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out = _run_to_table(updated, "usertotals", "update")
    return out.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"), F.max("value_cents").alias("value_cents")
    )


FUNNEL_STATE_SCHEMA = "stage long, t1 long, t2 long, t3 long"
FUNNEL_OUTPUT_SCHEMA = "user_id long, stage_reached long"

_US = 10**18  # sentinel "no timestamp yet" (far future, exceeds any epoch-µs)


def _funnel_fn(
    key: Tuple[int], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-user funnel state machine: earliest view t1, earliest click ≥ t1
    (t2), earliest purchase ≥ t2 (t3). Vectorized per micro-batch with the
    SAME min/filter semantics as the batch oracle; the file source delivers
    time-ordered batches (single parquet → one batch), so folding each
    batch into (t1, t2, t3) state is exact."""
    (user_id,) = key
    stage, t1, t2, t3 = state.get if state.exists else (0, _US, _US, _US)
    for pdf in pdfs:
        us = pdf["ts"].to_numpy().astype("datetime64[us]").astype("int64")
        et = pdf["event_type"].to_numpy()
        v = us[et == "view"]
        if v.size:
            t1 = min(t1, int(v.min()))
        c = us[(et == "click") & (us >= t1)]
        if c.size:
            t2 = min(t2, int(c.min()))
        p = us[(et == "purchase") & (us >= t2)]
        if p.size:
            t3 = min(t3, int(p.min()))
    stage = 3 if t3 < _US else 2 if t2 < _US else 1 if t1 < _US else 0
    state.update((stage, t1, t2, t3))
    yield pd.DataFrame([{"user_id": user_id, "stage_reached": stage}])


def stateful_funnel_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator: the view→click→purchase funnel
    as an applyInPandasWithState state machine — per-user state is four
    integers regardless of event volume, the bounded-state discipline that
    keeps a continuous funnel viable at any scale. Output mode update; the
    final (max) stage per user is the batch-equivalent fixpoint."""
    ev = _events_stream(spark, sf_dir).select("user_id", "ts", "event_type")
    updated = ev.groupBy("user_id").applyInPandasWithState(
        _funnel_fn,
        outputStructType=FUNNEL_OUTPUT_SCHEMA,
        stateStructType=FUNNEL_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out = _run_to_table(updated, "funnelstages", "update")
    return out.groupBy("user_id").agg(F.max("stage_reached").alias("stage_reached"))


TB_STATE_SCHEMA = "tokens long, allowed long, denied long, prev long"
TB_OUTPUT_SCHEMA = (
    "user_id long, n_done long, n_allowed long, n_denied long,"
    " end_tokens_micro long"
)

_TB_CAP = 5_000_000
_TB_COST = 1_000_000
_TB_DIV = 600


def _token_bucket_fn(
    key: Tuple[int], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per-user token-bucket fold (cap 5 tokens / cost 1 / refill Δus div
    600 in exact integer micro-tokens — the SAME committed recurrence as
    the batch twin operators/linkage_queries.token_bucket_replay and its
    recursive-CTE oracle). Events are sorted (ts_us, event_id) inside each
    micro-batch; across batches the file source delivers time-ordered
    batches (single parquet → one batch), the same ordering contract the
    funnel state machine relies on."""
    (user_id,) = key
    tokens, allowed, denied, prev = (
        state.get if state.exists else (_TB_CAP, 0, 0, -1)
    )
    for pdf in pdfs:
        pdf = pdf.sort_values(["ts_us", "event_id"])
        for ts in pdf["ts_us"].values:
            ts = int(ts)
            if prev >= 0:
                if ts < prev:
                    # ADVICE r4: the fold is only exact when batches arrive
                    # time-ordered (single-file source → one batch today).
                    # If the data shape ever changes (multi-file dir,
                    # maxFilesPerTrigger) fail LOUDLY instead of silently
                    # diverging from the recursive-CTE oracle.
                    raise ValueError(
                        "token-bucket state saw an out-of-order micro-batch: "
                        f"user {user_id} ts {ts} < state prev {prev}; the "
                        "single-time-ordered-batch contract is broken"
                    )
                tokens = min(_TB_CAP, tokens + (ts - prev) // _TB_DIV)
            if tokens >= _TB_COST:
                allowed += 1
                tokens -= _TB_COST
            else:
                denied += 1
            prev = ts
    state.update((tokens, allowed, denied, prev))
    yield pd.DataFrame(
        [
            {
                "user_id": user_id,
                "n_done": allowed + denied,
                "n_allowed": allowed,
                "n_denied": denied,
                "end_tokens_micro": tokens,
            }
        ]
    )


def streaming_token_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming rate-limiter replay: the token bucket as a LIVE stateful
    operator (applyInPandasWithState, O(1) state per user — four longs no
    matter the event volume) instead of a batch backfill. Emissions are
    cumulative per micro-batch; the batch-side finalize takes each user's
    most-processed emission (max n_done — monotone), so the result is the
    exact batch fixpoint and shares the recursive-CTE oracle with the
    batch twin."""
    ev = _events_stream(spark, sf_dir).select(
        "user_id", "event_id", F.unix_micros(F.col("ts")).alias("ts_us")
    )
    updated = ev.groupBy("user_id").applyInPandasWithState(
        _token_bucket_fn,
        outputStructType=TB_OUTPUT_SCHEMA,
        stateStructType=TB_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out = _run_to_table(updated, "tokenbucket", "update")
    fin = out.groupBy("user_id").agg(
        F.expr("max_by(n_allowed, n_done)").cast("long").alias("n_allowed"),
        F.expr("max_by(n_denied, n_done)").cast("long").alias("n_denied"),
        F.expr("max_by(end_tokens_micro, n_done)")
        .cast("long")
        .alias("end_tokens_micro"),
    )
    return fin


def checkpoint_exactly_once(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checkpointed RESTART with exactly-once accounting — the operational
    contract every production stream depends on: phase 1 runs an
    AvailableNow aggregation over file A with a PERSISTENT checkpoint and
    stops; file B (the purchase events replayed at doubled value — a
    deterministic delta) then lands in the source dir; phase 2 restarts
    the SAME query on the SAME checkpoint and must process ONLY B — file-
    source offsets live in the checkpoint, aggregation state in the state
    store, so nothing is re-read and nothing is lost. The returned
    per-user totals equal the batch aggregation of A ∪ B (the oracle);
    tests/test_streaming.py additionally pins numInputRows of phase 2 to
    EXACTLY |B|. Each invocation uses fresh source/checkpoint dirs (the
    memory-sink counter discipline) so double-builds stay deterministic, and
    removes them once phase 2 has finished."""
    import os
    import shutil
    import tempfile

    run = next(_ctr)
    base = tempfile.mkdtemp(prefix=f"hpmr_ckpt_once_{run}_")
    src = os.path.join(base, "src")
    ckpt = os.path.join(base, "ckpt")
    os.makedirs(src, exist_ok=True)

    try:
        ev = load_events(spark, sf_dir).select("user_id", "value")
        ev.coalesce(1).write.mode("append").parquet(src)

        def run_phase(label: str):
            stream = (
                spark.readStream.schema("user_id long, value double")
                .parquet(src)
                .groupBy("user_id")
                .agg(
                    F.count(F.lit(1)).alias("n_events"),
                    F.sum(F.round(F.col("value") * 100).cast("long")).alias(
                        "value_cents"
                    ),
                )
            )
            name = f"mem_ckptonce_{run}_{label}"
            orig = spark.conf.get("spark.sql.shuffle.partitions")
            try:
                spark.conf.set("spark.sql.shuffle.partitions", "16")
                q = (
                    stream.writeStream.format("memory")
                    .queryName(name)
                    .outputMode("complete")
                    .option("checkpointLocation", ckpt)
                    .trigger(availableNow=True)
                    .start()
                )
                q.awaitTermination()
                progress = [p for p in q.recentProgress]
            finally:
                spark.conf.set("spark.sql.shuffle.partitions", orig)
            return name, progress

        _, p1 = run_phase("p1")

        delta = (
            load_events(spark, sf_dir)
            .where(F.col("event_type") == "purchase")
            .select("user_id", (F.col("value") * 2).alias("value"))
        )
        delta.coalesce(1).write.mode("append").parquet(src)
        n_delta = delta.count()

        name2, p2 = run_phase("p2")
    finally:
        # the result is read back from the memory sink, not from here
        shutil.rmtree(base, ignore_errors=True)
    phase2_rows = sum(int(p["numInputRows"]) for p in p2)
    # stash for the pytest assertion (module-level, last run wins)
    global _CKPT_ONCE_LAST
    _CKPT_ONCE_LAST = {"n_delta": int(n_delta), "phase2_rows": phase2_rows, "dir": base}

    return spark.table(name2).select("user_id", "n_events", "value_cents")


_CKPT_ONCE_LAST: dict | None = None


EWMA_STATE_SCHEMA = "ts array<long>, eid array<long>, cents array<long>, n_seen long"
EWMA_OUTPUT_SCHEMA = "user_id long, n_recent long, num long, den long, n_seen long"


def _ewma_fn(
    key: Tuple[int], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Trailing-16 dyadic EWMA state: keep the 16 largest (ts, event_id)
    rows — a MERGEABLE fold (top-k by a total order), so the final state
    is identical under any micro-batching. Weights ascend oldest→newest
    (newest = 2^(m-1)), matching ewma_user_value_exact."""
    (user_id,) = key
    ts, eid, cents, n_seen = (
        state.get if state.exists else ([], [], [], 0)
    )
    rows = list(zip(ts, eid, cents))
    for pdf in pdfs:
        us = pdf["ts"].to_numpy().astype("datetime64[us]").astype("int64")
        ei = pdf["event_id"].to_numpy().astype("int64")
        v = pdf["value"].to_numpy() * 100.0
        # half-away-from-zero (matches F.round / DuckDB ROUND)
        cv = (np.floor(np.abs(v) + 0.5) * np.sign(v)).astype("int64")
        rows.extend(zip(us.tolist(), ei.tolist(), cv.tolist()))
        n_seen += len(pdf)
    rows.sort(key=lambda r: (r[0], r[1]))
    rows = rows[-16:]
    state.update(
        ([r[0] for r in rows], [r[1] for r in rows], [r[2] for r in rows], n_seen)
    )
    m = len(rows)
    num = sum(c << p for p, (_, _, c) in enumerate(rows))
    den = (1 << m) - 1
    yield pd.DataFrame(
        [
            {
                "user_id": user_id,
                "n_recent": m,
                "num": num,
                "den": den,
                "n_seen": n_seen,
            }
        ]
    )


def streaming_ewma_user_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator: the exact dyadic trailing-16
    EWMA per user (the streaming twin of ewma_user_value_exact). State is
    three capped-16 arrays + a counter per user — bounded regardless of
    stream length; the final emission per user (max n_seen — monotone)
    equals the batch computation because the trailing-16 fold is
    mergeable. The only float is the final num/den double division, the
    same expression text as the batch twin's oracle."""
    ev = _events_stream(spark, sf_dir).select("user_id", "ts", "event_id", "value")
    updated = ev.groupBy("user_id").applyInPandasWithState(
        _ewma_fn,
        outputStructType=EWMA_OUTPUT_SCHEMA,
        stateStructType=EWMA_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    out = _run_to_table(updated, "ewmastate", "update")
    fin = out.groupBy("user_id").agg(
        F.max_by("n_recent", "n_seen").alias("n_recent"),
        F.max_by("num", "n_seen").alias("num"),
        F.max_by("den", "n_seen").alias("den"),
    )
    return fin.select(
        "user_id",
        F.col("n_recent").cast("long").alias("n_recent"),
        F.col("num").cast("long").alias("num"),
        F.col("den").cast("long").alias("den"),
        F.expr("CAST(num AS DOUBLE) / CAST(den AS DOUBLE)").alias("ewma_cents"),
    )
