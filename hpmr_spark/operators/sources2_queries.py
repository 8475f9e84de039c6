"""Source-format additions: the binaryFile reader (the multimodal
landing-zone format) and a physical partition-pruning proof.

Reference parity: serialization/transport surface (to_string/from_string,
/root/reference/src/bare_concurrent_map.h:229-267) — extended to the two
source behaviors a 100 TB lake actually relies on: opaque-binary ingestion
and partition-directory pruning.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from hpmr_spark.catalog import _t, register
from hpmr_spark.engine import scratch_dir
from hpmr_spark.sources.tables import load_events


# ---------------------------------------------------------------------------
# binaryFile source: per-doc payload files written EXECUTOR-side, read back
# as opaque binary, fingerprinted.
# ---------------------------------------------------------------------------
@register(
    "source_binaryfile_fingerprints",
    """
    SELECT doc_id,
           CAST(strlen(text) AS BIGINT) AS n_bytes,
           md5(text) AS fp
    FROM documents
    """,
)
def source_binaryfile_fingerprints(spark, sf_dir):
    """The multimodal ingestion path end-to-end: every document's payload
    is written as an individual .bin file by foreachPartition (each
    executor task writes its own partition's files — no driver loop, the
    landing-zone write scales with upstream partitioning), then read back
    with Spark's binaryFile source and fingerprinted (byte length + md5)
    without ever decoding. The oracle recomputes both from the source
    table, proving the write→binaryFile-read cycle is lossless. At 100 TB
    the same plan points at an object-store prefix of image/audio blobs;
    content stays on executors throughout."""
    out = os.path.join(scratch_dir("binfp", key=sf_dir), "payloads")
    os.makedirs(out, exist_ok=True)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")

    def write_partition(rows):
        for r in rows:
            p = os.path.join(out, f"{r.doc_id}.bin")
            with open(p, "wb") as f:
                f.write(r.text.encode("utf-8"))

    docs.foreachPartition(write_partition)
    bf = spark.read.format("binaryFile").load(out)
    return bf.select(
        F.regexp_extract(
            F.element_at(F.split(F.col("path"), "/"), -1), r"(\d+)\.bin$", 1
        )
        .cast("long")
        .alias("doc_id"),
        F.col("length").cast("long").alias("n_bytes"),
        F.md5(F.col("content")).alias("fp"),
    )


# ---------------------------------------------------------------------------
# Partition pruning: directory-partitioned parquet, filtered read must
# touch exactly one partition's file.
# ---------------------------------------------------------------------------
@register(
    "partition_pruning_proof",
    """
    SELECT 'purchase' AS event_type,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(1 AS BIGINT) AS n_source_files
    FROM events WHERE event_type = 'purchase'
    """,
)
def partition_pruning_proof(spark, sf_dir):
    """Partition-layout proof: events land as partitionBy(event_type)
    parquet (coalesced to one file per partition directory); the filtered
    read reports its row count plus the DISTINCT source files its rows came
    from (_metadata.file_path — the hidden file-provenance column). The
    oracle pins n_source_files = 1. Catalyst-level pruning (the
    PartitionFilters pushdown that makes the scan skip the other
    directories entirely, not just filter their rows) is asserted on this
    same layout by tests/test_sources2.py, which inspects the FileScan
    node. Together they are the layout contract of a 100 TB
    type/time-partitioned lake."""
    out = os.path.join(scratch_dir("prune", key=sf_dir), "events_by_type")
    ev = load_events(spark, sf_dir).select("event_id", "user_id", "event_type")
    ev.coalesce(1).write.mode("overwrite").partitionBy("event_type").parquet(out)
    filtered = spark.read.parquet(out).where(F.col("event_type") == "purchase")
    return filtered.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.countDistinct(F.expr("_metadata.file_path"))
        .cast("long")
        .alias("n_source_files"),
    ).select(
        F.lit("purchase").alias("event_type"),
        "n_rows",
        "n_source_files",
    )


@register(
    "dpp_join_pruned_counts",
    """
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events WHERE event_type IN ('purchase', 'signup')
    GROUP BY event_type
    """,
)
def dpp_join_pruned_counts(spark, sf_dir):
    """Dynamic partition pruning (round 5): the fact side lands as
    partitionBy(event_type) parquet; the query joins it against a tiny
    event-type dimension FILTERED ON A DIM-ONLY COLUMN (klass =
    'conversion'), so no literal predicate on the fact's partition column
    exists at plan time — the classic star-schema shape where only DPP
    can skip partitions. Spark inserts a SubqueryAdaptiveBroadcast
    dynamicpruning PartitionFilter at runtime (reusing the join's
    broadcast), so the fact scan reads ONLY the purchase/signup
    directories; tests/test_sources2.py asserts the dynamicpruning
    expression on this exact plan. At 100 TB this is THE mechanism that
    turns a date-dim filter into a fact-partition skip without
    hand-written predicates. Result is the joined per-type count,
    oracle-pinned."""
    out = os.path.join(scratch_dir("dpp", key=sf_dir), "events_by_type_dpp")
    marker = os.path.join(out, "_SUCCESS")
    if not os.path.exists(marker):
        ev = load_events(spark, sf_dir).select("event_id", "user_id", "event_type")
        ev.coalesce(1).write.mode("overwrite").partitionBy("event_type").parquet(
            out
        )
    # NOTE r12: deliberately NOT values_df/LocalRelation — with a plan-time
    # literal dim Catalyst prunes the partitioned scan STATICALLY and the
    # committed dynamic-partition-pruning demonstration (test_sources2)
    # disappears; the RDD-backed frame is what keeps DPP observable.
    dim = spark.createDataFrame(
        [
            ("purchase", "conversion"),
            ("signup", "conversion"),
            ("view", "browse"),
            ("click", "browse"),
            ("error", "noise"),
        ],
        "event_type string, klass string",
    )
    fact = spark.read.parquet(out)
    return (
        fact.join(F.broadcast(dim.where(F.col("klass") == "conversion")), "event_type")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("n_events"))
    )
