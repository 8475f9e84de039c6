"""Cross-family closers: Bloom-pruned streaming aggregation (the
stream-side build-filter pattern) and schema-on-read corruption handling
(PERMISSIVE CSV with a _corrupt_record quarantine).

- streaming_bloom_prune_counts: production streams are routinely filtered
  against a compact static build-side structure BEFORE any stateful
  operator (cutting state size); here the structure is the committed
  deterministic Bloom bitset from bloom_semi_prune's machinery, so the
  streamed result is exactly reproducible in batch SQL — bloom false
  positives included.
- source_csv_permissive_quarantine: raw-log ingestion must survive
  malformed rows; Spark's PERMISSIVE mode routes them to _corrupt_record
  instead of failing the job. Corruption is injected deterministically
  (every doc_id % 97 == 0 line is truncated), so good/bad counts are
  oracle-pinned.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from hpmr_spark.catalog import _t, register
from hpmr_spark.engine import scratch_dir
from hpmr_spark.engine import materialize
from hpmr_spark.operators.scale_sketch_queries import _bloom_pos_col, _bloom_pos_sql


# ---------------------------------------------------------------------------
# Streaming aggregation behind a broadcast Bloom filter.
# ---------------------------------------------------------------------------
@register(
    "streaming_bloom_prune_counts",
    f"""
    WITH build AS (
      SELECT c_custkey FROM customer WHERE c_acctbal < -900
    ),
    bits AS (
      SELECT DISTINCT p FROM (
        SELECT {_bloom_pos_sql('c_custkey', 0)} AS p FROM build
        UNION ALL SELECT {_bloom_pos_sql('c_custkey', 1)} FROM build
        UNION ALL SELECT {_bloom_pos_sql('c_custkey', 2)} FROM build
      )
    )
    SELECT o_orderstatus AS status, CAST(COUNT(*) AS BIGINT) AS n
    FROM orders
    WHERE {_bloom_pos_sql('o_custkey', 0)} IN (SELECT p FROM bits)
      AND {_bloom_pos_sql('o_custkey', 1)} IN (SELECT p FROM bits)
      AND {_bloom_pos_sql('o_custkey', 2)} IN (SELECT p FROM bits)
    GROUP BY o_orderstatus
    """,
)
def streaming_bloom_prune_counts(spark, sf_dir):
    """Structured Streaming behind a Bloom gate: orders arrive as a file
    stream, each row tests its 3 committed md5-derived bit positions
    against the broadcast bitset built from the static customer side, and
    only passing rows reach the stateful count — the state-size-control
    pattern for stream enrichment (drop non-candidates BEFORE state, not
    after). Because the bloom is deterministic, the streamed result equals
    the batch SQL twin exactly, false positives included. Complete-mode
    memory sink; the stream is the orders parquet symlinked into a
    directory (the repo's file-stream convention)."""
    from hpmr_spark.streaming.windows import _run_to_table, _symlink_dir

    cust = _t(spark, sf_dir, "customer")
    build = cust.where(F.col("c_acctbal") < -900).select("c_custkey")
    pos = build.select(
        F.explode(
            F.array(*[_bloom_pos_col(F.col("c_custkey"), j) for j in range(3)])
        ).alias("p")
    )
    bits = [r.p for r in pos.distinct().collect()]  # KB-sized committed bitset
    # empty build side at some future SF would make F.array() an ARRAY<NULL>
    # literal (DATATYPE_MISMATCH on array_contains) — a one-element sentinel
    # that no bloom position can equal keeps the filter well-typed and false
    bits_arr = (
        F.array(*[F.lit(int(b)) for b in sorted(bits)])
        if bits
        else F.array(F.lit(-1).cast("long"))
    )

    d = _symlink_dir("orders_stream", os.path.join(str(sf_dir), "orders.parquet"))
    schema = _t(spark, sf_dir, "orders").schema
    stream = spark.readStream.schema(schema).parquet(d)

    passing = stream.where(
        F.array_contains(bits_arr, _bloom_pos_col(F.col("o_custkey"), 0))
        & F.array_contains(bits_arr, _bloom_pos_col(F.col("o_custkey"), 1))
        & F.array_contains(bits_arr, _bloom_pos_col(F.col("o_custkey"), 2))
    )
    agg = passing.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    return _run_to_table(agg, "bloomprune", "complete")


# ---------------------------------------------------------------------------
# PERMISSIVE CSV read with deterministic corruption quarantine.
# ---------------------------------------------------------------------------
@register(
    "source_csv_permissive_quarantine",
    """
    SELECT CAST(SUM(CASE WHEN doc_id % 97 <> 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_good,
           CAST(SUM(CASE WHEN doc_id % 97 = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_quarantined,
           CAST(SUM(CASE WHEN doc_id % 97 <> 0 THEN n_chars ELSE 0 END)
                AS BIGINT) AS good_chars
    FROM documents
    """,
)
def source_csv_permissive_quarantine(spark, sf_dir):
    """Schema-on-read resilience: document rows are serialized to CSV
    lines with every doc_id % 97 == 0 row deliberately TRUNCATED (too few
    columns), then read back PERMISSIVE with a _corrupt_record column —
    malformed lines land in quarantine instead of failing the job, and the
    good rows parse with exact integer columns. The oracle pins
    good/quarantined counts and the good-row checksum from the source
    table. This is the raw-log ingestion contract at 100 TB: bad records
    are data, not exceptions. Lines are written executor-side
    (foreachPartition), one shard per upstream partition."""
    import shutil

    out = os.path.join(scratch_dir("csvq", key=sf_dir), "lines")
    # rebuildable in-process: recreate the shard dir each build and name
    # shards by partition index (overwriting), so building the query twice
    # can never duplicate rows
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")

    def write_partition(rows):
        from pyspark import TaskContext

        rows = list(rows)
        if not rows:
            return
        pid = TaskContext.get().partitionId()
        p = os.path.join(out, f"part-{pid:05d}.csv")
        with open(p, "w") as f:
            for r in rows:
                if r.doc_id % 97 == 0:
                    f.write(f"{r.doc_id}\n")  # truncated: missing column
                else:
                    f.write(f"{r.doc_id},{r.n_chars}\n")

    docs.foreachPartition(write_partition)
    back = (
        spark.read.schema("doc_id long, n_chars long, _corrupt_record string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .csv(out)
    )
    back = materialize(back)  # required: _corrupt_record queries need a materialized frame
    return back.agg(
        F.sum(F.when(F.col("_corrupt_record").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_good"),
        F.sum(F.when(F.col("_corrupt_record").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_quarantined"),
        F.sum(
            F.when(F.col("_corrupt_record").isNull(), F.col("n_chars")).otherwise(0)
        )
        .cast("long")
        .alias("good_chars"),
    )
