"""Versioned-snapshot sink (time travel over epoch directories) and the
accumulator audit surface.

Reference parity: the epoch model of DistMap::async_set/sync
(/root/reference/src/dist_map.h:118-130) — each sync produces a new
consistent version of the keyed state. Here versions are immutable
parquet snapshot directories (the poor-engineer's Iceberg): writers only
ever create a new version dir, readers pin a version — snapshot isolation
by construction, no table format required.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from hpmr_spark.catalog import _t, register
from hpmr_spark.engine import scratch_dir


@register(
    "sink_versioned_snapshots",
    """
    WITH v1 AS (
      SELECT o_orderstatus AS status, CAST(COUNT(*) AS BIGINT) AS n
      FROM orders WHERE o_orderdate < TIMESTAMP '1997-01-01'
      GROUP BY o_orderstatus
    ),
    v2 AS (
      SELECT o_orderstatus AS status, CAST(COUNT(*) AS BIGINT) AS n
      FROM orders GROUP BY o_orderstatus
    )
    SELECT COALESCE(v1.status, v2.status) AS status,
           CAST(COALESCE(v1.n, 0) AS BIGINT) AS n_v1,
           CAST(COALESCE(v2.n, 0) AS BIGINT) AS n_v2,
           CAST(COALESCE(v2.n, 0) - COALESCE(v1.n, 0) AS BIGINT) AS delta
    FROM v1 FULL OUTER JOIN v2 ON v1.status = v2.status
    """,
)
def sink_versioned_snapshots(spark, sf_dir):
    """Snapshot-versioned table emulation (the reference's epoch sync as
    time travel): version 1 materializes the pre-1997 order slice, version
    2 the full table, each into its own immutable parquet directory
    (v=1/, v=2/ — append-only version dirs, never overwritten in place).
    The query then TIME-TRAVELS: reads both pinned versions back and
    reports per-status counts and the version-over-version delta — the
    audit a lakehouse runs after every snapshot commit. The oracle
    recomputes both versions from the source, proving the snapshots are
    faithful and isolated. At 100 TB the same layout plus a manifest file
    is exactly how Iceberg/Delta snapshots work; readers of v1 never see
    v2's files."""
    base = scratch_dir("snap", key=sf_dir)
    o = _t(spark, sf_dir, "orders")
    agg1 = (
        o.where(F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
        .groupBy(F.col("o_orderstatus").alias("status"))
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    agg2 = o.groupBy(F.col("o_orderstatus").alias("status")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    agg1.write.mode("overwrite").parquet(os.path.join(base, "v=1"))
    agg2.write.mode("overwrite").parquet(os.path.join(base, "v=2"))
    v1 = spark.read.parquet(os.path.join(base, "v=1")).withColumnRenamed("n", "n_v1")
    v2 = spark.read.parquet(os.path.join(base, "v=2")).withColumnRenamed("n", "n_v2")
    j = v1.join(v2, "status", "full_outer")
    return j.select(
        "status",
        F.coalesce("n_v1", F.lit(0)).cast("long").alias("n_v1"),
        F.coalesce("n_v2", F.lit(0)).cast("long").alias("n_v2"),
        (F.coalesce("n_v2", F.lit(0)) - F.coalesce("n_v1", F.lit(0)))
        .cast("long")
        .alias("delta"),
    )


@register(
    "accumulator_row_audit",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_seen_by_accumulator
    FROM lineitem
    """,
)
def accumulator_row_audit(spark, sf_dir):
    """The accumulator surface (Spark's side-channel counters — the MR
    'counters' idiom): a LongAccumulator increments once per row inside a
    foreachPartition pass, and the query returns (declarative COUNT,
    accumulator value) side by side; the oracle pins them equal. Used in
    production as the cheap did-every-row-get-processed audit on ETL
    passes whose main output isn't a count. foreach actions run the
    accumulator exactly once per row (no speculative double-count in this
    deterministic local mode; at scale use it for monitoring, not exact
    semantics — that caveat is the documented Spark contract)."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey")
    acc = spark.sparkContext.accumulator(0)

    def count_rows(rows):
        n = 0
        for _ in rows:
            n += 1
        acc.add(n)

    li.foreachPartition(count_rows)
    n_acc = acc.value
    return li.agg(F.count(F.lit(1)).cast("long").alias("n_rows")).select(
        "n_rows", F.lit(n_acc).cast("long").alias("n_seen_by_accumulator")
    )
