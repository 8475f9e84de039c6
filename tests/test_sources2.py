"""Plan-level proofs for the sources2 batch: the partitioned layout must
actually PRUNE (PartitionFilters reach the FileScan), and the binaryFile
read must agree with the source table byte-for-byte."""

import hashlib

from pyspark.sql import functions as F

import hpmr_spark.all_queries  # noqa: F401
from hpmr_spark.catalog import QUERIES, _t


def test_partition_filters_reach_filescan(spark, sf_dir):
    # run the query once so the partitioned layout exists
    row = QUERIES["partition_pruning_proof"](spark, sf_dir).collect()[0]
    assert row.n_source_files == 1 and row.n_rows > 0
    import os

    from hpmr_spark.engine import scratch_dir

    out = os.path.join(scratch_dir("prune", key=sf_dir), "events_by_type")
    filtered = spark.read.parquet(out).where(F.col("event_type") == "purchase")
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    # the pushed partition predicate must mention the value, and must NOT
    # appear as a post-scan data filter (pruning, not row filtering)
    scan_line = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "purchase" in scan_line


def test_binaryfile_fingerprints_match_source(spark, sf_dir):
    got = {
        r.doc_id: (r.n_bytes, r.fp)
        for r in QUERIES["source_binaryfile_fingerprints"](spark, sf_dir).collect()
    }
    src = _t(spark, sf_dir, "documents").select("doc_id", "text").collect()
    assert len(got) == len(src)
    for r in src:
        b = r.text.encode("utf-8")
        assert got[r.doc_id] == (len(b), hashlib.md5(b).hexdigest()), r.doc_id


def test_dpp_dynamic_pruning_in_plan(spark, sf_dir):
    """dpp_join_pruned_counts must carry a runtime dynamicpruning
    PartitionFilter on the fact scan (no literal partition predicate
    exists — only DPP can skip the non-conversion directories)."""
    from hpmr_spark.operators.sources2_queries import dpp_join_pruned_counts

    df = dpp_join_pruned_counts(spark, sf_dir)
    df.collect()  # DPP subquery materializes at execution
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]
