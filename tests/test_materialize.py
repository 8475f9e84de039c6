"""Cached frames belong to the registered query that built them
(engine.materialize): another query's plan never reads them, and a rebuild
of the same query reads its own."""

import pytest
from pyspark.sql import functions as F

import hpmr_spark.all_queries  # noqa: F401
from hpmr_spark.catalog import QUERIES
from hpmr_spark.engine import materialize, owned_by


def _executed(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _n_cached_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()


@pytest.fixture
def fresh_cache(spark):
    spark.catalog.clearCache()
    yield
    spark.catalog.clearCache()


def test_another_querys_frame_is_not_read(spark, sf_dir, fresh_cache):
    # acf_lags_revenue materializes the daily rollup that lttb_downsample_12
    # builds without persisting
    QUERIES["acf_lags_revenue"](spark, sf_dir).collect()
    lttb = QUERIES["lttb_downsample_12"](spark, sf_dir)
    assert "InMemoryTableScan" not in _executed(lttb)


def test_rebuild_reads_its_own_frame(spark, sf_dir, fresh_cache):
    before = _n_cached_rdds(spark)
    QUERIES["acf_lags_revenue"](spark, sf_dir).collect()
    cached = _n_cached_rdds(spark)
    assert cached > before
    again = QUERIES["acf_lags_revenue"](spark, sf_dir)
    assert "InMemoryTableScan" in _executed(again)
    again.collect()
    assert _n_cached_rdds(spark) == cached


def test_owner_rule(spark, fresh_cache):
    def frame():
        return spark.range(100).groupBy((F.col("id") % 7).alias("k")).count()

    # outside a registered build: a plain persist, which its twin reads
    materialize(frame()).collect()
    assert "InMemoryTableScan" in _executed(frame())
    spark.catalog.clearCache()
    # a nested block keeps the outermost owner
    with owned_by("outer"), owned_by("inner"):
        materialize(frame()).collect()
    cached = _n_cached_rdds(spark)
    with owned_by("outer"):
        materialize(frame()).collect()
    assert _n_cached_rdds(spark) == cached
    with owned_by("inner"):
        materialize(frame()).collect()
    assert _n_cached_rdds(spark) == cached + 1
    assert "InMemoryTableScan" not in _executed(frame())
