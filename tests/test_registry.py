"""Registry health: every queries() entry must at least ANALYZE (build a
resolved plan) against sf0.001 — catches schema drift, bad column refs, or
import rot in one fast sweep without executing anything.

Queries that execute work at build time (streaming runs, set-op counts,
bucketed-table writes, driver-side collect) are exercised elsewhere
(tools/selfcheck.py + module tests) and skipped here.
"""

import pytest

import __spark_entry__ as entry_mod

EXECUTE_ON_BUILD = {
    # streaming: runs the query inside the builder
    "streaming_tumbling_counts",
    "streaming_sliding_activity",
    "streaming_stateful_user_totals",
    "streaming_append_closed_windows",
    "streaming_stream_stream_join",
    "streaming_dedup_events",
    # driver-side actions inside the builder
    "setops_union_intersect_except",
    "similarity_topk_numpy",
    # writes tables/files during build
    "bucketed_join_revenue",
    "sink_parquet_roundtrip",
    "sink_csv_roundtrip",
    "sink_json_roundtrip",
}


@pytest.fixture(scope="module")
def registry():
    qs = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    return qs, oracles


def test_oracles_reference_real_queries(registry):
    qs, oracles = registry
    assert set(oracles) <= set(qs)
    assert len(qs) >= 90


def test_no_failed_query_modules():
    from hpmr_spark.all_queries import FAILED_MODULES

    assert FAILED_MODULES == {}


def test_duplicate_registration_refused():
    # a second registration would silently replace the first, so its
    # function and oracle would never run; all_queries imports each module
    # under a guard, so a refusal there shows up as a failed module
    from hpmr_spark.all_queries import FAILED_MODULES
    from hpmr_spark.catalog import ORACLES, QUERIES, register

    assert FAILED_MODULES == {}
    assert len(QUERIES) == 615
    register("dup_probe", "SELECT 1 AS x")(lambda spark, sf_dir: None)
    try:
        with pytest.raises(ValueError, match="already registered"):
            register("dup_probe", "SELECT 2 AS x")
    finally:
        del QUERIES["dup_probe"], ORACLES["dup_probe"]
    assert len(QUERIES) == 615


def test_every_query_analyzes(spark, sf_dir, registry):
    qs, _ = registry
    failures = {}
    for name, fn in qs.items():
        if name in EXECUTE_ON_BUILD:
            continue
        try:
            df = fn(spark, sf_dir)
            df.schema  # forces analysis
        except Exception as e:  # noqa: BLE001
            failures[name] = str(e)[:200]
    assert not failures, failures
