"""Regression guard for the ADVICE r5 short-document crash class.

``sequence(1, size - 4)`` DESCENDS when size <= 4 (Spark yields [1, 0]) and
the subsequent ``slice(arr, 0, 5)`` throws INVALID_PARAMETER_VALUE.START.
The shipped corpus has no <5-token documents, so only a synthetic fixture
exercises the guard; testdata has been regenerated between rounds before.
Every 5-gram extractor must route short docs through an empty-array branch.
"""

import os

import pytest

import hpmr_spark.all_queries  # noqa: F401 — populates the registry
from hpmr_spark.catalog import QUERIES

# Queries whose Spark side explodes word-5-gram windows of `documents`.
FIVE_GRAM_QUERIES = [
    "source_unique_coverage_value",
    "contamination_check_5gram",
]


@pytest.fixture(scope="module")
def short_doc_sf_dir(spark, tmp_path_factory):
    """A minimal sf_dir whose documents table includes <5-token docs
    (including the empty string) alongside normal ones."""
    d = str(tmp_path_factory.mktemp("short_docs"))
    rows = [
        (1, "src0", "alpha beta gamma delta epsilon zeta eta theta"),
        (2, "src1", "alpha beta gamma delta epsilon zeta eta theta iota"),
        (3, "src1", "tiny doc"),          # 2 tokens — the crash trigger
        (4, "src2", "one two three four"),  # exactly 4 tokens — boundary
        (5, "src2", ""),                   # empty string
        (6, "src3", "a b c d e"),          # exactly 5 tokens — 1 gram
    ]
    df = spark.createDataFrame(rows, ["doc_id", "source", "text"])
    df.coalesce(1).write.mode("overwrite").parquet(
        os.path.join(d, "documents.parquet")
    )
    return d


@pytest.mark.parametrize("name", FIVE_GRAM_QUERIES)
def test_five_gram_queries_survive_short_docs(spark, short_doc_sf_dir, name):
    out = QUERIES[name](spark, short_doc_sf_dir).collect()
    # Short/empty docs contribute zero grams but must not crash the scan.
    assert isinstance(out, list)


def test_unique_coverage_short_doc_semantics(spark, short_doc_sf_dir):
    """Sources whose only docs are short contribute no grams at all; the
    5-token boundary doc contributes exactly one gram."""
    out = {
        r["source"]: r
        for r in QUERIES["source_unique_coverage_value"](
            spark, short_doc_sf_dir
        ).collect()
    }
    assert "src2" not in out  # both src2 docs are <5 tokens
    assert out["src3"]["n_grams"] == 1
    assert out["src0"]["n_grams"] == 4  # 8 tokens -> 4 windows
