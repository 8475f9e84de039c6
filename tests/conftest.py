import os

import pytest

os.environ.setdefault("SPARK_GRAFT_CPUS", "4")

from hpmr_spark.engine import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("hpmr-spark-tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def assert_partition_invariant(spark, build, check):
    """Reference CI discipline (SURVEY.md §5): identical results across
    parallelism levels. Runs `build()` under two shuffle-partition settings and
    asserts `check(result)` both times: a falsy result, or a tuple holding
    one, fails."""
    orig = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for n in ("1", "7"):
            spark.conf.set("spark.sql.shuffle.partitions", n)
            ok = check(build())
            assert all(ok) if isinstance(ok, tuple) else ok, f"check failed at {n} partitions"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", orig)
