"""Footer catalog (sources/tables.py): the schema read from a parquet footer
must equal the one Spark infers, and building a registry-table DataFrame
must launch no Spark job."""

import datetime
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from hpmr_spark.engine import count_jobs
from hpmr_spark.sources.tables import (
    TABLES,
    footer,
    load_events,
    load_table,
    table_path,
    table_rows,
)
from tests.conftest import SF_DIR

TESTDATA = os.path.dirname(SF_DIR)

_TS = [datetime.datetime(2024, 3, 1, 12, 30, 15, 123456), None, datetime.datetime(1999, 12, 31)]


def _inferred(spark, path):
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark.read.parquet(path).schema


@pytest.mark.parametrize("sf", ["sf0.001", "sf0.01"])
@pytest.mark.parametrize("name", TABLES)
def test_registry_footer_schema_matches_inference(spark, sf, name):
    path = table_path(os.path.join(TESTDATA, sf), name)
    got = footer(path)
    assert got.schema.simpleString() == _inferred(spark, path).simpleString()
    assert got.num_rows == pq.ParquetFile(path).metadata.num_rows


_PLANTED = {
    "naive": (pa.table({"ts": pa.array(_TS, pa.timestamp("us"))}), {}),
    "naive_ms": (pa.table({"ts": pa.array(_TS, pa.timestamp("ms"))}), {}),
    "utc": (pa.table({"ts": pa.array(_TS, pa.timestamp("us", tz="UTC"))}), {}),
    "int96": (pa.table({"ts": pa.array(_TS, pa.timestamp("ns"))}),
              {"use_deprecated_int96_timestamps": True}),
    "nanos": (pa.table({"ts": pa.array(_TS, pa.timestamp("ns"))}), {"version": "2.6"}),
    "empty": (pa.table({"ts": pa.array([], pa.timestamp("us")), "v": pa.array([], pa.int64())}), {}),
    "mixed": (pa.table({
        "a": pa.array([[1.5, None], None, []], pa.list_(pa.float32())),
        "la": pa.array([[1], None, []], pa.large_list(pa.int64())),
        "s": pa.array([{"x": 1, "t": _TS[0]}, None, {"x": None, "t": None}],
                      pa.struct([("x", pa.int8()), ("t", pa.timestamp("us", tz="UTC"))])),
        "m": pa.array([[("k", 1)], None, []], pa.map_(pa.string(), pa.uint32())),
        "d": pa.array([1, 2, None], pa.int16()).cast(pa.decimal128(9, 2)),
        "day": pa.array([datetime.date(2024, 1, 1), None, None]),
        "u8": pa.array([1, 2, None], pa.uint8()),
        "u16": pa.array([1, 2, None], pa.uint16()),
        "u64": pa.array([1, 2, None], pa.uint64()),
        "f": pa.array([1.0, None, 2.0], pa.float32()),
        "b": pa.array([True, None, False]),
        "ls": pa.array(["a", None, "c"], pa.large_string()),
        "cat": pa.array(["a", "b", "a"]).dictionary_encode(),
        "bin": pa.array([b"x", None, b""]),
        "fsb": pa.array([b"xy", b"zw", None], pa.binary(2)),
    }), {}),
}


@pytest.mark.parametrize("kind", sorted(_PLANTED))
def test_planted_footer_schema_matches_inference(spark, tmp_path, kind):
    table, opts = _PLANTED[kind]
    path = str(tmp_path / f"{kind}.parquet")
    pq.write_table(table, path, **opts)
    got = footer(path)
    assert got.schema.simpleString() == _inferred(spark, path).simpleString()
    assert got.schema == _inferred(spark, path)  # nullability too
    assert got.num_rows == table.num_rows


def test_spark_written_directory(spark, tmp_path):
    """Spark's own output (a directory of part files, INT96 timestamps by
    default): schema from the first data file, rows summed over all."""
    path = str(tmp_path / "orders.parquet")
    spark.range(10).select(
        "id",
        F.lit("x").alias("s"),
        F.timestamp_seconds(F.col("id")).alias("t"),
        F.col("id").cast("tinyint").alias("b"),
    ).repartition(3).write.parquet(path)
    got = footer(path)
    assert got.schema == _inferred(spark, path)
    assert got.num_rows == 10
    assert table_rows(str(tmp_path), "orders") == 10


def test_table_rows_unknown_is_none(tmp_path):
    assert table_rows(str(tmp_path), "orders") is None


def _old_load_events(spark, path):
    """load_events as it was: infer, then adapt to the inferred ts type."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(path)
    if df.schema["ts"].dataType.simpleString() == "bigint":
        return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


@pytest.mark.parametrize("kind", ["naive", "utc", "int96", "nanos"])
def test_load_events_values_unchanged(spark, tmp_path, kind):
    table, opts = _PLANTED[kind]
    n = table.num_rows
    events = table.append_column("event_id", pa.array(range(n), pa.int64())).append_column(
        "value", pa.array([1.5] * n)
    )
    pq.write_table(events, table_path(str(tmp_path), "events"), **opts)
    got = load_events(spark, str(tmp_path))
    want = _old_load_events(spark, table_path(str(tmp_path), "events"))
    assert got.schema == want.schema
    assert got.schema["ts"].dataType.simpleString() == "timestamp"
    assert got.orderBy("event_id").collect() == want.orderBy("event_id").collect()


@pytest.mark.parametrize("name", TABLES)
def test_load_table_runs_no_job(spark, sf_dir, name):
    _, n_jobs = count_jobs(spark, lambda: load_table(spark, sf_dir, name))
    assert n_jobs == 0
    # the counter does see an inferring read's job
    _, n_jobs = count_jobs(spark, lambda: spark.read.parquet(table_path(sf_dir, name)))
    assert n_jobs == 1


def test_load_events_runs_no_job(spark, sf_dir):
    _, n_jobs = count_jobs(spark, lambda: load_events(spark, sf_dir))
    assert n_jobs == 0


def test_rewritten_file_seen_by_next_load(spark, tmp_path):
    d = str(tmp_path)
    pq.write_table(pa.table({"k": [1, 2]}), table_path(d, "region"))
    assert load_table(spark, d, "region").columns == ["k"]
    pq.write_table(pa.table({"k": [1, 2, 3], "name": ["a", "b", "c"]}), table_path(d, "region"))
    df = load_table(spark, d, "region")
    assert df.columns == ["k", "name"]
    assert sorted(r["name"] for r in df.collect()) == ["a", "b", "c"]
