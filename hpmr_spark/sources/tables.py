"""Registry tables and their footer catalog.

The reference has no file I/O (its only source is Range + programmatic
inserts — SURVEY.md §2.3); the engine's sources are Spark's native parquet
reader, which gives vectorized scans, predicate pushdown and column pruning
for free.

Footer catalog: ``footer(path)`` reads a table's parquet footer driver-side
with pyarrow and returns the Spark schema ``spark.read.parquet(path)`` would
infer, plus the row count. It is the only way the engine learns a registry
table's schema or size:

* every registry-table read passes the footer schema, so building a
  DataFrame runs no Spark job (an inferring read runs one schema-inference
  job per table — about 100 ms warm at sf0.1 against 0.2 ms for the footer);
* row-count consumers (size-aware join dispatch, N ceilings) call
  ``table_rows``, which answers None when the footer cannot be read —
  unknown size means the scale-safe plan.

There is no cache: the footer is re-read on every call, so a rewritten file
is seen by the next load. A table is one parquet file or a directory of
part files (Spark's own output); hidden and ``_``-prefixed files are skipped,
as Spark's file index does.

Type mapping (Spark's parquet reader under its default confs; every field
nullable, as Spark makes every parquet-read column):

* TIMESTAMP(MILLIS|MICROS) not adjusted to UTC → timestamp_ntz; adjusted to
  UTC → timestamp (``spark.sql.parquet.inferTimestampNTZ.enabled``);
* INT96 → timestamp. pyarrow reports INT96 as ``timestamp[ns]``, so the
  parquet physical type decides, never the Arrow type;
* TIMESTAMP(NANOS) → bigint, as under
  ``spark.sql.legacy.parquet.nanosAsLong`` (without that conf Spark refuses
  the file; ``load_events`` sets it);
* the other primitives, lists, structs and maps as Spark converts them
  (``int8`` → tinyint, ``uint32`` → bigint, ``uint64`` → decimal(20,0), …).
  A type Spark cannot read raises ``TypeError``.
"""

from __future__ import annotations

import json
import os
from typing import Iterator, NamedTuple

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


class Footer(NamedTuple):
    schema: T.StructType
    num_rows: int


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def footer(path: str) -> Footer:
    """Schema (from the first data file, as Spark infers it without
    mergeSchema) and total row count of the parquet table at ``path``."""
    files = _data_files(path)
    with pq.ParquetFile(files[0]) as pf:
        leaves = (pf.schema.column(i) for i in range(len(pf.schema)))
        schema = T.StructType(
            [T.StructField(f.name, _spark_type(f.type, leaves), True) for f in pf.schema_arrow]
        )
        rows = pf.metadata.num_rows
    return Footer(schema, rows + sum(pq.read_metadata(f).num_rows for f in files[1:]))


def table_rows(sf_dir: str, name: str) -> int | None:
    """Row count of a registry table from its footer; None if unknown."""
    try:
        return footer(table_path(sf_dir, name)).num_rows
    except Exception:
        return None  # unknown size ⟹ scale-safe merge plans


def _data_files(path: str) -> list[str]:
    if not os.path.isdir(path):
        return [path]
    files = sorted(
        os.path.join(path, f) for f in os.listdir(path) if not f.startswith(("_", "."))
    )
    if not files:
        raise FileNotFoundError(f"no parquet data files under {path}")
    return files


def _spark_type(t: pa.DataType, leaves: Iterator) -> T.DataType:
    """Spark type of one Arrow field. ``leaves`` yields the file's parquet
    leaf columns depth-first — the order Arrow's primitive leaves come in —
    and each primitive consumes one."""
    if pa.types.is_struct(t):
        return T.StructType(
            [T.StructField(f.name, _spark_type(f.type, leaves), True) for f in t]
        )
    if pa.types.is_map(t):
        return T.MapType(_spark_type(t.key_type, leaves), _spark_type(t.item_type, leaves), True)
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return T.ArrayType(_spark_type(t.value_type, leaves), True)
    if pa.types.is_dictionary(t):
        t = t.value_type
    leaf = next(leaves)
    if pa.types.is_timestamp(t):
        if leaf.physical_type == "INT96":
            return T.TimestampType()
        lt = json.loads(leaf.logical_type.to_json())
        if lt["timeUnit"] == "nanoseconds":
            return T.LongType()
        return T.TimestampType() if lt["isAdjustedToUTC"] else T.TimestampNTZType()
    if pa.types.is_decimal(t) and t.precision <= 38:
        return T.DecimalType(t.precision, t.scale)
    for test, spark_t in _PRIMITIVES:
        if test(t):
            return spark_t
    raise TypeError(f"no Spark type for parquet column {leaf.path}: {t}")


_PRIMITIVES = (
    (pa.types.is_boolean, T.BooleanType()),
    (pa.types.is_int8, T.ByteType()),
    (pa.types.is_int16, T.ShortType()),
    (pa.types.is_int32, T.IntegerType()),
    (pa.types.is_int64, T.LongType()),
    (pa.types.is_uint8, T.ShortType()),
    (pa.types.is_uint16, T.IntegerType()),
    (pa.types.is_uint32, T.LongType()),
    (pa.types.is_uint64, T.DecimalType(20, 0)),
    (pa.types.is_float32, T.FloatType()),
    (pa.types.is_float64, T.DoubleType()),
    (lambda t: pa.types.is_string(t) or pa.types.is_large_string(t), T.StringType()),
    (
        lambda t: pa.types.is_binary(t)
        or pa.types.is_large_binary(t)
        or pa.types.is_fixed_size_binary(t),
        T.BinaryType(),
    ),
    (lambda t: pa.types.is_date32(t) or pa.types.is_date64(t), T.DateType()),
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name == "events":
        return load_events(spark, sf_dir)
    path = table_path(sf_dir, name)
    return spark.read.schema(footer(path).schema).parquet(path)


def load_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events.ts has shipped as both parquet TIMESTAMP(NANOS) (round 1) and
    TIMESTAMP(MICROS) (round 2 regeneration); the footer says which this
    sf_dir holds, and ``events_ts`` adapts."""
    schema = events_schema(spark, sf_dir)
    return events_ts(spark.read.schema(schema).parquet(table_path(sf_dir, "events")), schema)


def events_schema(spark: SparkSession, sf_dir: str) -> T.StructType:
    """Footer schema of the events table, after pinning the two session
    confs its reads need: the legacy nanosAsLong conf (runtime-settable) so
    Spark reads a NANOS ts as the bigint the footer schema declares, and a
    UTC session zone — the NTZ→TIMESTAMP cast (and every to_date/date_trunc
    downstream) is only oracle-correct under UTC. The engine's own sessions
    pin it, but the DRIVER's session may not, so every events query is made
    timezone-independent of the host environment here."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return footer(table_path(sf_dir, "events")).schema


def events_ts(df: DataFrame, schema: T.StructType) -> DataFrame:
    """Turn the events ``ts`` column (read with ``schema``) into the
    session-zone TIMESTAMP the queries were written against.

    NANOS (read as bigint): truncate to micros with exact integer division —
    ``ts div 1000``, never float division: epoch-nanos ≈ 1.7e18 exceeds
    double's 2^53 mantissa, so ``/1000`` would corrupt microseconds. DuckDB
    truncates nanos→micros the same way.

    MICROS (read as TIMESTAMP_NTZ): cast to TIMESTAMP — the identity under
    the UTC session zone ``events_schema`` pins."""
    if isinstance(schema["ts"].dataType, T.LongType):
        return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))
