"""Sinks + alternate source formats.

Reference parity: the only reference 'sink' is whole-container serialization
(`to_string`/`from_string`, /root/reference/src/bare_concurrent_map.h:229-267)
used for persistence/transport; the engine analog is columnar write + read
(df.write.parquet → spark.read.parquet), which also replaces the hps wire
format (SURVEY.md §1.4). CSV/JSON readers are free engine extensions.

Roundtrips write to a keyed scratch dir (engine.scratch_dir); at scale the
same code targets object storage — partitioned writes, no driver
involvement.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hpmr_spark.engine import scratch_dir


def roundtrip(df: DataFrame, fmt: str, label: str) -> DataFrame:
    """Write df in `fmt`, read it back with the same schema — the
    serialization identity check (ref bare_map_test.cc:157-168)."""
    spark = df.sparkSession
    path = os.path.join(scratch_dir(f"rt_{fmt}", key=label), "data")
    writer = df.write.mode("overwrite")
    if fmt == "csv":
        writer.option("header", "true").csv(path)
        return spark.read.schema(df.schema).option("header", "true").csv(path)
    if fmt == "json":
        writer.json(path)
        return spark.read.schema(df.schema).json(path)
    if fmt == "orc":
        writer.orc(path)
        return spark.read.orc(path)
    if fmt == "text":
        # line-based text: serialize each row to one tab-joined line, read
        # back and re-parse with exact integer casts — the raw-log format
        df.select(
            F.concat_ws("\t", *[F.col(c).cast("string") for c in df.columns]).alias(
                "value"
            )
        ).write.mode("overwrite").text(path)
        parts = F.split(F.col("value"), "\t")
        back = spark.read.text(path)
        return back.select(
            *[
                parts.getItem(i).cast(f.dataType).alias(f.name)
                for i, f in enumerate(df.schema.fields)
            ]
        )
    if fmt == "xml":
        writer.format("xml").option("rowTag", "row").save(path)
        return (
            spark.read.schema(df.schema)
            .format("xml")
            .option("rowTag", "row")
            .load(path)
        )
    writer.parquet(path)
    return spark.read.parquet(path)
