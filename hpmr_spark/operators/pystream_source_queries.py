"""Round-10 wave 11: custom PYTHON STREAMING DataSource (Spark 4
`SimpleDataSourceStreamReader`) — the streaming half of the
pydatasource connector surface (sources/pydatasource.py covers batch
read + write; this adds readStream):

- pystream_source_tumbling: a pure-Python streaming source with
  committed deterministic content (Knuth multiplicative generator, the
  same constants as the batch hpmr_seq source), consumed through a REAL
  Structured Streaming pipeline: readStream → event-time tumbling window
  aggregation → memory sink. The source implements the full simple
  stream-reader contract (initialOffset / read / readBetweenOffsets for
  replay); under Trigger.AvailableNow Spark 4 falls back to
  single-batch execution for Python micro-batch streams (probed — the
  documented fallback), so one committed batch carries the whole
  generator range and the sink content is exactly the oracle's
  recomputation.

Reference parity: the reference kv kernel has no streaming surface at
all (/root/reference/src/hpmr.h:1-10, SURVEY §2.3) — this is the
extensible-connector analog on the streaming axis.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hpmr_spark.catalog import register
from hpmr_spark.engine import scratch_dir
from hpmr_spark.streaming.windows import _run_to_table

# committed generator constants (shared spirit with sources/pydatasource)
PS_N = 2000
PS_MULT = 2654435761
PS_MOD = 97

_PS_ORACLE = f"""
    WITH gen AS (
      SELECT i, (i * {PS_MULT} % 4294967296) % {PS_MOD} AS v,
             (i // 10) // 15 AS win
      FROM (SELECT unnest(range(0, {PS_N})) AS i)
    )
    SELECT CAST(win * 15 AS BIGINT) AS win_start_min,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(SUM(v) AS BIGINT) AS sval
    FROM gen GROUP BY win
"""


@register("pystream_source_tumbling", _PS_ORACLE)
def pystream_source_tumbling(spark, sf_dir):
    """Python STREAMING DataSource end to end (Spark 4
    pyspark.sql.datasource.SimpleDataSourceStreamReader): the committed
    Knuth-generator rows stream through readStream → 15-minute
    event-time tumbling windows (timestamp_micros of the committed
    minute) → a complete-mode memory sink; the oracle recomputes the
    generator and the windowing with BIGINT arithmetic. The reader
    implements initialOffset/read/readBetweenOffsets — the replayable
    offset contract — and the run rides the documented
    AvailableNow→single-batch fallback for Python streams, so the sink
    holds the full committed range deterministically.

    Classes are defined inside the query fn (session-less import rule);
    the stateful run goes through the shared memory-sink runner with a
    fresh checkpoint dir (streaming family conventions).
    Runs the stream at build ⟹ plan_snapshot SKIP."""
    from pyspark.sql.datasource import (
        DataSource,
        SimpleDataSourceStreamReader,
    )

    class SeqStreamReader(SimpleDataSourceStreamReader):
        def initialOffset(self):
            return {"i": 0}

        def read(self, start):
            s = int(start["i"])
            e = PS_N
            rows = [
                (i, (i * PS_MULT % 4294967296) % PS_MOD)
                for i in range(s, e)
            ]
            return iter(rows), {"i": e}

        def readBetweenOffsets(self, start, end):
            return iter(
                (i, (i * PS_MULT % 4294967296) % PS_MOD)
                for i in range(int(start["i"]), int(end["i"]))
            )

    class SeqStreamSource(DataSource):
        @classmethod
        def name(cls):
            return "hpmr_stream_seq"

        def schema(self):
            return "i bigint, v bigint"

        def simpleStreamReader(self, schema):
            return SeqStreamReader()

    spark.dataSource.register(SeqStreamSource)
    src = (
        spark.readStream.format("hpmr_stream_seq")
        .load()
        .select(
            F.expr(
                "timestamp_micros((i div 10) * 60000000)"
            ).alias("ts"),
            "v",
        )
    )
    agg = src.groupBy(F.window("ts", "15 minutes").alias("win")).agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum("v").cast("long").alias("sval"),
    )
    out = _run_to_table(
        agg, "pystream", "complete", checkpoint=scratch_dir("pystream_ckpt")
    )
    return out.select(
        F.expr("unix_micros(win.start) div 60000000").cast("long").alias(
            "win_start_min"
        ),
        "cnt",
        "sval",
    )
