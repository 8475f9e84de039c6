"""Oracle-checked source/sink roundtrip queries: results must be unchanged by
a write→read cycle in each format (serialization identity — the reference's
to_string/from_string round-trip test, src/bare_map_test.cc:157-168)."""

from __future__ import annotations

from pyspark.sql import functions as F

from hpmr_spark.catalog import register, _t
from hpmr_spark.sources.sinks import roundtrip

_REV_SQL = """
    SELECT l_orderkey,
           CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM lineitem GROUP BY l_orderkey
"""


def _revenue(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast("long")
    return li.groupBy("l_orderkey").agg(F.sum(cents).alias("revenue_cents"))


@register("sink_parquet_roundtrip", _REV_SQL)
def sink_parquet_roundtrip(spark, sf_dir):
    return roundtrip(_revenue(spark, sf_dir), "parquet", "rev")


@register("sink_csv_roundtrip", _REV_SQL)
def sink_csv_roundtrip(spark, sf_dir):
    return roundtrip(_revenue(spark, sf_dir), "csv", "rev")


@register("sink_json_roundtrip", _REV_SQL)
def sink_json_roundtrip(spark, sf_dir):
    return roundtrip(_revenue(spark, sf_dir), "json", "rev")


@register("sink_orc_roundtrip", _REV_SQL)
def sink_orc_roundtrip(spark, sf_dir):
    """ORC: the second bundled columnar format (predicate pushdown + column
    pruning like parquet); same serialization-identity contract."""
    return roundtrip(_revenue(spark, sf_dir), "orc", "rev")


@register("sink_xml_roundtrip", _REV_SQL)
def sink_xml_roundtrip(spark, sf_dir):
    """XML: Spark 4 native XML source/sink (rowTag records), read back with
    the writer's schema. Row-oriented text — interchange, not analytics."""
    return roundtrip(_revenue(spark, sf_dir), "xml", "rev")


@register("sink_text_roundtrip", _REV_SQL)
def sink_text_roundtrip(spark, sf_dir):
    """Line-based text (the raw-log interchange format): rows serialize to
    tab-joined lines and re-parse with exact integer casts on read — the
    schema-on-read discipline for ingesting logs at scale. Integer-cents
    values survive the string trip bit-exactly (never floats)."""
    return roundtrip(_revenue(spark, sf_dir), "text", "rev")


@register(
    "sink_dynamic_partition_overwrite",
    """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CASE WHEN value >= 10 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_high
    FROM events
    WHERE event_type <> 'click' OR value >= 10
    GROUP BY event_type
    """,
)
def sink_dynamic_partition_overwrite(spark, sf_dir):
    """INSERT OVERWRITE with dynamic partition resolution — the warehouse
    backfill primitive: the events table is laid out partitioned by
    event_type, then ONE partition ('click') is rewritten with a filtered
    version; dynamic partitionOverwriteMode only touches partitions
    present in the incoming frame, leaving the other four untouched
    (static mode would wipe them — the classic backfill footgun). Read
    back and aggregate: click rows are the filtered subset, everything
    else is intact. At 100 TB this is how a single bad day/source is
    recomputed in place."""
    import os

    from hpmr_spark.engine import scratch_dir
    from hpmr_spark.sources.tables import load_events

    ev = load_events(spark, sf_dir).select("event_id", "event_type", "value")
    d = scratch_dir("dynpart")
    path = os.path.join(d, "events_by_type")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(path)
    orig = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "STATIC")
    try:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        (
            ev.where((F.col("event_type") == "click") & (F.col("value") >= 10))
            .write.mode("overwrite")
            .partitionBy("event_type")
            .parquet(path)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", orig)
    back = spark.read.parquet(path)
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(F.col("value") >= 10, 1).otherwise(0)).alias("n_high"),
    )
