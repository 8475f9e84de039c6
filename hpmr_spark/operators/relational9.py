"""Relational batch 9: built-in session windows, schema-evolution union,
bitwise aggregates, MERGE-style upsert (full-outer apply), and a partitioned
parquet sink with partition-pruned read-back.

Reference parity: the upsert query is the closest table-level analog of the
reference's async_set(overwrite)+sync epoch (src/dist_map.h:118-210) — a
batch of keyed writes merged into existing keyed state, here as one
declarative full-outer join. The partitioned sink is the engine's durable
to_string/from_string (src/bare_concurrent_map.h:229-267) with layout the
reader can prune on.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from hpmr_spark.catalog import register, _t
from hpmr_spark.engine import scratch_dir
from hpmr_spark.functions.exprs import cents


# ---------------------------------------------------------------------------
# Built-in session windows (batch mode) — 30-minute gap per user.
# ---------------------------------------------------------------------------
@register(
    "session_window_builtin",
    """
    WITH e AS (
      SELECT user_id, epoch_us(ts) AS us, CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events
    ),
    m AS (
      SELECT *, CASE WHEN us - LAG(us) OVER (PARTITION BY user_id ORDER BY us) > 1800000000
                      OR LAG(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
                     THEN 1 ELSE 0 END AS is_new
      FROM e
    ),
    s AS (
      SELECT *, SUM(is_new) OVER (PARTITION BY user_id ORDER BY us
                                  ROWS UNBOUNDED PRECEDING) AS seq
      FROM m
    )
    SELECT user_id,
           make_timestamp(MIN(us)) AS session_start,
           make_timestamp(MAX(us) + 1800000000) AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(cents) AS BIGINT) AS value_cents
    FROM s GROUP BY user_id, seq
    """,
)
def session_window_builtin(spark, sf_dir):
    """F.session_window (native dynamic-gap session operator, batch mode):
    events ≤30min apart merge (boundary-equal merges — verified), window end
    = last event + gap. The oracle is the lag/cumsum sessionization written
    out by hand; µs-exact epoch arithmetic on both sides. Unlike the custom
    sessionize (temporal.py), this stays entirely in native SessionWindow
    exec — one shuffle on user_id, no Python."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(cents(F.col("value"))).alias("value_cents"),
        )
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "value_cents",
        )
    )


# ---------------------------------------------------------------------------
# Schema evolution: unionByName with missing columns (old files lack fields).
# ---------------------------------------------------------------------------
@register(
    "union_by_name_evolution",
    """
    WITH u AS (
      SELECT doc_id, lang, CAST(NULL AS VARCHAR) AS source, CAST(NULL AS BIGINT) AS n_chars
      FROM documents
      UNION ALL
      SELECT doc_id, CAST(NULL AS VARCHAR) AS lang, source, n_chars FROM documents
    )
    SELECT lang, source,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM u GROUP BY lang, source
    """,
)
def union_by_name_evolution(spark, sf_dir):
    """unionByName(allowMissingColumns=True): the schema-evolution union —
    an old snapshot (doc_id, lang) and a new snapshot (doc_id, source,
    n_chars) align by NAME with nulls for absent fields. Positional UNION
    would mis-bind or reject; at scale this is how heterogeneous parquet
    generations combine without a rewrite."""
    docs = _t(spark, sf_dir, "documents")
    v_old = docs.select("doc_id", "lang")
    v_new = docs.select("doc_id", "source", "n_chars")
    u = v_old.unionByName(v_new, allowMissingColumns=True)
    return u.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )


# ---------------------------------------------------------------------------
# Bitwise aggregate functions.
# ---------------------------------------------------------------------------
@register(
    "bitwise_aggregates",
    """
    SELECT o_orderpriority,
           CAST(bit_and(o_orderkey) AS BIGINT) AS and_key,
           CAST(bit_or(o_orderkey) AS BIGINT) AS or_key,
           CAST(bit_xor(o_orderkey) AS BIGINT) AS xor_key,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM orders GROUP BY o_orderpriority
    """,
)
def bitwise_aggregates(spark, sf_dir):
    """bit_and/bit_or/bit_xor grouped aggregates — commutative/associative
    merges exactly in the reference's reducer mold (src/reducer.h:7-23), so
    partial+final aggregation is order-free by construction."""
    o = _t(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.bit_and("o_orderkey").alias("and_key"),
        F.bit_or("o_orderkey").alias("or_key"),
        F.bit_xor("o_orderkey").alias("xor_key"),
        F.count(F.lit(1)).alias("n"),
    )


# ---------------------------------------------------------------------------
# MERGE-style upsert: apply a keyed batch (updates + inserts) to a snapshot.
# ---------------------------------------------------------------------------
_MERGE_SQL = """
    WITH tgt AS (
      SELECT c_custkey AS key,
             CAST(ROUND(c_acctbal * 100) AS BIGINT) AS acct_cents
      FROM customer
    ),
    spend AS (
      SELECT o_custkey AS key,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS spend_cents
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate <  TIMESTAMP '1997-01-01'
      GROUP BY o_custkey
    ),
    inserts AS (
      SELECT key + 1000000 AS key, spend_cents
      FROM spend ORDER BY spend_cents DESC, key LIMIT 10
    ),
    src AS (SELECT * FROM spend UNION ALL SELECT * FROM inserts)
    SELECT COALESCE(t.key, s.key) AS key,
           CAST(COALESCE(t.acct_cents + s.spend_cents, t.acct_cents, s.spend_cents) AS BIGINT)
             AS acct_cents,
           CASE WHEN t.key IS NULL THEN 'inserted'
                WHEN s.key IS NULL THEN 'kept'
                ELSE 'updated' END AS status
    FROM tgt t FULL OUTER JOIN src s ON t.key = s.key
"""


@register("merge_upsert_customers", _MERGE_SQL)
def merge_upsert_customers(spark, sf_dir):
    """MERGE INTO semantics as one full-outer join: matched → update (credit
    1996 spend), target-only → keep, source-only → insert. This is the
    reference's async_set-with-reducer + sync epoch (src/dist_map.h:118-210)
    expressed on tables — the keyed batch merges into keyed state in a
    single shuffle; no per-row point writes. Works on any format; with a
    transactional table format the same plan runs under MERGE INTO."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    tgt = c.select(
        F.col("c_custkey").alias("key"), cents(F.col("c_acctbal")).alias("acct_cents")
    )
    spend = (
        o.where(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .groupBy(F.col("o_custkey").alias("key"))
        .agg(F.sum(cents(F.col("o_totalprice"))).alias("spend_cents"))
    )
    inserts = (
        spend.orderBy(F.desc("spend_cents"), F.asc("key"))
        .limit(10)
        .select((F.col("key") + 1000000).alias("key"), "spend_cents")
    )
    src = spend.unionByName(inserts)
    t, s = tgt.alias("t"), src.alias("s")
    return t.join(s, F.col("t.key") == F.col("s.key"), "full_outer").select(
        F.coalesce("t.key", "s.key").alias("key"),
        F.coalesce(
            F.col("t.acct_cents") + F.col("s.spend_cents"),
            F.col("t.acct_cents"),
            F.col("s.spend_cents"),
        )
        .cast("long")
        .alias("acct_cents"),
        F.when(F.col("t.key").isNull(), "inserted")
        .when(F.col("s.key").isNull(), "kept")
        .otherwise("updated")
        .alias("status"),
    )


# ---------------------------------------------------------------------------
# Partitioned parquet sink + partition-pruned read-back.
# ---------------------------------------------------------------------------
@register(
    "sink_partitioned_pruned",
    """
    SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars
    FROM documents WHERE lang = 'en' GROUP BY source
    """,
)
def sink_partitioned_pruned(spark, sf_dir):
    """Hive-layout partitioned write (partitionBy lang) then a read with a
    partition filter: the lang='en' predicate prunes whole directories at
    planning time — zero I/O on other languages' files. At 100 TB the
    partition column choice IS the dominant scan optimization; the read-back
    equality against the unpartitioned source is the correctness check."""
    docs = _t(spark, sf_dir, "documents")
    path = os.path.join(scratch_dir("part_sink", key=sf_dir), "docs")
    docs.write.mode("overwrite").partitionBy("lang").parquet(path)
    rd = spark.read.parquet(path).where(F.col("lang") == "en")
    return rd.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )


# ---------------------------------------------------------------------------
# Window value functions: first_value / nth_value / lead over order history.
# ---------------------------------------------------------------------------
@register(
    "window_value_functions",
    """
    SELECT o_orderkey, o_custkey,
           CAST(first_value(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                OVER w AS BIGINT) AS first_cents,
           CAST(nth_value(CAST(ROUND(o_totalprice * 100) AS BIGINT), 2)
                OVER w AS BIGINT) AS second_cents,
           CAST(lead(CAST(ROUND(o_totalprice * 100) AS BIGINT))
                OVER w AS BIGINT) AS next_cents
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def window_value_functions(spark, sf_dir):
    """first_value/nth_value/lead over each customer's order history. The
    frame is the full partition (UNBOUNDED BOTH) so nth_value(2) is the
    customer's second-ever order on both engines; (o_orderdate, o_orderkey)
    is a total order. All values are exact cents."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    oc = cents(F.col("o_totalprice"))
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    # lead() must see the default growing frame, not the explicit full frame
    wl = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.first_value(oc).over(w).cast("long").alias("first_cents"),
        F.nth_value(oc, 2).over(w).cast("long").alias("second_cents"),
        F.lead(oc).over(wl).cast("long").alias("next_cents"),
    )


# ---------------------------------------------------------------------------
# Global sort (range-partitioned) ordered export.
# ---------------------------------------------------------------------------
@register(
    "ordered_export_january",
    """
    SELECT l_orderkey, l_linenumber, l_shipdate,
           CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS price_cents
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-02-01'
    ORDER BY l_shipdate, l_orderkey, l_linenumber, price_cents
    """,
)
def ordered_export_january(spark, sf_dir):
    """Global ORDER BY of a filtered export: Spark samples the sort keys,
    range-partitions (Exchange rangepartitioning), and sorts each partition —
    the scalable total-sort (no single-node sort, unlike LIMIT-less collect
    approaches). The ordering is total so output files are deterministic."""
    li = _t(spark, sf_dir, "lineitem")
    out = (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-02-01").cast("timestamp"))
        )
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_shipdate",
            cents(F.col("l_extendedprice")).alias("price_cents"),
        )
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber", "price_cents")
    )
    return out
