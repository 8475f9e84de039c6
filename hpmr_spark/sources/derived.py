"""Derived inputs that many registry queries share, each built once here: a
Spark builder next to its DuckDB twin, kept adjacent so they evolve together
(the ``dedup/shingles.py`` pattern).

* The nation trade graph. ``trade_pairs`` is the revenue of every
  (customer nation, supplier nation) pair in integer cents; an edge is a
  pair whose revenue exceeds 1/625 of the total, decided by integer
  cross-multiplication (v·625 > Σv), so every engine keeps the same edges.
  ``trade_edges`` keeps the directed edges, self-loops included;
  ``undirected`` drops self-loops and folds each pair to (least, greatest).
* The daily revenue series. ``daily_revenue`` is order revenue per day in
  exact BIGINT cents, keyed by days since 1970-01-01; it is calendar-bounded
  (~2.4k rows) at any scale.

The builders never persist a frame: each query caches what it reuses with
``engine.materialize``, at its own points, so its cached frames stay its own.

The SQL twins are CTE text for the oracles. ``SQL_TRADE_PAIRS_CTE`` defines
``pe(src, dst, v)``; ``SQL_TRADE_EDGES_CTE`` adds ``tot(t)`` and
``edges(src, dst)``; ``SQL_UNDIRECTED_CTE`` adds ``und(u, w)``. Each goes
after ``WITH`` (or ``WITH RECURSIVE``). ``SQL_DAILY_REVENUE`` is the body of
a ``day(d, cents)`` CTE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hpmr_spark.functions.exprs import cents
from hpmr_spark.sources.tables import load_table

SQL_TRADE_PAIRS_CTE = """
    pe AS (
      SELECT c_nationkey AS src, s_nationkey AS dst,
             CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS v
      FROM customer
        JOIN orders   ON o_custkey = c_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN supplier ON s_suppkey = l_suppkey
      GROUP BY 1, 2
    )"""

SQL_TRADE_EDGES_CTE = (
    SQL_TRADE_PAIRS_CTE
    + """,
    tot AS (SELECT CAST(SUM(v) AS BIGINT) AS t FROM pe),
    edges AS (SELECT src, dst FROM pe, tot WHERE v * 625 > t)"""
)

SQL_UNDIRECTED_CTE = (
    SQL_TRADE_EDGES_CTE
    + """,
    und AS (
      SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS w
      FROM edges WHERE src <> dst
    )"""
)

SQL_DAILY_REVENUE = """
      SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY 1
"""


def trade_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src, dst, v): lineitem revenue in cents per (customer nation,
    supplier nation) pair — the one fact-scale job of the trade graph."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy(F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst"))
        .agg(F.sum(cents(F.col("l_extendedprice"))).alias("v"))
    )


def trade_edges(pairs: DataFrame) -> DataFrame:
    """(src, dst): the directed pairs of ``trade_pairs`` whose revenue
    exceeds 1/625 of the total (v·625 > Σv); self-loops stay."""
    tot = pairs.agg(F.sum("v").cast("long").alias("t"))
    return (
        pairs.crossJoin(F.broadcast(tot))
        .where(F.col("v") * 625 > F.col("t"))
        .select("src", "dst")
    )


def undirected(edges: DataFrame) -> DataFrame:
    """(u, w) with u < w: the distinct undirected edges of ``trade_edges``,
    self-loops dropped."""
    return (
        edges.where(F.col("src") != F.col("dst"))
        .select(F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("w"))
        .distinct()
    )


def daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(d, cents): order revenue per day, d = days since 1970-01-01."""
    return (
        load_table(spark, sf_dir, "orders")
        .groupBy(F.unix_date(F.col("o_orderdate").cast("date")).cast("long").alias("d"))
        .agg(F.sum(cents(F.col("o_totalprice"))).alias("cents"))
    )
