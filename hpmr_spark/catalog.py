"""Query catalog — the driver-facing registry.

Each entry pairs a Spark implementation (spark, sf_dir) -> DataFrame with an
equivalent ANSI-SQL oracle string for DuckDB. Column names/aliases MUST match
between the two (the driver sorts columns by name and hashes values).

Float discipline: any aggregate over DOUBLE is rounded (same ROUND spec on
both sides) so parallel-summation order cannot flip the value hash.

Organized in sections mirroring SURVEY.md §2's inventory; LLM-pipeline
extension queries register from their own modules.
"""

from __future__ import annotations

import functools
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hpmr_spark.engine import owned_by
from hpmr_spark.sources.tables import load_table

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None):
    if name in QUERIES:
        raise ValueError(f"query {name!r} is already registered")

    def deco(fn):
        # the query owns the frames it materializes while it is being built
        @functools.wraps(fn)
        def build(*args, **kwargs):
            with owned_by(name):
                return fn(*args, **kwargs)

        QUERIES[name] = build
        if oracle is not None:
            ORACLES[name] = oracle
        return build

    return deco


def _t(spark, sf_dir, name):
    return load_table(spark, sf_dir, name)


# =========================================================================
# §2.1/§2.2 reference-parity surface (DistMap/Range/Reducer as queries)
# =========================================================================


@register(
    "mapreduce_revenue_by_order",
    """
    SELECT l_orderkey,
           CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM lineitem GROUP BY l_orderkey
    """,
)
def mapreduce_revenue_by_order(spark, sf_dir):
    """Flagship: Range/DistMap::mapreduce kernel (ref src/dist_map.h:256-279)
    over real data — flatMap to (orderkey, price*(1-disc)), reduce with sum.
    Catalyst plans partial+final agg = ref's combine-on-insert + sync shuffle.

    Money discipline: per-row product → integer cents → exact BIGINT sum, so
    the result is bit-identical regardless of parallel summation order."""
    li = _t(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast("long")
    return li.groupBy("l_orderkey").agg(F.sum(cents).alias("revenue_cents"))


@register(
    "range_mapreduce_sum",
    """
    SELECT CAST(i % 97 AS BIGINT) AS key, CAST(SUM(i) AS BIGINT) AS total
    FROM range(0, 100000) t(i) GROUP BY key
    """,
)
def range_mapreduce_sum(spark, sf_dir):
    """Range::mapreduce golden test (ref src/range.h:28-64,
    src/dist_map_test.cc:71-88): generated source → keyed sum."""
    return (
        spark.range(0, 100000)
        .groupBy((F.col("id") % 97).alias("key"))
        .agg(F.sum("id").alias("total"))
    )


@register(
    "distmap_n_keys",
    "SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_keys FROM orders",
)
def distmap_n_keys(spark, sf_dir):
    """get_n_keys (ref src/dist_map.h:90-96): global distinct-key count."""
    o = _t(spark, sf_dir, "orders")
    return o.agg(F.countDistinct("o_custkey").alias("n_keys"))


@register(
    "reducer_sum_min_max",
    """
    SELECT l_orderkey,
           CAST(SUM(l_quantity) AS BIGINT) AS sum_qty,
           MIN(l_quantity) AS min_qty,
           MAX(l_quantity) AS max_qty,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem GROUP BY l_orderkey
    """,
)
def reducer_sum_min_max(spark, sf_dir):
    """Reducer::sum/min/max (ref src/reducer.h:7-23; min/max with corrected
    semantics — reference bodies are transposed, SURVEY.md §2.2).
    l_quantity is integer-valued, so SUM→BIGINT is exact + order-invariant."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_orderkey").agg(
        F.sum("l_quantity").cast("long").alias("sum_qty"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "reducer_keep_overwrite",
    """
    SELECT l_orderkey,
           first(l_extendedprice ORDER BY l_linenumber, l_extendedprice) AS kept,
           last(l_extendedprice ORDER BY l_linenumber, l_extendedprice) AS overwritten
    FROM lineitem GROUP BY l_orderkey
    """,
)
def reducer_keep_overwrite(spark, sf_dir):
    """Reducer::keep/overwrite (ref src/reducer.h:10-12) made deterministic via
    an explicit arrival order: keep = first write, overwrite = last write.
    (l_orderkey, l_linenumber) is not unique in the synthetic data, so the
    ordering key is (l_linenumber, l_extendedprice) — unique per order.
    Spark min_by/max_by over a struct ≡ DuckDB first/last ORDER BY."""
    li = _t(spark, sf_dir, "lineitem")
    order = F.struct("l_linenumber", "l_extendedprice")
    return li.groupBy("l_orderkey").agg(
        F.min_by("l_extendedprice", order).alias("kept"),
        F.max_by("l_extendedprice", order).alias("overwritten"),
    )


@register(
    "set_distinct_keys",
    "SELECT DISTINCT o_custkey AS key FROM orders",
)
def set_distinct_keys(spark, sf_dir):
    """KeyedSet ingest (ref src/hash_set.h:10; set ≡ table of distinct keys)."""
    o = _t(spark, sf_dir, "orders")
    return o.select(F.col("o_custkey").alias("key")).distinct()


@register(
    "set_membership_semi_join",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders)
    """,
)
def set_membership_semi_join(spark, sf_dir):
    """Bulk has() (ref src/bare_hash_container.h:181-196) = left-semi join."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return c.join(o, on="c_custkey", how="left_semi").select("c_custkey", "c_name")


@register(
    "set_delete_anti_join",
    """
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    """,
)
def set_delete_anti_join(spark, sf_dir):
    """Bulk unset() (ref src/bare_hash_container.h:150-179) = left-anti join."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    return c.join(o, on="c_custkey", how="left_anti").select("c_custkey", "c_name")


@register(
    "point_lookup_get",
    """
    SELECT c_custkey AS key, c_acctbal AS value FROM customer WHERE c_custkey = 42
    """,
)
def point_lookup_get(spark, sf_dir):
    """DistMap::get (ref src/dist_map.h:132-145): owner-partition point lookup.
    At scale: a pushed-down key predicate on the scan, not a full shuffle."""
    c = _t(spark, sf_dir, "customer")
    return c.where(F.col("c_custkey") == 42).select(
        F.col("c_custkey").alias("key"), F.col("c_acctbal").alias("value")
    )


@register(
    "chained_mapreduce_histogram",
    """
    SELECT cnt AS key, CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM (SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM lineitem GROUP BY l_orderkey)
    GROUP BY cnt
    """,
)
def chained_mapreduce_histogram(spark, sf_dir):
    """Chained DistMap::mapreduce (result feeds a second mapreduce —
    ref src/dist_map.h:47-52 chainability): lines-per-order histogram."""
    li = _t(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("cnt"))
    return per_order.groupBy(F.col("cnt").alias("key")).agg(
        F.count(F.lit(1)).alias("n_orders")
    )
