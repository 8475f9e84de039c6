"""Analytics depth batch 2: JSON extraction, grouping sets, pivot, lag/lead,
date bucketing, classic TPC-H shapes, HAVING, richer string functions.
All Catalyst built-ins; money stays in integer cents (see catalog.py)."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from hpmr_spark.catalog import register, _t
from hpmr_spark.functions.exprs import cents


@register(
    "json_extract_props",
    """
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM events GROUP BY event_type
    """,
)
def json_extract_props(spark, sf_dir):
    """JSON column access (events.props): get_json_object ≡ json_extract_string."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"), F.count(F.lit(1)).alias("n")
    )


@register(
    "grouping_sets_agg",
    """
    SELECT l_returnflag, l_linestatus, CAST(SUM(l_quantity) AS BIGINT) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
)
def grouping_sets_agg(spark, sf_dir):
    """Explicit grouping sets (beyond rollup/cube)."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("_li_gs")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus, CAST(SUM(l_quantity) AS BIGINT) AS sum_qty
        FROM _li_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@register(
    "pivot_status_by_priority",
    """
    SELECT o_orderpriority,
           CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
           CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
           CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
    FROM orders GROUP BY o_orderpriority
    """,
)
def pivot_status_by_priority(spark, sf_dir):
    """Pivot with pinned values (deterministic columns) ≡ CASE sums."""
    o = _t(spark, sf_dir, "orders")
    piv = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(F.count(F.lit(1)))
    )
    return piv.select(
        "o_orderpriority",
        F.coalesce(F.col("F"), F.lit(0)).cast("long").alias("n_f"),
        F.coalesce(F.col("O"), F.lit(0)).cast("long").alias("n_o"),
        F.coalesce(F.col("P"), F.lit(0)).cast("long").alias("n_p"),
    )


@register(
    "window_lag_order_gap",
    """
    SELECT o_custkey, o_orderkey,
           CAST(date_diff('day',
                lag(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
                o_orderdate) AS BIGINT) AS days_since_prev
    FROM orders
    """,
)
def window_lag_order_gap(spark, sf_dir):
    """lag() + date arithmetic: days between consecutive orders per customer
    (NULL for the first order — both engines agree)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    prev = F.lag("o_orderdate").over(w)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.datediff(F.col("o_orderdate"), prev).cast("long").alias("days_since_prev"),
    )


@register(
    "date_trunc_monthly_revenue",
    """
    SELECT date_trunc('month', o_orderdate) AS month,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_cents,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders GROUP BY month
    """,
)
def date_trunc_monthly_revenue(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return o.groupBy(F.date_trunc("month", "o_orderdate").alias("month")).agg(
        F.sum(cents(F.col("o_totalprice"))).alias("revenue_cents"),
        F.count(F.lit(1)).alias("n_orders"),
    )


@register(
    "q3_shipping_priority",
    """
    SELECT l_orderkey,
           CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents,
           o_orderdate
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1997-01-01'
      AND l_shipdate > TIMESTAMP '1997-01-01'
    GROUP BY l_orderkey, o_orderdate
    ORDER BY revenue_cents DESC, l_orderkey LIMIT 10
    """,
)
def q3_shipping_priority(spark, sf_dir):
    """TPC-H Q3 shape: selective dim filter (broadcast) + 3-way join + top-k."""
    c = _t(spark, sf_dir, "customer").where(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp")
    )
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1997-01-01").cast("timestamp")
    )
    return (
        li.join(
            F.broadcast(o.join(F.broadcast(c), o.o_custkey == c.c_custkey)),
            li.l_orderkey == F.col("o_orderkey"),
        )
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            F.sum(cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
                "revenue_cents"
            )
        )
        .orderBy(F.desc("revenue_cents"), F.asc("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "revenue_cents", "o_orderdate")
    )


@register(
    "q6_forecast_revenue",
    """
    SELECT CAST(SUM(CAST(ROUND(l_extendedprice * l_discount * 100) AS BIGINT)) AS BIGINT)
             AS promo_cents
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark, sf_dir):
    """TPC-H Q6 shape: pure pushed-down filter + single global sum."""
    li = _t(spark, sf_dir, "lineitem")
    return li.where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    ).agg(F.sum(cents(F.col("l_extendedprice") * F.col("l_discount"))).alias("promo_cents"))


@register(
    "having_active_customers",
    """
    SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders GROUP BY o_custkey HAVING COUNT(*) > 12
    """,
)
def having_active_customers(spark, sf_dir):
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .where(F.col("n_orders") > 12)
    )


@register(
    "string_functions_2",
    """
    SELECT c_custkey,
           split_part(c_name, '#', 2) AS cust_num,
           lpad(CAST(c_custkey AS VARCHAR), 10, '0') AS padded,
           reverse(c_mktsegment) AS seg_rev,
           CAST(strpos(c_name, '#') AS INT) AS hash_pos,
           replace(c_mktsegment, 'A', '_') AS seg_sub,
           left(c_name, 8) AS name8
    FROM customer WHERE c_custkey % 50 = 0
    """,
)
def string_functions_2(spark, sf_dir):
    c = _t(spark, sf_dir, "customer")
    return c.where(F.col("c_custkey") % 50 == 0).select(
        "c_custkey",
        F.split_part(F.col("c_name"), F.lit("#"), F.lit(2)).alias("cust_num"),
        F.lpad(F.col("c_custkey").cast("string"), 10, "0").alias("padded"),
        F.reverse("c_mktsegment").alias("seg_rev"),
        F.instr(F.col("c_name"), "#").cast("int").alias("hash_pos"),
        F.regexp_replace("c_mktsegment", "A", "_").alias("seg_sub"),
        F.substring("c_name", 1, 8).alias("name8"),
    )


@register(
    "array_agg_sorted_string",
    """
    SELECT n_nationkey,
           array_to_string(list_sort(list(c_mktsegment)), ',') AS segments
    FROM nation JOIN customer ON c_nationkey = n_nationkey
    WHERE n_nationkey < 5
    GROUP BY n_nationkey
    """,
)
def array_agg_sorted_string(spark, sf_dir):
    """Array aggregation made deterministic: collect → sort → join to string
    (collect order is partition-dependent; the sorted multiset is not)."""
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    return (
        n.where(F.col("n_nationkey") < 5)
        .join(c, n.n_nationkey == c.c_nationkey)
        .groupBy("n_nationkey")
        .agg(
            F.concat_ws(",", F.sort_array(F.collect_list("c_mktsegment"))).alias(
                "segments"
            )
        )
    )
