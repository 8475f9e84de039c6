"""Relational operator surface — extensions past the reference kernel that make
this an analytics engine (SURVEY.md §2.3: joins, windows, sorts/limits, set
ops, grouping sets are all absent from the reference; the engine gets them
from Catalyst built-ins, declared here as oracle-checked queries).

Scale notes (100 TB posture):
- Dimension joins (region/nation/part at fixed or slowly-growing size) are
  explicitly broadcast — no shuffle of the fact table.
- Fact-fact joins shuffle on the join key; AQE handles skew splitting.
- Top-k uses TakeOrderedAndProject (no global sort materialization).
- Window queries partition by a high-cardinality key (customer), so state per
  partition stays bounded.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from hpmr_spark.catalog import register, _t
from hpmr_spark.functions.exprs import cents
from hpmr_spark.functions.littables import values_df

# Money discipline: exact integer cents (see catalog.py).
@register(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(l_quantity) AS BIGINT) AS sum_qty,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_cents,
           CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
             AS sum_disc_cents,
           ROUND(SUM(l_quantity) / COUNT(*), 6) AS avg_qty,
           CAST(COUNT(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: scan → filter (pushed to parquet) → 2-key agg.
    avg derived from exact integer sum / count → deterministic double."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").cast("long").alias("sum_qty"),
            F.sum(cents(F.col("l_extendedprice"))).alias("sum_base_cents"),
            F.sum(cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
                "sum_disc_cents"
            ),
            F.round(F.sum("l_quantity") / F.count(F.lit(1)), 6).alias("avg_qty"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "join_broadcast_part_revenue",
    """
    SELECT p_brand,
           CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_brand
    """,
)
def join_broadcast_part_revenue(spark, sf_dir):
    """Equi-join fact ⋈ dim with explicit broadcast: at 100 TB the part dim
    (bounded) broadcasts; the lineitem scan never shuffles for the join."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.sum(cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
                "revenue_cents"
            ),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "join_left_outer_nation_customers",
    """
    SELECT n_name, CAST(COUNT(c_custkey) AS BIGINT) AS n_customers
    FROM nation LEFT JOIN customer ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def join_left_outer_nation_customers(spark, sf_dir):
    """Left outer join preserving unmatched dim rows (COUNT(col) skips nulls)."""
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    return (
        n.join(c, n.n_nationkey == c.c_nationkey, "left")
        .groupBy("n_name")
        .agg(F.count("c_custkey").alias("n_customers"))
    )


@register(
    "join_multiway_region_revenue",
    """
    SELECT r_name,
           CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM region
      JOIN nation   ON n_regionkey = r_regionkey
      JOIN customer ON c_nationkey = n_nationkey
      JOIN orders   ON o_custkey   = c_custkey
      JOIN lineitem ON l_orderkey  = o_orderkey
    GROUP BY r_name
    """,
)
def join_multiway_region_revenue(spark, sf_dir):
    """5-way join: broadcast the dim chain (region⋈nation⋈customer is small
    relative to facts), shuffle only orders⋈lineitem on orderkey. Catalyst
    reorders; AQE picks broadcast once sizes are known."""
    r = _t(spark, sf_dir, "region")
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    dims = F.broadcast(
        r.join(n, n.n_regionkey == r.r_regionkey).join(c, c.c_nationkey == n.n_nationkey)
    ).select("r_name", "c_custkey")
    return (
        li.join(o.select("o_orderkey", "o_custkey"), li.l_orderkey == o.o_orderkey)
        .join(dims, F.col("o_custkey") == dims.c_custkey)
        .groupBy("r_name")
        .agg(
            F.sum(cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
                "revenue_cents"
            )
        )
    )


@register(
    "window_running_order_count",
    """
    SELECT o_custkey, o_orderkey,
           CAST(ROW_NUMBER() OVER w AS BIGINT) AS order_seq,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) OVER w AS BIGINT)
             AS running_spend_cents
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def window_running_order_count(spark, sf_dir):
    """Window frame: per-customer running sequence + cumulative spend.
    Partitioned by high-cardinality o_custkey → bounded per-partition state."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.row_number().over(w).cast("long").alias("order_seq"),
        F.sum(cents(F.col("o_totalprice"))).over(w).alias("running_spend_cents"),
    )


@register(
    "window_top3_orders_per_customer",
    """
    SELECT o_custkey, o_orderkey, rnk FROM (
      SELECT o_custkey, o_orderkey,
             CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey
                                     ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rnk
      FROM orders)
    WHERE rnk <= 3
    """,
)
def window_top3_orders_per_customer(spark, sf_dir):
    """Grouped top-N via row_number (deterministic tie-break on orderkey)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.select(
            "o_custkey", "o_orderkey", F.row_number().over(w).cast("long").alias("rnk")
        ).where(F.col("rnk") <= 3)
    )


@register(
    "topk_global_orders",
    """
    SELECT o_orderkey, CAST(ROUND(o_totalprice * 100) AS BIGINT) AS totalprice_cents
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)
def topk_global_orders(spark, sf_dir):
    """Global top-k: Spark plans TakeOrderedAndProject — per-partition heaps +
    driver merge of k rows, never a full sort (scale-safe)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
        .select("o_orderkey", cents(F.col("o_totalprice")).alias("totalprice_cents"))
    )


@register(
    "setops_union_intersect_except",
    """
    SELECT
      (SELECT COUNT(*) FROM (SELECT o_custkey FROM orders UNION SELECT c_custkey FROM customer))
        AS n_union,
      (SELECT COUNT(*) FROM (SELECT o_custkey FROM orders INTERSECT SELECT c_custkey FROM customer))
        AS n_intersect,
      (SELECT COUNT(*) FROM (SELECT c_custkey FROM customer EXCEPT SELECT o_custkey FROM orders))
        AS n_except
    """,
)
def setops_union_intersect_except(spark, sf_dir):
    """Set algebra over key sets (one-liners over sets in the reference model,
    src/hash_set.h:10-14 — SURVEY.md §2.3)."""
    o = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k"))
    c = _t(spark, sf_dir, "customer").select(F.col("c_custkey").alias("k"))
    n_union = o.union(c).distinct().count()
    n_intersect = o.intersect(c).count()
    n_except = c.exceptAll(o.distinct()).distinct().count()
    return values_df(
        spark, [(n_union, n_intersect, n_except)], "n_union long, n_intersect long, n_except long"
    )


@register(
    "rollup_returnflag_linestatus",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(l_quantity) AS BIGINT) AS sum_qty,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def rollup_returnflag_linestatus(spark, sf_dir):
    """Hierarchical grouping sets (absent in reference; free via Catalyst)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").cast("long").alias("sum_qty"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "cube_returnflag_linestatus",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(l_quantity) AS BIGINT) AS sum_qty
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def cube_returnflag_linestatus(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.sum("l_quantity").cast("long").alias("sum_qty")
    )


@register(
    "agg_stats_quantity",
    """
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
           CAST(SUM(l_quantity) AS BIGINT) AS sum_qty,
           MIN(l_quantity) AS min_qty,
           MAX(l_quantity) AS max_qty,
           ROUND(SUM(l_quantity) / COUNT(*), 6) AS mean_qty,
           ROUND(SQRT((SUM(l_quantity * l_quantity) - SUM(l_quantity) * SUM(l_quantity) / COUNT(*))
                      / (COUNT(*) - 1)), 6) AS std_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_stats_quantity(spark, sf_dir):
    """Full descriptive-stats agg. stddev computed from exact integer sums
    (sum, sum of squares) so the value is order-invariant — never
    stddev_samp over doubles, whose partial-merge order varies."""
    li = _t(spark, sf_dir, "lineitem")
    q = F.col("l_quantity")
    n = F.count(F.lit(1))
    sum_q = F.sum(q)
    sum_q2 = F.sum(q * q)
    return li.groupBy("l_returnflag").agg(
        n.alias("n"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        sum_q.cast("long").alias("sum_qty"),
        F.min(q).alias("min_qty"),
        F.max(q).alias("max_qty"),
        F.round(sum_q / n, 6).alias("mean_qty"),
        F.round(F.sqrt((sum_q2 - sum_q * sum_q / n) / (n - F.lit(1))), 6).alias("std_qty"),
    )


@register(
    "scalar_functions_showcase",
    """
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INT) AS order_year,
           CAST(month(o_orderdate) AS INT) AS order_month,
           upper(o_orderpriority) AS priority_upper,
           substring(o_orderstatus, 1, 1) AS status_c,
           CAST(length(o_orderpriority) AS INT) AS priority_len,
           CAST(ROUND(o_totalprice * 100) AS BIGINT) % 1000 AS price_mod,
           concat(o_orderstatus, '-', o_orderpriority) AS status_priority,
           CASE WHEN o_totalprice > 100000 THEN 'big' ELSE 'small' END AS size_class
    FROM orders WHERE o_orderkey % 100 = 0
    """,
)
def scalar_functions_showcase(spark, sf_dir):
    """Scalar function catalog (string/date/math/conditional) — the reference
    has none (mapper lambdas play this role, SURVEY.md §2.3); the engine uses
    pyspark.sql.functions (JVM-side, codegen'd)."""
    o = _t(spark, sf_dir, "orders")
    return o.where(F.col("o_orderkey") % 100 == 0).select(
        "o_orderkey",
        F.year("o_orderdate").cast("int").alias("order_year"),
        F.month("o_orderdate").cast("int").alias("order_month"),
        F.upper("o_orderpriority").alias("priority_upper"),
        F.substring("o_orderstatus", 1, 1).alias("status_c"),
        F.length("o_orderpriority").cast("int").alias("priority_len"),
        (F.round(F.col("o_totalprice") * 100).cast("long") % 1000).alias("price_mod"),
        F.concat_ws("-", "o_orderstatus", "o_orderpriority").alias("status_priority"),
        F.when(F.col("o_totalprice") > 100000, "big").otherwise("small").alias("size_class"),
    )


@register(
    "filter_projection_pushdown",
    """
    SELECT l_orderkey, l_shipdate FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1995-02-01'
          AND l_quantity > 45
    """,
)
def filter_projection_pushdown(spark, sf_dir):
    """Filter + 2-column projection: both reach the parquet scan (PushedFilters
    + ReadSchema pruning) — the probe for scan efficiency at 100 TB."""
    li = _t(spark, sf_dir, "lineitem")
    return li.where(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1995-02-01").cast("timestamp"))
        & (F.col("l_quantity") > 45)
    ).select("l_orderkey", "l_shipdate")


@register(
    "approx_distinct_custkeys",
    """
    SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_keys_exact,
           TRUE AS within_bound
    FROM orders
    """,
)
def approx_distinct_custkeys(spark, sf_dir):
    """approx_count_distinct — the cheap variant of get_n_keys
    (ref src/dist_map.h:90-96). HLL sketches differ across engines, so the
    approximate VALUE never reaches the output (sketch-gating pattern,
    VERDICT r6/r8): emit the exact count plus an integer-cross-multiplied
    boolean |approx − exact|·100 ≤ exact·15 — a committed 15% bound, ~3σ of
    the default rsd=0.05 HLL++ (measured ≤3% at sf0.001..0.1). The two
    aggregates run as separate one-row frames (the r2 countDistinct+sketch
    single-agg Expand pathology) and crossJoin."""
    o = _t(spark, sf_dir, "orders")
    ex = o.agg(F.countDistinct("o_custkey").cast("long").alias("n_keys_exact"))
    ap = o.agg(F.approx_count_distinct("o_custkey").alias("approx"))
    return ex.crossJoin(F.broadcast(ap)).select(
        "n_keys_exact",
        (
            F.abs(F.col("approx") - F.col("n_keys_exact")) * F.lit(100)
            <= F.col("n_keys_exact") * F.lit(15)
        ).alias("within_bound"),
    )
