"""Deep TPC-H batch: the remaining classic decision-support shapes (Q5, Q7,
Q8, Q9, Q10, Q12, Q13, Q14, Q15, Q16, Q17, Q19, Q21, Q22), adapted to the
reduced synthetic schema (no partsupp / receiptdate / shipmode / container —
see TESTDATA.md). Each keeps the canonical plan shape the original query is
famous for: star joins with broadcast dims, disjunctive pushdown, correlated
EXISTS / NOT EXISTS decorrelated to semi/anti joins, scalar-subquery
thresholds, group-then-regroup distributions.

Determinism discipline (CLAUDE.md): money → per-row integer cents then BIGINT
sums; ratios → one final double expression over exact integers; threshold
comparisons against averages → integer cross-multiplication; top-k → total
orderings.

Reference parity: these are the §2.3 "query category" rows of SURVEY.md
(joins/aggregation/subqueries) exercised at full TPC-H complexity — the
reference engine (src/dist_map.h mapreduce + sync) composes the same shapes
from mapreduce chains; here Catalyst plans them whole.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hpmr_spark.catalog import register, _t
from hpmr_spark.functions.exprs import cents


def _ts(s: str):
    return F.lit(s).cast("timestamp")


# ---------------------------------------------------------------------------
# Q5 — local supplier volume: 6-way star join, customer and supplier pinned
# to the same nation, revenue by nation within one region/year.
# ---------------------------------------------------------------------------
@register(
    "q5_local_supplier_volume",
    """
    SELECT n_name,
           CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n_name
    """,
)
def q5_local_supplier_volume(spark, sf_dir):
    """TPC-H Q5: the big fact-fact join (lineitem ⋈ orders) shuffles on
    orderkey; every dimension (supplier/nation/region) broadcasts. The
    c_nationkey = s_nationkey equality rides along the supplier broadcast."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= _ts("1996-01-01"))
        & (F.col("o_orderdate") < _ts("1997-01-01"))
    )
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (F.col("l_suppkey") == s.s_suppkey)
            & (F.col("c_nationkey") == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.sum(cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
                "revenue_cents"
            )
        )
    )


# ---------------------------------------------------------------------------
# Q7 — volume shipping between two nations, grouped by direction and year.
# ---------------------------------------------------------------------------
@register(
    "q7_volume_shipping",
    """
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           CAST(EXTRACT(YEAR FROM l_shipdate) AS BIGINT) AS l_year,
           CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM supplier
      JOIN lineitem ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q7_volume_shipping(spark, sf_dir):
    """TPC-H Q7: self-joined nation dim (two broadcast copies) with a
    disjunctive cross-nation predicate applied after both dims attach."""
    s = _t(spark, sf_dir, "supplier")
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= _ts("1996-01-01"))
        & (F.col("l_shipdate") < _ts("1998-01-01"))
    )
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .join(F.broadcast(n1), s.s_nationkey == F.col("n1_key"))
        .join(F.broadcast(n2), c.c_nationkey == F.col("n2_key"))
        .where(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(
            F.sum(cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
                "revenue_cents"
            )
        )
    )


# ---------------------------------------------------------------------------
# Q8 — national market share: one nation's fraction of regional volume/year.
# ---------------------------------------------------------------------------
@register(
    "q8_market_share",
    """
    WITH all_nations AS (
      SELECT CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
             CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS volume_cents,
             n2.n_name AS supp_nation
      FROM part
        JOIN lineitem ON p_partkey = l_partkey
        JOIN orders   ON o_orderkey = l_orderkey
        JOIN customer ON c_custkey = o_custkey
        JOIN nation n1 ON c_nationkey = n1.n_nationkey
        JOIN region   ON n1.n_regionkey = r_regionkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'AMERICA' AND p_type = 'ECONOMY'
    )
    SELECT o_year,
           CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume_cents ELSE 0 END) AS BIGINT)
             AS nation_cents,
           CAST(SUM(volume_cents) AS BIGINT) AS total_cents,
           CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume_cents ELSE 0 END) AS DOUBLE)
             / CAST(SUM(volume_cents) AS BIGINT) AS mkt_share
    FROM all_nations GROUP BY o_year
    """,
)
def q8_market_share(spark, sf_dir):
    """TPC-H Q8: conditional aggregation over a star join; the share is ONE
    final double division over two exact BIGINT sums (order-independent)."""
    p = _t(spark, sf_dir, "part").where(F.col("p_type") == "ECONOMY")
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "AMERICA")
    vol = cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    nation_vol = F.when(F.col("supp_nation") == "NATION_3", vol).otherwise(F.lit(0))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), c.c_nationkey == F.col("n1_key"))
        .join(F.broadcast(r), F.col("n1_region") == r.r_regionkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n2), s.s_nationkey == F.col("n2_key"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.sum(nation_vol).alias("nation_cents"),
            F.sum(vol).alias("total_cents"),
        )
        .select(
            "o_year",
            "nation_cents",
            "total_cents",
            (F.col("nation_cents").cast("double") / F.col("total_cents")).alias(
                "mkt_share"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Q9 — product-type profit (no partsupp: profit = discounted revenue),
# by supplier nation and order year, parts matched by name pattern.
# ---------------------------------------------------------------------------
@register(
    "q9_product_type_profit",
    """
    SELECT n_name AS nation,
           CAST(EXTRACT(YEAR FROM o_orderdate) AS BIGINT) AS o_year,
           CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
             AS profit_cents
    FROM part
      JOIN lineitem ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN nation   ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%red%'
    GROUP BY n_name, EXTRACT(YEAR FROM o_orderdate)
    """,
)
def q9_product_type_profit(spark, sf_dir):
    """TPC-H Q9 shape: LIKE-filtered part dim broadcast into the fact join;
    group by (nation, year)."""
    p = _t(spark, sf_dir, "part").where(F.col("p_name").like("%red%"))
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    o = _t(spark, sf_dir, "orders")
    n = _t(spark, sf_dir, "nation")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
        )
        .agg(
            F.sum(cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
                "profit_cents"
            )
        )
    )


# ---------------------------------------------------------------------------
# Q10 — returned-item reporting: top 20 customers by lost revenue.
# ---------------------------------------------------------------------------
@register(
    "q10_returned_items",
    """
    SELECT c_custkey, c_name, n_name,
           CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-10-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name
    ORDER BY revenue_cents DESC, c_custkey LIMIT 20
    """,
)
def q10_returned_items(spark, sf_dir):
    """TPC-H Q10: quarter-scoped star join, top-20 with (revenue, custkey)
    total order → TakeOrderedAndProject, no global sort materialized."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= _ts("1996-10-01"))
        & (F.col("o_orderdate") < _ts("1997-01-01"))
    )
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    n = _t(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.sum(cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
                "revenue_cents"
            )
        )
        .orderBy(F.desc("revenue_cents"), F.asc("c_custkey"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Q12 — priority classes per return flag (shipmode column absent; the CASE
# split on order priority is the Q12 signature).
# ---------------------------------------------------------------------------
@register(
    "q12_priority_shipping",
    """
    SELECT l_returnflag,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
                AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
                AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
    GROUP BY l_returnflag
    """,
)
def q12_priority_shipping(spark, sf_dir):
    """TPC-H Q12 shape: fact-fact join + CASE-split counts."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= _ts("1996-01-01"))
        & (F.col("l_shipdate") < _ts("1997-01-01"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_returnflag")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("long").alias("low_line_count"),
        )
    )


# ---------------------------------------------------------------------------
# Q13 — customer order-count distribution (left outer join with a join-side
# filter, then a distribution regroup).
# ---------------------------------------------------------------------------
@register(
    "q13_customer_distribution",
    """
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM (
      SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
      FROM customer LEFT OUTER JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
      GROUP BY c_custkey
    ) c_orders
    GROUP BY c_count
    """,
)
def q13_customer_distribution(spark, sf_dir):
    """TPC-H Q13: the filter lives in the JOIN CONDITION (not WHERE) so
    customers with only 5-LOW orders still appear with count 0."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    per_cust = (
        c.join(
            o,
            (c.c_custkey == o.o_custkey) & (o.o_orderpriority != "5-LOW"),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


# ---------------------------------------------------------------------------
# Q14 — promotion revenue share: one final double over two exact sums.
# ---------------------------------------------------------------------------
@register(
    "q14_promo_revenue",
    """
    SELECT CAST(SUM(CASE WHEN p_type = 'PROMO'
                    THEN CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
                    ELSE 0 END) AS BIGINT) AS promo_cents,
           CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
             AS total_cents,
           100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                    THEN CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)
                    ELSE 0 END) AS DOUBLE)
             / CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
             AS promo_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-09-01'
      AND l_shipdate <  TIMESTAMP '1996-10-01'
    """,
)
def q14_promo_revenue(spark, sf_dir):
    """TPC-H Q14: broadcast part dim; promo share as a final double
    expression over two order-independent BIGINT sums."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= _ts("1996-09-01"))
        & (F.col("l_shipdate") < _ts("1996-10-01"))
    )
    p = _t(spark, sf_dir, "part")
    vol = cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    promo = F.when(F.col("p_type") == "PROMO", vol).otherwise(F.lit(0))
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(F.sum(promo).alias("promo_cents"), F.sum(vol).alias("total_cents"))
        .select(
            "promo_cents",
            "total_cents",
            (
                F.lit(100.0)
                * F.col("promo_cents").cast("double")
                / F.col("total_cents")
            ).alias("promo_pct"),
        )
    )


# ---------------------------------------------------------------------------
# Q15 — top supplier(s): scalar-subquery max over a derived revenue view.
# ---------------------------------------------------------------------------
@register(
    "q15_top_supplier",
    """
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
               AS total_revenue_cents
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, total_revenue_cents
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue_cents = (SELECT MAX(total_revenue_cents) FROM revenue)
    """,
)
def q15_top_supplier(spark, sf_dir):
    """TPC-H Q15: derived aggregate reused twice (revenue + its max). The
    1-row max is broadcast; equality over exact cents is tie-safe."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= _ts("1996-01-01"))
        & (F.col("l_shipdate") < _ts("1996-04-01"))
    )
    s = _t(spark, sf_dir, "supplier")
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.sum(cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
            "total_revenue_cents"
        )
    )
    mx = rev.agg(F.max("total_revenue_cents").alias("max_rev"))
    return (
        rev.join(F.broadcast(mx), rev.total_revenue_cents == F.col("max_rev"))
        .join(F.broadcast(s), F.col("supplier_no") == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue_cents")
    )


# ---------------------------------------------------------------------------
# Q16 — supplier counts per part attribute (partsupp absent: supplier-part
# pairs come from lineitem; excludes one brand and the PROMO type family).
# ---------------------------------------------------------------------------
@register(
    "q16_parts_supplier_counts",
    """
    SELECT p_brand, p_type, CAST(p_size AS BIGINT) AS p_size,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM part JOIN lineitem ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#5' AND p_type NOT LIKE 'PROMO%'
      AND p_size IN (1, 5, 9, 15, 19, 23, 36, 45)
    GROUP BY p_brand, p_type, p_size
    """,
)
def q16_parts_supplier_counts(spark, sf_dir):
    """TPC-H Q16 shape: NOT-predicates on the dim + COUNT(DISTINCT) — Spark
    plans a two-phase distinct aggregate (expand + partial + final)."""
    p = _t(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#5")
        & (~F.col("p_type").like("PROMO%"))
        & (F.col("p_size").isin(1, 5, 9, 15, 19, 23, 36, 45))
    )
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", F.col("p_size").cast("long").alias("p_size"))
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


# ---------------------------------------------------------------------------
# Q17 — small-quantity lines vs per-part average: correlated scalar subquery
# decorrelated to an aggregate join; threshold via integer cross-mult
# (qty < 0.2 * avg  ⇔  5·qty·cnt < sum_qty — quantities are integral).
# ---------------------------------------------------------------------------
@register(
    "q17_small_quantity_revenue",
    """
    WITH part_avg AS (
      SELECT l_partkey AS pk,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS total_cents,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem
      JOIN part ON p_partkey = l_partkey
      JOIN part_avg ON pk = l_partkey
    WHERE p_brand = 'Brand#3'
      AND 5 * CAST(l_quantity AS BIGINT) * cnt < sum_qty
    """,
)
def q17_small_quantity_revenue(spark, sf_dir):
    """TPC-H Q17: per-part average threshold without any double comparison —
    5·qty·cnt < sum_qty is the exact integer form of qty < 0.2·avg."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#3")
    part_avg = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"),
        F.count(F.lit(1)).alias("cnt"),
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(part_avg, F.col("pk") == li.l_partkey)
        .where(
            F.lit(5) * F.col("l_quantity").cast("long") * F.col("cnt")
            < F.col("sum_qty")
        )
        .agg(
            F.sum(cents(F.col("l_extendedprice"))).alias("total_cents"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
# Q19 — disjunctive brand/size/quantity bands (container absent): the classic
# OR-of-ANDs predicate Catalyst pushes through the join.
# ---------------------------------------------------------------------------
@register(
    "q19_disjunctive_revenue",
    """
    SELECT CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
           AND l_quantity >= 1 AND l_quantity <= 11)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 25
           AND l_quantity >= 10 AND l_quantity <= 20)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 35
           AND l_quantity >= 20 AND l_quantity <= 30)
    """,
)
def q19_disjunctive_revenue(spark, sf_dir):
    """TPC-H Q19 shape: Catalyst extracts the common-conjunct pushdowns
    (brand ∈ {..}, size/qty hulls) below the join; residual OR evaluates
    post-join in codegen."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    band = (
        (
            (F.col("p_brand") == "Brand#1")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#3")
            & F.col("p_size").between(1, 35)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .where(band)
        .agg(
            F.sum(cents(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
                "revenue_cents"
            ),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


# ---------------------------------------------------------------------------
# Q21 — suppliers who kept orders waiting (receiptdate absent: "late" :=
# shipped >100 days after order date). EXISTS + NOT EXISTS both correlated.
# ---------------------------------------------------------------------------
_Q21_SQL = """
    SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM supplier
      JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
      JOIN orders ON o_orderkey = l1.l_orderkey
      JOIN nation ON s_nationkey = n_nationkey
    WHERE o_orderstatus = 'F'
      AND l1.l_shipdate > o_orderdate + INTERVAL 100 DAY
      AND n_name = 'NATION_4'
      AND EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_shipdate > o_orderdate + INTERVAL 100 DAY
      )
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
"""


@register("q21_waiting_supplier", _Q21_SQL)
def q21_waiting_supplier(spark, sf_dir):
    """TPC-H Q21: correlated EXISTS → left-semi, NOT EXISTS (with an outer
    o_orderdate reference) → left-anti; Catalyst decorrelates both. Declared
    in SQL — the same text DuckDB runs — planned natively by Spark."""
    for t in ("supplier", "lineitem", "orders", "nation"):
        _t(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_Q21_SQL)


# ---------------------------------------------------------------------------
# Q22 — lapsed high-balance customers: anti join + cross-multiplied average
# threshold (acctbal > avg(positive acctbal) with zero double arithmetic).
# ---------------------------------------------------------------------------
@register(
    "q22_global_sales_opportunity",
    """
    WITH pos AS (
      SELECT CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM customer
      WHERE c_acctbal > 0.0 AND c_nationkey % 5 IN (1, 2, 3)
    )
    SELECT CAST(c_nationkey % 5 AS BIGINT) AS cntrycode,
           CAST(COUNT(*) AS BIGINT) AS numcust,
           CAST(SUM(CAST(ROUND(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS totacctbal_cents
    FROM customer, pos
    WHERE c_nationkey % 5 IN (1, 2, 3)
      AND CAST(ROUND(c_acctbal * 100) AS BIGINT) * cnt > sum_cents
      AND NOT EXISTS (
        SELECT 1 FROM orders
        WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '2000-01-01'
      )
    GROUP BY cntrycode
    """,
)
def q22_global_sales_opportunity(spark, sf_dir):
    """TPC-H Q22 shape: every customer has SOME order in this data, so
    "lapsed" = no order since 2000-01-01 (anti join on a filtered fact).
    The avg threshold is exact: cents·cnt > sum_cents."""
    c = _t(spark, sf_dir, "customer").where((F.col("c_nationkey") % 5).isin(1, 2, 3))
    o_recent = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= _ts("2000-01-01")
    )
    pos = (
        c.where(F.col("c_acctbal") > 0.0)
        .agg(
            F.sum(cents(F.col("c_acctbal"))).alias("sum_cents"),
            F.count(F.lit(1)).alias("cnt"),
        )
    )
    return (
        c.join(o_recent, c.c_custkey == o_recent.o_custkey, "left_anti")
        .crossJoin(F.broadcast(pos))
        .where(cents(F.col("c_acctbal")) * F.col("cnt") > F.col("sum_cents"))
        .groupBy((F.col("c_nationkey") % 5).cast("long").alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(cents(F.col("c_acctbal"))).alias("totacctbal_cents"),
        )
    )
