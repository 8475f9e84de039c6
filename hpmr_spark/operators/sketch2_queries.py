"""Second sketch/graph batch: linear-counting cardinality (the
deterministic, oracle-checkable alternative to HLL) and local clustering
coefficients on the committed trade graph.

Linear counting (Whang et al. 1990) estimates |distinct| from the empty
fraction of an m-slot hash bitmap: est = m·ln(m/empty). With committed
md5-derived slots and the LN-parity commitment the ENTIRE estimate —
including its error — is bit-reproducible in DuckDB, unlike HLL whose
register layout is engine-private (approx_distinct_custkeys stays
rows-only for exactly that reason; this query is the hash-checked
counterpart)."""

from __future__ import annotations

from pyspark.sql import functions as F

from hpmr_spark.catalog import _t, register
from hpmr_spark.engine import materialize
from hpmr_spark.functions.hashing import hash60, sql_hash60

_LC_M = 4096


@register(
    "linear_counting_distinct",
    f"""
    WITH slots AS (
      SELECT DISTINCT ({sql_hash60("CAST(o_custkey AS VARCHAR)")} % {_LC_M}) AS s
      FROM orders
    ),
    occ AS (SELECT CAST(COUNT(*) AS BIGINT) AS occupied FROM slots),
    ex AS (SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS exact_distinct
           FROM orders),
    est AS (
      SELECT occupied, exact_distinct,
             CAST(FLOOR({_LC_M}.0 * LN({_LC_M}.0 / CAST({_LC_M} - occupied AS DOUBLE)))
                  AS BIGINT) AS lc_estimate
      FROM occ CROSS JOIN ex
    )
    SELECT occupied, exact_distinct, lc_estimate,
           CAST(ABS(lc_estimate - exact_distinct) * 1000000 // exact_distinct
                AS BIGINT) AS err_ppm
    FROM est
    """,
)
def linear_counting_distinct(spark, sf_dir):
    """Linear-counting distinct estimate of order customers: the bitmap is
    the distinct set of md5-derived slots (m=4096 — 512 bytes of state at
    any scale), the estimate is m·ln(m/empty) floored once (LN-parity
    commitment), and the query also carries the exact distinct so the
    estimator's error is itself an oracle-checked value. Plan: one
    slot-distinct aggregate (m-bounded state, map-side combined) + one
    exact countDistinct for the audit column; in production only the first
    runs. The determinism HLL can't give: both engines compute the SAME
    approximate answer."""
    o = _t(spark, sf_dir, "orders")
    slots = o.select(
        (hash60(F.col("o_custkey").cast("string")) % F.lit(_LC_M)).alias("s")
    ).distinct()
    occ = slots.agg(F.count(F.lit(1)).cast("long").alias("occupied"))
    ex = o.agg(F.countDistinct("o_custkey").cast("long").alias("exact_distinct"))
    est = occ.crossJoin(F.broadcast(ex)).withColumn(
        "lc_estimate",
        F.expr(
            f"CAST(FLOOR({_LC_M}.0 * LN({_LC_M}.0 / CAST({_LC_M} - occupied AS DOUBLE))) AS BIGINT)"
        ),
    )
    return est.select(
        "occupied",
        "exact_distinct",
        "lc_estimate",
        F.expr("ABS(lc_estimate - exact_distinct) * 1000000 div exact_distinct")
        .cast("long")
        .alias("err_ppm"),
    )


# ---------------------------------------------------------------------------
# Local clustering coefficient on the committed trade graph.
# ---------------------------------------------------------------------------
@register(
    "clustering_coefficient_ppm",
    """
    WITH pe AS (
      SELECT c_nationkey AS src, s_nationkey AS dst,
             CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS v
      FROM customer
        JOIN orders   ON o_custkey = c_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN supplier ON s_suppkey = l_suppkey
      GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(SUM(v) AS BIGINT) AS t FROM pe),
    und AS (
      SELECT DISTINCT LEAST(src, dst) AS u, GREATEST(src, dst) AS w
      FROM pe, tot WHERE v * 625 > t AND src <> dst
    ),
    deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM (
        SELECT u AS node FROM und UNION ALL SELECT w FROM und
      ) GROUP BY node
    ),
    tri AS (
      SELECT e1.u AS a, e1.w AS b, e2.w AS c
      FROM und e1
      JOIN und e2 ON e2.u = e1.w
      JOIN und e3 ON e3.u = e1.u AND e3.w = e2.w
    ),
    tcnt AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri FROM (
        SELECT a AS node FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
      ) GROUP BY node
    )
    SELECT CAST(deg.node AS BIGINT) AS nationkey, deg.degree,
           CAST(COALESCE(tcnt.n_tri, 0) AS BIGINT) AS n_triangles,
           CAST(CASE WHEN deg.degree >= 2
                     THEN COALESCE(tcnt.n_tri, 0) * 2000000
                          // (deg.degree * (deg.degree - 1))
                     ELSE 0 END AS BIGINT) AS cc_ppm
    FROM deg LEFT JOIN tcnt ON tcnt.node = deg.node
    """,
)
def clustering_coefficient_ppm(spark, sf_dir):
    """Local clustering coefficient cc(v) = 2·tri(v) / (deg(v)·(deg(v)−1))
    in integer ppm over the committed trade graph (same edge threshold as
    pagerank/triangles — one revenue agg feeds the family). Triangles come
    from the canonical a<b<c two-join plan; degrees from the undirected
    edge list; nodes with no triangle keep cc = 0 via the left join
    (COALESCE — the empty-aggregate NULL trap). Post-aggregation graph is
    nation-sized, so every join broadcasts; at real graph scale this is
    the standard triangle plan plus one degree join."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    pe = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy(F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst"))
        .agg(F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("v"))
    )
    # persist the tiny aggregated frames: pe feeds tot+und, und feeds
    # deg/e1/e2/e3 — without caching Catalyst re-derives the 4-table join
    # per consumer (46 shuffles observed; same fix as graph_triangle_count)
    pe = materialize(pe)
    tot = pe.agg(F.sum("v").cast("long").alias("t"))
    und = materialize(
        pe.crossJoin(F.broadcast(tot))
        .where((F.col("v") * 625 > F.col("t")) & (F.col("src") != F.col("dst")))
        .select(F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("w"))
        .distinct()
    )
    deg = (
        und.select(F.col("u").alias("node"))
        .unionAll(und.select(F.col("w").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    e1 = und.select(F.col("u").alias("a"), F.col("w").alias("b"))
    e2 = und.select(F.col("u").alias("b"), F.col("w").alias("c"))
    e3 = und.select(F.col("u").alias("a"), F.col("w").alias("c"))
    tri = e1.join(F.broadcast(e2), "b").join(F.broadcast(e3), ["a", "c"])
    tcnt = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("n_tri"))
    )
    return (
        deg.join(tcnt, "node", "left")
        .select(
            F.col("node").cast("long").alias("nationkey"),
            "degree",
            F.coalesce(F.col("n_tri"), F.lit(0)).cast("long").alias("n_triangles"),
            F.expr(
                "CASE WHEN degree >= 2"
                " THEN coalesce(n_tri, 0) * 2000000 div (degree * (degree - 1))"
                " ELSE 0 END"
            ).cast("long").alias("cc_ppm"),
        )
    )
