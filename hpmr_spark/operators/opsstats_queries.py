"""Operational / estimation statistics (round 6, wave 6):

- delete_cascade_audit: right-to-be-forgotten dry run — delete the
  hash-selected 5% of customers and report the cascade: orphaned
  orders/lineitems and the revenue share (ppm, int128) that leaves
  with them. Pure anti-join arithmetic, no writes.
- theil_u2_seasonal: Theil's U2 of the seasonal-naive (t−7) daily
  revenue forecast against the random-walk (t−1) baseline — both SSE
  sums exact int128 over the calendar-bounded day frame (rn-equi lag
  joins on the bucketed builder), the ratio one final double sqrt.
- capture_recapture_estimate: Lincoln-Petersen population estimate of
  distinct users from two INDEPENDENT 10% event samples (committed
  hash coins c1/c2): N̂ = n1·n2 div m, emitted next to the exact
  distinct count and the signed error ppm — the estimator itself is
  hash-checked.
- hhi_concentration_ppm: Herfindahl-Hirschman market-concentration
  index of customer revenue shares per region: Σ share² in ppm via
  per-customer int128 cross-multiplication (Σ c_i²·1e6 div C²).
- sql_named_window_clause: the SQL `WINDOW w AS (...)` named-window
  surface (one definition, three over-clauses) — canonicalizes to the
  same plan as inline windows; partitioned by o_orderpriority.

Scale notes (100 TB): cascade/hhi/capture are fact passes into
bounded rollups; theil rides the persisted day frame.

Reference parity: beyond the reference kv kernel
(/root/reference/src/hpmr.h:1-10) along the brief's analytics axis.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import functions as F

from hpmr_spark.catalog import _t, register
from hpmr_spark.engine import materialize
from hpmr_spark.functions.hashing import hash60, sql_hash60
from hpmr_spark.functions.ranking import global_order_multi
from hpmr_spark.sources.tables import load_events

# ---------------------------------------------------------------------------
# Delete-cascade (right-to-be-forgotten) audit.
# ---------------------------------------------------------------------------

_DEL_PRED_SQL = sql_hash60("'del|' || CAST(c_custkey AS VARCHAR)") + " % 20 = 0"

_CASCADE_ORACLE = f"""
    WITH del AS (
      SELECT c_custkey FROM customer WHERE {_DEL_PRED_SQL}
    ),
    o AS (
      SELECT o_orderkey, CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
             CASE WHEN o_custkey IN (SELECT c_custkey FROM del)
                  THEN 1 ELSE 0 END AS gone
      FROM orders
    ),
    li AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_lineitems_gone
      FROM lineitem l JOIN o ON o.o_orderkey = l.l_orderkey
      WHERE o.gone = 1
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM del) AS n_customers_deleted,
           CAST(SUM(gone) AS BIGINT) AS n_orders_gone,
           li.n_lineitems_gone,
           CAST(SUM(CASE WHEN gone = 1 THEN cents ELSE 0 END) AS BIGINT)
             AS revenue_gone_cents,
           CAST(CAST(SUM(CASE WHEN gone = 1 THEN cents ELSE 0 END) AS HUGEINT)
                * 1000000 // CAST(SUM(cents) AS HUGEINT) AS BIGINT)
             AS revenue_gone_ppm
    FROM o, li
    GROUP BY li.n_lineitems_gone
"""


@register("delete_cascade_audit", _CASCADE_ORACLE)
def delete_cascade_audit(spark, sf_dir):
    """Right-to-be-forgotten cascade dry run — see module docstring.
    Output: one row."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    dele = c.where(
        hash60(F.concat(F.lit("del|"), F.col("c_custkey").cast("string"))) % 20 == 0
    ).select("c_custkey")
    nd = dele.agg(F.count(F.lit(1)).cast("long").alias("n_customers_deleted"))
    om = materialize(
        o.join(
            F.broadcast(dele.withColumn("g", F.lit(1))),
            o["o_custkey"] == dele["c_custkey"],
            "left",
        )
        .select(
            "o_orderkey",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
            F.coalesce(F.col("g"), F.lit(0)).alias("gone"),
        ),
        StorageLevel.MEMORY_AND_DISK,  # order agg + lineitem join
    )
    lig = (
        li.join(
            om.where(F.col("gone") == 1).select("o_orderkey"),
            li["l_orderkey"] == om["o_orderkey"],
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_lineitems_gone"))
    )
    agg = om.agg(
        F.sum("gone").cast("long").alias("n_orders_gone"),
        F.sum(F.when(F.col("gone") == 1, F.col("cents")).otherwise(0))
        .cast("long")
        .alias("revenue_gone_cents"),
        F.sum("cents").cast("long").alias("_total_cents"),
    )
    return (
        agg.crossJoin(F.broadcast(nd))
        .crossJoin(F.broadcast(lig))
        .select(
            "n_customers_deleted",
            "n_orders_gone",
            "n_lineitems_gone",
            "revenue_gone_cents",
            F.expr(
                "CAST(CAST(revenue_gone_cents AS DECIMAL(38,0)) * 1000000"
                " div CAST(_total_cents AS DECIMAL(38,0)) AS BIGINT)"
            ).alias("revenue_gone_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Theil's U2 of the seasonal-naive forecast vs the random walk.
# ---------------------------------------------------------------------------

_THEILU_ORACLE = """
    WITH day AS MATERIALIZED (
      SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY 1
    ),
    e AS MATERIALIZED (
      SELECT cents, ROW_NUMBER() OVER (ORDER BY d) AS rn FROM day
    ),
    p AS (
      SELECT a.cents AS y, b.cents AS y1, c.cents AS y7
      FROM e a JOIN e b ON b.rn = a.rn - 1
               JOIN e c ON c.rn = a.rn - 7
    ),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(CAST(SUM(CAST(y - y7 AS HUGEINT) * (y - y7)) AS HUGEINT)
                  // 1000000 AS BIGINT) AS ss7m,
             CAST(CAST(SUM(CAST(y - y1 AS HUGEINT) * (y - y1)) AS HUGEINT)
                  // 1000000 AS BIGINT) AS ss1m
      FROM p
    )
    SELECT n AS n_days,
           ss7m AS sse_seasonal_m,
           ss1m AS sse_randomwalk_m,
           SQRT(CAST(ss7m AS DOUBLE) / CAST(ss1m AS DOUBLE)) AS theil_u2
    FROM m
"""


@register("theil_u2_seasonal", _THEILU_ORACLE)
def theil_u2_seasonal(spark, sf_dir):
    """Theil's U2 of seasonal-naive (t−7) vs random walk (t−1) on daily
    revenue — see module docstring. Output: one row."""
    day = (
        _t(spark, sf_dir, "orders")
        .groupBy(
            F.unix_date(F.col("o_orderdate").cast("date")).cast("long").alias("d")
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("cents"),
        )
    )
    e = materialize(
        global_order_multi(day, ["d"], rn_out="rn").select("rn", "cents"),
        StorageLevel.MEMORY_AND_DISK,  # three lag consumers
    )
    b1 = e.select((F.col("rn") + 1).alias("rn"), F.col("cents").alias("y1"))
    b7 = e.select((F.col("rn") + 7).alias("rn"), F.col("cents").alias("y7"))
    p = e.join(b1, "rn").join(b7, "rn").select(
        F.col("cents").alias("y"), "y1", "y7"
    )
    m = p.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.expr(
            "CAST(CAST(SUM(CAST(y - y7 AS DECIMAL(38,0)) * (y - y7))"
            " AS DECIMAL(38,0)) div 1000000 AS BIGINT)"
        ).alias("ss7m"),
        F.expr(
            "CAST(CAST(SUM(CAST(y - y1 AS DECIMAL(38,0)) * (y - y1))"
            " AS DECIMAL(38,0)) div 1000000 AS BIGINT)"
        ).alias("ss1m"),
    )
    return m.select(
        F.col("n").alias("n_days"),
        F.col("ss7m").alias("sse_seasonal_m"),
        F.col("ss1m").alias("sse_randomwalk_m"),
        F.expr("SQRT(CAST(ss7m AS DOUBLE) / CAST(ss1m AS DOUBLE))").alias(
            "theil_u2"
        ),
    )


# ---------------------------------------------------------------------------
# Lincoln-Petersen capture-recapture estimate of distinct users.
# ---------------------------------------------------------------------------

_CR_C1 = sql_hash60("'c1|' || CAST(event_id AS VARCHAR)") + " % 10 = 0"
_CR_C2 = sql_hash60("'c2|' || CAST(event_id AS VARCHAR)") + " % 10 = 0"

_CAPTURE_ORACLE = f"""
    WITH s1 AS (SELECT DISTINCT user_id FROM events WHERE {_CR_C1}),
    s2 AS (SELECT DISTINCT user_id FROM events WHERE {_CR_C2}),
    mm AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS m
      FROM s1 JOIN s2 ON s2.user_id = s1.user_id
    ),
    nn AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM s1) AS n1,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM s2) AS n2,
             (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) FROM events)
               AS n_exact
    )
    SELECT nn.n1, nn.n2, mm.m, nn.n_exact,
           CAST(CAST(nn.n1 AS HUGEINT) * nn.n2
                // GREATEST(mm.m, 1) AS BIGINT) AS n_estimate,
           CAST((CAST(nn.n1 AS HUGEINT) * nn.n2 // GREATEST(mm.m, 1)
                 - nn.n_exact) * 1000000
                // CAST(nn.n_exact AS HUGEINT) AS BIGINT) AS err_ppm
    FROM nn, mm
"""


@register("capture_recapture_estimate", _CAPTURE_ORACLE)
def capture_recapture_estimate(spark, sf_dir):
    """Lincoln-Petersen distinct-user estimate from two 10% event
    samples — see module docstring. Output: one row."""
    ev = load_events(spark, sf_dir)
    eid = F.col("event_id").cast("string")
    s1 = (
        ev.where(hash60(F.concat(F.lit("c1|"), eid)) % 10 == 0)
        .select("user_id")
        .distinct()
    )
    s2 = (
        ev.where(hash60(F.concat(F.lit("c2|"), eid)) % 10 == 0)
        .select(F.col("user_id").alias("u2"))
        .distinct()
    )
    mm = s1.join(s2, s1["user_id"] == s2["u2"]).agg(
        F.count(F.lit(1)).cast("long").alias("m")
    )
    n1 = s1.agg(F.count(F.lit(1)).cast("long").alias("n1"))
    n2 = s2.agg(F.count(F.lit(1)).cast("long").alias("n2"))
    ne = ev.agg(F.countDistinct("user_id").cast("long").alias("n_exact"))
    return (
        n1.crossJoin(F.broadcast(n2))
        .crossJoin(F.broadcast(mm))
        .crossJoin(F.broadcast(ne))
        .select(
            "n1",
            "n2",
            "m",
            "n_exact",
            F.expr(
                "CAST(CAST(n1 AS DECIMAL(38,0)) * n2"
                " div GREATEST(m, 1) AS BIGINT)"
            ).alias("n_estimate"),
            F.expr(
                "CAST((CAST(n1 AS DECIMAL(38,0)) * n2 div GREATEST(m, 1)"
                " - n_exact) * 1000000"
                " div CAST(n_exact AS DECIMAL(38,0)) AS BIGINT)"
            ).alias("err_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Herfindahl-Hirschman concentration of customer revenue per region.
# ---------------------------------------------------------------------------

_HHI_ORACLE = """
    WITH cr AS (
      SELECT r.r_name AS region, o.o_custkey AS cust,
             CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      GROUP BY 1, 2
    ),
    t AS (
      SELECT region, CAST(SUM(cents) AS BIGINT) AS total,
             CAST(SUM(CAST(cents AS HUGEINT) * cents) AS HUGEINT) AS sq,
             CAST(COUNT(*) AS BIGINT) AS n_customers
      FROM cr GROUP BY region
    )
    SELECT region, n_customers,
           CAST(CAST(sq AS HUGEINT) * 1000000
                // (CAST(total AS HUGEINT) * total) AS BIGINT) AS hhi_ppm
    FROM t
"""


@register("hhi_concentration_ppm", _HHI_ORACLE)
def hhi_concentration_ppm(spark, sf_dir):
    """HHI of customer revenue shares per region — see module docstring.
    Output: one row per region (region, n_customers, hhi_ppm)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    cr = (
        o.join(c, c["c_custkey"] == o["o_custkey"])
        .join(F.broadcast(n), n["n_nationkey"] == c["c_nationkey"])
        .join(F.broadcast(r), r["r_regionkey"] == n["n_regionkey"])
        .groupBy(F.col("r_name").alias("region"), F.col("o_custkey").alias("cust"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    t = cr.groupBy("region").agg(
        F.sum("cents").cast("long").alias("total"),
        F.expr(
            "CAST(SUM(CAST(cents AS DECIMAL(38,0)) * cents) AS DECIMAL(38,0))"
        ).alias("sq"),
        F.count(F.lit(1)).cast("long").alias("n_customers"),
    )
    return t.select(
        "region",
        "n_customers",
        F.expr(
            "CAST(sq * 1000000 div (CAST(total AS DECIMAL(38,0)) * total)"
            " AS BIGINT)"
        ).alias("hhi_ppm"),
    )


# ---------------------------------------------------------------------------
# SQL named-WINDOW clause surface.
# ---------------------------------------------------------------------------

_NAMED_WINDOW_SQL = """
    SELECT o_orderkey,
           o_orderpriority,
           CAST(ROW_NUMBER() OVER w AS BIGINT) AS rn,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) OVER wf
             AS BIGINT) AS running_cents,
           CAST(COUNT(*) OVER wp AS BIGINT) AS n_in_priority
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_orderkey),
           wf AS (PARTITION BY o_orderpriority ORDER BY o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           wp AS (PARTITION BY o_orderpriority)
"""

_NAMED_WINDOW_ORACLE = f"""
    SELECT * FROM ({_NAMED_WINDOW_SQL})
    WHERE rn <= 20
"""


@register("sql_named_window_clause", _NAMED_WINDOW_ORACLE)
def sql_named_window_clause(spark, sf_dir):
    """SQL `WINDOW w AS (...)` named-window clause — one definition,
    reused by a row_number and an explicit-frame running sum, planned
    identically to inline windows on both engines; output limited to
    each priority's first 20 orders (deterministic unique ordering).
    The windows are PARTITIONED by o_orderpriority — never global."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders_nw")
    return spark.sql(
        _NAMED_WINDOW_SQL.replace("FROM orders", "FROM orders_nw")
    ).where(F.col("rn") <= 20)
