"""Binary-segmentation changepoint detection (round 6): the 2-level
extension of the single CUSUM changepoint — find the strongest mean
shift in daily revenue, then the strongest shift inside each resulting
half; the classic top-down multiple-changepoint algorithm.

Committed statistic (exact integers): for a segment with local indices
t = 1..m, local prefix sums P_t and segment total S, the split score is
G(t) = |m·P_t − t·S| (the unnormalized CUSUM deviation — cross-
multiplied so no division ever happens); the split is argmax G with
ties to the LOWEST t. Products are int128 (DECIMAL(38,0) ≡ HUGEINT) —
m·P ≈ 6e15 at sf0.1 and grows with cents, so the cast is load-bearing.

Engine shape: one fact-keyed day rollup, ranks/prefixes from the
bucketed two-pass builders (no global window), then three argmax
aggregates over the calendar-bounded frame (max_by over (G, −t) structs)
— flat at any fact scale.

Reference parity: beyond the reference kv kernel
(/root/reference/src/hpmr.h:1-10) along the brief's analytics axis.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import functions as F

from hpmr_spark.catalog import _t, register
from hpmr_spark.engine import materialize
from hpmr_spark.functions.ranking import global_order_multi

_DAY_SQL = """
      SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY 1
"""

_BINSEG_ORACLE = f"""
    WITH day AS MATERIALIZED ({_DAY_SQL}),
    e AS MATERIALIZED (
      SELECT d, cents,
             ROW_NUMBER() OVER (ORDER BY d) AS rn,
             CAST(SUM(CAST(cents AS HUGEINT))
                  OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS HUGEINT) AS p
      FROM day
    ),
    tot AS (SELECT CAST(MAX(rn) AS BIGINT) AS n,
                   CAST(MAX(p) AS HUGEINT) AS s FROM e),
    s1 AS MATERIALIZED (
      SELECT e.rn AS t1, e.d AS d1, e.p AS p1,
             ABS(t.n * e.p - e.rn * t.s) AS g1
      FROM e, tot t WHERE e.rn < t.n
      ORDER BY ABS(t.n * e.p - e.rn * t.s) DESC, e.rn ASC LIMIT 1
    ),
    s2a AS (
      SELECT e.rn AS t2, e.d AS d2,
             ABS(k.t1 * e.p - e.rn * k.p1) AS g2
      FROM e, s1 k WHERE e.rn < k.t1
      ORDER BY ABS(k.t1 * e.p - e.rn * k.p1) DESC, e.rn ASC LIMIT 1
    ),
    s2b AS (
      SELECT e.rn AS t2, e.d AS d2,
             ABS((t.n - k.t1) * (e.p - k.p1)
                 - (e.rn - k.t1) * (t.s - k.p1)) AS g2
      FROM e, s1 k, tot t WHERE e.rn > k.t1 AND e.rn < t.n
      ORDER BY ABS((t.n - k.t1) * (e.p - k.p1)
                   - (e.rn - k.t1) * (t.s - k.p1)) DESC, e.rn ASC LIMIT 1
    )
    SELECT CAST(0 AS BIGINT) AS segment, CAST(t1 AS BIGINT) AS split_rn,
           CAST(d1 AS BIGINT) AS split_d, CAST(g1 AS BIGINT) AS g_value
    FROM s1
    UNION ALL
    SELECT CAST(1 AS BIGINT), CAST(t2 AS BIGINT), CAST(d2 AS BIGINT),
           CAST(g2 AS BIGINT) FROM s2a
    UNION ALL
    SELECT CAST(2 AS BIGINT), CAST(t2 AS BIGINT), CAST(d2 AS BIGINT),
           CAST(g2 AS BIGINT) FROM s2b
    ORDER BY segment
"""


@register("binseg_changepoints_revenue", _BINSEG_ORACLE)
def binseg_changepoints_revenue(spark, sf_dir):
    """Two-level binary segmentation of daily revenue — see module
    docstring. Output: 3 rows (segment 0 = full series, 1 = left half,
    2 = right half) with the split's rank/day/score."""
    day = (
        _t(spark, sf_dir, "orders")
        .groupBy(
            F.unix_date(F.col("o_orderdate").cast("date"))
            .cast("long")
            .alias("d")
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("cents"),
        )
    )
    e = materialize(global_order_multi(
        day.select("d", "cents"),
        ["d"],
        rn_out="rn",
        running=[("cents", "sum", False, "p")],
    ), StorageLevel.MEMORY_AND_DISK)
    tot = e.agg(
        F.max("rn").cast("long").alias("n"),
        F.max(F.expr("CAST(p AS DECIMAL(38,0))")).alias("s"),
    )
    big = lambda c: f"CAST({c} AS DECIMAL(38,0))"

    def argmax(frame, g_expr: str, keep: list[str]):
        return frame.agg(
            F.max(
                F.struct(
                    F.expr(g_expr).alias("g"),
                    (-F.col("rn")).alias("negrn"),
                    *[F.col(k).alias(k) for k in keep],
                )
            ).alias("m")
        ).select(
            F.expr("CAST(0 - m.negrn AS BIGINT)").alias("t"),
            F.expr("CAST(m.g AS BIGINT)").alias("g"),
            *[F.expr(f"m.{k}").alias(k) for k in keep],
        )

    e1 = e.crossJoin(F.broadcast(tot)).where(F.col("rn") < F.col("n"))
    s1 = materialize(argmax(
        e1, f"ABS(n * {big('p')} - rn * s)", ["d", "p"]
    ).select(
        F.col("t").alias("t1"),
        F.col("g").alias("g1"),
        F.col("d").alias("d1"),
        F.expr(f"{big('p')}").alias("p1"),
    ), StorageLevel.MEMORY_AND_DISK)
    left = e.crossJoin(F.broadcast(s1)).where(F.col("rn") < F.col("t1"))
    s2a = argmax(left, f"ABS(t1 * {big('p')} - rn * p1)", ["d"])
    right = (
        e.crossJoin(F.broadcast(s1))
        .crossJoin(F.broadcast(tot))
        .where((F.col("rn") > F.col("t1")) & (F.col("rn") < F.col("n")))
    )
    s2b = argmax(
        right,
        f"ABS((n - t1) * ({big('p')} - p1) - (rn - t1) * (s - p1))",
        ["d"],
    )
    out0 = s1.select(
        F.lit(0).cast("long").alias("segment"),
        F.col("t1").cast("long").alias("split_rn"),
        F.col("d1").cast("long").alias("split_d"),
        F.col("g1").cast("long").alias("g_value"),
    )
    mk = lambda seg, df: df.select(
        F.lit(seg).cast("long").alias("segment"),
        F.col("t").cast("long").alias("split_rn"),
        F.col("d").cast("long").alias("split_d"),
        F.col("g").cast("long").alias("g_value"),
    )
    return out0.unionAll(mk(1, s2a)).unionAll(mk(2, s2b)).orderBy("segment")
