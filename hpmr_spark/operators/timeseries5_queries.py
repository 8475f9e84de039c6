"""Time-series diagnostics, fifth batch (round 6, wave 6):

- dickey_fuller_unit_root: the (non-augmented) Dickey-Fuller
  unit-root regression Δx_t = α + β·x_{t-1} + ε over the daily revenue
  series, with x = the integer-centered, 1e4-scaled cents (x_t =
  (cents_t − Sy div n) div 1e4 — truncating division is engine-
  identical, CLAUDE.md round-5; centering/scale keep every OLS moment
  inside BIGINT through sf100 and leave β and t(β) unchanged, since an
  affine shift of x is absorbed by α and common scaling cancels in t).
  β, its standard error, and the DF t-statistic are one-final-double
  expressions over six exact integer moments (sqrt is IEEE-correctly-
  rounded — portable). Lag pairs come from the bucketed global
  row_number + rn-equi self-join on the persisted day rollup (never a
  global window).
- ransac_line_inliers: deterministic RANSAC line fit over the daily
  revenue series. 32 candidate lines through hash-selected point pairs
  (the top-64 days by (hash60(day), day) paired i ↔ i+32 — committed
  pseudo-randomness, reproducible on both engines); a day is an inlier
  iff |Δd·(c−c1) − Δc·(d−d1)| ≤ τ·|Δd| (cross-multiplied — no
  division) with τ = total_cents div (n_days·5), i.e. 20% of the mean
  daily revenue. Best candidate by (inliers DESC, candidate ASC);
  slope emitted as Δc·1000 div Δd milli-cents/day.

Scale notes (100 TB): both queries do one fact-keyed day aggregation;
all pair work is calendar-bounded (the round-5 rollup pattern; flat
1M→10M in SCALE.md's probes for this family).

Reference parity: beyond the reference kv kernel
(/root/reference/src/hpmr.h:1-10) along the brief's analytics axis.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import functions as F

from hpmr_spark.catalog import _t, register
from hpmr_spark.engine import materialize
from hpmr_spark.functions.hashing import hash60, sql_hash60
from hpmr_spark.functions.ranking import bounded_rank, global_order_multi

_DAY_SQL = """
      SELECT CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT) AS d,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY 1
"""

# ---------------------------------------------------------------------------
# Dickey-Fuller unit-root test on daily revenue.
# ---------------------------------------------------------------------------

_DF_FINAL = {
    "beta": (
        "CAST(np * sxy - sx * sy AS DOUBLE)"
        " / CAST(np * sxx - sx * sx AS DOUBLE)"
    ),
}
_DF_BETA = _DF_FINAL["beta"]
# SSE/(np-2) / Sxx_c, all centered moments spelled inline:
_DF_T = (
    f"({_DF_BETA}) / SQRT("
    "  ((CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)"
    "      / CAST(np AS DOUBLE)"
    f"    - ({_DF_BETA}) * (CAST(sxy AS DOUBLE)"
    "      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) / CAST(np AS DOUBLE)))"
    "   / CAST(np - 2 AS DOUBLE))"
    "  / (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)"
    "      / CAST(np AS DOUBLE)))"
)

_DF_ORACLE = f"""
    WITH day AS MATERIALIZED ({_DAY_SQL}),
    tot AS (SELECT CAST(SUM(cents) AS BIGINT) AS s,
                   CAST(COUNT(*) AS BIGINT) AS n FROM day),
    e AS MATERIALIZED (
      SELECT ROW_NUMBER() OVER (ORDER BY d) AS rn,
             (cents - (SELECT s // n FROM tot)) // 10000 AS xs
      FROM day
    ),
    p AS (
      SELECT b.xs AS xv, a.xs - b.xs AS yv
      FROM e a JOIN e b ON b.rn = a.rn - 1
    ),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS np,
             CAST(SUM(xv) AS BIGINT) AS sx, CAST(SUM(yv) AS BIGINT) AS sy,
             CAST(SUM(xv * xv) AS BIGINT) AS sxx,
             CAST(SUM(xv * yv) AS BIGINT) AS sxy,
             CAST(SUM(yv * yv) AS BIGINT) AS syy
      FROM p
    )
    SELECT np AS n_pairs, {_DF_BETA} AS df_beta, {_DF_T} AS df_t_stat
    FROM m
"""


@register("dickey_fuller_unit_root", _DF_ORACLE)
def dickey_fuller_unit_root(spark, sf_dir):
    """Dickey-Fuller unit-root regression on daily revenue — see module
    docstring. Output: one row (n_pairs, df_beta, df_t_stat)."""
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
    tot = day.agg(
        F.sum("cents").cast("long").alias("s"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    e = materialize(
        global_order_multi(day, ["d"], rn_out="rn")
        .crossJoin(F.broadcast(tot))
        .select("rn", F.expr("(cents - s div n) div 10000").alias("xs")),
        StorageLevel.MEMORY_AND_DISK,  # rn-equi lag join, 2 consumers
    )
    prev = e.select((F.col("rn") + 1).alias("rn"), F.col("xs").alias("xp"))
    p = e.join(prev, "rn").select(
        F.col("xp").alias("xv"), (F.col("xs") - F.col("xp")).alias("yv")
    )
    m = p.agg(
        F.count(F.lit(1)).cast("long").alias("np"),
        F.sum("xv").cast("long").alias("sx"),
        F.sum("yv").cast("long").alias("sy"),
        F.sum(F.expr("xv * xv")).cast("long").alias("sxx"),
        F.sum(F.expr("xv * yv")).cast("long").alias("sxy"),
        F.sum(F.expr("yv * yv")).cast("long").alias("syy"),
    )
    return m.select(
        F.col("np").alias("n_pairs"),
        F.expr(_DF_BETA).alias("df_beta"),
        F.expr(_DF_T).alias("df_t_stat"),
    )


# ---------------------------------------------------------------------------
# Deterministic RANSAC line fit over daily revenue.
# ---------------------------------------------------------------------------

_RANSAC_CAND = 32

_RANSAC_ORACLE = f"""
    WITH day AS MATERIALIZED ({_DAY_SQL}),
    tot AS (SELECT CAST(SUM(cents) AS BIGINT) AS s,
                   CAST(COUNT(*) AS BIGINT) AS n FROM day),
    h AS (
      SELECT d, cents,
             ROW_NUMBER() OVER (
               ORDER BY {sql_hash60("CAST(d AS VARCHAR)")}, d
             ) AS rn
      FROM day
    ),
    cand AS MATERIALIZED (
      SELECT a.rn AS ci, a.d AS d1, a.cents AS c1,
             b.d AS d2, b.cents AS c2,
             b.d - a.d AS dd, b.cents - a.cents AS dc
      FROM h a JOIN h b ON b.rn = a.rn + {_RANSAC_CAND}
      WHERE a.rn <= {_RANSAC_CAND}
    ),
    scored AS (
      SELECT cand.ci, cand.d1, cand.d2, cand.dd, cand.dc,
             CAST(SUM(CASE WHEN ABS(cand.dd * (day.cents - cand.c1)
                                    - cand.dc * (day.d - cand.d1))
                             <= (t.s // (t.n * 5)) * ABS(cand.dd)
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_inliers
      FROM cand CROSS JOIN day CROSS JOIN tot t
      WHERE cand.dd <> 0
      GROUP BY cand.ci, cand.d1, cand.d2, cand.dd, cand.dc
    )
    SELECT CAST(ci AS BIGINT) AS cand_i, CAST(d1 AS BIGINT) AS d1,
           CAST(d2 AS BIGINT) AS d2,
           n_inliers,
           CAST(dc * 1000 // dd AS BIGINT) AS slope_milli
    FROM scored
    ORDER BY n_inliers DESC, ci ASC
    LIMIT 1
"""


@register("ransac_line_inliers", _RANSAC_ORACLE)
def ransac_line_inliers(spark, sf_dir):
    """Deterministic RANSAC line fit over daily revenue — see module
    docstring. Output: one row (cand_i, d1, d2, n_inliers, slope_milli)."""
    day = materialize(
        _t(spark, sf_dir, "orders")
        .groupBy(
            F.unix_date(F.col("o_orderdate").cast("date")).cast("long").alias("d")
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("cents"),
        ),
        StorageLevel.MEMORY_AND_DISK,  # rank + inlier-count consumers
    )
    tot = day.agg(
        F.sum("cents").cast("long").alias("s"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    seeds = (
        day.withColumn("h", hash60(F.col("d").cast("string")))
        .orderBy("h", "d")
        .limit(2 * _RANSAC_CAND)
    )
    ranked = bounded_rank(seeds, "h", "d", primary_desc=False, out="rn")
    a = ranked.where(F.col("rn") <= _RANSAC_CAND).select(
        F.col("rn").alias("ci"), F.col("d").alias("d1"), F.col("cents").alias("c1")
    )
    b = ranked.select(
        (F.col("rn") - _RANSAC_CAND).alias("ci"),
        F.col("d").alias("d2"),
        F.col("cents").alias("c2"),
    ).where(F.col("ci") >= 1)
    cand = (
        a.join(F.broadcast(b), "ci")
        .select(
            "ci", "d1", "c1", "d2", "c2",
            (F.col("d2") - F.col("d1")).alias("dd"),
            (F.col("c2") - F.col("c1")).alias("dc"),
        )
        .where(F.col("dd") != 0)
    )
    scored = (
        day.crossJoin(F.broadcast(cand))
        .crossJoin(F.broadcast(tot))
        .select(
            "ci", "d1", "d2", "dd", "dc",
            F.expr(
                "CASE WHEN ABS(dd * (cents - c1) - dc * (d - d1))"
                " <= (s div (n * 5)) * ABS(dd) THEN 1 ELSE 0 END"
            ).alias("inl"),
        )
        .groupBy("ci", "d1", "d2", "dd", "dc")
        .agg(F.sum("inl").cast("long").alias("n_inliers"))
    )
    best = scored.agg(
        F.max(
            F.struct(
                F.col("n_inliers").alias("ni"),
                (-F.col("ci")).alias("negci"),
                F.col("d1").alias("d1"),
                F.col("d2").alias("d2"),
                F.col("dd").alias("dd"),
                F.col("dc").alias("dc"),
            )
        ).alias("b")
    )
    return best.select(
        (-F.col("b.negci")).cast("long").alias("cand_i"),
        F.col("b.d1").cast("long").alias("d1"),
        F.col("b.d2").cast("long").alias("d2"),
        F.col("b.ni").cast("long").alias("n_inliers"),
        F.expr("CAST(b.dc * 1000 div b.dd AS BIGINT)").alias("slope_milli"),
    )


# ---------------------------------------------------------------------------
# Maximum drawdown of the daily revenue series.
# ---------------------------------------------------------------------------

_MDD_ORACLE = f"""
    WITH day AS MATERIALIZED ({_DAY_SQL}),
    e AS (
      SELECT d, cents,
             CAST(MAX(cents) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS runmax
      FROM day
    )
    SELECT CAST(runmax - cents AS BIGINT) AS max_drawdown_cents,
           CAST(d AS BIGINT) AS trough_day,
           CAST(runmax AS BIGINT) AS peak_cents
    FROM e
    ORDER BY runmax - cents DESC, d ASC
    LIMIT 1
"""


@register("max_drawdown_cents", _MDD_ORACLE)
def max_drawdown_cents(spark, sf_dir):
    """Maximum drawdown (running peak minus value) of daily revenue,
    tie to the earliest trough day. The running max comes from the
    bucketed two-pass builder (functions/ranking.py), never a global
    window. Output: one row (max_drawdown_cents, trough_day,
    peak_cents)."""
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
    e = global_order_multi(
        day, ["d"], rn_out="rn", running=[("cents", "max", False, "runmax")]
    )
    best = e.agg(
        F.max(
            F.struct(
                (F.col("runmax") - F.col("cents")).alias("dd"),
                (-F.col("d")).alias("negd"),
                F.col("runmax").alias("rm"),
            )
        ).alias("b")
    )
    return best.select(
        F.col("b.dd").cast("long").alias("max_drawdown_cents"),
        (-F.col("b.negd")).cast("long").alias("trough_day"),
        F.col("b.rm").cast("long").alias("peak_cents"),
    )
