"""Time-series batch 4 (round 6): additive seasonal decomposition,
Western-Electric control-chart rules, and LTTB downsampling over the
daily revenue series — the remaining monitoring/visualization primitives
next to the round-5 ACF/Mann-Kendall/rolling family.

All three run on the calendar-bounded DAILY rollup (one fact-keyed
aggregation is the only fact-scale shuffle; the day frame is ~2.4k rows
at ANY data scale, so banded self-joins and the sequential LTTB fold are
bounded work — the round-5 scale-free rollup pattern, SCALE.md).

Disciplines (CLAUDE.md): money → integer cents; trend/seasonal means are
integer floor divisions (Spark `div` ≡ DuckDB `//`, both truncate toward
zero — incl. the NEGATIVE detrended sums); sigma thresholds are int128
cross-multiplications (dv² > k²·(nQ−S²), never a sqrt); weekday is the
engine-neutral (d+3)%7 (Monday=0); LTTB triangle areas are exact integer
cross products with (area DESC, d ASC) tie-break.

Reference parity: beyond the reference kv kernel
(/root/reference/src/hpmr.h:1-10) along the brief's analytics axis.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import functions as F

from hpmr_spark.catalog import register
from hpmr_spark.engine import materialize
from hpmr_spark.sources.derived import SQL_DAILY_REVENUE, daily_revenue

# ---------------------------------------------------------------------------
# Additive seasonal decomposition: value = trend + seasonal + residual.
# ---------------------------------------------------------------------------
_SEASONAL_ORACLE = f"""
    WITH day AS MATERIALIZED ({SQL_DAILY_REVENUE}),
    tr AS (
      SELECT a.d, a.cents,
             CAST(SUM(CAST(b.cents AS HUGEINT)) // 7 AS BIGINT) AS trend_cents,
             COUNT(*) AS w
      FROM day a JOIN day b ON b.d BETWEEN a.d - 3 AND a.d + 3
      GROUP BY a.d, a.cents
    ),
    det AS MATERIALIZED (
      SELECT d, cents, trend_cents, cents - trend_cents AS det
      FROM tr WHERE w = 7
    ),
    seas AS (
      SELECT (d + 3) % 7 AS wd,
             CAST(CAST(SUM(CAST(det AS HUGEINT)) AS HUGEINT) // COUNT(*)
                  AS BIGINT) AS seasonal_cents
      FROM det GROUP BY 1
    )
    SELECT t.d, t.cents, t.trend_cents, s.seasonal_cents,
           CAST(t.det - s.seasonal_cents AS BIGINT) AS resid_cents
    FROM det t JOIN seas s ON s.wd = (t.d + 3) % 7
    ORDER BY t.d
"""


@register("seasonal_decompose_additive", _SEASONAL_ORACLE)
def seasonal_decompose_additive(spark, sf_dir):
    """Classic additive decomposition of daily revenue: trend = centered
    7-day moving average (only days with a FULL ±3 calendar window emit —
    gap-robust by construction), seasonal = per-weekday mean of the
    detrended series ((d+3)%7, Monday=0 — engine-neutral), residual = the
    rest. Means are integer floor divisions; the detrended sums can be
    NEGATIVE — Spark div and DuckDB // both truncate toward zero
    (verified round 5), so no sign-split is needed. The day rollup is
    persisted (trend join a/b sides + weekday agg + final join = 4
    consumers, no cross-tree CSE)."""
    day = materialize(daily_revenue(spark, sf_dir), StorageLevel.MEMORY_AND_DISK)
    a = day.select(F.col("d").alias("ad"), F.col("cents").alias("ac"))
    b = day.select(F.col("d").alias("bd"), F.col("cents").alias("bc"))
    tr = (
        a.join(b, (F.col("bd") >= F.col("ad") - 3) & (F.col("bd") <= F.col("ad") + 3))
        .groupBy("ad", "ac")
        .agg(
            F.expr("CAST(SUM(CAST(bc AS DECIMAL(38,0))) div 7 AS BIGINT)").alias(
                "trend_cents"
            ),
            F.count(F.lit(1)).alias("w"),
        )
    )
    det = tr.where(F.col("w") == 7).select(
        F.col("ad").alias("d"),
        F.col("ac").alias("cents"),
        "trend_cents",
        (F.col("ac") - F.col("trend_cents")).alias("det"),
    )
    seas = det.groupBy(((F.col("d") + 3) % 7).alias("wd")).agg(
        F.expr(
            "CAST(CAST(SUM(CAST(det AS DECIMAL(38,0))) AS DECIMAL(38,0))"
            " div COUNT(*) AS BIGINT)"
        ).alias("seasonal_cents")
    )
    return (
        det.join(seas, ((F.col("d") + 3) % 7) == F.col("wd"))
        .select(
            "d",
            "cents",
            "trend_cents",
            "seasonal_cents",
            (F.col("det") - F.col("seasonal_cents")).cast("long").alias("resid_cents"),
        )
        .orderBy("d")
    )


# ---------------------------------------------------------------------------
# Western-Electric control-chart rules.
# ---------------------------------------------------------------------------
_WE_ORACLE = f"""
    WITH day AS MATERIALIZED ({SQL_DAILY_REVENUE}),
    mom AS (
      SELECT CAST(COUNT(*) AS HUGEINT) AS n,
             CAST(SUM(CAST(cents AS HUGEINT)) AS HUGEINT) AS s,
             CAST(SUM(CAST(cents AS HUGEINT) * cents) AS HUGEINT) AS q
      FROM day
    ),
    dev AS MATERIALIZED (
      SELECT d.d, d.cents,
             m.n * d.cents - m.s AS dv,
             m.n * m.q - m.s * m.s AS var_nn
      FROM day d, mom m
    ),
    fl AS (
      SELECT a.d, a.cents, a.dv, a.var_nn,
             SUM(CASE WHEN b.d >= a.d - 2 THEN 1 ELSE 0 END) AS cnt3,
             SUM(CASE WHEN b.d >= a.d - 2 AND b.dv > 0
                       AND b.dv * b.dv > 4 * a.var_nn THEN 1 ELSE 0 END) AS up2,
             SUM(CASE WHEN b.d >= a.d - 2 AND b.dv < 0
                       AND b.dv * b.dv > 4 * a.var_nn THEN 1 ELSE 0 END) AS dn2,
             SUM(CASE WHEN b.d >= a.d - 4 THEN 1 ELSE 0 END) AS cnt5,
             SUM(CASE WHEN b.d >= a.d - 4 AND b.dv > 0
                       AND b.dv * b.dv > 1 * a.var_nn THEN 1 ELSE 0 END) AS up1,
             SUM(CASE WHEN b.d >= a.d - 4 AND b.dv < 0
                       AND b.dv * b.dv > 1 * a.var_nn THEN 1 ELSE 0 END) AS dn1,
             SUM(1) AS cnt8,
             SUM(CASE WHEN b.dv > 0 THEN 1 ELSE 0 END) AS up0,
             SUM(CASE WHEN b.dv < 0 THEN 1 ELSE 0 END) AS dn0
      FROM dev a JOIN dev b ON b.d BETWEEN a.d - 7 AND a.d
      GROUP BY a.d, a.cents, a.dv, a.var_nn
    )
    SELECT d, cents,
           CAST(CASE WHEN dv > 0 THEN 1 WHEN dv < 0 THEN -1 ELSE 0 END
                AS BIGINT) AS side,
           CAST(CASE WHEN dv * dv > 9 * var_nn THEN 1 ELSE 0 END AS BIGINT)
             AS r1_beyond_3s,
           CAST(CASE WHEN cnt3 = 3 AND (up2 >= 2 OR dn2 >= 2) THEN 1 ELSE 0 END
                AS BIGINT) AS r2_2of3_beyond_2s,
           CAST(CASE WHEN cnt5 = 5 AND (up1 >= 4 OR dn1 >= 4) THEN 1 ELSE 0 END
                AS BIGINT) AS r3_4of5_beyond_1s,
           CAST(CASE WHEN cnt8 = 8 AND (up0 = 8 OR dn0 = 8) THEN 1 ELSE 0 END
                AS BIGINT) AS r4_8_same_side
    FROM fl ORDER BY d
"""


@register("control_chart_we_rules", _WE_ORACLE)
def control_chart_we_rules(spark, sf_dir):
    """Western-Electric rules over the daily revenue control chart:
    R1 point beyond ±3σ; R2 ≥2 of the trailing 3 CALENDAR days beyond 2σ
    same side; R3 ≥4 of 5 beyond 1σ same side; R4 all 8 same side.
    Trailing windows are calendar-day bands requiring FULL presence
    (cnt = window size) — a gap disables the rule rather than silently
    shortening it. "Beyond kσ" never computes σ: dv = n·x − S and
    dv² > k²·(nQ − S²) is an exact int128 cross-multiplication
    (DECIMAL(38,0) ≡ HUGEINT — dv² ≈ 6e24 at sf0.1, ceiling 1e38). One
    persisted dev frame feeds the banded self-join (a/b sides)."""
    day = materialize(daily_revenue(spark, sf_dir), StorageLevel.MEMORY_AND_DISK)
    mom = day.agg(
        F.expr("CAST(COUNT(*) AS DECIMAL(38,0))").alias("n"),
        F.expr("CAST(SUM(CAST(cents AS DECIMAL(38,0))) AS DECIMAL(38,0))").alias(
            "s"
        ),
        F.expr(
            "CAST(SUM(CAST(cents AS DECIMAL(38,0)) * cents) AS DECIMAL(38,0))"
        ).alias("q"),
    )
    dev = (
        day.crossJoin(F.broadcast(mom))
        .select(
            "d",
            "cents",
            F.expr("n * cents - s").alias("dv"),
            F.expr("n * q - s * s").alias("var_nn"),
        )
    )
    a = dev.select(
        F.col("d").alias("ad"),
        F.col("cents").alias("ac"),
        F.col("dv").alias("adv"),
        F.col("var_nn").alias("avar"),
    )
    b = dev.select(F.col("d").alias("bd"), F.col("dv").alias("bdv"))
    in3 = F.col("bd") >= F.col("ad") - 2
    in5 = F.col("bd") >= F.col("ad") - 4
    b2 = F.expr("bdv * bdv > 4 * avar")
    b1 = F.expr("bdv * bdv > 1 * avar")
    one = F.lit(1)
    zero = F.lit(0)
    fl = (
        a.join(b, (F.col("bd") >= F.col("ad") - 7) & (F.col("bd") <= F.col("ad")))
        .groupBy("ad", "ac", "adv", "avar")
        .agg(
            F.sum(F.when(in3, one).otherwise(zero)).alias("cnt3"),
            F.sum(F.when(in3 & (F.col("bdv") > 0) & b2, one).otherwise(zero)).alias(
                "up2"
            ),
            F.sum(F.when(in3 & (F.col("bdv") < 0) & b2, one).otherwise(zero)).alias(
                "dn2"
            ),
            F.sum(F.when(in5, one).otherwise(zero)).alias("cnt5"),
            F.sum(F.when(in5 & (F.col("bdv") > 0) & b1, one).otherwise(zero)).alias(
                "up1"
            ),
            F.sum(F.when(in5 & (F.col("bdv") < 0) & b1, one).otherwise(zero)).alias(
                "dn1"
            ),
            F.count(one).alias("cnt8"),
            F.sum(F.when(F.col("bdv") > 0, one).otherwise(zero)).alias("up0"),
            F.sum(F.when(F.col("bdv") < 0, one).otherwise(zero)).alias("dn0"),
        )
    )
    return fl.select(
        F.col("ad").alias("d"),
        F.col("ac").alias("cents"),
        F.expr(
            "CAST(CASE WHEN adv > 0 THEN 1 WHEN adv < 0 THEN -1 ELSE 0 END"
            " AS BIGINT)"
        ).alias("side"),
        F.expr("CAST(CASE WHEN adv * adv > 9 * avar THEN 1 ELSE 0 END AS BIGINT)")
        .alias("r1_beyond_3s"),
        F.expr(
            "CAST(CASE WHEN cnt3 = 3 AND (up2 >= 2 OR dn2 >= 2)"
            " THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("r2_2of3_beyond_2s"),
        F.expr(
            "CAST(CASE WHEN cnt5 = 5 AND (up1 >= 4 OR dn1 >= 4)"
            " THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("r3_4of5_beyond_1s"),
        F.expr(
            "CAST(CASE WHEN cnt8 = 8 AND (up0 = 8 OR dn0 = 8)"
            " THEN 1 ELSE 0 END AS BIGINT)"
        ).alias("r4_8_same_side"),
    ).orderBy("d")


# ---------------------------------------------------------------------------
# LTTB downsampling to 12 points.
# ---------------------------------------------------------------------------
_LTTB_N = 12  # first + 10 middle buckets + last


def _lttb_oracle() -> str:
    ctes = [
        f"day AS MATERIALIZED ({SQL_DAILY_REVENUE})",
        "bounds AS MATERIALIZED (SELECT MIN(d) AS dmin, MAX(d) AS dmax FROM day)",
        "firstp AS MATERIALIZED (SELECT d, cents FROM day, bounds WHERE d = dmin)",
        "lastp AS MATERIALIZED (SELECT d, cents FROM day, bounds WHERE d = dmax)",
        "mid AS MATERIALIZED (SELECT d, cents,"
        " CAST(((d - dmin - 1) * 10) // (dmax - dmin - 1) AS BIGINT) AS b"
        " FROM day, bounds WHERE d > dmin AND d < dmax)",
    ]
    for t in range(10):
        if t < 9:
            ctes.append(
                f"tgt{t} AS MATERIALIZED (SELECT"
                f" CAST(SUM(CAST(d AS HUGEINT)) // COUNT(*) AS BIGINT) AS ax,"
                f" CAST(SUM(CAST(cents AS HUGEINT)) // COUNT(*) AS BIGINT) AS ay"
                f" FROM mid WHERE b = {t + 1})"
            )
        else:
            ctes.append(
                f"tgt{t} AS MATERIALIZED (SELECT d AS ax, cents AS ay FROM lastp)"
            )
        prev = "firstp" if t == 0 else f"s{t}"
        ctes.append(
            f"s{t + 1} AS MATERIALIZED (SELECT p.d, p.cents"
            f" FROM mid p, {prev} prev, tgt{t} c WHERE p.b = {t}"
            f" ORDER BY abs((prev.d - c.ax) * (p.cents - prev.cents)"
            f" - (prev.d - p.d) * (c.ay - prev.cents)) DESC, p.d ASC"
            f" LIMIT 1)"
        )
    finals = ["SELECT CAST(0 AS BIGINT) AS pt_idx, d, cents FROM firstp"]
    finals += [
        f"SELECT CAST({t} AS BIGINT), d, cents FROM s{t}" for t in range(1, 11)
    ]
    finals.append("SELECT CAST(11 AS BIGINT), d, cents FROM lastp")
    return (
        "WITH " + ", ".join(ctes) + " " + " UNION ALL ".join(finals)
        + " ORDER BY pt_idx"
    )


@register("lttb_downsample_12", _lttb_oracle())
def lttb_downsample_12(spark, sf_dir):
    """Largest-Triangle-Three-Buckets downsampling of the daily revenue
    series to 12 points: first/last anchored, 10 equal middle buckets,
    each contributing the point maximizing the triangle area against the
    PREVIOUSLY selected point and the NEXT bucket's (floored) average —
    the standard dashboard decimation. The prev-selected dependency makes
    the fold irreducibly sequential → grouped-pandas fold over the
    calendar-bounded rollup (single bounded group, the holt/token-bucket
    pattern); the oracle unrolls 10 chained MATERIALIZED CTEs (DuckDB
    inlines plain CTEs exponentially — CLAUDE.md round 6). Areas are
    exact integer cross products; ties break to the LOWEST day. Assumes
    every middle bucket is non-empty (true for this corpus at all SFs;
    a production fold would carry prev)."""
    import pandas as pd

    day = daily_revenue(spark, sf_dir)

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        rows = sorted(zip(pdf["d"].tolist(), pdf["cents"].tolist()))
        dmin, dmax = rows[0][0], rows[-1][0]
        mid = [
            (d, c, ((d - dmin - 1) * 10) // (dmax - dmin - 1))
            for d, c in rows
            if dmin < d < dmax
        ]
        out = [(0, dmin, rows[0][1])]
        px, py = rows[0]
        for t in range(10):
            bucket = [(d, c) for d, c, b in mid if b == t]
            if t < 9:
                nxt = [(d, c) for d, c, b in mid if b == t + 1]
                ax = sum(d for d, _ in nxt) // len(nxt)
                ay = sum(c for _, c in nxt) // len(nxt)
            else:
                ax, ay = rows[-1]
            best = max(
                bucket,
                key=lambda p: (
                    abs((px - ax) * (p[1] - py) - (px - p[0]) * (ay - py)),
                    -p[0],
                ),
            )
            out.append((t + 1, best[0], best[1]))
            px, py = best
        out.append((11, dmax, rows[-1][1]))
        return pd.DataFrame(out, columns=["pt_idx", "d", "cents"])

    return (
        day.withColumn("g", F.lit(0))
        .groupBy("g")
        .applyInPandas(
            lambda pdf: fold(pdf), schema="pt_idx long, d long, cents long"
        )
        .orderBy("pt_idx")
    )


# ---------------------------------------------------------------------------
# Seasonal anomaly days: decomposition residual vs 3x MAD.
# ---------------------------------------------------------------------------
_ANOM_ORACLE = f"""
    WITH day AS MATERIALIZED ({SQL_DAILY_REVENUE}),
    tr AS (
      SELECT a.d, a.cents,
             CAST(SUM(CAST(b.cents AS HUGEINT)) // 7 AS BIGINT) AS trend_cents,
             COUNT(*) AS w
      FROM day a JOIN day b ON b.d BETWEEN a.d - 3 AND a.d + 3
      GROUP BY a.d, a.cents
    ),
    det AS MATERIALIZED (
      SELECT d, cents, trend_cents, cents - trend_cents AS det
      FROM tr WHERE w = 7
    ),
    seas AS (
      SELECT (d + 3) % 7 AS wd,
             CAST(CAST(SUM(CAST(det AS HUGEINT)) AS HUGEINT) // COUNT(*)
                  AS BIGINT) AS seasonal_cents
      FROM det GROUP BY 1
    ),
    r AS MATERIALIZED (
      SELECT t.d, t.cents,
             CAST(t.det - s.seasonal_cents AS BIGINT) AS resid
      FROM det t JOIN seas s ON s.wd = (t.d + 3) % 7
    ),
    med AS (
      SELECT a AS mad FROM (
        SELECT ABS(resid) AS a,
               ROW_NUMBER() OVER (ORDER BY ABS(resid), d) AS rn
        FROM r
      ) x, (SELECT COUNT(*) AS n FROM r) t
      WHERE rn = (t.n + 1) // 2
    )
    SELECT r.d, r.cents, r.resid,
           CAST(CASE WHEN r.resid > 0 THEN 1 WHEN r.resid < 0 THEN -1
                ELSE 0 END AS BIGINT) AS side,
           CAST(CASE WHEN ABS(r.resid) > 3 * med.mad THEN 1 ELSE 0 END
                AS BIGINT) AS is_anomaly
    FROM r, med ORDER BY r.d
"""


@register("seasonal_anomaly_days", _ANOM_ORACLE)
def seasonal_anomaly_days(spark, sf_dir):
    """Seasonal-residual anomaly detection: decompose daily revenue
    (trend = full-window 7-day average, weekday seasonal means — the
    seasonal_decompose_additive construction), then flag days whose
    residual exceeds 3× the LOWER-median absolute residual (exact
    integer MAD — rank (n+1) div 2 under the (|resid|, d) total order,
    found by a broadcast non-equi self-join on the calendar-bounded
    frame, never a global window). Integer comparisons throughout; the
    residual frame is persisted (rank join a/b + count + final = 4
    consumers)."""
    day = materialize(daily_revenue(spark, sf_dir), StorageLevel.MEMORY_AND_DISK)
    a = day.select(F.col("d").alias("ad"), F.col("cents").alias("ac"))
    b = day.select(F.col("d").alias("bd"), F.col("cents").alias("bc"))
    tr = (
        a.join(b, (F.col("bd") >= F.col("ad") - 3) & (F.col("bd") <= F.col("ad") + 3))
        .groupBy("ad", "ac")
        .agg(
            F.expr("CAST(SUM(CAST(bc AS DECIMAL(38,0))) div 7 AS BIGINT)").alias(
                "trend_cents"
            ),
            F.count(F.lit(1)).alias("w"),
        )
    )
    det = tr.where(F.col("w") == 7).select(
        F.col("ad").alias("d"),
        F.col("ac").alias("cents"),
        (F.col("ac") - F.col("trend_cents")).alias("det"),
    )
    seas = det.groupBy(((F.col("d") + 3) % 7).alias("wd")).agg(
        F.expr(
            "CAST(CAST(SUM(CAST(det AS DECIMAL(38,0))) AS DECIMAL(38,0))"
            " div COUNT(*) AS BIGINT)"
        ).alias("seasonal_cents")
    )
    r = materialize(
        det.join(seas, ((F.col("d") + 3) % 7) == F.col("wd"))
        .select(
            "d",
            "cents",
            (F.col("det") - F.col("seasonal_cents")).cast("long").alias("resid"),
        ),
        StorageLevel.MEMORY_AND_DISK,
    )
    ra = r.select(
        F.col("d").alias("rd"), F.abs(F.col("resid")).alias("ra")
    )
    rb = r.select(
        F.col("d").alias("sd"), F.abs(F.col("resid")).alias("sa")
    )
    rk = (
        ra.join(
            F.broadcast(rb),
            (F.col("sa") < F.col("ra"))
            | ((F.col("sa") == F.col("ra")) & (F.col("sd") < F.col("rd"))),
            "left",
        )
        .groupBy("rd", "ra")
        .agg((F.lit(1) + F.count("sd")).cast("long").alias("rn"))
    )
    n = r.agg(F.count(F.lit(1)).cast("long").alias("n"))
    med = (
        rk.crossJoin(F.broadcast(n))
        .where(F.col("rn") == F.expr("(n + 1) div 2"))
        .select(F.col("ra").alias("mad"))
    )
    return (
        r.crossJoin(F.broadcast(med))
        .select(
            "d",
            "cents",
            "resid",
            F.expr(
                "CAST(CASE WHEN resid > 0 THEN 1 WHEN resid < 0 THEN -1"
                " ELSE 0 END AS BIGINT)"
            ).alias("side"),
            F.expr(
                "CAST(CASE WHEN ABS(resid) > 3 * mad THEN 1 ELSE 0 END"
                " AS BIGINT)"
            ).alias("is_anomaly"),
        )
        .orderBy("d")
    )
