"""Time-series diagnostics batch (round 5): autocorrelation, date-window
rolling median, Mann-Kendall trend test, and the Wald-Wolfowitz runs test
over the daily revenue series — the monitoring statistics a pipeline
computes per data snapshot to detect drift, seasonality, and regime
change before retraining.

Everything runs over the DAILY rollup of orders (one keyed aggregation of
the fact table — the only fact-scale shuffle in the module); the day
frame is calendar-bounded (~2.4k rows for the 7-year TPC-H window) at ANY
data scale, so the pair joins here are bounded-quadratic on a tiny frame,
never on facts.

Disciplines (CLAUDE.md): money → integer cents summed as int128
(DECIMAL(38,0) ≡ HUGEINT); every statistic is ONE final double expression
over exact integer moments (identical text both engines — the
moment-parity commitment, incl. SQRT which is IEEE-correctly-rounded on
both); medians are the LOWER median (element (n+1) div 2 of the sorted
list — no .5 averaging, stays integer); pair signs and run counts are
exact integers.

Reference parity: extends the engine surface beyond the reference's kv
kernel (/root/reference/src/hpmr.h:1-10) along the analytics axis the
brief makes first-class; the daily rollup is the DistMap
combine-on-insert ≡ map-side partial agg mapping
(/root/reference/src/bare_map.h:55-57).
"""

from __future__ import annotations

from functools import reduce

from pyspark import StorageLevel
from pyspark.sql import functions as F

from hpmr_spark.catalog import register
from hpmr_spark.engine import materialize
from hpmr_spark.sources.derived import SQL_DAILY_REVENUE, daily_revenue

# ---------------------------------------------------------------------------
# Autocorrelation function at committed lags.
# ---------------------------------------------------------------------------
_ACF_LAGS = (1, 2, 3, 7)

# One final double expression over exact int128 moments (identical text on
# both engines): with μ = S/n,
#   acf_k = (P − μ(T1+T2) + m·μ²) / (Q − S²/n)
# where P/T1/T2/m come from the lag-k pair join and n/S/Q from the whole
# series. Divisions stay INSIDE the double expression so no integer
# product ever exceeds the int128 moments themselves (scale-safe: P is
# ~Σc² which passes int64 around 10⁵× today's sf but stays inside
# DECIMAL(38,0) beyond any real corpus).
_ACF_EXPR = (
    "(CAST(p AS DOUBLE)"
    " - CAST(s AS DOUBLE) * (CAST(t1 AS DOUBLE) + CAST(t2 AS DOUBLE))"
    " / CAST(n AS DOUBLE)"
    " + CAST(m AS DOUBLE) * CAST(s AS DOUBLE) * CAST(s AS DOUBLE)"
    " / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))"
    " / (CAST(q AS DOUBLE)"
    " - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / CAST(n AS DOUBLE))"
)

_ACF_ORACLE = f"""
    WITH day AS ({SQL_DAILY_REVENUE}),
    mom AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(cents AS HUGEINT)) AS HUGEINT) AS s,
             CAST(SUM(CAST(cents AS HUGEINT) * cents) AS HUGEINT) AS q
      FROM day
    ),
    lags AS (
      SELECT k.lag AS lag,
             CAST(COUNT(*) AS BIGINT) AS m,
             CAST(SUM(CAST(a.cents AS HUGEINT)) AS HUGEINT) AS t1,
             CAST(SUM(CAST(b.cents AS HUGEINT)) AS HUGEINT) AS t2,
             CAST(SUM(CAST(a.cents AS HUGEINT) * b.cents) AS HUGEINT) AS p
      FROM (VALUES (1), (2), (3), (7)) k(lag)
      JOIN day a ON TRUE
      JOIN day b ON b.d = a.d + k.lag
      GROUP BY 1
    )
    SELECT CAST(lag AS BIGINT) AS lag, n, m, {_ACF_EXPR} AS acf
    FROM lags, mom
"""


@register("acf_lags_revenue", _ACF_ORACLE)
def acf_lags_revenue(spark, sf_dir):
    """Autocorrelation of daily revenue at lags 1/2/3/7 — the seasonality
    fingerprint (lag-7 spikes ⇒ weekly cycle) checked before fitting any
    forecaster. Lag-k pairs are days EXACTLY k apart (missing calendar
    days shrink m, never shift it — gap-robust by construction, identical
    predicate both engines). Moments n/S/Q plus per-lag m/T1/T2/P are
    exact int128; each ACF value is ONE double expression over them. The
    day frame is persisted (moments + 4 pair joins = 5 consumers; no
    cross-tree CSE in Catalyst) — calendar-bounded, so the pair joins are
    broadcast-sized at any data scale."""
    day = materialize(daily_revenue(spark, sf_dir), StorageLevel.MEMORY_AND_DISK)
    mom = day.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.expr("CAST(cents AS DECIMAL(38,0))")).alias("s"),
        F.sum(F.expr("CAST(cents AS DECIMAL(38,0)) * cents")).alias("q"),
    )
    a = day.select(F.col("d").alias("ad"), F.col("cents").alias("ac"))
    b = day.select(F.col("d").alias("bd"), F.col("cents").alias("bc"))
    parts = []
    for k in _ACF_LAGS:
        j = (
            a.join(b, F.col("bd") == F.col("ad") + k)
            .agg(
                F.count(F.lit(1)).cast("long").alias("m"),
                F.sum(F.expr("CAST(ac AS DECIMAL(38,0))")).alias("t1"),
                F.sum(F.expr("CAST(bc AS DECIMAL(38,0))")).alias("t2"),
                F.sum(F.expr("CAST(ac AS DECIMAL(38,0)) * bc")).alias("p"),
            )
            .crossJoin(F.broadcast(mom))
            .select(
                F.lit(k).cast("long").alias("lag"),
                "n",
                "m",
                F.expr(_ACF_EXPR).alias("acf"),
            )
        )
        parts.append(j)
    return reduce(lambda x, y: x.unionAll(y), parts)


# ---------------------------------------------------------------------------
# Rolling 7-day median (date-windowed, gap-aware).
# ---------------------------------------------------------------------------
_ROLLMED_ORACLE = f"""
    WITH day AS ({SQL_DAILY_REVENUE})
    SELECT a.d AS d,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(list_extract(list_sort(list(b.cents)),
                CAST((COUNT(*) + 1) // 2 AS BIGINT)) AS BIGINT) AS med_cents
    FROM day a JOIN day b ON b.d BETWEEN a.d - 6 AND a.d
    GROUP BY a.d
"""


@register("rolling_median_7day", _ROLLMED_ORACLE)
def rolling_median_7day(spark, sf_dir):
    """Rolling LOWER median of daily revenue over the trailing 7 CALENDAR
    days (a date-RANGE frame, not a row frame — missing days shrink the
    window, they never pull in stale rows; n_days exposes the effective
    width). The window is a banded self-join on the calendar-bounded day
    frame (BroadcastNestedLoop on ≤2.4k rows — bounded at any data
    scale); per-day median = element (w+1) div 2 of the ≤7-element sorted
    list, exact integer, no .5 averaging. The robust trend line every
    revenue dashboard overlays on the noisy daily series."""
    day = materialize(daily_revenue(spark, sf_dir), StorageLevel.MEMORY_AND_DISK)
    a = day.select(F.col("d").alias("ad"))
    b = day.select(F.col("d").alias("bd"), F.col("cents").alias("bc"))
    j = a.join(
        F.broadcast(b),
        (F.col("bd") >= F.col("ad") - 6) & (F.col("bd") <= F.col("ad")),
    )
    return j.groupBy(F.col("ad").alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.element_at(
            F.sort_array(F.collect_list("bc")),
            ((F.count(F.lit(1)) + 1) / 2).cast("int"),
        )
        .cast("long")
        .alias("med_cents"),
    )


# ---------------------------------------------------------------------------
# Mann-Kendall trend test.
# ---------------------------------------------------------------------------
@register(
    "mann_kendall_trend",
    f"""
    WITH day AS ({SQL_DAILY_REVENUE}),
    pairs AS (
      SELECT CAST(SUM(CASE WHEN b.cents > a.cents THEN 1
                           WHEN b.cents < a.cents THEN -1 ELSE 0 END)
                  AS BIGINT) AS s_stat
      FROM day a JOIN day b ON b.d > a.d
    ),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM day),
    ties AS (
      SELECT CAST(COALESCE(SUM(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
               AS tie_term
      FROM (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM day GROUP BY cents) g
      WHERE t > 1
    )
    SELECT n, s_stat,
           CAST(n * (n - 1) * (2 * n + 5) - tie_term AS BIGINT) AS var18,
           CASE WHEN s_stat > 0 THEN (CAST(s_stat AS DOUBLE) - 1.0)
                     / SQRT((CAST(n * (n - 1) * (2 * n + 5) - tie_term
                             AS DOUBLE)) / 18.0)
                WHEN s_stat < 0 THEN (CAST(s_stat AS DOUBLE) + 1.0)
                     / SQRT((CAST(n * (n - 1) * (2 * n + 5) - tie_term
                             AS DOUBLE)) / 18.0)
                ELSE 0.0 END AS z
    FROM pairs, nn, ties
    """,
)
def mann_kendall_trend(spark, sf_dir):
    """Mann-Kendall monotone-trend test on daily revenue: S = Σ_{i<j}
    sign(c_j − c_i) over all day pairs — the distribution-free trend
    detector (no linearity assumption, tie-robust) run before alerting on
    "revenue is drifting". The pair scan is the calendar-bounded day
    frame joined to itself (≤2.4k² ≈ 5.8M sign comparisons — broadcast
    nested loop, constant in data scale); S and the tie-corrected
    variance numerator var18 = n(n−1)(2n+5) − Σt(t−1)(2t+5) are exact
    integers; z (with the ±1 continuity correction, sign-split CASE) is
    ONE double expression incl. IEEE-exact SQRT."""
    day = materialize(daily_revenue(spark, sf_dir), StorageLevel.MEMORY_AND_DISK)
    a = day.select(F.col("d").alias("ad"), F.col("cents").alias("ac"))
    b = day.select(F.col("d").alias("bd"), F.col("cents").alias("bc"))
    s = (
        a.join(F.broadcast(b), F.col("bd") > F.col("ad"))
        .agg(
            F.sum(
                F.when(F.col("bc") > F.col("ac"), 1)
                .when(F.col("bc") < F.col("ac"), -1)
                .otherwise(0)
            )
            .cast("long")
            .alias("s_stat")
        )
    )
    nn = day.agg(F.count(F.lit(1)).cast("long").alias("n"))
    ties = (
        day.groupBy("cents")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        .where(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)), F.lit(0)
            )
            .cast("long")
            .alias("tie_term")
        )
    )
    out = s.crossJoin(F.broadcast(nn)).crossJoin(F.broadcast(ties))
    var18 = "n * (n - 1) * (2 * n + 5) - tie_term"
    return out.select(
        "n",
        "s_stat",
        F.expr(f"CAST({var18} AS BIGINT)").alias("var18"),
        F.expr(
            "CASE WHEN s_stat > 0 THEN (CAST(s_stat AS DOUBLE) - 1.0)"
            f" / SQRT((CAST({var18} AS DOUBLE)) / 18.0)"
            " WHEN s_stat < 0 THEN (CAST(s_stat AS DOUBLE) + 1.0)"
            f" / SQRT((CAST({var18} AS DOUBLE)) / 18.0)"
            " ELSE 0.0 END"
        ).alias("z"),
    )


# ---------------------------------------------------------------------------
# Wald-Wolfowitz runs test (randomness of above/below-median signs).
# ---------------------------------------------------------------------------
_RUNS_ORACLE = f"""
    WITH day AS ({SQL_DAILY_REVENUE}),
    med AS (
      SELECT CAST(list_extract(list_sort(list(cents)),
                  CAST((COUNT(*) + 1) // 2 AS BIGINT)) AS BIGINT) AS med_cents
      FROM day
    ),
    sgn AS (
      SELECT ROW_NUMBER() OVER (ORDER BY d) AS rn,
             CASE WHEN cents > med_cents THEN 1 ELSE 0 END AS s
      FROM day, med
    ),
    flips AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_flips
      FROM sgn a JOIN sgn b ON b.rn = a.rn + 1
      WHERE a.s <> b.s
    ),
    cnt AS (
      SELECT CAST(SUM(s) AS BIGINT) AS n1,
             CAST(COUNT(*) - SUM(s) AS BIGINT) AS n2
      FROM sgn
    )
    SELECT n1, n2, CAST(n_flips + 1 AS BIGINT) AS runs,
           (CAST(n_flips + 1 AS DOUBLE)
            - (1.0 + 2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
               / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))))
           / SQRT(2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                  * (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)
                     - CAST(n1 AS DOUBLE) - CAST(n2 AS DOUBLE))
                  / ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                     * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))
                     * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 1.0)))
             AS z
    FROM flips, cnt
"""


@register("runs_test_above_median", _RUNS_ORACLE)
def runs_test_above_median(spark, sf_dir):
    """Wald-Wolfowitz runs test on the daily revenue series: signs =
    (day's revenue strictly above the global LOWER median), runs R =
    1 + adjacent sign flips in date order, z = (R − μ_R)/σ_R — the
    distribution-free "is the series random or regime-y" check that
    catches clustered highs CUSUM's mean-shift model can miss. The sign
    sequence is ordered by the two-pass bucketed global_row_number (zero
    single-partition windows; the oracle keeps the window form, proving
    equivalence); adjacency is an rn+1 self-equi-join; n1/n2/R are exact
    integers and z is ONE double expression."""
    from hpmr_spark.functions.ranking import global_row_number

    day = materialize(daily_revenue(spark, sf_dir), StorageLevel.MEMORY_AND_DISK)
    med = day.agg(
        F.element_at(
            F.sort_array(F.collect_list("cents")),
            ((F.count(F.lit(1)) + 1) / 2).cast("int"),
        )
        .cast("long")
        .alias("med_cents")
    )
    sgn = (
        global_row_number(day, ["d"], out="rn")
        .crossJoin(F.broadcast(med))
        .select(
            "rn",
            F.when(F.col("cents") > F.col("med_cents"), 1).otherwise(0).alias("s"),
        )
    )
    a = sgn.select(F.col("rn").alias("arn"), F.col("s").alias("asv"))
    b = sgn.select(F.col("rn").alias("brn"), F.col("s").alias("bsv"))
    flips = (
        a.join(b, F.col("brn") == F.col("arn") + 1)
        .where(F.col("asv") != F.col("bsv"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_flips"))
    )
    cnt = sgn.agg(
        F.sum("s").cast("long").alias("n1"),
        (F.count(F.lit(1)) - F.sum("s")).cast("long").alias("n2"),
    )
    out = flips.crossJoin(F.broadcast(cnt))
    return out.select(
        "n1",
        "n2",
        F.expr("CAST(n_flips + 1 AS BIGINT)").alias("runs"),
        F.expr(
            "(CAST(n_flips + 1 AS DOUBLE)"
            " - (1.0 + 2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)"
            " / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))))"
            " / SQRT(2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)"
            " * (2.0 * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)"
            " - CAST(n1 AS DOUBLE) - CAST(n2 AS DOUBLE))"
            " / ((CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))"
            " * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))"
            " * (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE) - 1.0)))"
        ).alias("z"),
    )


# ---------------------------------------------------------------------------
# Weekday seasonality profile (engine-neutral day-of-week arithmetic).
# ---------------------------------------------------------------------------
# dow differs across engines (Spark Sun=1, DuckDB Sun=0 — CLAUDE.md: never
# emit engine dayofweek), so the emitted key is pure integer arithmetic on
# days-since-epoch: (d + 3) % 7 gives Monday=0 on both (1970-01-01 was a
# Thursday; d ≥ 0 so % is identical).
_WD_ORACLE = f"""
    WITH day AS ({SQL_DAILY_REVENUE}),
    m AS (
      SELECT (d + 3) % 7 AS dow_idx,
             CAST(COUNT(*) AS BIGINT) AS n_days,
             CAST(SUM(CAST(cents AS HUGEINT)) AS HUGEINT) AS s,
             CAST(SUM(CAST(cents AS HUGEINT) * cents) AS HUGEINT) AS q
      FROM day GROUP BY 1
    ),
    g AS (
      SELECT CAST(SUM(s) AS HUGEINT) AS st,
             CAST(SUM(q) AS HUGEINT) AS qt,
             CAST(SUM(n_days) AS BIGINT) AS nt
      FROM m
    ),
    w AS (
      SELECT CAST(SUM((n_days * q - s * s) * 1000000 * nt
                      // (n_days * (nt * qt - st * st))) AS BIGINT) AS ssw_ppm
      FROM m, g
    )
    SELECT CAST(dow_idx AS BIGINT) AS dow_idx, n_days,
           CAST(s AS BIGINT) AS sum_cents,
           CAST(s AS DOUBLE) / CAST(n_days AS DOUBLE) AS mean_cents,
           CAST(1000000 - ssw_ppm AS BIGINT) AS eta2_ppm
    FROM m, w
"""


@register("weekday_seasonality_profile", _WD_ORACLE)
def weekday_seasonality_profile(spark, sf_dir):
    """Day-of-week revenue profile + variance explained: per weekday
    (Monday=0, computed as (days_since_epoch + 3) % 7 — pure integer, so
    the emitted key is engine-neutral despite Spark/DuckDB disagreeing on
    dayofweek numbering) the day count, exact revenue sum, and mean; plus
    the one-way eta² of the weekday factor in ppm — how much of the daily
    revenue variance the weekly cycle explains (the quantitative twin of
    acf_lags_revenue's lag-7 spike). Each weekday's SSW share is floored
    DIRECTLY to its ppm-of-SST contribution —
    ⌊(n_k·Q_k − S_k²)·10⁶·n / (n_k·(n·Q − S²))⌋, int128 numerator and
    denominator, ppm-sized quotient (never floor to a magnitude that
    outgrows BIGINT; Spark `div` yields LONG) — then summed exactly; the
    per-term floor before the cross-group sum is the
    deterministic-parallel-sum rule."""
    day = materialize(daily_revenue(spark, sf_dir), StorageLevel.MEMORY_AND_DISK)
    m = day.groupBy(F.expr("(d + 3) % 7").alias("dow_idx")).agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum(F.expr("CAST(cents AS DECIMAL(38,0))")).alias("s"),
        F.sum(F.expr("CAST(cents AS DECIMAL(38,0)) * cents")).alias("q"),
    )
    g = m.agg(
        F.sum("s").alias("st"),
        F.sum("q").alias("qt"),
        F.sum("n_days").cast("long").alias("nt"),
    )
    w = (
        m.crossJoin(F.broadcast(g))
        .agg(
            F.sum(
                F.expr(
                    "(n_days * q - s * s) * 1000000 * nt"
                    " div (n_days * (nt * qt - st * st))"
                )
            )
            .cast("long")
            .alias("ssw_ppm")
        )
    )
    return m.crossJoin(F.broadcast(w)).select(
        F.col("dow_idx").cast("long").alias("dow_idx"),
        "n_days",
        F.expr("CAST(s AS BIGINT)").alias("sum_cents"),
        F.expr("CAST(s AS DOUBLE) / CAST(n_days AS DOUBLE)").alias("mean_cents"),
        F.expr("CAST(1000000 - ssw_ppm AS BIGINT)").alias("eta2_ppm"),
    )
