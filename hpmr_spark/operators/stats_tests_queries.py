"""Hypothesis-testing batch: chi-square independence test and a
two-proportion z-test significance gate — release-gate statistics for
experiment analysis and drift detection over event streams.

Determinism: all observed/marginal counts are exact BIGINTs. The chi-square
statistic is summed as per-cell integer ppm contributions (each cell's term
is ONE double expression over exact integers — multiplication and division
are exact IEEE ops — floored before the sum). The z-test is decided purely
by integer cross-multiplication: no float ever gates significance.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import functions as F

from hpmr_spark.catalog import register
from hpmr_spark.engine import materialize
from hpmr_spark.functions.hashing import hash60, sql_hash60
from hpmr_spark.sources.tables import load_events

# ---------------------------------------------------------------------------
# Chi-square test of independence: event_type x weekday.
# ---------------------------------------------------------------------------
# Per-cell contribution in ppm: (o*N - r*c)^2 / (r*c*N) * 1e6, with the
# residual d = o*N - r*c computed exactly in BIGINT (|d| < 2^40 here) and
# the ratio as one double expression, floored elementwise.
_CHI2_TERM = (
    "CAST(FLOOR(CAST(d AS DOUBLE) * CAST(d AS DOUBLE)"
    " / (CAST(r AS DOUBLE) * CAST(c AS DOUBLE) * CAST(n AS DOUBLE))"
    " * 1000000) AS BIGINT)"
)


@register(
    "chi_square_independence",
    f"""
    WITH o AS (
      SELECT event_type, dayofweek(ts) AS wd, CAST(COUNT(*) AS BIGINT) AS obs
      FROM events GROUP BY event_type, wd
    ),
    r AS (SELECT event_type, CAST(SUM(obs) AS BIGINT) AS r FROM o GROUP BY event_type),
    c AS (SELECT wd, CAST(SUM(obs) AS BIGINT) AS c FROM o GROUP BY wd),
    n AS (SELECT CAST(SUM(obs) AS BIGINT) AS n FROM o),
    cells AS (
      SELECT o.obs * n.n - r.r * c.c AS d, r.r, c.c, n.n
      FROM o JOIN r USING (event_type) JOIN c USING (wd) CROSS JOIN n
    ),
    terms AS (SELECT {_CHI2_TERM} AS term_ppm, n FROM cells)
    SELECT CAST(SUM(term_ppm) AS BIGINT) AS chi2_ppm,
           CAST((SELECT (COUNT(*) - 1) FROM r)
                * (SELECT (COUNT(*) - 1) FROM c) AS BIGINT) AS dof,
           CAST(MAX(n) AS BIGINT) AS n
    FROM terms
    """,
)
def chi_square_independence(spark, sf_dir):
    """Pearson chi-square independence test over the event_type × weekday
    contingency table. Observed and marginal counts are exact; each cell's
    (O-E)²/E contribution is computed from the exact integer residual
    d = obs·N - row·col (scale-free — no rational expected value is ever
    materialized) as one double ratio floored to ppm, and only integers are
    summed. Plan: one (type, weekday) groupBy collapses the corpus to ≤35
    cells; marginals and the total are re-aggregations of that tiny frame,
    so the test costs exactly one shuffle at any scale."""
    ev = load_events(spark, sf_dir)
    o = ev.groupBy(
        "event_type", F.dayofweek("ts").alias("wd")
    ).agg(F.count(F.lit(1)).cast("long").alias("obs"))
    o = materialize(o)
    r = o.groupBy("event_type").agg(F.sum("obs").cast("long").alias("r"))
    c = o.groupBy("wd").agg(F.sum("obs").cast("long").alias("c"))
    n = o.agg(F.sum("obs").cast("long").alias("n"))
    cells = (
        o.join(F.broadcast(r), "event_type")
        .join(F.broadcast(c), "wd")
        .crossJoin(F.broadcast(n))
        .select(
            (F.col("obs") * F.col("n") - F.col("r") * F.col("c")).alias("d"),
            "r",
            "c",
            "n",
        )
    )
    terms = cells.select(F.expr(_CHI2_TERM).alias("term_ppm"), "n")
    dof = (
        r.agg((F.count(F.lit(1)) - 1).alias("dr"))
        .crossJoin(c.agg((F.count(F.lit(1)) - 1).alias("dc")))
        .select((F.col("dr") * F.col("dc")).cast("long").alias("dof"))
    )
    return (
        terms.agg(
            F.sum("term_ppm").cast("long").alias("chi2_ppm"),
            F.max("n").cast("long").alias("n"),
        )
        .crossJoin(F.broadcast(dof))
        .select("chi2_ppm", "dof", "n")
    )


# ---------------------------------------------------------------------------
# Two-proportion z-test gate on a hash-bucketed A/B split, decided in
# integers: z^2 > 3.8416 (95%) via cross-multiplication.
# ---------------------------------------------------------------------------
@register(
    "ab_test_z2_gate",
    f"""
    WITH assign AS (
      SELECT user_id,
             CASE WHEN {sql_hash60("'ab2:' || CAST(user_id AS VARCHAR)")} % 2 = 0
                  THEN 'A' ELSE 'B' END AS variant,
             CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS converted
      FROM events GROUP BY user_id
    ),
    v AS (
      SELECT variant, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(converted) AS BIGINT) AS x
      FROM assign GROUP BY variant
    ),
    w AS (
      SELECT MAX(CASE WHEN variant = 'A' THEN n END) AS n1,
             MAX(CASE WHEN variant = 'A' THEN x END) AS x1,
             MAX(CASE WHEN variant = 'B' THEN n END) AS n2,
             MAX(CASE WHEN variant = 'B' THEN x END) AS x2
      FROM v
    )
    SELECT CAST(n1 AS BIGINT) AS n1, CAST(x1 AS BIGINT) AS x1,
           CAST(n2 AS BIGINT) AS n2, CAST(x2 AS BIGINT) AS x2,
           CAST(x1 * 1000000 // n1 AS BIGINT) AS p1_ppm,
           CAST(x2 * 1000000 // n2 AS BIGINT) AS p2_ppm,
           -- z² > 3.8416  <=>  (p1-p2)² > 3.8416·p·(1-p)·(1/n1+1/n2)
           -- with pooled p = (x1+x2)/(n1+n2), cross-multiplied to integers
           -- (all operands non-negative). Computed in int128 (HUGEINT /
           -- Spark DECIMAL(38,0)) so the ~N⁴·10⁴ magnitude is exact for
           -- cohorts up to ~1e7 users (BIGINT overflowed at ~1e5).
           (10000 * CAST(x1 * n2 - x2 * n1 AS HUGEINT)
                  * CAST(x1 * n2 - x2 * n1 AS HUGEINT)
                  * CAST(n1 + n2 AS HUGEINT)
            > 38416 * CAST(x1 + x2 AS HUGEINT)
                    * CAST(n1 + n2 - x1 - x2 AS HUGEINT)
                    * CAST(n1 AS HUGEINT) * CAST(n2 AS HUGEINT))
             AS significant_95
    FROM w
    """,
)
def ab_test_z2_gate(spark, sf_dir):
    """Two-proportion z-test on a deterministic hash-bucketed A/B split of
    users (conversion = any purchase event): the 95% significance decision
    is made entirely in integers by cross-multiplying the pooled-variance
    z² inequality — (p1-p2)² > 3.8416·p̄(1-p̄)(1/n1+1/n2) becomes
    10000·(x1n2-x2n1)²·(n1+n2) > 38416·(x1+x2)(N-x1-x2)·n1·n2, with both
    sides in exact int128 (Spark DECIMAL(38,0) ≡ DuckDB HUGEINT): the
    ~N⁴·10⁴ magnitude stays exact to cohorts of ~1e7 users, and ANSI mode
    fails loudly (not wrongly) beyond — pre-scale by a common power of ten
    if experiments ever exceed that. One groupBy(user) for
    assignment+conversion, one 2-row rollup."""
    ev = load_events(spark, sf_dir)
    assign = ev.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).cast("long").alias("converted")
    ).select(
        F.when(
            hash60(F.concat(F.lit("ab2:"), F.col("user_id").cast("string"))) % 2 == 0,
            F.lit("A"),
        ).otherwise(F.lit("B")).alias("variant"),
        "converted",
    )
    v = assign.groupBy("variant").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("converted").cast("long").alias("x"),
    )
    w = v.agg(
        F.max(F.when(F.col("variant") == "A", F.col("n"))).alias("n1"),
        F.max(F.when(F.col("variant") == "A", F.col("x"))).alias("x1"),
        F.max(F.when(F.col("variant") == "B", F.col("n"))).alias("n2"),
        F.max(F.when(F.col("variant") == "B", F.col("x"))).alias("x2"),
    )
    return w.select(
        F.col("n1").cast("long").alias("n1"),
        F.col("x1").cast("long").alias("x1"),
        F.col("n2").cast("long").alias("n2"),
        F.col("x2").cast("long").alias("x2"),
        F.expr("x1 * 1000000 div n1").cast("long").alias("p1_ppm"),
        F.expr("x2 * 1000000 div n2").cast("long").alias("p2_ppm"),
        F.expr(
            "10000 * CAST(x1 * n2 - x2 * n1 AS DECIMAL(38,0))"
            "      * CAST(x1 * n2 - x2 * n1 AS DECIMAL(38,0))"
            "      * CAST(n1 + n2 AS DECIMAL(38,0))"
            " > 38416 * CAST(x1 + x2 AS DECIMAL(38,0))"
            "         * CAST(n1 + n2 - x1 - x2 AS DECIMAL(38,0))"
            "         * CAST(n1 AS DECIMAL(38,0)) * CAST(n2 AS DECIMAL(38,0))"
        ).alias("significant_95"),
    )


# ---------------------------------------------------------------------------
# Wald SPRT: sequential probability ratio test on the purchase rate.
# ---------------------------------------------------------------------------
# Committed integer nano-nat log-likelihood increments for H0: p=0.18 vs
# H1: p=0.22 (alpha = beta = 0.05):
#   w1 = floor(ln(0.22/0.18)*1e9)   per purchase event
#   w0 = floor(ln(0.78/0.82)*1e9)   per non-purchase event
#   A  = floor(ln(0.95/0.05)*1e9) = floor(ln 19 * 1e9)  (accept H1 at +A,
#        accept H0 at -A; symmetric because alpha = beta)
_SPRT_W1 = 200670695
_SPRT_W0 = -50010421
_SPRT_A = 2944438979


@register(
    "sprt_purchase_rate",
    f"""
    WITH e AS (
      SELECT CAST(epoch_us(ts) AS BIGINT) AS ts_us, event_id,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS x
      FROM events
    ),
    r AS (
      SELECT x,
             row_number() OVER (ORDER BY ts_us, event_id) AS rn,
             CAST(SUM(x) OVER (ORDER BY ts_us, event_id
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS s
      FROM e
    ),
    llr AS (
      SELECT rn,
             CAST({_SPRT_W1} * s + {_SPRT_W0} * (rn - s) AS BIGINT) AS llr_nano
      FROM r
    ),
    hi AS (SELECT MIN(rn) AS rn_h1 FROM llr WHERE llr_nano >= {_SPRT_A}),
    lo AS (SELECT MIN(rn) AS rn_h0 FROM llr WHERE llr_nano <= -{_SPRT_A}),
    t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(MAX(CASE WHEN rn = (SELECT MAX(rn) FROM llr)
                          THEN llr_nano END) AS BIGINT) AS final_llr
          FROM llr)
    SELECT t.n AS n_events,
           CASE
             WHEN hi.rn_h1 IS NOT NULL
                  AND (lo.rn_h0 IS NULL OR hi.rn_h1 < lo.rn_h0) THEN 'accept_h1'
             WHEN lo.rn_h0 IS NOT NULL THEN 'accept_h0'
             ELSE 'continue' END AS decision,
           CAST(COALESCE(LEAST(hi.rn_h1, lo.rn_h0),
                         COALESCE(hi.rn_h1, lo.rn_h0)) AS BIGINT)
             AS decided_at,
           t.final_llr AS final_llr_nano
    FROM t, hi, lo
    """,
)
def sprt_purchase_rate(spark, sf_dir):
    """Wald's sequential probability ratio test on the purchase conversion
    rate (H0: p=0.18 vs H1: p=0.22, α=β=0.05) replayed over the event
    stream in arrival order — the EARLY-STOPPING experiment gate (decide
    as soon as the evidence crosses ±ln 19, instead of a fixed-horizon
    z-test). The log-likelihood walk needs NO elementwise fold:
    llr_k = w1·S_k + w0·(k − S_k) with S_k the running purchase count, so
    ONE fused two-pass ordered pass (rn + running sum,
    functions/ranking.global_order_multi — no global window) yields every
    prefix's llr in closed form; the committed integer nano-nat weights
    make the walk and both boundary crossings exact on both engines.
    Output: total events, decision, first crossing index, final llr."""
    from hpmr_spark.functions.ranking import global_order_multi

    ev = load_events(spark, sf_dir)
    e = ev.select(
        F.unix_micros(F.col("ts")).alias("ts_us"),
        "event_id",
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("x"),
    )
    r = global_order_multi(
        e, ["ts_us", "event_id"], rn_out="rn", running=[("x", "sum", False, "s")]
    )
    llr = r.select(
        "rn",
        (F.lit(_SPRT_W1) * F.col("s") + F.lit(_SPRT_W0) * (F.col("rn") - F.col("s")))
        .cast("long")
        .alias("llr_nano"),
    )
    # the prefix frame feeds four consumers (both crossings, the count,
    # the final value): persist the SMALL (rn, llr) projection
    llr = materialize(llr, StorageLevel.MEMORY_AND_DISK)
    hi = llr.where(F.col("llr_nano") >= _SPRT_A).agg(F.min("rn").alias("rn_h1"))
    lo = llr.where(F.col("llr_nano") <= -_SPRT_A).agg(F.min("rn").alias("rn_h0"))
    t = llr.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.max_by("llr_nano", "rn").cast("long").alias("final_llr"),
    )
    return (
        t.crossJoin(F.broadcast(hi))
        .crossJoin(F.broadcast(lo))
        .select(
            F.col("n").alias("n_events"),
            F.expr(
                "CASE WHEN rn_h1 IS NOT NULL AND (rn_h0 IS NULL OR rn_h1 < rn_h0)"
                " THEN 'accept_h1'"
                " WHEN rn_h0 IS NOT NULL THEN 'accept_h0'"
                " ELSE 'continue' END"
            ).alias("decision"),
            F.expr(
                "CAST(COALESCE(LEAST(rn_h1, rn_h0), COALESCE(rn_h1, rn_h0))"
                " AS BIGINT)"
            ).alias("decided_at"),
            F.col("final_llr").alias("final_llr_nano"),
        )
    )


# ---------------------------------------------------------------------------
# Seasonal-naive forecast backtest: hour-of-week-ago prediction error.
# ---------------------------------------------------------------------------
@register(
    "forecast_seasonal_naive_backtest",
    """
    WITH hourly AS (
      SELECT date_trunc('hour', ts) AS hr,
             CAST(SUM(CASE WHEN event_type = 'purchase'
                  THEN CAST(ROUND(value * 100) AS BIGINT) ELSE 0 END)
                  AS BIGINT) AS cents
      FROM events GROUP BY date_trunc('hour', ts)
    ),
    scored AS (
      SELECT a.hr, a.cents AS actual, f.cents AS forecast,
             ABS(a.cents - f.cents) AS abs_err
      FROM hourly a JOIN hourly f ON f.hr = a.hr - INTERVAL 168 HOUR
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_hours,
           CAST(CAST(SUM(abs_err) AS BIGINT) // COUNT(*) AS BIGINT)
             AS mae_cents,
           CAST(CAST(SUM(abs_err) AS BIGINT) * 1000000
                // GREATEST(CAST(SUM(actual) AS BIGINT), 1) AS BIGINT)
             AS wape_ppm
    FROM scored
    """,
)
def forecast_seasonal_naive_backtest(spark, sf_dir):
    """Backtest of the seasonal-naive forecaster (ŷ(t) = y(t − 168 h), the
    baseline every real forecasting system must beat): hourly purchase
    revenue joined to itself one week back, MAE in exact integer cents and
    WAPE in ppm (Σ|err|·10⁶ // Σactual — integer floor division, GREATEST
    guard for an all-zero window). One grouped frame self-joined on a
    shifted key — the timestamp arithmetic stays in Catalyst (interval
    join keys), errors never touch floats."""
    ev = load_events(spark, sf_dir)
    hourly = ev.groupBy(F.date_trunc("hour", "ts").alias("hr")).agg(
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.round(F.col("value") * 100).cast("long"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("cents")
    )
    a = hourly.select(F.col("hr").alias("hr"), F.col("cents").alias("actual"))
    f = hourly.select(
        (F.col("hr") + F.expr("INTERVAL 168 HOUR")).alias("hr"),
        F.col("cents").alias("forecast"),
    )
    scored = a.join(f, "hr").select(
        "hr",
        "actual",
        "forecast",
        F.abs(F.col("actual") - F.col("forecast")).alias("abs_err"),
    )
    return scored.agg(
        F.count(F.lit(1)).cast("long").alias("n_hours"),
        F.expr("CAST(CAST(SUM(abs_err) AS BIGINT) div COUNT(1) AS BIGINT)").alias(
            "mae_cents"
        ),
        F.expr(
            "CAST(CAST(SUM(abs_err) AS BIGINT) * 1000000"
            " div GREATEST(CAST(SUM(actual) AS BIGINT), 1) AS BIGINT)"
        ).alias("wape_ppm"),
    )
