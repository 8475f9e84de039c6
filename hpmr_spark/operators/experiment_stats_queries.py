"""Experimentation & release-audit batch (round 5): CUPED
variance-reduced lift, Theil-Sen robust trend slopes, the KMV distinct
sketch with an exact bounded-error gate, and the t-closeness audit that
completes the privacy triad (k-anonymity → l-diversity → t-closeness).

Disciplines (CLAUDE.md): moments in int128 (Spark DECIMAL(38,0) ≡ DuckDB
HUGEINT); every estimator is ONE final double expression over exact
integer moments; decision quantities (slopes, TVD) are floor-divided
integer milli/ppm with sign-splitting wherever a numerator can be
negative (negative-operand integer division never crosses engines
intact); the KMV threshold is an integer cross-multiplication; the
committed hash is the md5-derived hash60 (the only cross-engine hash).

Reference parity: extends the engine surface beyond the reference's kv
kernel (/root/reference/src/hpmr.h:1-10) along the analytics axis the
brief makes first-class; each keyed aggregation is the DistMap
combine-on-insert ≡ map-side partial agg mapping
(/root/reference/src/bare_map.h:55-57).
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import functions as F

from hpmr_spark.catalog import _t, register
from hpmr_spark.engine import materialize
from hpmr_spark.functions.hashing import hash60, sql_hash60

# ---------------------------------------------------------------------------
# CUPED variance-reduced A/B lift.
# ---------------------------------------------------------------------------

# θ = cov(X,Y)/var(X) over the pooled population; adjusted mean per arm is
# Ȳ_a − θ·(X̄_a − X̄_pool). ONE double expression over exact int128 moments
# (identical text both engines).
_THETA = (
    "((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
    " / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
    " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))"
)
_ADJ = (
    "CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE)"
    f" - {_THETA} * (CAST(sx_a AS DOUBLE) / CAST(n_a AS DOUBLE)"
    " - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))"
)

_CUPED_ORACLE = f"""
    WITH u AS (
      SELECT c.c_custkey AS user_id,
             CAST({sql_hash60("'cuped:' || CAST(c.c_custkey AS VARCHAR)")} % 2
                  AS BIGINT) AS arm,
             CAST(COALESCE(SUM(CASE WHEN CAST(o.o_orderdate AS DATE) < DATE '1998-01-01'
                  THEN CAST(ROUND(o.o_totalprice * 100) AS BIGINT) ELSE 0 END),
                  0) AS BIGINT) AS x,
             CAST(COALESCE(SUM(CASE WHEN CAST(o.o_orderdate AS DATE) >= DATE '1998-01-01'
                  THEN CAST(ROUND(o.o_totalprice * 100) AS BIGINT) ELSE 0 END),
                  0) AS BIGINT) AS y
      FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    ),
    pool AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS sx,
             CAST(SUM(CAST(y AS HUGEINT)) AS HUGEINT) AS sy,
             CAST(SUM(CAST(x AS HUGEINT) * x) AS HUGEINT) AS sxx,
             CAST(SUM(CAST(x AS HUGEINT) * y) AS HUGEINT) AS sxy
      FROM u
    ),
    arms AS (
      SELECT arm,
             CAST(COUNT(*) AS BIGINT) AS n_a,
             CAST(SUM(CAST(x AS HUGEINT)) AS HUGEINT) AS sx_a,
             CAST(SUM(CAST(y AS HUGEINT)) AS HUGEINT) AS sy_a
      FROM u GROUP BY arm
    )
    SELECT arm, n_a,
           CAST(sy_a AS BIGINT) AS sum_y_cents,
           CAST(sx_a AS BIGINT) AS sum_x_cents,
           CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE) AS raw_mean_cents,
           {_ADJ} AS adj_mean_cents
    FROM arms, pool
"""


@register("cuped_adjusted_lift", _CUPED_ORACLE)
def cuped_adjusted_lift(spark, sf_dir):
    """CUPED variance-reduced experiment readout: Y = per-customer
    post-period revenue (1998+), covariate X = pre-period revenue,
    arms by the committed hash60 of custkey (deterministic assignment —
    no RNG); θ = cov(X,Y)/var(X) from pooled int128 moments, adjusted
    mean per arm = Ȳ_a − θ(X̄_a − X̄). The variance-reduction standard at
    every experimentation platform — same decision, tighter CI, and here
    every input to the final double expressions is an exact integer, so
    the readout is bit-identical across engines and partitionings. Base
    population is ALL customers (left join; zero-order users contribute
    (0,0) — the estimator is defined on the assignment universe, not the
    active subset)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    u = (
        c.join(o, o["o_custkey"] == c["c_custkey"], "left")
        .groupBy(
            c["c_custkey"].alias("user_id"),
            (hash60(F.concat(F.lit("cuped:"), c["c_custkey"].cast("string"))) % 2)
            .cast("long")
            .alias("arm"),
        )
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("o_orderdate").cast("date") < F.lit("1998-01-01").cast("date"),
                        F.round(F.col("o_totalprice") * 100).cast("long"),
                    ).otherwise(0)
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("x"),
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("o_orderdate").cast("date") >= F.lit("1998-01-01").cast("date"),
                        F.round(F.col("o_totalprice") * 100).cast("long"),
                    ).otherwise(0)
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("y"),
        )
    )
    # per-user frame feeds pool AND arm aggregates (no cross-tree CSE in
    # Catalyst): persist the already-aggregated n_customers-sized frame so
    # the customer⋈orders join runs once
    u = materialize(u, StorageLevel.MEMORY_AND_DISK)
    pool = u.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0))")).alias("sx"),
        F.sum(F.expr("CAST(y AS DECIMAL(38,0))")).alias("sy"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * x")).alias("sxx"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0)) * y")).alias("sxy"),
    )
    arms = u.groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("n_a"),
        F.sum(F.expr("CAST(x AS DECIMAL(38,0))")).alias("sx_a"),
        F.sum(F.expr("CAST(y AS DECIMAL(38,0))")).alias("sy_a"),
    )
    return arms.crossJoin(F.broadcast(pool)).select(
        "arm",
        "n_a",
        F.expr("CAST(sy_a AS BIGINT)").alias("sum_y_cents"),
        F.expr("CAST(sx_a AS BIGINT)").alias("sum_x_cents"),
        F.expr("CAST(sy_a AS DOUBLE) / CAST(n_a AS DOUBLE)").alias("raw_mean_cents"),
        F.expr(_ADJ).alias("adj_mean_cents"),
    )


# ---------------------------------------------------------------------------
# Theil-Sen robust slope per nation (weekly revenue trend).
# ---------------------------------------------------------------------------
_TS_ORACLE = """
    WITH wk AS (
      SELECT c.c_nationkey AS nation,
             CAST((CAST(date_trunc('week', o.o_orderdate) AS DATE)
                   - DATE '1992-01-06') // 7 AS BIGINT) AS x,
             CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS y
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT a.nation AS nation,
             CAST(CASE WHEN b.y - a.y >= 0
               THEN CAST(b.y - a.y AS HUGEINT) * 1000 // (b.x - a.x)
               ELSE 0 - (CAST(a.y - b.y AS HUGEINT) * 1000 // (b.x - a.x))
             END AS BIGINT) AS slope_milli
      FROM wk a JOIN wk b ON b.nation = a.nation AND b.x > a.x
    )
    SELECT nation,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(list_extract(list_sort(list(slope_milli)),
                CAST((COUNT(*) + 1) // 2 AS BIGINT)) AS BIGINT)
             AS med_slope_milli
    FROM pairs GROUP BY nation
"""


@register("theil_sen_slope_milli", _TS_ORACLE)
def theil_sen_slope_milli(spark, sf_dir):
    """Theil-Sen robust trend slope per nation: the LOWER median of all
    pairwise weekly-revenue slopes — the estimator that shrugs off the
    outlier weeks OLS gets dragged by (29% breakdown point). Slopes are
    committed to integer milli-cents/week by sign-split floor division
    (Δx > 0 always; Δy·1000 accumulates in int128 so 100TB-scale weekly
    revenue cannot overflow); the median is element (n+1) div 2 of the
    per-nation sorted slope list. Weeks are calendar-bounded (~360/nation)
    so the pair frame is bounded-quadratic (~65k/nation) at ANY data
    scale — the only fact-scale work is the weekly rollup. date_trunc
    'week' starts Monday on both engines (r2 commitment); week index
    differences are exact multiples of 7 days, so truncating division is
    exact."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    wk = materialize(
        o.join(c, c["c_custkey"] == o["o_custkey"])
        .groupBy(
            F.col("c_nationkey").alias("nation"),
            F.expr(
                "CAST(datediff(CAST(date_trunc('week', o_orderdate) AS DATE),"
                " DATE '1992-01-06') div 7 AS BIGINT)"
            ).alias("x"),
        )
        .agg(F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("y")),
        StorageLevel.MEMORY_AND_DISK,
    )
    a = wk.select(
        F.col("nation").alias("na"), F.col("x").alias("xa"), F.col("y").alias("ya")
    )
    b = wk.select(
        F.col("nation").alias("nb"), F.col("x").alias("xb"), F.col("y").alias("yb")
    )
    pairs = a.join(
        b, (F.col("nb") == F.col("na")) & (F.col("xb") > F.col("xa"))
    ).select(
        F.col("na").alias("nation"),
        F.expr(
            "CAST(CASE WHEN yb - ya >= 0"
            " THEN CAST(yb - ya AS DECIMAL(38,0)) * 1000 div (xb - xa)"
            " ELSE 0 - (CAST(ya - yb AS DECIMAL(38,0)) * 1000 div (xb - xa))"
            " END AS BIGINT)"
        ).alias("slope_milli"),
    )
    return pairs.groupBy("nation").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.element_at(
            F.sort_array(F.collect_list("slope_milli")),
            ((F.count(F.lit(1)) + 1) / 2).cast("int"),
        )
        .cast("long")
        .alias("med_slope_milli"),
    )


# ---------------------------------------------------------------------------
# KMV (k-minimum-values) distinct sketch with exact bounded-error gate.
# ---------------------------------------------------------------------------
_KMV_K = 256
_KMV_DOMAIN = 1 << 60

_KMV_ORACLE = f"""
    WITH h AS (
      SELECT DISTINCT
        CAST({sql_hash60("'kmv:' || CAST(o_custkey AS VARCHAR)")} AS BIGINT)
          AS hv
      FROM orders
    ),
    km AS (SELECT hv FROM h ORDER BY hv LIMIT {_KMV_K}),
    sk AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_min, CAST(MAX(hv) AS BIGINT) AS kth
      FROM km
    ),
    tru AS (
      SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS true_distinct
      FROM orders
    )
    SELECT n_min, kth, true_distinct,
           CAST(CASE WHEN n_min < {_KMV_K} THEN n_min
                ELSE CAST(({_KMV_K} - 1) AS HUGEINT) * {_KMV_DOMAIN} // kth
                END AS BIGINT) AS est_distinct,
           CAST(ABS(CAST(CASE WHEN n_min < {_KMV_K} THEN n_min
                    ELSE CAST(({_KMV_K} - 1) AS HUGEINT) * {_KMV_DOMAIN} // kth
                    END AS BIGINT) - true_distinct) * 10000
                <= 1875 * true_distinct AS BOOLEAN) AS within_3sigma
    FROM sk, tru
"""


@register("kmv_distinct_estimate", _KMV_ORACLE)
def kmv_distinct_estimate(spark, sf_dir):
    """KMV (k-minimum-values / bottom-k) distinct-count sketch over order
    custkeys, k=256: estimate = (k−1)·2⁶⁰ // h₍ₖ₎ — the mergeable
    distinct sketch (union = merge bottom-k sets) whose hash is the
    committed cross-engine hash60, so even the sketch CONTENTS are
    engine-identical, not just the estimate. The k smallest distinct
    hashes come from sort+limit = TakeOrderedAndProject (per-partition
    partial bottom-k, driver merges k·n_parts — no global sort); the
    bounded-error gate |est − true| ≤ 18.75%·true (3σ for k=256, integer
    cross-multiplication) is exact, making the sketch hash-checkable
    (the r2 sketch-gating pattern). n < k degenerates to the exact count."""
    o = _t(spark, sf_dir, "orders")
    h = o.select(
        hash60(F.concat(F.lit("kmv:"), F.col("o_custkey").cast("string"))).alias("hv")
    ).distinct()
    km = h.orderBy("hv").limit(_KMV_K)
    sk = km.agg(
        F.count(F.lit(1)).cast("long").alias("n_min"),
        F.max("hv").cast("long").alias("kth"),
    )
    tru = o.agg(F.countDistinct("o_custkey").cast("long").alias("true_distinct"))
    est = (
        f"CAST(CASE WHEN n_min < {_KMV_K} THEN n_min"
        f" ELSE CAST(({_KMV_K} - 1) AS DECIMAL(38,0)) * {_KMV_DOMAIN} div kth"
        " END AS BIGINT)"
    )
    return sk.crossJoin(F.broadcast(tru)).select(
        "n_min",
        "kth",
        "true_distinct",
        F.expr(est).alias("est_distinct"),
        F.expr(
            f"ABS({est} - true_distinct) * 10000 <= 1875 * true_distinct"
        ).alias("within_3sigma"),
    )


# ---------------------------------------------------------------------------
# t-closeness audit (completes k-anonymity → l-diversity → t-closeness).
# ---------------------------------------------------------------------------
_TC_ORACLE = """
    WITH base AS (
      SELECT c_nationkey AS nation,
             CAST(ROUND(c_acctbal * 100) AS BIGINT) // 100000 AS bal_bucket,
             c_mktsegment AS segment
      FROM customer
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS big_n FROM base),
    seg AS (
      SELECT segment, CAST(COUNT(*) AS BIGINT) AS c_s FROM base GROUP BY 1
    ),
    grp AS (
      SELECT nation, bal_bucket, CAST(COUNT(*) AS BIGINT) AS n_g
      FROM base GROUP BY 1, 2
    ),
    cell AS (
      SELECT nation, bal_bucket, segment, CAST(COUNT(*) AS BIGINT) AS c_gs
      FROM base GROUP BY 1, 2, 3
    ),
    grid AS (
      SELECT g.nation, g.bal_bucket, g.n_g, s.segment, s.c_s,
             COALESCE(cl.c_gs, 0) AS c_gs
      FROM grp g CROSS JOIN seg s
      LEFT JOIN cell cl ON cl.nation = g.nation
        AND cl.bal_bucket = g.bal_bucket AND cl.segment = s.segment
    ),
    v AS (
      SELECT nation, bal_bucket, n_g,
             CAST(SUM(ABS(CAST(c_gs AS HUGEINT) * big_n
                          - CAST(c_s AS HUGEINT) * n_g)) AS HUGEINT) AS v_num
      FROM grid, tot GROUP BY 1, 2, 3
    )
    SELECT nation, bal_bucket, n_g,
           CAST(v_num * 1000000 // (2 * CAST(n_g AS HUGEINT) * big_n)
                AS BIGINT) AS tvd_ppm,
           CAST(v_num * 1000000 // (2 * CAST(n_g AS HUGEINT) * big_n)
                > 200000 AS BOOLEAN) AS breach_t02
    FROM v, tot
"""


@register("t_closeness_audit", _TC_ORACLE)
def t_closeness_audit(spark, sf_dir):
    """t-closeness audit of the (nation, $1000-balance-bucket) quasi-id
    with mktsegment as the SENSITIVE attribute: per group, the total
    variation distance ½Σ|p_g(s) − p(s)| between the group's sensitive
    distribution and the global one — the release gate that catches what
    k-anonymity misses (a large group whose members all share one
    segment). Exact rational arithmetic: TVD numerator
    V = Σ_s |c_gs·N − c_s·n_g| in int128, tvd_ppm = V·10⁶ // (2·n_g·N)
    (all operands non-negative). The group×segment grid is a cross join
    of two TINY aggregates with a left join back to observed cells
    (missing cells MUST count as |0 − c_s·n_g| — dropping them
    understates distance), all broadcast-sized. The fact table is
    scanned ONCE: the finest (group × segment) cell aggregation is the
    only fact shuffle, persisted tiny, and grp/seg/tot re-aggregate the
    CELL frame (the rollup lattice trick — at 100 TB this is one scan +
    one shuffle, not four scans). Completes the privacy triad with
    k_anonymity_audit and l_diversity_audit. Bucket is truncating
    integer division (identical both engines incl. negatives)."""
    c = _t(spark, sf_dir, "customer")
    base = c.select(
        F.col("c_nationkey").alias("nation"),
        F.expr("CAST(ROUND(c_acctbal * 100) AS BIGINT) div 100000").alias(
            "bal_bucket"
        ),
        F.col("c_mktsegment").alias("segment"),
    )
    cell = materialize(
        base.groupBy("nation", "bal_bucket", "segment")
        .agg(F.count(F.lit(1)).cast("long").alias("c_gs")),
        StorageLevel.MEMORY_AND_DISK,
    )
    tot = cell.agg(F.sum("c_gs").cast("long").alias("big_n"))
    seg = cell.groupBy("segment").agg(F.sum("c_gs").cast("long").alias("c_s"))
    grp = cell.groupBy("nation", "bal_bucket").agg(
        F.sum("c_gs").cast("long").alias("n_g")
    )
    grid = (
        grp.crossJoin(F.broadcast(seg))
        .join(
            F.broadcast(cell.withColumnRenamed("c_gs", "c_gs_obs")),
            ["nation", "bal_bucket", "segment"],
            "left",
        )
        .select(
            "nation",
            "bal_bucket",
            "n_g",
            "c_s",
            F.coalesce(F.col("c_gs_obs"), F.lit(0)).alias("c_gs"),
        )
    )
    v = (
        grid.crossJoin(F.broadcast(tot))
        .groupBy("nation", "bal_bucket", "n_g")
        .agg(
            F.sum(
                F.expr(
                    "ABS(CAST(c_gs AS DECIMAL(38,0)) * big_n"
                    " - CAST(c_s AS DECIMAL(38,0)) * n_g)"
                )
            ).alias("v_num")
        )
    )
    tvd = "CAST(v_num * 1000000 div (2 * CAST(n_g AS DECIMAL(38,0)) * big_n) AS BIGINT)"
    return v.crossJoin(F.broadcast(tot)).select(
        "nation",
        "bal_bucket",
        "n_g",
        F.expr(tvd).alias("tvd_ppm"),
        F.expr(f"{tvd} > 200000").alias("breach_t02"),
    )


# ---------------------------------------------------------------------------
# Holt linear-trend forecast over per-nation weekly revenue (round 6).
# ---------------------------------------------------------------------------
# α = β = 1/4 with PYTHON-FLOOR division as the committed contract: the
# Spark side folds in grouped pandas (// floors), so the oracle's recursion
# must sign-split every step whose numerator can be negative (the trend b
# goes negative on downswings; DuckDB // truncates — CLAUDE.md rule).
def _pyfloor4(x: str) -> str:
    return (
        f"CASE WHEN ({x}) >= 0 THEN ({x}) // 4"
        f" ELSE 0 - ((0 - ({x}) + 3) // 4) END"
    )


_HOLT_ORACLE = f"""
    WITH RECURSIVE wk AS (
      SELECT n.n_name AS nation,
             CAST(date_trunc('week', CAST(o.o_orderdate AS DATE)) AS DATE)
               AS week,
             CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS y
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY n.n_name, date_trunc('week', CAST(o.o_orderdate AS DATE))
    ),
    e AS (
      SELECT nation, week, y,
             row_number() OVER (PARTITION BY nation ORDER BY week) AS rn
      FROM wk
    ),
    mx AS (SELECT nation, CAST(MAX(rn) AS BIGINT) AS n_weeks
           FROM e GROUP BY nation),
    walk(nation, rn, l, b) AS (
      SELECT e1.nation, 1,
             CAST(e1.y AS BIGINT),
             CAST(COALESCE(e2.y - e1.y, 0) AS BIGINT)
      FROM e e1 LEFT JOIN e e2 ON e2.nation = e1.nation AND e2.rn = 2
      WHERE e1.rn = 1
      UNION ALL
      SELECT w.nation, w.rn + 1,
             {_pyfloor4("cur.y + 3 * (w.l + w.b)")},
             {_pyfloor4(_pyfloor4("cur.y + 3 * (w.l + w.b)") + " - w.l + 3 * w.b")}
      FROM walk w
      JOIN e cur ON cur.nation = w.nation AND cur.rn = w.rn + 1
    )
    SELECT walk.nation, mx.n_weeks,
           CAST(walk.l AS BIGINT) AS level_cents,
           CAST(walk.b AS BIGINT) AS trend_cents,
           CAST(walk.l + 4 * walk.b AS BIGINT) AS forecast_4w_cents
    FROM walk JOIN mx ON walk.nation = mx.nation AND walk.rn = mx.n_weeks
"""


@register("holt_linear_forecast_weekly", _HOLT_ORACLE)
def holt_linear_forecast_weekly(spark, sf_dir):
    """Holt double-exponential smoothing (level + linear trend) over each
    nation's weekly revenue, α = β = 1/4 in EXACT integer cents with
    Python-floor division as the committed recurrence:
      l_t = ⌊(y_t + 3·(l₋₁ + b₋₁)) / 4⌋,  b_t = ⌊(l_t − l₋₁ + 3·b₋₁) / 4⌋,
      init l₁ = y₁, b₁ = y₂ − y₁ (0 if a single week);
    output = final level/trend and the 4-week-ahead forecast l + 4b. The
    min-free recurrence still has no dyadic closed form once floors are
    taken each step, so the engine folds it in an Arrow-batched
    grouped-pandas scan (keyed parallelism across nations, O(1) state —
    the token_bucket_replay pattern) over the CALENDAR-BOUNDED weekly
    rollup (≤ ~350 rows per nation regardless of fact scale: the round-5
    scale-free shape); the oracle walks the identical recurrence as a
    recursive CTE with sign-split floors (trend can be negative; DuckDB
    // truncates where Python floors)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    wk = (
        o.join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy(
            F.col("n_name").alias("nation"),
            F.date_trunc("week", F.col("o_orderdate").cast("date").cast("timestamp"))
            .cast("date")
            .alias("week"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("y")
        )
    )

    import pandas as pd

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("week")
        ys = [int(v) for v in pdf["y"].values]
        l = ys[0]
        b = (ys[1] - ys[0]) if len(ys) >= 2 else 0
        for y in ys[1:]:
            l_new = (y + 3 * (l + b)) // 4
            b = (l_new - l + 3 * b) // 4
            l = l_new
        return pd.DataFrame(
            {
                "nation": [str(pdf["nation"].iloc[0])],
                "n_weeks": [len(ys)],
                "level_cents": [l],
                "trend_cents": [b],
                "forecast_4w_cents": [l + 4 * b],
            }
        )

    return wk.groupBy("nation").applyInPandas(
        fold,
        "nation string, n_weeks long, level_cents long, trend_cents long,"
        " forecast_4w_cents long",
    )
