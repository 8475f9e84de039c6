"""Round-10 wave 10: distributional distances and robust effect sizes
(named published recipes absent from the registry):

- sliced_wasserstein_labels: the Sliced Wasserstein distance (Rabin et
  al. 2011; Bonneel et al. 2015) between the two embedding label
  classes: 4 committed ±1 hash-sign directions, exact integer
  projections, and the EXACT 1-D W₁ between unequal-size samples via
  the common-refinement identity
  nA·nB·W₁ = Σ_{j=1}^{nA·nB} |A_(⌈j/nB⌉) − B_(⌈j/nA⌉)| — every term an
  integer. The entropic sibling of sinkhorn_ot_langs and the
  high-dimensional sibling of emd_1d_price_shift.
- hodges_lehmann_location: the Hodges-Lehmann estimator (1963) — the
  median of all pairwise Walsh averages of daily revenue — the robust
  location estimate dual to the Wilcoxon test. Walsh averages ride
  DOUBLED (x_i + x_j) to stay integer; the median comes from the exact
  histogram-prefix machinery (never a global window).
- cliffs_delta_effect: Cliff's delta (Cliff 1993) — the ordinal effect
  size P(X>Y) − P(X<Y) between weekday and weekend daily revenue, a
  pure-integer pair count over the calendar-bounded rollup (the robust
  companion to mann_whitney_u_gate's hypothesis test).

Integer discipline (CLAUDE.md): projections, Walsh sums, and pair
counts are exact integers; Cliff's delta can be negative — truncation
toward zero is identical both engines (Spark div ≡ DuckDB //).

Reference parity: beyond the reference kv kernel
(/root/reference/src/hpmr.h:1-10) along the brief's LLM-pipeline axis.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hpmr_spark.catalog import _t, register
from hpmr_spark.engine import materialize
from hpmr_spark.functions.hashing import sql_hash60, spark_sql_hash60
from hpmr_spark.functions.ranking import global_order_multi

# ---------------------------------------------------------------------------
# Sliced Wasserstein between label classes
# ---------------------------------------------------------------------------

_SW_K = 4  # committed slices


def _sw_dir(engine_hash, k: str, d: str) -> str:
    """±1 direction component from the committed hash."""
    h = engine_hash(
        f"'sw:' || CAST({k} AS STRING) || ':' || CAST({d} AS STRING)"
    )
    return f"(({h} % 2) * 2 - 1)"


_SW_ORACLE = f"""
    WITH vi AS (
      SELECT CAST(label % 2 AS BIGINT) AS y,
             list_transform(embedding,
               _x -> CAST(FLOOR(CAST(_x AS DOUBLE) * 1000000) AS BIGINT)) AS v
      FROM embeddings
    ),
    proj AS (
      SELECT g.k, vi.y,
             list_sum(list_transform(range(0, 64), _d ->
               {_sw_dir(sql_hash60, "g.k", "_d")} * vi.v[_d + 1])) AS p
      FROM vi, (SELECT unnest(range(0, {_SW_K})) AS k) g
    ),
    arrs AS (
      SELECT k,
             list_sort(list(p) FILTER (y = 1)) AS pa,
             list_sort(list(p) FILTER (y = 0)) AS pb
      FROM proj GROUP BY k
    ),
    w AS (
      SELECT k, CAST(len(pa) AS BIGINT) AS na, CAST(len(pb) AS BIGINT) AS nb,
             CAST(list_sum(list_transform(range(1, len(pa) * len(pb) + 1),
               _j -> abs(pa[(_j + len(pb) - 1) // len(pb)]
                         - pb[(_j + len(pa) - 1) // len(pa)])))
               AS HUGEINT) AS tot
      FROM arrs
    )
    SELECT CAST(k AS BIGINT) AS slice_id, na, nb,
           CAST(tot // (na * nb) AS BIGINT) AS w1_micro
    FROM w
"""


@register("sliced_wasserstein_labels", _SW_ORACLE)
def sliced_wasserstein_labels(spark, sf_dir):
    """Sliced Wasserstein distance (Rabin et al. 2011) between the two
    embedding label classes: 4 committed ±1 hash-sign directions give
    exact integer 1-D projections, and each slice's W₁ between the
    UNEQUAL-size class samples is computed exactly by the
    common-refinement identity — replicate each A-quantile nB times and
    each B nA times on the j/(nA·nB) grid, so
    nA·nB·W₁ = Σ_j |A_(⌈j/nB⌉) − B_(⌈j/nA⌉)|, pure integers end to end
    (HUGEINT/int128 for the sum). Emits per-slice W₁ in micros — the
    distributional-shift audit between classes, next to
    emd_1d_price_shift (1-D exact) and sinkhorn_ot_langs (entropic).

    Spark shape: one embedding scan ×4 slices (in-row projections), one
    slice agg collecting the two sorted class arrays (the embedding
    corpus is the bounded frame here), the refinement sum in-row.
    nA·nB terms per slice — quadratic in the CLASS sizes, which is the
    exact-W₁ cost; the scale path subsamples per class first."""
    e = _t(spark, sf_dir, "embeddings")
    vi = e.select(
        (F.col("label") % 2).cast("long").alias("y"),
        F.expr(
            "transform(embedding,"
            " x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT))"
        ).alias("v"),
    )
    ks = spark.range(0, _SW_K).select(F.col("id").alias("k"))
    proj = vi.crossJoin(F.broadcast(ks)).select(
        "k",
        "y",
        F.expr(
            f"aggregate(sequence(0, 63), CAST(0 AS BIGINT), (s, d) ->"
            f" s + {_sw_dir(spark_sql_hash60, 'k', 'd')}"
            f" * element_at(v, CAST(d + 1 AS INT)))"
        ).alias("p"),
    )
    arrs = proj.groupBy("k").agg(
        F.expr(
            "array_sort(collect_list(CASE WHEN y = 1 THEN p END))"
        ).alias("pa"),
        F.expr(
            "array_sort(collect_list(CASE WHEN y = 0 THEN p END))"
        ).alias("pb"),
    )
    w = arrs.select(
        "k",
        F.size("pa").cast("long").alias("na"),
        F.size("pb").cast("long").alias("nb"),
        F.expr(
            "aggregate(sequence(1, size(pa) * size(pb)),"
            " CAST(0 AS BIGINT), (s, j) -> s + abs("
            " element_at(pa, CAST((j + size(pb) - 1) div size(pb) AS INT))"
            " - element_at(pb, CAST((j + size(pa) - 1) div size(pa) AS INT))))"
        ).alias("tot"),
    )
    return w.select(
        F.col("k").cast("long").alias("slice_id"),
        "na",
        "nb",
        F.expr("CAST(tot div (na * nb) AS BIGINT)").alias("w1_micro"),
    )


# ---------------------------------------------------------------------------
# Hodges-Lehmann location estimate
# ---------------------------------------------------------------------------

_HL_ORACLE = """
    WITH days AS MATERIALIZED (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               // 100 AS x
      FROM orders GROUP BY CAST(o_orderdate AS DATE)
    ),
    pairs AS (
      SELECT a.x + b.x AS w
      FROM days a JOIN days b ON a.d <= b.d
    ),
    hist AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM pairs GROUP BY w),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS t,
                   CAST(COUNT(*) AS BIGINT) AS nv FROM hist),
    pre AS (
      SELECT w, c,
             COALESCE(CAST(SUM(c) OVER (ORDER BY w
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
               0) AS pre
      FROM hist
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM days) AS n_days,
           tot.t AS n_pairs,
           CAST(p.w * 500 AS BIGINT) AS hl_dollar_milli
    FROM pre p, tot
    WHERE p.pre + p.c >= (tot.t + 1) // 2
    QUALIFY ROW_NUMBER() OVER (ORDER BY p.w) = 1
"""


@register("hodges_lehmann_location", _HL_ORACLE)
def hodges_lehmann_location(spark, sf_dir):
    """Hodges-Lehmann estimator (1963): the median of all n(n+1)/2
    pairwise Walsh averages (xᵢ+xⱼ)/2 of daily revenue — the robust
    location estimate dual to the Wilcoxon signed-rank test (~30%
    breakdown, far beyond the mean). Walsh averages ride DOUBLED to stay
    integer (w = xᵢ+xⱼ in exact dollars); the lower median is the first
    w whose inclusive prefix count reaches ⌈T/2⌉, found via the exact
    histogram-prefix machinery and a 1-row TakeOrdered — never a global
    window. Emitted in milli-dollars (w·500, exact).

    Spark shape: the day rollup is calendar-bounded (~2400 rows at
    EVERY corpus scale — persisted, the bounded-rollup pattern), so the
    pair join is a constant ~2.9M rows regardless of corpus size;
    histogram + global_order_multi prefix + argmin. Scale-free."""
    o = _t(spark, sf_dir, "orders")
    days = materialize(
        o.groupBy(F.expr("CAST(o_orderdate AS DATE)").alias("d"))
        .agg(
            F.expr(
                "CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))"
                " AS BIGINT) div 100"
            ).alias("x"),
        )
    )
    a = days.select(F.col("d").alias("da"), F.col("x").alias("xa"))
    b = days.select(F.col("d").alias("db"), F.col("x").alias("xb"))
    pairs = a.join(b, F.col("da") <= F.col("db")).select(
        (F.col("xa") + F.col("xb")).alias("w")
    )
    hist = pairs.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("c"))
    pre = global_order_multi(
        hist, ["w"], running=[("c", "sum", True, "pre")]
    ).select(
        "w", "c", F.coalesce(F.col("pre"), F.lit(0)).alias("pre")
    )
    tot = hist.agg(F.sum("c").cast("long").alias("t"))
    nd = days.agg(F.count(F.lit(1)).cast("long").alias("n_days"))
    med = (
        pre.crossJoin(F.broadcast(tot))
        .where(F.expr("pre + c >= (t + 1) div 2"))
        .orderBy("w")
        .limit(1)
    )
    return med.crossJoin(F.broadcast(nd)).select(
        "n_days",
        F.col("t").alias("n_pairs"),
        (F.col("w") * 500).cast("long").alias("hl_dollar_milli"),
    )


# ---------------------------------------------------------------------------
# Cliff's delta
# ---------------------------------------------------------------------------

_CD_ORACLE = """
    WITH days AS MATERIALIZED (
      SELECT CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS ed,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               // 100 AS x
      FROM orders GROUP BY CAST(o_orderdate AS DATE)
    ),
    wd AS (SELECT x FROM days WHERE (ed + 3) % 7 < 5),
    we AS (SELECT x FROM days WHERE (ed + 3) % 7 >= 5),
    cnt AS (
      SELECT CAST(SUM(CASE WHEN wd.x > we.x THEN 1 ELSE 0 END) AS BIGINT)
               AS gt,
             CAST(SUM(CASE WHEN wd.x < we.x THEN 1 ELSE 0 END) AS BIGINT)
               AS lt,
             CAST(COUNT(*) AS BIGINT) AS np
      FROM wd, we
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM wd) AS na,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM we) AS nb,
           cnt.gt, cnt.lt,
           CAST((cnt.gt - cnt.lt) * 1000000 // cnt.np AS BIGINT)
             AS delta_ppm
    FROM cnt
"""


@register("cliffs_delta_effect", _CD_ORACLE)
def cliffs_delta_effect(spark, sf_dir):
    """Cliff's delta (Cliff 1993): the ordinal effect size
    δ = P(X>Y) − P(X<Y) between weekday and weekend daily revenue
    (engine-neutral (epoch+3)%7 weekday rule) — the robust
    distribution-free companion to mann_whitney_u_gate: U tests
    significance, δ reports magnitude. Pure integer pair counting over
    the calendar-bounded day rollup; the signed numerator divides with
    truncation toward zero (identical both engines).

    Spark shape: one fact-keyed day agg (persisted — both group sides
    and the counts consume it), one bounded ~1700×680 cross pair count.
    Scale-free (calendar-bounded at every corpus size)."""
    o = _t(spark, sf_dir, "orders")
    days = materialize(
        o.groupBy(F.expr("CAST(o_orderdate AS DATE)").alias("d"))
        .agg(
            F.expr(
                "CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT))"
                " AS BIGINT) div 100"
            ).alias("x"),
        )
        .select(
            F.expr("datediff(d, DATE '1970-01-01')").alias("ed"), "x"
        )
    )
    wd = days.where(F.expr("(ed + 3) % 7 < 5")).select(
        F.col("x").alias("xa")
    )
    we = days.where(F.expr("(ed + 3) % 7 >= 5")).select(
        F.col("x").alias("xb")
    )
    cnt = wd.crossJoin(we).agg(
        F.sum(F.when(F.col("xa") > F.col("xb"), 1).otherwise(0))
        .cast("long")
        .alias("gt"),
        F.sum(F.when(F.col("xa") < F.col("xb"), 1).otherwise(0))
        .cast("long")
        .alias("lt"),
        F.count(F.lit(1)).cast("long").alias("np"),
    )
    na = wd.agg(F.count(F.lit(1)).cast("long").alias("na"))
    nb = we.agg(F.count(F.lit(1)).cast("long").alias("nb"))
    return (
        cnt.crossJoin(F.broadcast(na))
        .crossJoin(F.broadcast(nb))
        .select(
            "na",
            "nb",
            "gt",
            "lt",
            F.expr(
                "CAST((gt - lt) * 1000000 div np AS BIGINT)"
            ).alias("delta_ppm"),
        )
    )
