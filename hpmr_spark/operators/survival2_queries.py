"""Round-10 wave 15: restricted mean survival time (named published
recipe absent from the registry):

- rmst_survival_time: RMST (Royston & Parmar 2013; Uno et al. 2014) —
  the area under the Kaplan-Meier curve up to the horizon τ, THE
  recommended effect measure when proportional hazards fail (reads as
  "mean error-free microseconds per user up to τ"). Computed by EXACT
  integer integration of km_survival_curve's committed ppm step
  function: τ = the last observed death time, the leading interval
  carries S = 10⁶ ppm, and each inter-death interval carries the
  already-committed floored surv_ppm — so the integral is
  Σ S_ppm·Δt_us div 10⁶ with an int128 sum, no new float commitments
  at all. The oracle WRAPS the registered KM oracle text verbatim
  (single source of truth for the curve).

Reference parity: beyond the reference kv kernel
(/root/reference/src/hpmr.h:1-10) along the brief's LLM-pipeline axis.
"""

from __future__ import annotations

from pyspark.sql import functions as F

import hpmr_spark.operators.eval_stats2_queries  # noqa: F401 — registers
# km_survival_curve's oracle BEFORE _rmst_oracle() reads it (direct imports
# of this module must not depend on all_queries' import order)
from hpmr_spark.catalog import ORACLES, register
from hpmr_spark.engine import materialize
from hpmr_spark.functions.ranking import bounded_rank


def _rmst_oracle() -> str:
    km = ORACLES["km_survival_curve"]
    return f"""
    WITH kmrows AS MATERIALIZED ({km}),
    ranked AS (
      SELECT dur_us, surv_ppm,
             ROW_NUMBER() OVER (ORDER BY dur_us) AS rn
      FROM kmrows
    ),
    tau AS (SELECT CAST(MAX(dur_us) AS BIGINT) AS t,
                   CAST(MIN(dur_us) AS BIGINT) AS t1,
                   CAST(COUNT(*) AS BIGINT) AS k FROM ranked),
    segs AS (
      SELECT a.surv_ppm, b.dur_us - a.dur_us AS dt
      FROM ranked a JOIN ranked b ON b.rn = a.rn + 1
    ),
    tot AS (
      SELECT CAST(COALESCE(SUM(CAST(surv_ppm AS HUGEINT) * dt), 0)
               AS HUGEINT) AS inner_area
      FROM segs
    )
    SELECT tau.k AS n_death_times,
           tau.t AS tau_us,
           CAST((CAST(1000000 AS HUGEINT) * tau.t1 + tot.inner_area)
                // 1000000 AS BIGINT) AS rmst_us,
           CAST((CAST(1000000 AS HUGEINT) * tau.t1 + tot.inner_area)
                // GREATEST(tau.t, 1) AS BIGINT) AS rmst_ratio_ppm
    FROM tau, tot
"""


@register("rmst_survival_time", _rmst_oracle())
def rmst_survival_time(spark, sf_dir):
    """Restricted Mean Survival Time (Royston & Parmar 2013): the area
    under the Kaplan-Meier error-free-time curve up to τ = the last
    observed death time — "expected error-free microseconds per user up
    to τ", the PH-assumption-free effect measure next to
    km_survival_curve (the curve), nelson_aalen_hazard (the rate) and
    logrank_test_cohorts (the test): the survival family's fourth
    standard readout. Integration is EXACT over the already-committed
    ppm step values: 10⁶·t₁ (everyone alive before the first death) +
    Σ S_ppm·Δt (int128) div 10⁶; the ratio column is RMST/τ in ppm.

    Spark shape: builds ON the registered KM query's output frame (the
    bounded death-time table — one row per distinct death time), ranks
    it with the broadcast bounded_rank, rn-equi-joins consecutive rows
    for the interval widths, and one 1-row agg. Oracle wraps the KM
    oracle text verbatim — one source of truth. The KM frame feeds rank
    + extremes consumers ⟹ persisted."""
    from hpmr_spark.operators.eval_stats2_queries import km_survival_curve

    km = materialize(
        km_survival_curve(spark, sf_dir)
        .select("dur_us", "surv_ppm")
    )
    ranked = bounded_rank(km, "dur_us", "dur_us", primary_desc=False, out="rn")
    a = ranked.select(
        F.col("surv_ppm").alias("sa"),
        F.col("dur_us").alias("da"),
        F.col("rn").alias("ra"),
    )
    b = ranked.select(F.col("dur_us").alias("db"), F.col("rn").alias("rb"))
    segs = a.join(b, F.col("rb") == F.col("ra") + 1).select(
        F.expr("CAST(sa AS DECIMAL(38,0)) * (db - da)").alias("area")
    )
    tot = segs.agg(
        F.coalesce(F.sum("area"), F.lit(0).cast("decimal(38,0)")).alias(
            "inner_area"
        )
    )
    ext = km.agg(
        F.max("dur_us").cast("long").alias("t"),
        F.min("dur_us").cast("long").alias("t1"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    return tot.crossJoin(F.broadcast(ext)).select(
        F.col("k").alias("n_death_times"),
        F.col("t").alias("tau_us"),
        F.expr(
            "CAST((CAST(1000000 AS DECIMAL(38,0)) * t1 + inner_area)"
            " div 1000000 AS BIGINT)"
        ).alias("rmst_us"),
        F.expr(
            "CAST((CAST(1000000 AS DECIMAL(38,0)) * t1 + inner_area)"
            " div GREATEST(t, 1) AS BIGINT)"
        ).alias("rmst_ratio_ppm"),
    )
