"""Round-10 wave 9: fairness auditing, EWMA process control, and
rank-biased precision (named published recipes absent from the registry):

- fairness_equalized_odds_audit: the group-fairness audit of Hardt et
  al. 2016 — per sensitive group: selection rate (demographic parity),
  TPR and FPR (equalized odds), plus the worst-case gaps — over the SAME
  committed classifier scores and threshold as
  binary_classifier_eval_auc / youden_j_threshold. Pure integer
  counting.
- ewma_control_chart: the EWMA control chart (Roberts 1959) on daily
  revenue (integer DOLLARS — the matrix-profile moment discipline):
  z_t = z_{t-1} + (x_t − z_{t-1})/4, time-varying limits
  σ_z²(t) = σ²·(λ/(2−λ))·(1 − (1−λ)^{2t}), breaches decided by the
  squared comparison (z−μ)² > 9σ_z² — every double comes from identical
  elementwise text (libm-parity commitment), walked by ONE in-row fold
  over the calendar-bounded day array.
- rbp_ranking_metric: Rank-Biased Precision (Moffat & Zobel 2008) at
  the committed persistence p = 1/2 — the one p where RBP is an EXACT
  dyadic rational: RBP = Σ rel_k/2^k, emitted as the pure-integer
  Σ rel_k·2^{10−k}·10⁶ div 2^10 over the per-nation spend rankings
  (binary relevance = the top spend half, same grading base as
  err_graded_ranking — ERR, nDCG/MRR, and RBP now cover the cascade,
  gain, and persistence user models).

Reference parity: beyond the reference kv kernel
(/root/reference/src/hpmr.h:1-10) along the brief's LLM-pipeline axis.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from hpmr_spark.catalog import _t, register
from hpmr_spark.engine import materialize
from hpmr_spark.operators.mleval_queries import _SCORED_SQL, _scored

# ---------------------------------------------------------------------------
# Equalized-odds fairness audit
# ---------------------------------------------------------------------------

_FA_THRESH = 500000  # same committed threshold as the AUC confusion row

_FA_ORACLE = f"""
    WITH s AS ({_SCORED_SQL}),
    g AS (
      SELECT CAST(label % 3 AS BIGINT) AS grp, y, score_ppm
      FROM (SELECT e.label, s.y, s.score_ppm
            FROM s JOIN embeddings e ON s.vec_id = e.vec_id)
    ),
    per AS (
      SELECT grp,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN score_ppm >= {_FA_THRESH} THEN 1 ELSE 0 END)
                  AS BIGINT) AS sel,
             CAST(SUM(y) AS BIGINT) AS pos,
             CAST(SUM(CASE WHEN y = 1 AND score_ppm >= {_FA_THRESH}
                      THEN 1 ELSE 0 END) AS BIGINT) AS tp,
             CAST(SUM(CASE WHEN y = 0 AND score_ppm >= {_FA_THRESH}
                      THEN 1 ELSE 0 END) AS BIGINT) AS fp
      FROM g GROUP BY grp
    ),
    rates AS (
      SELECT grp, n,
             sel * 1000000 // n AS sel_ppm,
             CASE WHEN pos > 0 THEN tp * 1000000 // pos END AS tpr_ppm,
             CASE WHEN n - pos > 0 THEN fp * 1000000 // (n - pos) END
               AS fpr_ppm
      FROM per
    ),
    gaps AS (
      SELECT CAST(MAX(sel_ppm) - MIN(sel_ppm) AS BIGINT) AS dp_gap_ppm,
             CAST(MAX(tpr_ppm) - MIN(tpr_ppm) AS BIGINT) AS tpr_gap_ppm,
             CAST(MAX(fpr_ppm) - MIN(fpr_ppm) AS BIGINT) AS fpr_gap_ppm
      FROM rates
    )
    SELECT r.grp, r.n, CAST(r.sel_ppm AS BIGINT) AS sel_ppm,
           CAST(r.tpr_ppm AS BIGINT) AS tpr_ppm,
           CAST(r.fpr_ppm AS BIGINT) AS fpr_ppm,
           gaps.dp_gap_ppm, gaps.tpr_gap_ppm, gaps.fpr_gap_ppm
    FROM rates r, gaps
"""


@register("fairness_equalized_odds_audit", _FA_ORACLE)
def fairness_equalized_odds_audit(spark, sf_dir):
    """Group-fairness audit (Hardt et al. 2016): over the SAME committed
    classifier and threshold as binary_classifier_eval_auc, each
    sensitive group (label % 3 — independent of the label%2 target bit)
    gets its selection rate, TPR, and FPR in exact integer ppm, and every
    row carries the worst-case cross-group gaps — demographic-parity gap
    and the two equalized-odds gaps — the three numbers a fairness gate
    thresholds on. Pure counting; NULL-guarded empty classes.

    Spark shape: one scan + join to recover the group bit, one group agg
    (3 rows — persisted, gaps + final consumers), one 1-row gaps agg
    broadcast back. Linear at any scale."""
    s = _scored(spark, sf_dir)
    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", (F.col("label") % 3).cast("long").alias("grp")
    )
    per = (
        s.join(e, "vec_id")
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.when(F.col("score_ppm") >= _FA_THRESH, 1).otherwise(0))
            .cast("long")
            .alias("sel"),
            F.sum("y").cast("long").alias("pos"),
            F.sum(
                F.when(
                    (F.col("y") == 1) & (F.col("score_ppm") >= _FA_THRESH), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("tp"),
            F.sum(
                F.when(
                    (F.col("y") == 0) & (F.col("score_ppm") >= _FA_THRESH), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("fp"),
        )
    )
    rates = materialize(per.select(
        "grp",
        "n",
        F.expr("sel * 1000000 div n").alias("sel_ppm"),
        F.expr("CASE WHEN pos > 0 THEN tp * 1000000 div pos END").alias(
            "tpr_ppm"
        ),
        F.expr(
            "CASE WHEN n - pos > 0 THEN fp * 1000000 div (n - pos) END"
        ).alias("fpr_ppm"),
    ))
    gaps = rates.agg(
        (F.max("sel_ppm") - F.min("sel_ppm")).cast("long").alias("dp_gap_ppm"),
        (F.max("tpr_ppm") - F.min("tpr_ppm")).cast("long").alias("tpr_gap_ppm"),
        (F.max("fpr_ppm") - F.min("fpr_ppm")).cast("long").alias("fpr_gap_ppm"),
    )
    return rates.crossJoin(F.broadcast(gaps)).select(
        "grp",
        "n",
        F.col("sel_ppm").cast("long").alias("sel_ppm"),
        F.col("tpr_ppm").cast("long").alias("tpr_ppm"),
        F.col("fpr_ppm").cast("long").alias("fpr_ppm"),
        "dp_gap_ppm",
        "tpr_gap_ppm",
        "fpr_gap_ppm",
    )


# ---------------------------------------------------------------------------
# EWMA control chart
# ---------------------------------------------------------------------------

# acc = [t, z, pow, n_breach, first_breach_t] as doubles (all components
# either exact small ints in double or deterministic identical-text
# floats). λ = 1/4 ⟹ λ/(2−λ) = 1/7; limits L = 3.

def _ew_fold(is_spark: bool) -> str:
    def el(i):
        return f"element_at(_acc, {i})" if is_spark else f"_acc[{i}]"

    x = "_x" if is_spark else "_e[1]"
    z_new = f"({el(2)} + ({x} - {el(2)}) / CAST(4.0 AS DOUBLE))"
    pow_new = f"({el(3)} * CAST(0.5625 AS DOUBLE))"
    # breach at step t+1: (z' − μ)² > 9·σ²·(1/7)·(1 − pow')
    breach = (
        f"(CASE WHEN ({z_new} - mu) * ({z_new} - mu)"
        f" > CAST(9.0 AS DOUBLE) * var * (CAST(1.0 AS DOUBLE) - {pow_new})"
        f" / CAST(7.0 AS DOUBLE)"
        f" THEN CAST(1.0 AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END)"
    )
    new = (
        f"{el(1)} + CAST(1.0 AS DOUBLE),"
        f" {z_new},"
        f" {pow_new},"
        f" {el(4)} + {breach},"
        f" CASE WHEN {el(5)} > CAST(0.5 AS DOUBLE) THEN {el(5)}"
        f" WHEN {breach} > CAST(0.5 AS DOUBLE)"
        f" THEN {el(1)} + CAST(1.0 AS DOUBLE)"
        f" ELSE CAST(0.0 AS DOUBLE) END"
    )
    if is_spark:
        return (
            f"aggregate(xs, array(CAST(0.0 AS DOUBLE), mu,"
            f" CAST(1.0 AS DOUBLE), CAST(0.0 AS DOUBLE),"
            f" CAST(0.0 AS DOUBLE)), (_acc, _x) -> array({new}))"
        )
    return (
        f"list_reduce(list_prepend([CAST(0.0 AS DOUBLE), mu,"
        f" CAST(1.0 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE)],"
        f" list_transform(xs, _v -> [CAST(_v AS DOUBLE)])),"
        f" (_acc, _e) -> [{new}])"
    )


_EW_ORACLE = f"""
    WITH days AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               // 100 AS x
      FROM orders GROUP BY CAST(o_orderdate AS DATE)
    ),
    agg AS (
      SELECT list(x ORDER BY d) AS xs,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(x * x) AS BIGINT) AS sxx
      FROM days
    ),
    m AS (
      SELECT xs, n,
             CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mu,
             (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
             / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1)) AS var
      FROM agg
    ),
    folded AS (SELECT n, {_ew_fold(False)} AS fin FROM m)
    SELECT CAST(n AS BIGINT) AS n_days,
           CAST(fin[4] AS BIGINT) AS n_breach,
           CAST(fin[5] AS BIGINT) AS first_breach_t,
           CAST(FLOOR(fin[2] * 1000000) AS BIGINT) AS final_z_micro
    FROM folded
"""


@register("ewma_control_chart", _EW_ORACLE)
def ewma_control_chart(spark, sf_dir):
    """EWMA control chart (Roberts 1959; the small-shift-sensitive
    Shewhart successor — read next to control_chart_we_rules and
    cusum_changepoint_hours): daily revenue in integer DOLLARS (cents
    div 100 — the matrix-profile discipline keeping Σx² in int64),
    z_t = z_{t-1} + (x_t − z_{t-1})/4, and the time-varying limit
    σ_z²(t) = σ²·(1/7)·(1 − 0.5625^t) with breaches decided by the
    SQUARED comparison — no sqrt in the decision path; every float is
    identical elementwise text both engines. Emits breach count, first
    breach index, final z.

    Spark shape: one fact-keyed day agg collapses to the
    calendar-bounded array + exact integer moments; the chart walk is
    ONE in-row fold (state: [t, z, pow, breaches, first]). Scale-free
    (the day array is ~2400 at every SF)."""
    o = _t(spark, sf_dir, "orders")
    agg = o.groupBy(F.expr("CAST(o_orderdate AS DATE)").alias("d")).agg(
        F.expr(
            "CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)"
            " div 100"
        ).alias("x")
    ).agg(
        F.expr(
            "transform(array_sort(collect_list(struct(d, x))), p -> p.x)"
        ).alias("xs"),
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
    )
    m = agg.select(
        "xs",
        "n",
        F.expr("CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)").alias("mu"),
        F.expr(
            "(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
            " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
            " / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1))"
        ).alias("var"),
    )
    folded = m.select("n", F.expr(_ew_fold(True)).alias("fin"))
    return folded.select(
        F.col("n").cast("long").alias("n_days"),
        F.expr("CAST(element_at(fin, 4) AS BIGINT)").alias("n_breach"),
        F.expr("CAST(element_at(fin, 5) AS BIGINT)").alias("first_breach_t"),
        F.expr(
            "CAST(FLOOR(element_at(fin, 2) * 1000000) AS BIGINT)"
        ).alias("final_z_micro"),
    )


# ---------------------------------------------------------------------------
# Rank-Biased Precision at p = 1/2
# ---------------------------------------------------------------------------


def _rbp_w(k: str) -> str:
    cases = " ".join(f"WHEN {i} THEN {1 << (10 - i)}" for i in range(1, 11))
    return f"(CASE CAST({k} AS INT) {cases} ELSE 0 END)"


_RBP_ORACLE = f"""
    WITH spend AS (
      SELECT c.c_nationkey,
             o.o_custkey,
             CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY c.c_nationkey, o.o_custkey
    ),
    topk AS (
      SELECT c_nationkey, cents,
             ROW_NUMBER() OVER (PARTITION BY c_nationkey
                                ORDER BY cents DESC, o_custkey) AS rn,
             MAX(cents) OVER (PARTITION BY c_nationkey) AS maxc
      FROM spend QUALIFY rn <= 10
    )
    SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_ranked,
           CAST(SUM(CASE WHEN (4 * cents) // (maxc + 1) >= 2
                    THEN {_rbp_w('rn')} ELSE 0 END) * 1000000 // 1024
                AS BIGINT) AS rbp_micro
    FROM topk GROUP BY c_nationkey
"""


@register("rbp_ranking_metric", _RBP_ORACLE)
def rbp_ranking_metric(spark, sf_dir):
    """Rank-Biased Precision (Moffat & Zobel 2008) at the committed
    persistence p = 1/2 — the one p where the geometric weights are
    exact dyadic rationals, so RBP = (1−p)·Σ rel_k·p^{k−1} = Σ rel_k/2^k
    is the PURE INTEGER Σ rel_k·2^{10−k}·10⁶ div 2^10. Relevance is
    binary (top spend half: the same grade base as err_graded_ranking's
    g ≥ 2) over the per-nation top-10 customer ranking. With MRR/nDCG
    (gain model), ERR (cascade model) and now RBP (persistence model),
    the registry covers the three standard ranking user models.

    Spark shape: one fact-keyed agg, one nation-partitioned window
    (never global), one nation agg — identical to the ERR row's plan
    class."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    spend = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_nationkey", "o_custkey")
        .agg(
            F.sum(F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)"))
            .cast("long")
            .alias("cents")
        )
    )
    w = Window.partitionBy("c_nationkey")
    topk = spend.select(
        "c_nationkey",
        "cents",
        F.row_number()
        .over(w.orderBy(F.desc("cents"), F.asc("o_custkey")))
        .alias("rn"),
        F.max("cents").over(w).alias("maxc"),
    ).where(F.col("rn") <= 10)
    return topk.groupBy(
        F.col("c_nationkey").cast("long").alias("nationkey")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_ranked"),
        F.expr(
            f"CAST(SUM(CASE WHEN (4 * cents) div (maxc + 1) >= 2"
            f" THEN {_rbp_w('rn')} ELSE 0 END) * 1000000 div 1024 AS BIGINT)"
        ).alias("rbp_micro"),
    )
