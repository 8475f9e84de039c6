"""Round-10 wave 2: evaluation robustness — operating-point selection,
preference-pair evaluation, inter-rater reliability, and a
randomization test (each a named published recipe absent from the
registry):

- youden_j_threshold: the Youden J optimal operating point (Youden 1950)
  over the committed classifier scores of binary_classifier_eval_auc —
  argmax_t TPR(t) − FPR(t) with a pure-integer argmax (common-denominator
  cross-multiplication), the standard companion to AUC for picking THE
  threshold.
- dpo_margin_stats: DPO implicit-reward margin evaluation (Rafailov et
  al. 2023): per-lang preference pairs (longer doc = chosen), committed
  length-biased surrogate rewards, margin accuracy + mean margin — the
  eval table every DPO run prints.
- krippendorff_alpha_nominal: Krippendorff's alpha (nominal data) over 3
  committed synthetic raters with 20% hash-gated noise — THE
  chance-corrected inter-rater reliability for annotation-quality gates
  (next to cohens_kappa_raters, which is 2-rater only).
- randomization_test_mean_diff: a Monte-Carlo randomization test (Fisher
  1935; Edgington 1964) for weekday-vs-weekend mean daily revenue:
  B = 250 committed hash-derived relabelings of the calendar-day rollup,
  exact integer cross-multiplied statistics, p = (1 + #{T_b ≥ T})/(B+1).

Integer discipline (CLAUDE.md): every statistic is an exact-integer
cross-multiplication; products that can exceed int64 at large SF ride the
engine-split int128 idiom (Spark DECIMAL(38,0) div / DuckDB HUGEINT //);
divisions whose numerator can go negative are documented
truncation-toward-zero (Spark div ≡ DuckDB // for ALL integers).

Reference parity: beyond the reference kv kernel
(/root/reference/src/hpmr.h:1-10) along the brief's LLM-pipeline axis.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from hpmr_spark.catalog import _t, register
from hpmr_spark.engine import materialize
from hpmr_spark.functions.hashing import hash60, sql_hash60, spark_sql_hash60
from hpmr_spark.functions.ranking import global_order_multi
from hpmr_spark.operators.mleval_queries import _SCORED_SQL, _scored

# ---------------------------------------------------------------------------
# Youden J optimal threshold
# ---------------------------------------------------------------------------

_YJ_ORACLE = f"""
    WITH s AS ({_SCORED_SQL}),
    g AS MATERIALIZED (
      SELECT score_ppm, CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(y) AS BIGINT) AS pos
      FROM s GROUP BY score_ppm
    ),
    tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n,
                   CAST(SUM(pos) AS BIGINT) AS npos FROM g),
    pre AS (
      SELECT score_ppm, cnt, pos,
             COALESCE(CAST(SUM(cnt) OVER (ORDER BY score_ppm
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
               0) AS pre_cnt,
             COALESCE(CAST(SUM(pos) OVER (ORDER BY score_ppm
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT),
               0) AS pre_pos
      FROM g
    ),
    j AS (
      SELECT score_ppm AS threshold_ppm,
             tot.npos - pre_pos AS tp,
             (tot.n - tot.npos) - (pre_cnt - pre_pos) AS fp,
             pre_pos AS fn,
             pre_cnt - pre_pos AS tn,
             CAST(tot.npos - pre_pos AS HUGEINT) * (tot.n - tot.npos)
               - CAST((tot.n - tot.npos) - (pre_cnt - pre_pos) AS HUGEINT)
                 * tot.npos AS jnum,
             tot.n AS n, tot.npos AS npos
      FROM pre, tot
    )
    SELECT threshold_ppm, tp, fp, fn, tn,
           CAST(jnum * 1000000
                // (CAST(npos AS HUGEINT) * (n - npos)) AS BIGINT) AS j_ppm
    FROM j
    QUALIFY ROW_NUMBER() OVER (ORDER BY jnum DESC, threshold_ppm) = 1
"""


@register("youden_j_threshold", _YJ_ORACLE)
def youden_j_threshold(spark, sf_dir):
    """Youden's J optimal operating point (Youden 1950): over the SAME
    committed classifier scores as binary_classifier_eval_auc, pick the
    threshold t maximizing J(t) = TPR(t) − FPR(t). The argmax is a pure
    integer comparison — J's common denominator P·N is constant, so
    maximizing jnum = TP·N_neg − FP·N_pos (int128) IS maximizing J, with
    the (jnum DESC, t ASC) tie-break; the single division to ppm happens
    once at the winner. Emits the full confusion row at the chosen t.

    Spark shape: per-score histogram (bounded by the ppm domain — ≤ 10⁶
    rows at ANY corpus scale) → ONE fused two-pass prefix machinery
    (global_order_multi: both strict running sums in one pass, never a
    global window) → 1-row TakeOrdered argmax. The tiny histogram is
    persisted (totals + prefix consumers — multi-consumer rule)."""
    s = _scored(spark, sf_dir)
    g = materialize(
        s.groupBy("score_ppm")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.sum("y").cast("long").alias("pos"),
        )
    )
    tot = g.agg(
        F.sum("cnt").cast("long").alias("n"),
        F.sum("pos").cast("long").alias("npos"),
    )
    pre = global_order_multi(
        g,
        ["score_ppm"],
        running=[
            ("cnt", "sum", True, "pre_cnt"),
            ("pos", "sum", True, "pre_pos"),
        ],
    ).select(
        "score_ppm",
        "cnt",
        "pos",
        F.coalesce(F.col("pre_cnt"), F.lit(0)).alias("pre_cnt"),
        F.coalesce(F.col("pre_pos"), F.lit(0)).alias("pre_pos"),
    )
    j = pre.crossJoin(F.broadcast(tot)).select(
        F.col("score_ppm").alias("threshold_ppm"),
        (F.col("npos") - F.col("pre_pos")).cast("long").alias("tp"),
        (
            (F.col("n") - F.col("npos"))
            - (F.col("pre_cnt") - F.col("pre_pos"))
        )
        .cast("long")
        .alias("fp"),
        F.col("pre_pos").cast("long").alias("fn"),
        (F.col("pre_cnt") - F.col("pre_pos")).cast("long").alias("tn"),
        F.expr(
            "CAST(npos - pre_pos AS DECIMAL(38,0)) * (n - npos)"
            " - CAST((n - npos) - (pre_cnt - pre_pos) AS DECIMAL(38,0))"
            " * npos"
        ).alias("jnum"),
        "n",
        "npos",
    )
    return (
        j.orderBy(F.desc("jnum"), F.asc("threshold_ppm"))
        .limit(1)
        .select(
            "threshold_ppm",
            "tp",
            "fp",
            "fn",
            "tn",
            F.expr(
                "CAST(jnum * 1000000"
                " div (CAST(npos AS DECIMAL(38,0)) * (n - npos)) AS BIGINT)"
            ).alias("j_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# DPO implicit-reward margin evaluation
# ---------------------------------------------------------------------------

# committed surrogate implicit-reward numerator (nanos): length-biased +
# hash noise, so the longer (chosen) document usually — not always — wins.
# margin_nano = (r_w − r_l)·β with β = 0.1 as ·100 div 1000
# (truncation-toward-zero on the possibly-negative difference, identical
# both engines).

def _dpo_r_spark(doc_col: str, nchars_col: str) -> str:
    h = spark_sql_hash60(f"'dpo:' || CAST({doc_col} AS STRING)")
    return f"({h} % 1000000) + {nchars_col} * 1000"


def _dpo_r_duck(doc_col: str, nchars_col: str) -> str:
    h = sql_hash60(f"'dpo:' || CAST({doc_col} AS STRING)")
    return f"({h} % 1000000) + {nchars_col} * 1000"


_DPO_ORACLE = f"""
    WITH ranked AS (
      SELECT doc_id, lang, n_chars,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
      FROM documents
    ),
    pairs AS (
      SELECT lang,
             MAX({{'nc': n_chars, 'doc_id': doc_id}}) AS w,
             MIN({{'nc': n_chars, 'doc_id': doc_id}}) AS l
      FROM ranked
      GROUP BY lang, (rn - 1) // 2
      HAVING COUNT(*) = 2
    ),
    margins AS (
      SELECT lang,
             (({_dpo_r_duck("w.doc_id", "w.nc")})
              - ({_dpo_r_duck("l.doc_id", "l.nc")})) * 100 // 1000
               AS margin_nano
      FROM pairs
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN margin_nano > 0 THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS acc_ppm,
           CAST(CAST(SUM(margin_nano) AS HUGEINT)
                // COUNT(*) AS BIGINT) AS mean_margin_nano
    FROM margins GROUP BY lang
"""


@register("dpo_margin_stats", _DPO_ORACLE)
def dpo_margin_stats(spark, sf_dir):
    """DPO implicit-reward margin evaluation (Rafailov et al. 2023): pair
    consecutive same-language documents (doc_id order), take the longer as
    chosen; the implicit reward r(y) = β(log π(y) − log π_ref(y)) is a
    COMMITTED length-biased surrogate (hash noise + 1000·n_chars nanos, so
    chosen usually-but-not-always wins — the accuracy is a real
    measurement, not a tautology). Emits per-lang pair count, margin
    accuracy (the "reward accuracy" every DPO run logs) and mean margin
    (truncating integer division, sign-identical both engines).

    Spark shape: one lang-partitioned window (never global), one pair agg
    (MIN/MAX over named structs — the cross-engine argmin idiom), one
    lang agg. Linear at any scale."""
    d = _t(spark, sf_dir, "documents")
    ranked = d.select(
        "doc_id",
        "lang",
        "n_chars",
        F.row_number()
        .over(Window.partitionBy("lang").orderBy("doc_id"))
        .alias("rn"),
    )
    pairs = (
        ranked.groupBy("lang", F.expr("(rn - 1) div 2").alias("pid"))
        .agg(
            F.expr("MAX(named_struct('nc', n_chars, 'doc_id', doc_id))").alias(
                "w"
            ),
            F.expr("MIN(named_struct('nc', n_chars, 'doc_id', doc_id))").alias(
                "l"
            ),
            F.count(F.lit(1)).alias("_m"),
        )
        .where(F.col("_m") == 2)
    )
    margins = pairs.select(
        "lang",
        F.expr(
            f"(({_dpo_r_spark('w.doc_id', 'w.nc')})"
            f" - ({_dpo_r_spark('l.doc_id', 'l.nc')})) * 100 div 1000"
        ).alias("margin_nano"),
    )
    return margins.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.expr(
            "CAST(SUM(CASE WHEN margin_nano > 0 THEN 1 ELSE 0 END) * 1000000"
            " div COUNT(*) AS BIGINT)"
        ).alias("acc_ppm"),
        F.expr("CAST(SUM(margin_nano) div COUNT(*) AS BIGINT)").alias(
            "mean_margin_nano"
        ),
    )


# ---------------------------------------------------------------------------
# Krippendorff's alpha (nominal)
# ---------------------------------------------------------------------------

# 3 committed raters; base category = hash % 3; each rater independently
# flips to one of the two other categories with probability 2/10
# (hash-gated) — agreement is high but imperfect, so alpha is a real
# measurement. m_u = 3 for every unit ⟹ the per-unit pairable-pair
# denominator (m_u − 1) = 2 is constant and Do is carried DOUBLED
# (Do2 = Σ_u disag_u) to stay integer.


def _ka_label(engine_hash, doc: str, rater: str) -> str:
    rd = "CAST(" + rater + " AS STRING) || ':' || CAST(" + doc + " AS STRING)"
    base = "(" + engine_hash("'ka:b:' || CAST(" + doc + " AS STRING)") + " % 3)"
    gate = "(" + engine_hash("'ka:n:' || " + rd) + " % 10)"
    flip = "(" + engine_hash("'ka:f:' || " + rd) + " % 2)"
    return (
        f"CASE WHEN {gate} < 2 THEN ({base} + 1 + {flip}) % 3 ELSE {base} END"
    )


_KA_RATINGS_DUCK = f"""
      SELECT doc_id, r, {_ka_label(sql_hash60, "doc_id", "r")} AS lab
      FROM documents, (SELECT unnest([0, 1, 2]) AS r)
"""

_KA_ORACLE = f"""
    WITH ratings AS ({_KA_RATINGS_DUCK}),
    dl AS MATERIALIZED (
      SELECT doc_id, lab, CAST(COUNT(*) AS BIGINT) AS c
      FROM ratings GROUP BY doc_id, lab
    ),
    per_unit AS (
      SELECT doc_id, 9 - CAST(SUM(c * c) AS BIGINT) AS disag
      FROM dl GROUP BY doc_id
    ),
    marg AS (SELECT lab, CAST(SUM(c) AS BIGINT) AS nc FROM dl GROUP BY lab),
    tot AS (
      SELECT CAST(SUM(nc) AS BIGINT) AS n,
             CAST(SUM(nc * nc) AS BIGINT) AS s2
      FROM marg
    ),
    do2 AS (SELECT CAST(SUM(disag) AS BIGINT) AS do2,
                   CAST(COUNT(*) AS BIGINT) AS n_units FROM per_unit)
    SELECT do2.n_units, tot.n AS n_ratings, do2.do2,
           CAST(2 * (CAST(tot.n AS HUGEINT) * tot.n - tot.s2)
                - CAST(do2.do2 AS HUGEINT) * (tot.n - 1) AS BIGINT) AS num,
           CAST((2 * (CAST(tot.n AS HUGEINT) * tot.n - tot.s2)
                 - CAST(do2.do2 AS HUGEINT) * (tot.n - 1)) * 1000000
                // (2 * (CAST(tot.n AS HUGEINT) * tot.n - tot.s2))
                AS BIGINT) AS alpha_ppm
    FROM do2, tot
"""


@register("krippendorff_alpha_nominal", _KA_ORACLE)
def krippendorff_alpha_nominal(spark, sf_dir):
    """Krippendorff's alpha for nominal data (Krippendorff 1970) — the
    chance-corrected inter-rater reliability that, unlike Cohen's kappa,
    generalizes past 2 raters: 3 committed synthetic raters (hash-gated
    20% category flips over a hash-derived base label) rate every
    document; alpha = 1 − Do/De from the coincidence construction. With
    m_u = 3 everywhere the per-unit denominator is the constant 2, so Do
    rides doubled (Do2 = Σ_u (9 − Σ_c n_uc²)) and
    alpha = (2(n²−Σn_c²) − Do2(n−1)) / (2(n²−Σn_c²)) — one int128
    expression, floored to ppm (truncation-toward-zero if ever negative,
    identical both engines).

    Spark shape: explode 3 raters (map-side), ONE (doc, label) count —
    persisted: both the per-unit and the marginal rollups consume it
    (multi-consumer rule) — then two tiny aggs. Linear at any scale."""
    d = _t(spark, sf_dir, "documents")
    ratings = d.select(
        "doc_id", F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("r")
    ).select(
        "doc_id",
        "r",
        F.expr(_ka_label(spark_sql_hash60, "doc_id", "r")).alias("lab"),
    )
    dl = materialize(
        ratings.groupBy("doc_id", "lab")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    per_unit = dl.groupBy("doc_id").agg(
        (F.lit(9) - F.sum(F.col("c") * F.col("c"))).cast("long").alias("disag")
    )
    marg = dl.groupBy("lab").agg(F.sum("c").cast("long").alias("nc"))
    tot = marg.agg(
        F.sum("nc").cast("long").alias("n"),
        F.sum(F.col("nc") * F.col("nc")).cast("long").alias("s2"),
    )
    do2 = per_unit.agg(
        F.sum("disag").cast("long").alias("do2"),
        F.count(F.lit(1)).cast("long").alias("n_units"),
    )
    return (
        do2.crossJoin(F.broadcast(tot))
        .select(
            "n_units",
            F.col("n").alias("n_ratings"),
            "do2",
            F.expr(
                "CAST(2 * (CAST(n AS DECIMAL(38,0)) * n - s2)"
                " - CAST(do2 AS DECIMAL(38,0)) * (n - 1) AS BIGINT)"
            ).alias("num"),
            F.expr(
                "CAST((2 * (CAST(n AS DECIMAL(38,0)) * n - s2)"
                " - CAST(do2 AS DECIMAL(38,0)) * (n - 1)) * 1000000"
                " div (2 * (CAST(n AS DECIMAL(38,0)) * n - s2)) AS BIGINT)"
            ).alias("alpha_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Monte-Carlo randomization test (weekday vs weekend mean daily revenue)
# ---------------------------------------------------------------------------

_RT_B = 250  # committed number of relabelings


def _rt_assign(engine_hash, b: str, ed: str) -> str:
    """Relabeled group: same 5/7 marginal as the real weekday split."""
    h = engine_hash(
        f"'rt:' || CAST({b} AS STRING) || ':' || CAST({ed} AS STRING)"
    )
    return f"(({h} % 7) < 5)"


_RT_ORACLE = f"""
    WITH days AS MATERIALIZED (
      SELECT CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS ed,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders GROUP BY CAST(o_orderdate AS DATE)
    ),
    obs AS (
      SELECT CAST(SUM(CASE WHEN (ed + 3) % 7 < 5 THEN 1 ELSE 0 END)
               AS BIGINT) AS na,
             CAST(SUM(CASE WHEN (ed + 3) % 7 < 5 THEN cents ELSE 0 END)
               AS BIGINT) AS sa,
             CAST(SUM(CASE WHEN (ed + 3) % 7 >= 5 THEN 1 ELSE 0 END)
               AS BIGINT) AS nb,
             CAST(SUM(CASE WHEN (ed + 3) % 7 >= 5 THEN cents ELSE 0 END)
               AS BIGINT) AS sb,
             CAST(COUNT(*) AS BIGINT) AS n_days
      FROM days
    ),
    perm AS (
      SELECT b,
             CAST(SUM(CASE WHEN ina THEN 1 ELSE 0 END) AS BIGINT) AS na,
             CAST(SUM(CASE WHEN ina THEN cents ELSE 0 END) AS BIGINT) AS sa,
             CAST(SUM(CASE WHEN ina THEN 0 ELSE 1 END) AS BIGINT) AS nb,
             CAST(SUM(CASE WHEN ina THEN 0 ELSE cents END) AS BIGINT) AS sb
      FROM (
        SELECT g.b, d.cents, {_rt_assign(sql_hash60, "g.b", "d.ed")} AS ina
        FROM days d, (SELECT unnest(generate_series(1, {_RT_B})) AS b) g)
      GROUP BY b
    ),
    tobs AS (
      SELECT abs(CAST(sa AS HUGEINT) * nb - CAST(sb AS HUGEINT) * na) AS t,
             na, nb, n_days
      FROM obs
    ),
    cnt AS (
      SELECT CAST(SUM(CASE WHEN p.na > 0 AND p.nb > 0
                    AND abs(CAST(p.sa AS HUGEINT) * p.nb
                            - CAST(p.sb AS HUGEINT) * p.na)
                        * (CAST(tobs.na AS HUGEINT) * tobs.nb)
                      >= tobs.t * (CAST(p.na AS HUGEINT) * p.nb)
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_ge
      FROM perm p, tobs
    )
    SELECT tobs.n_days,
           CAST({_RT_B} AS BIGINT) AS n_perms,
           cnt.n_ge,
           CAST(tobs.t // (CAST(tobs.na AS HUGEINT) * tobs.nb) AS BIGINT)
             AS mean_diff_cents,
           (1 + cnt.n_ge) * 1000000 // ({_RT_B} + 1) AS p_ppm
    FROM tobs, cnt
"""


@register("randomization_test_mean_diff", _RT_ORACLE)
def randomization_test_mean_diff(spark, sf_dir):
    """Monte-Carlo randomization test (Fisher 1935; Edgington 1964) for
    the weekday-vs-weekend difference in mean daily revenue: the
    calendar-day rollup is relabeled B = 250 times with committed
    hash-derived groups (same 5/7 marginal as the engine-neutral
    (epoch+3)%7 weekday rule), and the mean-difference statistic is
    compared as |ΔA|·(na·nb obs) ≥ |Δobs|·(na·nb perm) — a pure int128
    cross-multiplication, so no float mean ever decides a comparison.
    p = (1 + #{T_b ≥ T})/(B+1) in ppm, plus the observed mean gap in
    cents.

    Spark shape: ONE fact-keyed day agg (calendar-bounded, persisted —
    the observed row and the B-fold explode both consume it; the
    bounded-rollup pattern: the B×days frame is ~600k rows at EVERY
    corpus scale, so the test is scale-free)."""
    o = _t(spark, sf_dir, "orders")
    days = materialize(
        o.groupBy(F.expr("CAST(o_orderdate AS DATE)").alias("day"))
        .agg(
            F.sum(F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)"))
            .cast("long")
            .alias("cents"),
        )
        .select(
            F.expr("datediff(day, DATE '1970-01-01')").alias("ed"), "cents"
        )
    )
    ina_obs = F.expr("(ed + 3) % 7 < 5")
    obs = days.agg(
        F.sum(F.when(ina_obs, 1).otherwise(0)).cast("long").alias("na"),
        F.sum(F.when(ina_obs, F.col("cents")).otherwise(0))
        .cast("long")
        .alias("sa"),
        F.sum(F.when(~ina_obs, 1).otherwise(0)).cast("long").alias("nb"),
        F.sum(F.when(~ina_obs, F.col("cents")).otherwise(0))
        .cast("long")
        .alias("sb"),
        F.count(F.lit(1)).cast("long").alias("n_days"),
    )
    perm = (
        days.crossJoin(
            F.broadcast(
                spark.range(1, _RT_B + 1).select(F.col("id").alias("b"))
            )
        )
        .select(
            "b",
            "cents",
            F.expr(_rt_assign(spark_sql_hash60, "b", "ed")).alias("ina"),
        )
        .groupBy("b")
        .agg(
            F.sum(F.when(F.col("ina"), 1).otherwise(0))
            .cast("long")
            .alias("na"),
            F.sum(F.when(F.col("ina"), F.col("cents")).otherwise(0))
            .cast("long")
            .alias("sa"),
            F.sum(F.when(~F.col("ina"), 1).otherwise(0))
            .cast("long")
            .alias("nb"),
            F.sum(F.when(~F.col("ina"), F.col("cents")).otherwise(0))
            .cast("long")
            .alias("sb"),
        )
    )
    tobs = obs.select(
        F.expr(
            "abs(CAST(sa AS DECIMAL(38,0)) * nb - CAST(sb AS DECIMAL(38,0)) * na)"
        ).alias("t"),
        "na",
        "nb",
        "n_days",
    )
    cnt = (
        perm.alias("perm")
        .crossJoin(F.broadcast(tobs.alias("tobs")))
        .agg(
            F.sum(
                F.when(
                    (F.col("perm.na") > 0)
                    & (F.col("perm.nb") > 0)
                    & (
                        F.expr(
                            "abs(CAST(perm.sa AS DECIMAL(38,0)) * perm.nb"
                            " - CAST(perm.sb AS DECIMAL(38,0)) * perm.na)"
                            " * (CAST(tobs.na AS DECIMAL(38,0)) * tobs.nb)"
                            " >= t * (CAST(perm.na AS DECIMAL(38,0)) * perm.nb)"
                        )
                    ),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_ge")
        )
    )
    return (
        cnt.crossJoin(F.broadcast(tobs))
        .select(
            "n_days",
            F.lit(_RT_B).cast("long").alias("n_perms"),
            "n_ge",
            F.expr(
                "CAST(t div (CAST(na AS DECIMAL(38,0)) * nb) AS BIGINT)"
            ).alias("mean_diff_cents"),
            F.expr(
                f"(1 + n_ge) * 1000000 div ({_RT_B} + 1)"
            ).cast("long").alias("p_ppm"),
        )
    )
