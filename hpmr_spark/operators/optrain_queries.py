"""Round-12 wave 1: training-loop replay operators — the optimizer/RL
arithmetic that a training-data pipeline replays at corpus scale, each as
an in-row array fold or exact-moment aggregate with a DuckDB twin:

- adam_update_fold: Adam (Kingma & Ba 2015) optimizer replay per
  customer over an order-derived gradient sequence — bias-corrected
  first/second moments carried through the fold with running β^t powers.
- grpo_group_advantages: group-relative advantage normalization (GRPO,
  Shao et al. 2024 / DeepSeekMath): per-customer reward groups, exact
  integer moments, one final double per row.
- gradient_noise_scale: the "simple" gradient noise scale B_simple =
  tr(Σ)/|G|² (McCandlish et al. 2018) per nation over a committed 2-dim
  per-customer gradient proxy — pure integer moments + int128 ppm.
- logistic_sgd_fold: online logistic regression (SGD, η=0.1) per
  customer — the probabilistic EXP-parity twin of the integer
  perceptron_online_epoch already in the registry.

Float discipline (CLAUDE.md): folds use identical expression text in both
engines (element accessor differs only); EXP/SQRT parity is pinned by
tests/test_libm_parity.py; every emitted value is floored to an integer
scale at the END; moments are exact integers (dollars, not cents, where
squares must stay inside int64); int128 cross-multiplication for ppm.
Scale: per-customer folds shuffle once (groupBy) and fold map-side;
GRPO/GNS are one fact-keyed agg + broadcast-join — no windows, no
quadratic terms.

Reference parity: beyond the reference kv kernel
(/root/reference/src/hpmr.h:1-10) along the brief's training-pipeline axis.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hpmr_spark.catalog import _t, register
from hpmr_spark.functions.exprs import el_duck, el_spark, to_duck


# ------------------------------------------------------------------- Adam

# committed hyperparameters (the Kingma & Ba 2015 defaults, α=0.01)
_ADAM_A = "0.01e0"
_ADAM_B1 = "0.9e0"
_ADAM_B2 = "0.999e0"
_ADAM_EPS = "1.0e-8"


def _adam_fold(el) -> str:
    """acc = [theta, m, v, p1, p2, t] (p_i = β_i^t running powers);
    element = [okey, g]. Intermediates are inlined — SQL lambdas have no
    let-binding (the Sinkhorn rule)."""
    th, m, v = el("acc", "1"), el("acc", "2"), el("acc", "3")
    p1, p2, t = el("acc", "4"), el("acc", "5"), el("acc", "6")
    g = el("e", "2")
    p1n = f"({p1} * {_ADAM_B1})"
    p2n = f"({p2} * {_ADAM_B2})"
    mn = f"({_ADAM_B1} * {m} + (1.0e0 - {_ADAM_B1}) * {g})"
    vn = f"({_ADAM_B2} * {v} + (1.0e0 - {_ADAM_B2}) * {g} * {g})"
    step = (
        f"({_ADAM_A} * ({mn} / (1.0e0 - {p1n}))"
        f" / (sqrt({vn} / (1.0e0 - {p2n})) + {_ADAM_EPS}))"
    )
    return (
        f"(acc, e) -> array("
        f"{th} - {step}, {mn}, {vn}, {p1n}, {p2n}, {t} + 1.0e0)"
    )


# gradient proxy: committed integer-derived value in [-1, 1] — cents mod
# 2001 is exact in both engines (cents > 0, so % == mod here)
_ADAM_G = (
    "(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) % 2001 AS DOUBLE)"
    " - 1000.0e0) / 1000.0e0"
)

_ADAM_ORACLE = f"""
    WITH g AS (
      SELECT o_custkey, CAST(o_orderkey AS DOUBLE) AS okey,
             {_ADAM_G} AS g
      FROM orders
    ),
    folded AS (
      SELECT o_custkey,
             list_reduce(
               list_prepend([0.0, 0.0, 0.0, 1.0, 1.0, 0.0],
                            list([okey, g] ORDER BY okey)),
               {to_duck(_adam_fold(el_duck))}) AS s
      FROM g GROUP BY o_custkey
    )
    SELECT o_custkey AS custkey,
           CAST(list_extract(s, 6) AS BIGINT) AS n_steps,
           CAST(FLOOR(list_extract(s, 1) * 1000000000.0e0) AS BIGINT)
             AS theta_nano,
           CAST(FLOOR(list_extract(s, 2) * 1000000000.0e0) AS BIGINT)
             AS m_nano,
           CAST(FLOOR(list_extract(s, 3) * 1000000000.0e0) AS BIGINT)
             AS v_nano
    FROM folded
"""


@register("adam_update_fold", _ADAM_ORACLE)
def adam_update_fold(spark, sf_dir):
    """Adam optimizer replay (Kingma & Ba 2015, the exact Algorithm 1
    update with bias correction): each customer's order sequence (ordered
    by o_orderkey — a committed total order) yields a gradient stream
    g_t ∈ [-1, 1] (integer-derived), and the fold carries
    [θ, m, v, β₁^t, β₂^t, t] — the running β powers make the bias-corrected
    m̂ = m/(1-β₁^t), v̂ = v/(1-β₂^t) exact at every step. Emits the final
    state floored to nanos. The per-key sequential-optimizer replay shape:
    one shuffle, fold map-side, groups bounded by orders/customer."""
    o = _t(spark, sf_dir, "orders")
    g = o.select(
        "o_custkey",
        F.expr("CAST(o_orderkey AS DOUBLE)").alias("okey"),
        F.expr(_ADAM_G).alias("g"),
    )
    folded = g.groupBy("o_custkey").agg(
        F.expr(
            "aggregate(sort_array(collect_list(array(okey, g))),"
            " array(0.0e0, 0.0e0, 0.0e0, 1.0e0, 1.0e0, 0.0e0),"
            f" {_adam_fold(el_spark)})"
        ).alias("s")
    )
    e = el_spark
    return folded.select(
        F.col("o_custkey").alias("custkey"),
        F.expr(f"CAST({e('s', '6')} AS BIGINT)").alias("n_steps"),
        F.expr(
            f"CAST(FLOOR({e('s', '1')} * 1000000000.0e0) AS BIGINT)"
        ).alias("theta_nano"),
        F.expr(
            f"CAST(FLOOR({e('s', '2')} * 1000000000.0e0) AS BIGINT)"
        ).alias("m_nano"),
        F.expr(
            f"CAST(FLOOR({e('s', '3')} * 1000000000.0e0) AS BIGINT)"
        ).alias("v_nano"),
    )


# ------------------------------------------------------------------- GRPO

_GRPO_ORACLE = """
    WITH r AS (
      SELECT o_orderkey, o_custkey,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) // 100 AS rd
      FROM orders
    ),
    grp AS (
      SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(rd) AS BIGINT) AS s,
             CAST(SUM(rd * rd) AS BIGINT) AS q
      FROM r GROUP BY o_custkey
    )
    SELECT r.o_orderkey AS orderkey, r.o_custkey AS custkey,
           r.rd AS reward_dollars, grp.n AS group_n,
           CASE WHEN grp.n * grp.q - grp.s * grp.s <= 0 THEN 0
                ELSE CAST(FLOOR(
                  CAST(grp.n * r.rd - grp.s AS DOUBLE)
                  / sqrt(CAST(grp.n * grp.q - grp.s * grp.s AS DOUBLE))
                  * 1000000.0e0) AS BIGINT) END AS adv_micro
    FROM r JOIN grp ON r.o_custkey = grp.o_custkey
"""


@register("grpo_group_advantages", _GRPO_ORACLE)
def grpo_group_advantages(spark, sf_dir):
    """Group-relative advantage normalization (GRPO — Shao et al. 2024,
    DeepSeekMath eq. 3): each customer's orders form a reward group
    (reward = integer DOLLARS, cents div 100 — squares stay far inside
    int64), and every member's advantage is (r−μ)/σ over ITS group with
    population σ. Exact-moment identity: adv = (n·r − S)/√(n·Q − S²) —
    numerator and radicand are exact BIGINTs, ONE final double per row
    floored to micros; zero-variance groups emit 0 (committed). Shape:
    one fact agg + one equi-join back on the group key, no window."""
    o = _t(spark, sf_dir, "orders")
    r = o.select(
        F.col("o_orderkey").alias("orderkey"),
        "o_custkey",
        F.expr(
            "CAST(ROUND(o_totalprice * 100) AS BIGINT) div 100"
        ).alias("reward_dollars"),
    )
    grp = r.groupBy("o_custkey").agg(
        F.count(F.lit(1)).cast("long").alias("group_n"),
        F.sum("reward_dollars").cast("long").alias("s"),
        F.sum(
            F.col("reward_dollars") * F.col("reward_dollars")
        ).cast("long").alias("q"),
    )
    return r.join(grp, "o_custkey").select(
        "orderkey",
        F.col("o_custkey").alias("custkey"),
        "reward_dollars",
        "group_n",
        F.expr(
            "CASE WHEN group_n * q - s * s <= 0 THEN 0"
            " ELSE CAST(FLOOR("
            " CAST(group_n * reward_dollars - s AS DOUBLE)"
            " / sqrt(CAST(group_n * q - s * s AS DOUBLE))"
            " * 1000000.0e0) AS BIGINT) END"
        ).alias("adv_micro"),
    )


# ---------------------------------------------------- gradient noise scale

_GNS_ORACLE = """
    WITH f AS (
      SELECT c.c_nationkey AS nation, c.c_custkey,
             CAST(ROUND(c.c_acctbal * 100) AS BIGINT) // 100 AS f1,
             CAST(COALESCE(o.n, 0) AS BIGINT) AS f2
      FROM customer c LEFT JOIN (
        SELECT o_custkey, COUNT(*) AS n FROM orders GROUP BY o_custkey
      ) o ON c.c_custkey = o.o_custkey
    ),
    m AS (
      SELECT nation, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(f1) AS BIGINT) AS s1, CAST(SUM(f1 * f1) AS BIGINT) AS q1,
             CAST(SUM(f2) AS BIGINT) AS s2, CAST(SUM(f2 * f2) AS BIGINT) AS q2
      FROM f GROUP BY nation
    )
    SELECT nation, n,
           n * (q1 + q2) - (s1 * s1 + s2 * s2) AS tr_sigma_num,
           s1 * s1 + s2 * s2 AS g2_num,
           CASE WHEN s1 * s1 + s2 * s2 = 0 THEN -1
                ELSE CAST(CAST(n * (q1 + q2) - (s1 * s1 + s2 * s2)
                       AS HUGEINT) * 1000000
                     // CAST(s1 * s1 + s2 * s2 AS HUGEINT) AS BIGINT)
           END AS gns_ppm
    FROM m
"""


@register("gradient_noise_scale", _GNS_ORACLE)
def gradient_noise_scale(spark, sf_dir):
    """Simple gradient noise scale B_simple = tr(Σ)/|G|² (McCandlish,
    Kaplan, Amodei et al. 2018, eq. 2.9) per nation: each customer is one
    example with a committed 2-dim integer gradient proxy (acctbal
    DOLLARS, order count), Σ is the per-example covariance trace and G
    the mean gradient. Scale-exact identity over per-nation moments:
    tr(Σ)/|G|² = (n·ΣQ_d − ΣS_d²)/ΣS_d² — pure BIGINT moments, int128
    cross-multiplied ppm (Spark DECIMAL(38,0) div ≡ DuckDB HUGEINT //),
    zero-|G| nations emit -1 (committed sentinel)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    cnt = o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n"))
    f = c.join(cnt, c.c_custkey == cnt.o_custkey, "left").select(
        F.col("c_nationkey").alias("nation"),
        F.expr("CAST(ROUND(c_acctbal * 100) AS BIGINT) div 100").alias("f1"),
        F.expr("CAST(COALESCE(n, 0) AS BIGINT)").alias("f2"),
    )
    m = f.groupBy("nation").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("f1").cast("long").alias("s1"),
        F.sum(F.col("f1") * F.col("f1")).cast("long").alias("q1"),
        F.sum("f2").cast("long").alias("s2"),
        F.sum(F.col("f2") * F.col("f2")).cast("long").alias("q2"),
    )
    return m.select(
        "nation",
        "n",
        F.expr("n * (q1 + q2) - (s1 * s1 + s2 * s2)").alias("tr_sigma_num"),
        F.expr("s1 * s1 + s2 * s2").alias("g2_num"),
        F.expr(
            "CASE WHEN s1 * s1 + s2 * s2 = 0 THEN -1"
            " ELSE CAST(CAST(n * (q1 + q2) - (s1 * s1 + s2 * s2)"
            " AS DECIMAL(38,0)) * 1000000"
            " div CAST(s1 * s1 + s2 * s2 AS DECIMAL(38,0)) AS BIGINT)"
            " END"
        ).alias("gns_ppm"),
    )


# -------------------------------------------------------- online logistic

_LOG_ETA = "0.1e0"
# x in [0, ~0.6]: totalprice dollars / 1e6 — keeps |w·x+b| ≤ ~10, far from
# exp overflow; y = 1 for finalized orders
_LOG_X = "CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT) // 100 AS DOUBLE) / 1000000.0e0"
_LOG_Y = "CASE WHEN o_orderstatus = 'F' THEN 1.0e0 ELSE 0.0e0 END"


def _logistic_fold(el) -> str:
    """acc = [w, b, correct, n]; element = [okey, x, y].
    p = σ(w·x+b); SGD: w += η(y−p)x, b += η(y−p); correct counts the
    pre-update sign prediction (wx+b > 0 ⟺ predict 1)."""
    w, b = el("acc", "1"), el("acc", "2")
    c, n = el("acc", "3"), el("acc", "4")
    x, y = el("e", "2"), el("e", "3")
    z = f"({w} * {x} + {b})"
    p = f"(1.0e0 / (1.0e0 + exp(0.0e0 - {z})))"
    hit = (
        f"CASE WHEN ({z} > 0.0e0 AND {y} > 0.5e0)"
        f" OR ({z} <= 0.0e0 AND {y} < 0.5e0) THEN 1.0e0 ELSE 0.0e0 END"
    )
    return (
        f"(acc, e) -> array("
        f"{w} + {_LOG_ETA} * ({y} - {p}) * {x},"
        f" {b} + {_LOG_ETA} * ({y} - {p}),"
        f" {c} + {hit}, {n} + 1.0e0)"
    )


_LOG_ORACLE = f"""
    WITH g AS (
      SELECT o_custkey, CAST(o_orderkey AS DOUBLE) AS okey,
             {_LOG_X} AS x, {_LOG_Y} AS y
      FROM orders
    ),
    folded AS (
      SELECT o_custkey,
             list_reduce(
               list_prepend([0.0, 0.0, 0.0, 0.0],
                            list([okey, x, y] ORDER BY okey)),
               {to_duck(_logistic_fold(el_duck))}) AS s
      FROM g GROUP BY o_custkey
    )
    SELECT o_custkey AS custkey,
           CAST(list_extract(s, 4) AS BIGINT) AS n_steps,
           CAST(list_extract(s, 3) AS BIGINT) AS n_correct,
           CAST(FLOOR(list_extract(s, 1) * 1000000000.0e0) AS BIGINT)
             AS w_nano,
           CAST(FLOOR(list_extract(s, 2) * 1000000000.0e0) AS BIGINT)
             AS b_nano
    FROM folded
"""


@register("logistic_sgd_fold", _LOG_ORACLE)
def logistic_sgd_fold(spark, sf_dir):
    """Online logistic regression by SGD (one feature + bias, η=0.1) per
    customer, folding orders in o_orderkey order: the EXP-parity
    probabilistic twin of perceptron_online_epoch (which is all-integer).
    σ(z) = 1/(1+e^(−z)) uses the pinned cross-engine EXP commitment
    (tests/test_libm_parity.py); x is bounded ≤ ~0.6 by construction so z
    never approaches the exp overflow range. Emits final weights floored
    to nanos plus the online prediction-accuracy census."""
    o = _t(spark, sf_dir, "orders")
    # Spark div for the dollars truncation (// is DuckDB-only)
    g = o.select(
        "o_custkey",
        F.expr("CAST(o_orderkey AS DOUBLE)").alias("okey"),
        F.expr(_LOG_X.replace("//", "div")).alias("x"),
        F.expr(_LOG_Y).alias("y"),
    )
    folded = g.groupBy("o_custkey").agg(
        F.expr(
            "aggregate(sort_array(collect_list(array(okey, x, y))),"
            " array(0.0e0, 0.0e0, 0.0e0, 0.0e0),"
            f" {_logistic_fold(el_spark)})"
        ).alias("s")
    )
    e = el_spark
    return folded.select(
        F.col("o_custkey").alias("custkey"),
        F.expr(f"CAST({e('s', '4')} AS BIGINT)").alias("n_steps"),
        F.expr(f"CAST({e('s', '3')} AS BIGINT)").alias("n_correct"),
        F.expr(
            f"CAST(FLOOR({e('s', '1')} * 1000000000.0e0) AS BIGINT)"
        ).alias("w_nano"),
        F.expr(
            f"CAST(FLOOR({e('s', '2')} * 1000000000.0e0) AS BIGINT)"
        ).alias("b_nano"),
    )
