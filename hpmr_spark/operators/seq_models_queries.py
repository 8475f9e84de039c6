"""Round-9 wave 2: classic sequential state-space / online models the
registry lacked, each as an in-row array fold (the round-10 workhorse:
Spark `aggregate` over an ordered element list ≡ DuckDB
`list_reduce(list_prepend(init, ...))` with acc type = element type):

- kalman_1d_level_filter: 1-D local-level Kalman filter (Kalman 1960)
  over the calendar-bounded daily revenue series — committed Q/R, exact
  predict/update arithmetic, innovation census.
- hmm_forward_loglik: 2-state HMM forward algorithm (Rabiner 1989
  tutorial) with per-step scaling over each user's event-type sequence —
  committed transition/emission tables, LN-parity log-likelihood.
- croston_intermittent_forecast: Croston's method (Croston 1972) for
  intermittent demand — SES on demand sizes AND inter-demand intervals
  per part, α=0.1, committed p₀=7.
- elo_online_ratings: online ELO (Elo 1978) over weekly nation "duels"
  (committed-hash pairings, revenue-comparison outcomes) — the ONLINE
  counterpart of the batch Bradley-Terry fit already in the registry.

Float discipline: every fold uses identical expression text in both
engines (only the element accessor differs — element_at vs list_extract);
LN/EXP cross-engine parity is pinned by tests/test_libm_parity.py; every
emitted value is floored to an integer scale at the END of the fold.
Scale: Kalman/ELO fold calendar-bounded lists (≤ ~2400 days / ~350
weeks); HMM/Croston fold per-group lists bounded by per-user events /
per-part lineitems — the groupBy shuffles once, the fold is map-side.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hpmr_spark.catalog import _t, register
from hpmr_spark.engine import materialize
from hpmr_spark.functions.exprs import el_duck, el_spark, to_duck
from hpmr_spark.functions.hashing import spark_sql_hash60, sql_hash60
from hpmr_spark.sources.derived import SQL_DAILY_REVENUE, daily_revenue
from hpmr_spark.sources.tables import load_events


# ------------------------------------------------------------------ Kalman

_KAL_Q = "25000000000000.0e0"  # committed process variance (5e6 cents)^2
_KAL_R = "400000000000000.0e0"  # committed observation variance (2e7 cents)^2


def _kalman_fold(el) -> str:
    """acc = [x, P, max_abs_innov, argmax_day, n]; element = [day, z]."""
    x, p, n = el("acc", "1"), el("acc", "2"), el("acc", "5")
    day, z = el("e", "1"), el("e", "2")
    k = f"(({p} + {_KAL_Q}) / ({p} + {_KAL_Q} + {_KAL_R}))"
    innov = f"({z} - {x})"
    return (
        f"(acc, e) -> CASE WHEN {n} = 0.0e0"
        f" THEN array({z}, {_KAL_R}, 0.0e0, -1.0e0, 1.0e0)"
        f" ELSE array("
        f"{x} + {k} * {innov},"
        f" (1.0e0 - {k}) * ({p} + {_KAL_Q}),"
        f" CASE WHEN abs({innov}) > {el('acc', '3')} THEN abs({innov})"
        f" ELSE {el('acc', '3')} END,"
        f" CASE WHEN abs({innov}) > {el('acc', '3')} THEN {day}"
        f" ELSE {el('acc', '4')} END,"
        f" {n} + 1.0e0) END"
    )


_KAL_ORACLE = f"""
    WITH daily AS (
      SELECT CAST(d AS DOUBLE) AS day, CAST(cents AS DOUBLE) AS z
      FROM ({SQL_DAILY_REVENUE})
    ),
    series AS (
      SELECT list_reduce(
               list_prepend([0.0, 0.0, 0.0, 0.0, 0.0],
                            list([day, z] ORDER BY day)),
               {to_duck(_kalman_fold(el_duck))}) AS s
      FROM daily
    )
    SELECT CAST(list_extract(s, 5) AS BIGINT) AS n_days,
           CAST(FLOOR(list_extract(s, 1)) AS BIGINT) AS level_cents,
           CAST(FLOOR(list_extract(s, 2) / 1000000.0e0) AS BIGINT)
             AS variance_scaled,
           CAST(FLOOR(list_extract(s, 3)) AS BIGINT) AS max_innov_cents,
           CAST(list_extract(s, 4) AS BIGINT) AS max_innov_day
    FROM series
"""


@register("kalman_1d_level_filter", _KAL_ORACLE)
def kalman_1d_level_filter(spark, sf_dir):
    """1-D local-level Kalman filter over daily revenue (Kalman 1960;
    Harvey 1989 local-level form): predict P←P+Q, gain K=P/(P+R),
    update x←x+K·(z−x), P←(1−K)·P, with committed Q/R and x₀=z₁, P₀=R.
    Emits the filtered level, scaled posterior variance, and the
    largest-|innovation| day — the drift/regime-change census. The whole
    series folds in ONE row (calendar-bounded: ~2400 days at every SF);
    identical fold text in both engines, outputs floored to integers at
    the end."""
    daily = daily_revenue(spark, sf_dir).select(
        F.col("d").cast("double").alias("day"), F.col("cents").cast("double").alias("z")
    )
    s = daily.agg(
        F.expr(
            "aggregate(sort_array(collect_list(array(day, z))),"
            " array(0.0e0, 0.0e0, 0.0e0, 0.0e0, 0.0e0),"
            f" {_kalman_fold(el_spark)})"
        ).alias("s")
    )
    return s.select(
        F.expr(f"CAST({el_spark('s', '5')} AS BIGINT)").alias("n_days"),
        F.expr(f"CAST(FLOOR({el_spark('s', '1')}) AS BIGINT)").alias(
            "level_cents"
        ),
        F.expr(
            f"CAST(FLOOR({el_spark('s', '2')} / 1000000.0e0) AS BIGINT)"
        ).alias("variance_scaled"),
        F.expr(f"CAST(FLOOR({el_spark('s', '3')}) AS BIGINT)").alias(
            "max_innov_cents"
        ),
        F.expr(f"CAST({el_spark('s', '4')} AS BIGINT)").alias(
            "max_innov_day"
        ),
    )


# -------------------------------------------------------------- HMM forward

# committed 2-state model; emission order: click,error,purchase,signup,view
_HMM_B0 = "array(0.3e0, 0.05e0, 0.15e0, 0.1e0, 0.4e0)"
_HMM_B1 = "array(0.15e0, 0.5e0, 0.1e0, 0.05e0, 0.2e0)"
_HMM_CODE = (
    "CASE event_type WHEN 'click' THEN 0.0e0 WHEN 'error' THEN 1.0e0"
    " WHEN 'purchase' THEN 2.0e0 WHEN 'signup' THEN 3.0e0 ELSE 4.0e0 END"
)


def _hmm_fold(el) -> str:
    """acc = [alpha0, alpha1, loglik]; element = [code]. Every step applies
    the transition (start distribution is pi*A with pi uniform — a
    committed modeling choice that keeps the fold uniform)."""
    a0, a1, ll = el("acc", "1"), el("acc", "2"), el("acc", "3")
    b0 = el(_HMM_B0, f"{el('e', '1')} + 1.0e0")
    b1 = el(_HMM_B1, f"{el('e', '1')} + 1.0e0")
    na0 = f"(({a0} * 0.8e0 + {a1} * 0.3e0) * {b0})"
    na1 = f"(({a0} * 0.2e0 + {a1} * 0.7e0) * {b1})"
    c = f"({na0} + {na1})"
    return (
        f"(acc, e) -> array({na0} / {c}, {na1} / {c}, {ll} + ln({c}))"
    )


_HMM_ORACLE = f"""
    WITH ev AS (
      SELECT user_id, ts, event_id, {_HMM_CODE} AS code FROM events
    ),
    seqs AS (
      SELECT user_id, COUNT(*) AS n_events,
             list_reduce(
               list_prepend([0.5, 0.5, 0.0],
                            list([code] ORDER BY ts, event_id)),
               {to_duck(_hmm_fold(el_duck))}) AS s
      FROM ev GROUP BY user_id
    )
    SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
           CAST(FLOOR(list_extract(s, 3) * 1000000000.0e0) AS BIGINT)
             AS loglik_nano
    FROM seqs
"""


@register("hmm_forward_loglik", _HMM_ORACLE)
def hmm_forward_loglik(spark, sf_dir):
    """2-state HMM forward algorithm with per-step scaling (Rabiner 1989,
    §III-A): per user, the log-likelihood of their event-type sequence
    under a committed browse/trouble model (A=[[.8,.2],[.3,.7]], literal
    emission tables, uniform start folded through A). The scaled forward
    recursion keeps alpha normalized and accumulates ln(c_t) — LN parity
    is the only cross-engine commitment (pinned by test_libm_parity).
    One groupBy shuffle; the fold is an in-row pass over each user's
    (ts, event_id)-ordered codes."""
    ev = load_events(spark, sf_dir).select(
        "user_id", "ts", "event_id", F.expr(_HMM_CODE).alias("code")
    )
    seqs = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.expr(
            "aggregate(transform(sort_array(collect_list("
            "struct(ts, event_id, code))), p -> array(p.code)),"
            " array(0.5e0, 0.5e0, 0.0e0),"
            f" {_hmm_fold(el_spark)})"
        ).alias("s"),
    )
    return seqs.select(
        "user_id",
        "n_events",
        F.expr(
            f"CAST(FLOOR({el_spark('s', '3')} * 1000000000.0e0) AS BIGINT)"
        ).alias("loglik_nano"),
    )


# ----------------------------------------------------------------- Croston

def _croston_fold(el) -> str:
    """acc = [z, p, prev_day, n]; element = [day, q]. alpha = 0.1,
    committed interval prior p0 = 7 days."""
    z, p, prev, n = (el("acc", "1"), el("acc", "2"), el("acc", "3"),
                     el("acc", "4"))
    day, q = el("e", "1"), el("e", "2")
    return (
        f"(acc, e) -> CASE WHEN {n} = 0.0e0"
        f" THEN array({q}, 7.0e0, {day}, 1.0e0)"
        f" ELSE array("
        f"{z} + 0.1e0 * ({q} - {z}),"
        f" {p} + 0.1e0 * (({day} - {prev}) - {p}),"
        f" {day}, {n} + 1.0e0) END"
    )


_CROSTON_ORACLE = f"""
    WITH demand AS (
      SELECT l_partkey,
             CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS DOUBLE)
               AS day,
             CAST(CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS DOUBLE)
               AS q
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      GROUP BY l_partkey, CAST(o_orderdate AS DATE)
    ),
    folded AS (
      SELECT l_partkey,
             list_reduce(
               list_prepend([0.0, 0.0, 0.0, 0.0],
                            list([day, q] ORDER BY day)),
               {to_duck(_croston_fold(el_duck))}) AS s
      FROM demand GROUP BY l_partkey
    )
    SELECT l_partkey,
           CAST(list_extract(s, 4) AS BIGINT) AS n_demand_days,
           CAST(FLOOR(list_extract(s, 1) * 1000.0e0) AS BIGINT)
             AS size_milli,
           CAST(FLOOR(list_extract(s, 2) * 1000.0e0) AS BIGINT)
             AS interval_milli,
           CAST(FLOOR(list_extract(s, 1) / list_extract(s, 2) * 1000.0e0)
             AS BIGINT) AS forecast_milli
    FROM folded
"""


@register("croston_intermittent_forecast", _CROSTON_ORACLE)
def croston_intermittent_forecast(spark, sf_dir):
    """Croston's method for intermittent demand (Croston 1972): per part,
    simple exponential smoothing (alpha=0.1) on the nonzero daily demand
    SIZES and on the inter-demand INTERVALS separately; the demand-rate
    forecast is size/interval. Committed p0 = 7 days. The classic
    spare-parts/supply-chain forecaster the registry lacked. Per-part
    fold over the date-ordered demand list (bounded by per-part
    lineitems); one join + one groupBy shuffle."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    demand = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            "l_partkey", F.col("o_orderdate").cast("date").alias("d")
        )
        .agg(F.sum(F.col("l_quantity").cast("long")).cast("double").alias("q"))
        .select(
            "l_partkey",
            F.datediff(F.col("d"), F.lit("1970-01-01").cast("date"))
            .cast("double")
            .alias("day"),
            "q",
        )
    )
    folded = demand.groupBy("l_partkey").agg(
        F.expr(
            "aggregate(sort_array(collect_list(array(day, q))),"
            " array(0.0e0, 0.0e0, 0.0e0, 0.0e0),"
            f" {_croston_fold(el_spark)})"
        ).alias("s")
    )
    return folded.select(
        "l_partkey",
        F.expr(f"CAST({el_spark('s', '4')} AS BIGINT)").alias(
            "n_demand_days"
        ),
        F.expr(
            f"CAST(FLOOR({el_spark('s', '1')} * 1000.0e0) AS BIGINT)"
        ).alias("size_milli"),
        F.expr(
            f"CAST(FLOOR({el_spark('s', '2')} * 1000.0e0) AS BIGINT)"
        ).alias("interval_milli"),
        F.expr(
            f"CAST(FLOOR({el_spark('s', '1')} / {el_spark('s', '2')}"
            " * 1000.0e0) AS BIGINT)"
        ).alias("forecast_milli"),
    )


# --------------------------------------------------------------------- ELO

def _elo_fold(el) -> str:
    """acc = 25 ratings; element = [wk, na, nb, sa2] (sa2 in {0,1,2}).
    K=32; expected score via exp/ln (10^x = e^(x ln 10), parity-pinned)."""
    na, nb, sa2 = el("e", "2"), el("e", "3"), el("e", "4")
    ra = el("acc", f"{na} + 1.0e0")
    rb = el("acc", f"{nb} + 1.0e0")
    ea = f"(1.0e0 / (1.0e0 + exp(({rb} - {ra}) * ln(10.0e0) / 400.0e0)))"
    delta = f"(32.0e0 * ({sa2} / 2.0e0 - {ea}))"
    return (
        f"(acc, e) -> transform(sequence(1, 25), i -> CASE"
        f" WHEN i = {na} + 1.0e0 THEN {el('acc', 'i')} + {delta}"
        f" WHEN i = {nb} + 1.0e0 THEN {el('acc', 'i')} - {delta}"
        f" ELSE {el('acc', 'i')} END)"
    )


def _elo_fold_duck() -> str:
    return _elo_fold(el_duck).replace(
        "transform(sequence(1, 25), i ->", "list_transform(range(1, 26), i ->"
    )


def _elo_matches(h) -> str:
    """na/nb from committed week hashes; identical text modulo hash twin."""
    wk = "CAST(CAST(wk AS DATE) AS STRING)"
    h1 = h("'elo:' || " + wk)
    h2 = h("'elo2:' || " + wk)
    return (
        f"CAST(({h1}) % 25 AS BIGINT) AS na,"
        f" CAST((CAST(({h1}) % 25 AS BIGINT) + 1 +"
        f" ({h2}) % 24) % 25 AS BIGINT) AS nb"
    )


_ELO_ORACLE = f"""
    WITH wr AS (
      SELECT date_trunc('week', CAST(o_orderdate AS DATE)) AS wk,
             c_nationkey AS nation,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY 1, 2
    ),
    wks AS (
      SELECT wk, {_elo_matches(sql_hash60)}
      FROM (SELECT DISTINCT wk FROM wr)
    ),
    duels AS (
      SELECT w.wk, w.na, w.nb,
             CASE WHEN COALESCE(a.cents, 0) > COALESCE(b.cents, 0) THEN 2
                  WHEN COALESCE(a.cents, 0) = COALESCE(b.cents, 0) THEN 1
                  ELSE 0 END AS sa2
      FROM wks w
      LEFT JOIN wr a ON a.wk = w.wk AND a.nation = w.na
      LEFT JOIN wr b ON b.wk = w.wk AND b.nation = w.nb
    ),
    folded AS (
      SELECT list_reduce(
               list_prepend(list_transform(range(25), i -> 1500.0e0),
                 list([CAST(CAST(wk AS DATE) - DATE '1970-01-01' AS DOUBLE),
                       CAST(na AS DOUBLE), CAST(nb AS DOUBLE),
                       CAST(sa2 AS DOUBLE)] ORDER BY wk)),
               {_elo_fold_duck()}) AS s,
             CAST(COUNT(*) AS BIGINT) AS n_matches
      FROM duels
    )
    SELECT CAST(i AS BIGINT) AS nationkey,
           CAST(FLOOR(list_extract(s, CAST(i + 1 AS INT)) * 1000.0e0)
             AS BIGINT) AS rating_milli,
           n_matches
    FROM folded, (SELECT unnest(range(25)) AS i)
"""


@register("elo_online_ratings", _ELO_ORACLE)
def elo_online_ratings(spark, sf_dir):
    """Online ELO ratings (Elo 1978; K=32, logistic expected score via the
    parity-pinned exp/ln) over weekly nation duels: each calendar week
    pairs two committed-hash-chosen nations and the higher weekly revenue
    wins (tie = draw, absent = 0). The ONLINE, order-dependent
    counterpart of the registry's batch Bradley-Terry MM fit. The whole
    ~350-week match list folds in one row carrying the 25 ratings;
    emitted ratings floor to milli."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    wr = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(
            F.date_trunc("week", F.col("o_orderdate").cast("date")).alias(
                "wk"
            ),
            F.col("c_nationkey").alias("nation"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    # the weekly rollup feeds wks + two duel joins — persist the tiny frame
    # (multi-consumer post-agg rule)
    wr = materialize(wr)
    wks = wr.select("wk").distinct().select(
        "wk", F.expr(f"struct({_elo_matches(spark_sql_hash60)})").alias("_m")
    ).select("wk", "_m.na", "_m.nb")
    a = wr.select(
        F.col("wk").alias("wk_a"), F.col("nation").alias("na_j"),
        F.col("cents").alias("ca"),
    )
    b = wr.select(
        F.col("wk").alias("wk_b"), F.col("nation").alias("nb_j"),
        F.col("cents").alias("cb"),
    )
    duels = (
        wks.join(
            F.broadcast(a),
            (F.col("wk") == F.col("wk_a")) & (F.col("na") == F.col("na_j")),
            "left",
        )
        .join(
            F.broadcast(b),
            (F.col("wk") == F.col("wk_b")) & (F.col("nb") == F.col("nb_j")),
            "left",
        )
        .select(
            "wk",
            "na",
            "nb",
            F.expr(
                "CASE WHEN COALESCE(ca, 0) > COALESCE(cb, 0) THEN 2"
                " WHEN COALESCE(ca, 0) = COALESCE(cb, 0) THEN 1"
                " ELSE 0 END"
            ).alias("sa2"),
        )
    )
    folded = duels.agg(
        F.expr(
            "aggregate(sort_array(collect_list(array("
            "CAST(datediff(CAST(wk AS DATE), DATE '1970-01-01') AS DOUBLE),"
            " CAST(na AS DOUBLE), CAST(nb AS DOUBLE),"
            " CAST(sa2 AS DOUBLE)))),"
            " transform(sequence(1, 25), i -> 1500.0e0),"
            f" {_elo_fold(el_spark)})"
        ).alias("s"),
        F.count(F.lit(1)).cast("long").alias("n_matches"),
    )
    return folded.select(
        F.explode(F.expr("sequence(0, 24)")).alias("nationkey"),
        F.col("s"),
        F.col("n_matches"),
    ).select(
        F.col("nationkey").cast("long").alias("nationkey"),
        F.expr(
            f"CAST(FLOOR({el_spark('s', 'nationkey + 1')} * 1000.0e0)"
            " AS BIGINT)"
        ).alias("rating_milli"),
        "n_matches",
    )
