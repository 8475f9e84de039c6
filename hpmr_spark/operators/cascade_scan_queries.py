"""Round-10 wave 13: model-cascade routing economics and the classic
maximum-subarray scan (named published recipes absent from the
registry):

- cascade_routing_frontier: the cheap-model/expensive-model cascade
  frontier (the LLM-cascade recipe of FrugalGPT, Chen et al. 2023;
  classifier cascades, Viola-Jones 2001): route to the expensive model
  only when the cheap model's margin |s − ½| is below a threshold; per
  committed threshold-grid cell, the routed fraction, combined
  accuracy, and total cost at a committed 1:10 cost ratio — the table
  that picks the operating point. Both scorers are committed
  hash-derived constructions (the cheap one IS
  binary_classifier_eval_auc's scorer; the expensive one has a stronger
  label bias, so the frontier is a real trade, not a tautology).
- kadane_max_subarray: Kadane's maximum-subarray scan (Bentley 1984,
  Programming Pearls) over day-over-day revenue DELTAS — the best
  cumulative run-up window of the series (read next to
  max_drawdown_cents: the dual extreme). One in-row fold carrying
  [best, cur, bestL, bestR, curL, i]; strict-greater updates commit the
  first-occurrence tie-break.

Integer discipline (CLAUDE.md): margins, routing, accuracy, and costs
are exact integer counts/ppm; Kadane state is exact integer cents.

Reference parity: beyond the reference kv kernel
(/root/reference/src/hpmr.h:1-10) along the brief's LLM-pipeline axis.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hpmr_spark.catalog import register
from hpmr_spark.functions.littables import values_df
from hpmr_spark.functions.hashing import sql_hash60, spark_sql_hash60
from hpmr_spark.operators.mleval_queries import _SCORED_SQL, _scored
from hpmr_spark.sources.derived import SQL_DAILY_REVENUE, daily_revenue

# ---------------------------------------------------------------------------
# Cascade routing frontier
# ---------------------------------------------------------------------------

_CA_TAUS = (0, 100000, 200000, 300000, 400000, 500000)
_CA_CHEAP_COST = 1  # committed cost units
_CA_EXP_COST = 10


def _ca_s2(engine_hash) -> str:
    """Committed expensive-model score: stronger label separation."""
    h = engine_hash("'exp:' || CAST(vec_id AS STRING)")
    return f"(({h} % 400000) + y * 600000)"


_CA_ORACLE = f"""
    WITH s AS ({_SCORED_SQL}),
    both_ AS (
      SELECT y, score_ppm AS s1, {_ca_s2(sql_hash60)} AS s2,
             abs(score_ppm - 500000) AS margin
      FROM s
    ),
    g AS (SELECT unnest([{", ".join(str(t) for t in _CA_TAUS)}]) AS tau),
    routed AS (
      SELECT g.tau, b.y,
             CASE WHEN b.margin < g.tau THEN 1 ELSE 0 END AS r,
             CASE WHEN b.margin < g.tau
                  THEN CASE WHEN b.s2 >= 500000 THEN 1 ELSE 0 END
                  ELSE CASE WHEN b.s1 >= 500000 THEN 1 ELSE 0 END
             END AS yhat
      FROM both_ b, g
    )
    SELECT CAST(tau AS BIGINT) AS tau_ppm,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(r) AS BIGINT) AS n_routed,
           CAST(SUM(r) * 1000000 // COUNT(*) AS BIGINT) AS route_ppm,
           CAST(SUM(CASE WHEN yhat = y THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS acc_ppm,
           CAST(COUNT(*) * {_CA_CHEAP_COST}
                + SUM(r) * {_CA_EXP_COST} AS BIGINT) AS cost_units
    FROM routed GROUP BY tau
"""


@register("cascade_routing_frontier", _CA_ORACLE)
def cascade_routing_frontier(spark, sf_dir):
    """Model-cascade routing frontier (FrugalGPT, Chen et al. 2023;
    Viola-Jones 2001): every example is scored by the cheap committed
    classifier (binary_classifier_eval_auc's scorer); when its margin
    |s − ½| falls below the grid threshold τ the example routes to the
    committed expensive scorer (stronger label bias). Per τ: routed
    fraction, combined accuracy, and total cost at the committed 1:10
    cheap:expensive ratio — the accuracy-vs-cost frontier an inference
    platform picks its operating point from. Pure integer counting.

    Spark shape: one scan ×6 grid rows (broadcast literal), one grid
    agg. Linear at any scale."""
    s = _scored(spark, sf_dir)
    both = s.select(
        "y",
        F.col("score_ppm").alias("s1"),
        F.expr(_ca_s2(spark_sql_hash60)).alias("s2"),
        F.expr("abs(score_ppm - 500000)").alias("margin"),
    )
    g = values_df(spark, [(t,) for t in _CA_TAUS], "tau long")
    routed = both.crossJoin(F.broadcast(g)).select(
        "tau",
        "y",
        F.when(F.col("margin") < F.col("tau"), 1).otherwise(0).alias("r"),
        F.expr(
            "CASE WHEN margin < tau"
            " THEN CASE WHEN s2 >= 500000 THEN 1 ELSE 0 END"
            " ELSE CASE WHEN s1 >= 500000 THEN 1 ELSE 0 END END"
        ).alias("yhat"),
    )
    return routed.groupBy(F.col("tau").cast("long").alias("tau_ppm")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("r").cast("long").alias("n_routed"),
        F.expr("CAST(SUM(r) * 1000000 div COUNT(*) AS BIGINT)").alias(
            "route_ppm"
        ),
        F.expr(
            "CAST(SUM(CASE WHEN yhat = y THEN 1 ELSE 0 END) * 1000000"
            " div COUNT(*) AS BIGINT)"
        ).alias("acc_ppm"),
        F.expr(
            f"CAST(COUNT(*) * {_CA_CHEAP_COST}"
            f" + SUM(r) * {_CA_EXP_COST} AS BIGINT)"
        ).alias("cost_units"),
    )


# ---------------------------------------------------------------------------
# Kadane maximum subarray on daily revenue deltas
# ---------------------------------------------------------------------------

# acc = [best, cur, bestL, bestR, curL, i]; strict-greater update keeps
# the FIRST maximal window. Deltas can all be handled by the standard
# "extend or restart" rule with cur reset to the element when cur < 0
# before adding (equivalently cur = max(x, cur + x) with restart when
# cur + x < x, i.e. cur < 0 — committed as the strict form below).


def _kadane_fold(el, is_spark: bool) -> str:
    x = "x" if is_spark else "_e[1]"
    best, cur, bl, br, cl, i = (el("acc", j) for j in range(1, 7))
    ni = f"({i} + 1)"
    restart = f"({cur} < 0)"
    ncur = f"(CASE WHEN {restart} THEN {x} ELSE {cur} + {x} END)"
    ncl = f"(CASE WHEN {restart} THEN {ni} ELSE {cl} END)"
    better = f"({ncur} > {best})"
    arr = "array" if is_spark else "list_value"
    new = (
        f"{arr}(CASE WHEN {better} THEN {ncur} ELSE {best} END,"
        f" {ncur},"
        f" CASE WHEN {better} THEN {ncl} ELSE {bl} END,"
        f" CASE WHEN {better} THEN {ni} ELSE {br} END,"
        f" {ncl}, {ni})"
    )
    init = (
        f"{arr}(CAST({-(10**15)} AS BIGINT), CAST({-(10**15)} AS BIGINT),"
        f" CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),"
        f" CAST(0 AS BIGINT))"
    )
    if is_spark:
        return f"aggregate(ds, {init}, (acc, x) -> {new})"
    return (
        f"list_reduce(list_prepend({init},"
        f" list_transform(ds, _v -> [_v])), (acc, _e) -> {new})"
    )


_KAD_ORACLE = f"""
    WITH days AS ({SQL_DAILY_REVENUE}),
    arr AS (SELECT list(cents ORDER BY d) AS xs FROM days),
    ds AS (
      SELECT len(xs) AS nd,
             list_transform(range(2, len(xs) + 1),
               _i -> xs[_i] - xs[_i - 1]) AS ds
      FROM arr
    ),
    folded AS (SELECT nd, {_kadane_fold(lambda a, j: f"{a}[{j}]", False)}
                 AS fin FROM ds)
    SELECT CAST(nd AS BIGINT) AS n_days,
           CAST(fin[1] AS BIGINT) AS best_sum_cents,
           CAST(fin[3] AS BIGINT) AS best_start_idx,
           CAST(fin[4] AS BIGINT) AS best_end_idx
    FROM folded
"""


@register("kadane_max_subarray", _KAD_ORACLE)
def kadane_max_subarray(spark, sf_dir):
    """Kadane's maximum-subarray scan (Bentley 1984) over day-over-day
    revenue deltas: the contiguous window with the largest cumulative
    revenue GAIN — the dual extreme to max_drawdown_cents. One in-row
    fold carrying [best, cur, bestL, bestR, curL, i] with the
    strict-greater update committing the first maximal window; restart
    when the running sum goes negative (the classic recurrence). Exact
    integer cents end to end.

    Spark shape: one fact-keyed day agg collapses to the
    calendar-bounded delta array (~2400 at EVERY corpus scale); the
    scan is one fold. Scale-free."""
    arr = daily_revenue(spark, sf_dir).agg(
        F.expr(
            "transform(array_sort(collect_list(struct(d, cents))),"
            " p -> p.cents)"
        ).alias("xs")
    )
    ds = arr.select(
        F.size("xs").alias("nd"),
        F.expr(
            "CASE WHEN size(xs) >= 2 THEN transform(sequence(2, size(xs)),"
            " i -> element_at(xs, CAST(i AS INT))"
            " - element_at(xs, CAST(i - 1 AS INT))) ELSE array() END"
        ).alias("ds"),
    )
    folded = ds.select(
        "nd",
        F.expr(
            _kadane_fold(
                lambda a, j: f"element_at({a}, {j})", True
            )
        ).alias("fin"),
    )
    return folded.select(
        F.col("nd").cast("long").alias("n_days"),
        F.expr("element_at(fin, 1)").cast("long").alias("best_sum_cents"),
        F.expr("element_at(fin, 3)").cast("long").alias("best_start_idx"),
        F.expr("element_at(fin, 4)").cast("long").alias("best_end_idx"),
    )
