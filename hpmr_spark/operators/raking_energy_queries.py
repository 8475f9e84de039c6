"""Round-10 wave 14: survey raking and the energy distance (named
published recipes absent from the registry):

- ipf_raking_weights: Iterative Proportional Fitting / raking
  (Deming & Stephan 1940) of the orders (region × priority) contingency
  table to uniform target margins — the survey-weighting workhorse (and
  Sinkhorn's ancestor: same alternating scaling, transport kernel
  replaced by observed counts). 6 alternating row/col scalings run as
  ONE in-row fold over the 25-double weight matrix; every float op is
  identical elementwise text both engines (libm-parity commitment),
  floored once per emitted cell.
- energy_distance_twosample: the energy distance (Székely & Rizzo
  2004/2013) between weekday and weekend daily revenue:
  E = 2·E|A−B| − E|A−A'| − E|B−B'|, computed EXACTLY as the integer
  cross-multiplication (2nm·Σ|a−b|·nm − m²n m... all three pairwise
  sums are exact integer dollars over the calendar-bounded rollup,
  combined with the int128 common-denominator form — the
  characteristic-function-complete two-sample distance next to
  ks_two_sample_prices (sup-norm) and cliffs_delta_effect (ordinal).

Reference parity: beyond the reference kv kernel
(/root/reference/src/hpmr.h:1-10) along the brief's LLM-pipeline axis.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hpmr_spark.catalog import _t, register
from hpmr_spark.engine import materialize
from hpmr_spark.sources.derived import SQL_DAILY_REVENUE, daily_revenue

# ---------------------------------------------------------------------------
# IPF raking
# ---------------------------------------------------------------------------

_IPF_R = 5  # regions 0..4 (fixed TPC-H domain)
_IPF_P = 5  # priority classes '1-'..'5-'
_IPF_ITERS = 6  # 3 full row+col rounds


def _ipf_fold(el, is_spark: bool) -> str:
    """acc = flat 25-double weight matrix (row-major region×priority) +
    [26] = step counter. Odd steps scale rows to rt = n/5; even steps
    scale cols to ct = n/5. Targets ride as the column `tgt` (double)."""
    cells = _IPF_R * _IPF_P

    def w(i, j):
        return el("acc", i * _IPF_P + j + 1)

    step = el("acc", cells + 1)
    parts = []
    for i in range(_IPF_R):
        rowsum = " + ".join(w(i, j) for j in range(_IPF_P))
        for j in range(_IPF_P):
            colsum = " + ".join(w(k, j) for k in range(_IPF_R))
            parts.append(
                f"CASE WHEN CAST({step} AS BIGINT) % 2 = 0"
                f" THEN {w(i, j)} * tgt / ({rowsum})"
                f" ELSE {w(i, j)} * tgt / ({colsum}) END"
            )
    parts.append(f"{step} + CAST(1.0 AS DOUBLE)")
    arr = "array" if is_spark else "list_value"
    new = arr + "(" + ", ".join(parts) + ")"
    if is_spark:
        return (
            f"aggregate(sequence(1, {_IPF_ITERS}), init,"
            f" (acc, k) -> {new})"
        )
    return (
        f"list_reduce(list_prepend(init,"
        f" list_transform(range({_IPF_ITERS}), _k -> [CAST(0.0 AS DOUBLE)])),"
        f" (acc, _e) -> {new})"
    )


def _ipf_cell_aggs(is_spark: bool) -> list[str]:
    out = []
    for i in range(_IPF_R):
        for j in range(_IPF_P):
            out.append(
                f"CAST(SUM(CASE WHEN region = {i}"
                f" AND pr = {j + 1} THEN 1 ELSE 0 END) AS DOUBLE)"
            )
    return out


_IPF_ORACLE = f"""
    WITH obs AS (
      SELECT n.n_regionkey AS region,
             CAST(substr(o.o_orderpriority, 1, 1) AS BIGINT) AS pr
      FROM orders o
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN nation n ON c.c_nationkey = n.n_nationkey
    ),
    mat AS (
      SELECT {", ".join(f"{a} AS w{k}" for k, a in enumerate(_ipf_cell_aggs(False)))},
             CAST(COUNT(*) AS BIGINT) AS n
      FROM obs
    ),
    matx AS (
      SELECT n,
             [{", ".join(f"w{k}" for k in range(_IPF_R * _IPF_P))},
              CAST(0.0 AS DOUBLE)] AS init,
             CAST(n AS DOUBLE) / 5.0 AS tgt
      FROM mat
    ),
    folded AS (
      SELECT n, {_ipf_fold(lambda a, i: f"{a}[{i}]", False)} AS fin
      FROM matx
    )
    SELECT g.i // {_IPF_P} AS region,
           g.i % {_IPF_P} + 1 AS priority_class,
           CAST(FLOOR(folded.fin[g.i + 1] * 1000) AS BIGINT)
             AS raked_weight_milli
    FROM folded,
         (SELECT unnest(range(0, {_IPF_R * _IPF_P})) AS i) g
"""


@register("ipf_raking_weights", _IPF_ORACLE)
def ipf_raking_weights(spark, sf_dir):
    """Iterative Proportional Fitting / raking (Deming & Stephan 1940):
    the orders (region × priority) contingency table is alternately
    scaled — rows then columns — toward UNIFORM target margins n/5, six
    scalings (3 full rounds): the survey-weighting classic, and the
    count-matrix ancestor of sinkhorn_ot_langs' kernel scaling. The
    whole iteration is ONE in-row fold over the flat 25-double matrix
    (+ step counter); every division is identical elementwise text both
    engines, and each emitted cell is floored once to millis.

    Spark shape: one fact agg builds the 25 conditional-sum cells (no
    pivot machinery — the sinkhorn pattern), the fold runs on a 1-row
    frame, and the output explodes the 25 cells back to rows. Fixed
    state size at any corpus scale."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    nt = _t(spark, sf_dir, "nation")
    obs = (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(nt, c.c_nationkey == nt.n_nationkey)
        .select(
            F.col("n_regionkey").alias("region"),
            F.expr(
                "CAST(substr(o_orderpriority, 1, 1) AS BIGINT)"
            ).alias("pr"),
        )
    )
    aggs = [
        F.expr(a).alias(f"w{k}")
        for k, a in enumerate(_ipf_cell_aggs(True))
    ] + [F.count(F.lit(1)).cast("long").alias("n")]
    mat = obs.agg(*aggs)
    cells = _IPF_R * _IPF_P
    init = (
        "array("
        + ", ".join(f"w{k}" for k in range(cells))
        + ", CAST(0.0 AS DOUBLE))"
    )
    folded = mat.select(
        "n",
        F.expr(init).alias("init"),
        F.expr("CAST(n AS DOUBLE) / 5.0").alias("tgt"),
    ).select(
        "n",
        F.expr(
            _ipf_fold(lambda a, i: f"element_at({a}, {i})", True)
        ).alias("fin"),
    )
    g = spark.range(0, cells).select(F.col("id").alias("i"))
    return folded.crossJoin(F.broadcast(g)).select(
        F.expr(f"i div {_IPF_P}").cast("long").alias("region"),
        F.expr(f"i % {_IPF_P} + 1").cast("long").alias("priority_class"),
        F.expr(
            "CAST(FLOOR(element_at(fin, CAST(i + 1 AS INT)) * 1000)"
            " AS BIGINT)"
        ).alias("raked_weight_milli"),
    )


# ---------------------------------------------------------------------------
# Energy distance
# ---------------------------------------------------------------------------

_ED_ORACLE = f"""
    WITH days AS MATERIALIZED (
      SELECT d AS ed, cents // 100 AS x FROM ({SQL_DAILY_REVENUE})
    ),
    wd AS (SELECT x FROM days WHERE (ed + 3) % 7 < 5),
    we AS (SELECT x FROM days WHERE (ed + 3) % 7 >= 5),
    sab AS (SELECT CAST(SUM(abs(a.x - b.x)) AS HUGEINT) AS s,
                   CAST(COUNT(*) AS BIGINT) AS np
            FROM wd a, we b),
    saa AS (SELECT CAST(SUM(abs(a.x - b.x)) AS HUGEINT) AS s FROM wd a, wd b),
    sbb AS (SELECT CAST(SUM(abs(a.x - b.x)) AS HUGEINT) AS s FROM we a, we b),
    nn AS (SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM wd) AS n,
                  (SELECT CAST(COUNT(*) AS BIGINT) FROM we) AS m)
    SELECT nn.n AS na, nn.m AS nb,
           CAST(sab.s AS BIGINT) AS sum_ab,
           CAST(saa.s AS BIGINT) AS sum_aa,
           CAST(sbb.s AS BIGINT) AS sum_bb,
           CAST((2 * sab.s * nn.n * nn.m
                 - saa.s * nn.m * nn.m - sbb.s * nn.n * nn.n) * 1000
                // (CAST(nn.n AS HUGEINT) * nn.n * nn.m * nn.m) AS BIGINT)
             AS e_milli_dollars
    FROM sab, saa, sbb, nn
"""


@register("energy_distance_twosample", _ED_ORACLE)
def energy_distance_twosample(spark, sf_dir):
    """Energy distance (Székely & Rizzo 2004): the
    characteristic-function-complete two-sample distance
    E = 2·E|A−B| − E|A−A'| − E|B−B'| between weekday and weekend daily
    revenue (integer dollars; E = 0 iff the distributions are EQUAL —
    strictly stronger than any moment test). The three pairwise sums are
    exact integers over the calendar-bounded rollup, combined with the
    int128 common-denominator cross-multiplication
    (2nm·Σab − m²·Σaa − n²·Σbb)/(n²m²), one milli floor. Completes the
    two-sample family: KS (sup-norm), Mann-Whitney/Cliff (ordinal),
    randomization (mean), energy (all moments).

    Spark shape: one persisted day rollup (scale-free ~2400 rows), three
    bounded pair aggregates. Constant cost at any corpus scale."""
    days = materialize(
        daily_revenue(spark, sf_dir).select(
            F.col("d").alias("ed"), F.expr("cents div 100").alias("x")
        )
    )
    wd = days.where(F.expr("(ed + 3) % 7 < 5")).select(
        F.col("x").alias("xa")
    )
    we = days.where(F.expr("(ed + 3) % 7 >= 5")).select(
        F.col("x").alias("xb")
    )

    def pair_sum(a, b, ca, cb):
        return (
            a.crossJoin(b)
            .agg(
                F.sum(F.expr(f"CAST(abs({ca} - {cb}) AS DECIMAL(38,0))"))
                .alias("s"),
                F.count(F.lit(1)).cast("long").alias("np"),
            )
        )

    sab = pair_sum(wd, we.select(F.col("xb")), "xa", "xb").select(
        F.col("s").alias("sab"), F.col("np").alias("npab")
    )
    saa = pair_sum(
        wd, wd.select(F.col("xa").alias("xb")), "xa", "xb"
    ).select(F.col("s").alias("saa"))
    sbb = pair_sum(
        we.select(F.col("xb").alias("xa")), we, "xa", "xb"
    ).select(F.col("s").alias("sbb"))
    n = wd.agg(F.count(F.lit(1)).cast("long").alias("n"))
    m = we.agg(F.count(F.lit(1)).cast("long").alias("m"))
    return (
        sab.crossJoin(F.broadcast(saa))
        .crossJoin(F.broadcast(sbb))
        .crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(m))
        .select(
            F.col("n").alias("na"),
            F.col("m").alias("nb"),
            F.col("sab").cast("long").alias("sum_ab"),
            F.col("saa").cast("long").alias("sum_aa"),
            F.col("sbb").cast("long").alias("sum_bb"),
            F.expr(
                "CAST((2 * sab * n * m - saa * m * m - sbb * n * n) * 1000"
                " div (CAST(n AS DECIMAL(38,0)) * n * m * m) AS BIGINT)"
            ).alias("e_milli_dollars"),
        )
    )
