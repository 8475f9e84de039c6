"""Aggregation-statistics final batch (round 6, wave 6):

- simpson_diversity_ppm: Simpson's diversity index of languages per
  source — D = Σ n_i(n_i−1) / (N(N−1)) in exact int128 ppm (the
  no-replacement form, so the cross-multiplication is exact).
- borda_rank_aggregation: Borda-count rank aggregation of three
  per-nation metric rankings (revenue, order count, average order
  value in cents — the average as an exact floor div). Each metric's
  rank is a broadcast non-equi count on the bounded 25-row rollup with
  a (metric DESC, nationkey ASC) total order; Borda points = Σ (25 −
  rank); output every nation with its points and the three ranks.
- odds_ratio_ci: the 2×2 odds ratio of (high quantity ≥ 25) ×
  (returnflag = 'R') with the Woolf logit 95% CI — exact cell counts;
  ln OR and the CI bounds floored to nanos from one expression over
  the four exact ints (LN parity pinned; sqrt IEEE).
- markov_stationary_power: the stationary distribution of the
  event-type Markov chain by 8 committed power iterations in integer
  ppm (per-step terms floored per (i,j) cell: π'_j = Σ_i (π_i·c_ij)
  div c_i· — exact integer arithmetic, identical both engines;
  initialized uniform 200000 ppm per state). The un-renormalized drift
  from flooring is part of the committed statistic.

Scale notes (100 TB): all four are one fact pass into
bounded rollups (sources×langs, 25 nations, 2×2, 5×5 transitions);
the 8 power iterations run on the 5-state matrix.

Reference parity: beyond the reference kv kernel
(/root/reference/src/hpmr.h:1-10) along the brief's analytics axis.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hpmr_spark.catalog import _t, register
from hpmr_spark.engine import materialize
from hpmr_spark.sources.tables import load_events

# ---------------------------------------------------------------------------
# Simpson diversity of languages per source.
# ---------------------------------------------------------------------------

_SIMPSON_ORACLE = """
    WITH c AS (
      SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS n
      FROM documents GROUP BY source, lang
    ),
    t AS (
      SELECT source,
             CAST(SUM(n) AS BIGINT) AS big_n,
             CAST(SUM(n * (n - 1)) AS BIGINT) AS same_pairs,
             CAST(COUNT(*) AS BIGINT) AS n_langs
      FROM c GROUP BY source
    )
    SELECT source, n_langs, big_n AS n_docs,
           CAST(CAST(same_pairs AS HUGEINT) * 1000000
                // (CAST(big_n AS HUGEINT) * (big_n - 1)) AS BIGINT)
             AS simpson_ppm
    FROM t WHERE big_n >= 2
"""


@register("simpson_diversity_ppm", _SIMPSON_ORACLE)
def simpson_diversity_ppm(spark, sf_dir):
    """Simpson diversity (no-replacement form) of languages per source —
    see module docstring. Output: one row per source."""
    docs = _t(spark, sf_dir, "documents")
    c = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    t = c.groupBy("source").agg(
        F.sum("n").cast("long").alias("big_n"),
        F.sum(F.expr("n * (n - 1)")).cast("long").alias("same_pairs"),
        F.count(F.lit(1)).cast("long").alias("n_langs"),
    )
    return t.where(F.col("big_n") >= 2).select(
        "source",
        "n_langs",
        F.col("big_n").alias("n_docs"),
        F.expr(
            "CAST(CAST(same_pairs AS DECIMAL(38,0)) * 1000000"
            " div (CAST(big_n AS DECIMAL(38,0)) * (big_n - 1)) AS BIGINT)"
        ).alias("simpson_ppm"),
    )


# ---------------------------------------------------------------------------
# Borda-count aggregation of three per-nation rankings.
# ---------------------------------------------------------------------------

_BORDA_ORACLE = """
    WITH m AS (
      SELECT c.c_nationkey AS nk,
             CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS rev,
             CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT))
                       AS HUGEINT) // COUNT(*) AS BIGINT) AS avg_cents
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1
    ),
    r AS (
      SELECT nk,
             ROW_NUMBER() OVER (ORDER BY rev DESC, nk) AS r_rev,
             ROW_NUMBER() OVER (ORDER BY cnt DESC, nk) AS r_cnt,
             ROW_NUMBER() OVER (ORDER BY avg_cents DESC, nk) AS r_avg
      FROM m
    )
    SELECT CAST(nk AS BIGINT) AS nationkey,
           CAST(r_rev AS BIGINT) AS r_rev,
           CAST(r_cnt AS BIGINT) AS r_cnt,
           CAST(r_avg AS BIGINT) AS r_avg,
           CAST((25 - r_rev) + (25 - r_cnt) + (25 - r_avg) AS BIGINT)
             AS borda_points
    FROM r
"""


@register("borda_rank_aggregation", _BORDA_ORACLE)
def borda_rank_aggregation(spark, sf_dir):
    """Borda-count aggregation of three nation rankings — see module
    docstring. Output: one row per nation with orders."""
    from hpmr_spark.functions.ranking import bounded_rank

    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    m = (
        o.join(c, c["c_custkey"] == o["o_custkey"])
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("rev"),
            F.count(F.lit(1)).cast("long").alias("cnt"),
        )
        .withColumn(
            "avg_cents",
            F.expr("CAST(CAST(rev AS DECIMAL(38,0)) div cnt AS BIGINT)"),
        )
    )
    r = m
    for col, out in (("rev", "r_rev"), ("cnt", "r_cnt"), ("avg_cents", "r_avg")):
        r = bounded_rank(r, col, "nk", primary_desc=True, out=out)
    return r.select(
        F.col("nk").cast("long").alias("nationkey"),
        F.col("r_rev").cast("long").alias("r_rev"),
        F.col("r_cnt").cast("long").alias("r_cnt"),
        F.col("r_avg").cast("long").alias("r_avg"),
        F.expr("CAST((25 - r_rev) + (25 - r_cnt) + (25 - r_avg) AS BIGINT)").alias(
            "borda_points"
        ),
    )


# ---------------------------------------------------------------------------
# Odds ratio with the Woolf logit 95% CI.
# ---------------------------------------------------------------------------

_OR_EXPR = (
    "LN(CAST(a AS DOUBLE) * CAST(d AS DOUBLE)"
    " / (CAST(b AS DOUBLE) * CAST(c AS DOUBLE)))"
)
_OR_SE = (
    "SQRT(1.0 / CAST(a AS DOUBLE) + 1.0 / CAST(b AS DOUBLE)"
    " + 1.0 / CAST(c AS DOUBLE) + 1.0 / CAST(d AS DOUBLE))"
)

_ODDS_ORACLE = f"""
    WITH t AS (
      SELECT CAST(SUM(CASE WHEN l_quantity >= 25 AND l_returnflag = 'R'
                           THEN 1 ELSE 0 END) AS BIGINT) AS a,
             CAST(SUM(CASE WHEN l_quantity >= 25 AND l_returnflag <> 'R'
                           THEN 1 ELSE 0 END) AS BIGINT) AS b,
             CAST(SUM(CASE WHEN l_quantity < 25 AND l_returnflag = 'R'
                           THEN 1 ELSE 0 END) AS BIGINT) AS c,
             CAST(SUM(CASE WHEN l_quantity < 25 AND l_returnflag <> 'R'
                           THEN 1 ELSE 0 END) AS BIGINT) AS d
      FROM lineitem
    )
    SELECT a, b, c, d,
           CAST(FLOOR(({_OR_EXPR}) * 1000000000) AS BIGINT) AS ln_or_nano,
           CAST(FLOOR(({_OR_EXPR} - 1.96 * {_OR_SE}) * 1000000000) AS BIGINT)
             AS ci_lo_nano,
           CAST(FLOOR(({_OR_EXPR} + 1.96 * {_OR_SE}) * 1000000000) AS BIGINT)
             AS ci_hi_nano
    FROM t
"""


@register("odds_ratio_ci", _ODDS_ORACLE)
def odds_ratio_ci(spark, sf_dir):
    """2×2 odds ratio (qty ≥ 25 × flag 'R') with Woolf 95% CI — see
    module docstring. Output: one row (a, b, c, d, ln_or_nano,
    ci_lo_nano, ci_hi_nano)."""
    li = _t(spark, sf_dir, "lineitem")
    t = li.agg(
        F.sum(
            F.when((F.col("l_quantity") >= 25) & (F.col("l_returnflag") == "R"), 1)
            .otherwise(0)
        ).cast("long").alias("a"),
        F.sum(
            F.when((F.col("l_quantity") >= 25) & (F.col("l_returnflag") != "R"), 1)
            .otherwise(0)
        ).cast("long").alias("b"),
        F.sum(
            F.when((F.col("l_quantity") < 25) & (F.col("l_returnflag") == "R"), 1)
            .otherwise(0)
        ).cast("long").alias("c"),
        F.sum(
            F.when((F.col("l_quantity") < 25) & (F.col("l_returnflag") != "R"), 1)
            .otherwise(0)
        ).cast("long").alias("d"),
    )
    return t.select(
        "a",
        "b",
        "c",
        "d",
        F.expr(f"CAST(FLOOR(({_OR_EXPR}) * 1000000000) AS BIGINT)").alias(
            "ln_or_nano"
        ),
        F.expr(
            f"CAST(FLOOR(({_OR_EXPR} - 1.96 * {_OR_SE}) * 1000000000) AS BIGINT)"
        ).alias("ci_lo_nano"),
        F.expr(
            f"CAST(FLOOR(({_OR_EXPR} + 1.96 * {_OR_SE}) * 1000000000) AS BIGINT)"
        ).alias("ci_hi_nano"),
    )


# ---------------------------------------------------------------------------
# Stationary distribution of the event-type chain by 8 power iterations.
# ---------------------------------------------------------------------------

_MSP_ITER = 8


def _msp_step_sql(prev: str, cur: str) -> str:
    return f""",
    {cur} AS MATERIALIZED (
      SELECT tr.s2 AS state,
             CAST(SUM(CAST(p.pi AS HUGEINT) * tr.cij // rowc.ci) AS BIGINT)
               AS pi
      FROM tr
      JOIN {prev} p ON p.state = tr.s1
      JOIN rowc ON rowc.s1 = tr.s1
      GROUP BY tr.s2
    )"""


_MSP_ORACLE = (
    """
    WITH e AS MATERIALIZED (
      SELECT user_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY epoch_us(ts), event_id) AS rn
      FROM events
    ),
    tr AS MATERIALIZED (
      SELECT a.event_type AS s1, b.event_type AS s2,
             CAST(COUNT(*) AS BIGINT) AS cij
      FROM e a JOIN e b ON b.user_id = a.user_id AND b.rn = a.rn + 1
      GROUP BY 1, 2
    ),
    rowc AS MATERIALIZED (
      SELECT s1, CAST(SUM(cij) AS BIGINT) AS ci FROM tr GROUP BY s1
    ),
    p0 AS MATERIALIZED (
      SELECT s1 AS state, CAST(200000 AS BIGINT) AS pi FROM rowc
    )"""
    + "".join(_msp_step_sql(f"p{t}", f"p{t + 1}") for t in range(_MSP_ITER))
    + f"""
    SELECT state, pi AS pi_ppm FROM p{_MSP_ITER}
"""
)


@register("markov_stationary_power", _MSP_ORACLE)
def markov_stationary_power(spark, sf_dir):
    """Stationary distribution of the event-type chain by 8 committed
    integer power iterations — see module docstring. Output: one row
    per state (state, pi_ppm)."""
    from pyspark import StorageLevel

    ev = load_events(spark, sf_dir)
    wu = Window.partitionBy("user_id").orderBy(
        F.unix_micros(F.col("ts").cast("timestamp")), F.col("event_id")
    )
    e = ev.select("user_id", "event_type", F.row_number().over(wu).alias("rn"))
    b = e.select(
        F.col("user_id").alias("u2"),
        F.col("event_type").alias("s2"),
        (F.col("rn") - 1).alias("rn2"),
    )
    tr = (
        e.join(b, (F.col("user_id") == F.col("u2")) & (F.col("rn") == F.col("rn2")))
        .groupBy(F.col("event_type").alias("s1"), F.col("s2"))
        .agg(F.count(F.lit(1)).cast("long").alias("cij"))
    )
    rowc = tr.groupBy("s1").agg(F.sum("cij").cast("long").alias("ci"))
    full = materialize(tr.join(rowc, "s1"), StorageLevel.MEMORY_AND_DISK)  # 8 iterations
    pi = rowc.select(F.col("s1").alias("state"), F.lit(200000).cast("long").alias("pi"))
    for _ in range(_MSP_ITER):
        pi = (
            full.join(pi.select(F.col("state").alias("s1"), "pi"), "s1")
            .groupBy(F.col("s2").alias("state"))
            .agg(
                F.sum(
                    F.expr("CAST(CAST(pi AS DECIMAL(38,0)) * cij div ci AS BIGINT)")
                )
                .cast("long")
                .alias("pi")
            )
        )
    return pi.select("state", F.col("pi").alias("pi_ppm"))
