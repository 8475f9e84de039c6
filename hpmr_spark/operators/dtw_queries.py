"""Dynamic time warping between nation revenue series (round 6, wave 6).

dtw_nation_revenue: exact DTW distance (step pattern: the classic
(i-1,j), (i,j-1), (i-1,j-1) recursion, cost |a_i - b_j| in integer
cents) between the monthly revenue series of the top-4 nations by
total revenue (6 unordered pairs). Series are aligned on the GLOBAL
observed-month axis (distinct order months, dense-ranked — both
engines derive it from the data) with absent (nation, month) cells
as 0.

The DP is irreducibly sequential per pair, so the engine runs it as a
grouped-pandas fold over the CALENDAR-BOUNDED pair frame (~80 months
x 6 pairs at ANY fact scale — the holt/token-bucket pattern). The
oracle cannot walk rows one cell at a time, so it advances the DP by
ANTI-DIAGONAL WAVEFRONTS instead: a recursive CTE carries two LIST
columns (diagonals k and k-1); every cell on diagonal k+1 depends only
on those two lists, so the step is a single elementwise
list_transform — 2M-2 recursion levels of O(M) work, no sequential
dependence inside a step. Unreachable cells hold the exact sentinel
INF = 10^17 (never accumulated into: every in-range cell has a finite
predecessor; DP values stay ≤ 2M * max|cell| « INF). Lambda variable
is `_di` (DuckDB lambda vars shadow outer columns — CLAUDE.md).

Scale notes (100 TB): one fact-scale pass builds the (nation, month)
rollup; everything quadratic (the 80x80 DP, the pair join) runs on the
bounded frame. The wavefront formulation is also how the DP would be
distributed if M were large (each diagonal is a parallel map).

Reference parity: beyond the reference kv kernel
(/root/reference/src/hpmr.h:1-10) along the brief's analytics axis.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import functions as F

from hpmr_spark.catalog import _t, register
from hpmr_spark.engine import materialize

_INF = 10**17
_TOP_N = 4


def _dtw_fold(pdf):
    """Exact integer DTW over one pair's aligned series (rows sorted by
    rel). Shared by the query and the brute-force pytest."""
    import pandas as pd

    pdf = pdf.sort_values("rel")
    a = [int(v) for v in pdf["ya"].tolist()]
    b = [int(v) for v in pdf["yb"].tolist()]
    m = len(a)
    prev = [0] + [_INF] * m  # d[0][0] = 0, d[0][j>=1] = INF
    for i in range(1, m + 1):
        cur = [_INF] * (m + 1)
        for j in range(1, m + 1):
            c = abs(a[i - 1] - b[j - 1])
            cur[j] = c + min(prev[j], cur[j - 1], prev[j - 1])
        prev = cur
    return pd.DataFrame(
        {
            "nk_a": [int(pdf["nk_a"].iloc[0])],
            "nk_b": [int(pdf["nk_b"].iloc[0])],
            "m_len": [m],
            "dtw_cents": [prev[m]],
        }
    )


_MI = "EXTRACT(YEAR FROM CAST(o_orderdate AS DATE)) * 12 + EXTRACT(MONTH FROM CAST(o_orderdate AS DATE)) - 1"

_DTW_ORACLE = f"""
    WITH RECURSIVE nm AS MATERIALIZED (
      SELECT c.c_nationkey AS nk,
             CAST({_MI} AS BIGINT) AS mi,
             CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2
    ),
    months AS MATERIALIZED (
      SELECT mi, ROW_NUMBER() OVER (ORDER BY mi) - 1 AS rel
      FROM (SELECT DISTINCT mi FROM nm)
    ),
    top4 AS MATERIALIZED (
      SELECT nk FROM (
        SELECT nk, SUM(cents) AS rev FROM nm GROUP BY nk
      ) ORDER BY rev DESC, nk LIMIT {_TOP_N}
    ),
    grid AS MATERIALIZED (
      SELECT t.nk, m.rel,
             CAST(COALESCE(nm.cents, 0) AS BIGINT) AS y
      FROM top4 t CROSS JOIN months m
      LEFT JOIN nm ON nm.nk = t.nk AND nm.mi = m.mi
    ),
    ser AS MATERIALIZED (
      SELECT nk, list(y ORDER BY rel) AS l FROM grid GROUP BY nk
    ),
    pairs AS MATERIALIZED (
      SELECT a.nk AS na, b.nk AS nb, a.l AS la, b.l AS lb
      FROM ser a JOIN ser b ON a.nk < b.nk
    ),
    walk(na, nb, k, dk, dkm1) AS (
      SELECT na, nb, CAST(2 AS BIGINT),
             list_transform(range(1, len(la) + 1),
               _di -> CASE WHEN _di = 1
                           THEN abs(la[1] - lb[1])
                           ELSE CAST({_INF} AS BIGINT) END),
             list_transform(range(1, len(la) + 1),
               _di -> CAST({_INF} AS BIGINT))
      FROM pairs
      UNION ALL
      SELECT w.na, w.nb, w.k + 1,
             list_transform(range(1, len(p.la) + 1), _di ->
               CASE WHEN w.k + 1 - _di BETWEEN 1 AND len(p.lb) THEN
                 abs(p.la[_di] - p.lb[w.k + 1 - _di])
                 + least(
                     CASE WHEN _di >= 2
                          THEN COALESCE(w.dk[_di - 1], {_INF})
                          ELSE CAST({_INF} AS BIGINT) END,
                     COALESCE(w.dk[_di], {_INF}),
                     CASE WHEN _di >= 2
                          THEN COALESCE(w.dkm1[_di - 1], {_INF})
                          ELSE CAST({_INF} AS BIGINT) END)
               ELSE CAST({_INF} AS BIGINT) END),
             w.dk
      FROM walk w JOIN pairs p ON p.na = w.na AND p.nb = w.nb
      WHERE w.k < 2 * len(p.la)
    )
    SELECT CAST(w.na AS BIGINT) AS nk_a, CAST(w.nb AS BIGINT) AS nk_b,
           CAST(len(p.la) AS BIGINT) AS m_len,
           CAST(w.dk[len(p.la)] AS BIGINT) AS dtw_cents
    FROM walk w JOIN pairs p ON p.na = w.na AND p.nb = w.nb
    WHERE w.k = 2 * len(p.la)
"""


@register("dtw_nation_revenue", _DTW_ORACLE)
def dtw_nation_revenue(spark, sf_dir):
    """Exact DTW distance between top-4 nations' monthly revenue series —
    see module docstring. Output: 6 rows (nk_a, nk_b, m_len, dtw_cents)."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    d = F.col("o_orderdate").cast("date")
    nm = (
        o.join(c, c["c_custkey"] == o["o_custkey"])
        .groupBy(
            F.col("c_nationkey").alias("nk"),
            (F.year(d) * 12 + F.month(d) - 1).cast("long").alias("mi"),
        )
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    months_raw = nm.select("mi").distinct()
    m2 = months_raw.select(F.col("mi").alias("mi2"))
    months = (
        months_raw.join(F.broadcast(m2), F.col("mi2") < F.col("mi"), "left")
        .groupBy("mi")
        .agg(F.count("mi2").cast("long").alias("rel"))
    )
    top4 = (
        nm.groupBy("nk")
        .agg(F.sum("cents").alias("rev"))
        .orderBy(F.col("rev").desc(), F.col("nk"))
        .limit(_TOP_N)
        .select("nk")
    )
    grid = materialize(
        top4.crossJoin(F.broadcast(months))
        .join(nm, ["nk", "mi"], "left")
        .select(
            "nk",
            "rel",
            F.coalesce(F.col("cents"), F.lit(0)).cast("long").alias("y"),
        ),
        StorageLevel.MEMORY_AND_DISK,  # a-side + b-side consumers
    )
    ga = grid.select(
        F.col("nk").alias("nk_a"), F.col("rel").alias("rel"), F.col("y").alias("ya")
    )
    gb = grid.select(
        F.col("nk").alias("nk_b"), F.col("rel").alias("rel_b"), F.col("y").alias("yb")
    )
    rows = ga.join(
        F.broadcast(gb),
        (F.col("rel") == F.col("rel_b")) & (F.col("nk_a") < F.col("nk_b")),
    ).select("nk_a", "nk_b", "rel", "ya", "yb")
    return rows.groupBy("nk_a", "nk_b").applyInPandas(
        _dtw_fold, schema="nk_a long, nk_b long, m_len long, dtw_cents long"
    )
