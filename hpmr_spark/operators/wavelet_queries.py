"""Haar wavelet compaction (round 6, wave 6).

haar_wavelet_compress: the classic wavelet synopsis — an UNNORMALIZED
Haar transform of the last-64-observed-days revenue series (6 levels
of pairwise (sum, difference), all EXACT integers), keep the top-8
detail coefficients by (|d| DESC, level ASC, idx ASC) plus the total
(the approximation coefficient), reconstruct, and report the
compaction error. Reconstruction is exact dyadic arithmetic scaled by
64: recon64_j = S + Σ_kept sign_j(c) · d_c · 2^(6−level(c)); the
per-day error is (64·y_j − recon64_j) div 64 div 1000 (kilocents,
truncating division — engine-identical), and the reported SSE is the
exact BIGINT sum of its squares. Output: the 8 kept details
(lvl, idx, coeff), the approximation row (0, 0, S), and the error row
(−1, −1, SSE).

The construction ASSUMES >= 64 distinct order days; the Spark side
refuses (ValueError) below that, since a partial dyadic grid would
silently change the statistic's meaning (ADVICE r6).

Engine shape: one fact-keyed day aggregation; the transform is six
chained aggregations over ≤ 64 rows and reconstruction is a 64×8
broadcast interval join — bounded at any fact scale. Wavelet synopses
are THE classic approximate-query-processing summary; at 100 TB this
is how a range-sum oracle over a long series gets shipped in O(k).

Reference parity: beyond the reference kv kernel
(/root/reference/src/hpmr.h:1-10) along the brief's analytics axis.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import functions as F

from hpmr_spark.catalog import register
from hpmr_spark.engine import materialize
from hpmr_spark.functions.ranking import bounded_rank
from hpmr_spark.sources.derived import SQL_DAILY_REVENUE, daily_revenue

_N = 64
_LEVELS = 6
_KEEP = 8

# Engine-identical integer CASEs over the level column (no shiftleft —
# PySpark's needs a literal count and DuckDB's ** is POWER).
_P2 = "CASE lvl " + " ".join(f"WHEN {l} THEN {1 << l}" for l in range(1, 7)) + " END"
_P2H = (
    "CASE lvl " + " ".join(f"WHEN {l} THEN {1 << (l - 1)}" for l in range(1, 7)) + " END"
)
_WGT = (
    "CASE lvl " + " ".join(f"WHEN {l} THEN {1 << (6 - l)}" for l in range(1, 7)) + " END"
)


def _lvl_ctes() -> str:
    parts = []
    for l in range(1, _LEVELS + 1):
        parts.append(
            f"""
    l{l} AS MATERIALIZED (
      SELECT (i + 1) // 2 AS i,
             CAST(SUM(s) AS BIGINT) AS s,
             CAST(SUM(CASE WHEN i % 2 = 1 THEN s ELSE 0 - s END) AS BIGINT) AS d
      FROM l{l - 1} GROUP BY 1
    )"""
        )
    return ",".join(parts)


_HAAR_ORACLE = f"""
    WITH day AS MATERIALIZED ({SQL_DAILY_REVENUE}),
    l0 AS MATERIALIZED (
      SELECT CAST({_N} + 1 - rn AS BIGINT) AS i, cents AS s
      FROM (SELECT cents, ROW_NUMBER() OVER (ORDER BY d DESC) AS rn FROM day)
      WHERE rn <= {_N}
    ),
    {_lvl_ctes()},
    dets AS MATERIALIZED (
      {" UNION ALL ".join(
        f"SELECT CAST({l} AS BIGINT) AS lvl, CAST(i AS BIGINT) AS idx, d FROM l{l}"
        for l in range(1, _LEVELS + 1))}
    ),
    top8 AS MATERIALIZED (
      SELECT lvl, idx, d FROM dets
      ORDER BY ABS(d) DESC, lvl ASC, idx ASC LIMIT {_KEEP}
    ),
    ap AS (SELECT s FROM l{_LEVELS}),
    rsum AS (
      SELECT j.i AS j,
             CAST(COALESCE(SUM(
               CASE WHEN j.i <= (t.idx - 1) * ({_P2}) + ({_P2H})
                    THEN t.d * ({_WGT}) ELSE 0 - t.d * ({_WGT}) END), 0)
               AS BIGINT) AS terms
      FROM l0 j
      LEFT JOIN top8 t
        ON j.i > (t.idx - 1) * ({_P2}) AND j.i <= t.idx * ({_P2})
      GROUP BY j.i
    ),
    recon AS (
      SELECT r.j, ap.s + r.terms AS r64 FROM rsum r, ap
    ),
    sse AS (
      SELECT CAST(SUM((({_N} * l.s - r.r64) // {_N} // 1000)
                      * (({_N} * l.s - r.r64) // {_N} // 1000)) AS BIGINT)
               AS v
      FROM l0 l JOIN recon r ON r.j = l.i
    )
    SELECT lvl, idx, CAST(d AS BIGINT) AS coeff FROM top8
    UNION ALL
    SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(s AS BIGINT) FROM ap
    UNION ALL
    SELECT CAST(-1 AS BIGINT), CAST(-1 AS BIGINT), v FROM sse
"""


@register("haar_wavelet_compress", _HAAR_ORACLE)
def haar_wavelet_compress(spark, sf_dir):
    """Haar wavelet top-8 compaction of the last-64-day revenue series —
    see module docstring. Output: 10 rows (lvl, idx, coeff)."""
    day = daily_revenue(spark, sf_dir)
    last = day.orderBy(F.col("d").desc()).limit(_N)
    base = materialize(
        bounded_rank(last, "d", "cents", primary_desc=True, out="rd")
        .select((F.lit(_N + 1) - F.col("rd")).cast("long").alias("i"),
                F.col("cents").alias("s")),
        StorageLevel.MEMORY_AND_DISK,  # transform chain + recon + sse
    )
    # Dyadic-grid guard (ADVICE r6): with fewer than _N days the l0 indices
    # start above 1, the pairing levels operate on a partial grid, and the
    # "approximation" row silently stops being the series total. Refuse,
    # like cosine_pairs_auto's ceiling — the count also materializes the
    # persisted frame that every downstream consumer reuses.
    n_days = base.count()
    if n_days < _N:
        raise ValueError(
            f"haar_wavelet_compress requires >= {_N} distinct order days "
            f"(got {n_days}): the dyadic grid would be partial and the "
            "approximation coefficient would not equal the series total"
        )
    cur = base
    dets = None
    for l in range(1, _LEVELS + 1):
        nxt = cur.groupBy(F.expr("(i + 1) div 2").alias("i")).agg(
            F.sum("s").cast("long").alias("s"),
            F.sum(F.when(F.col("i") % 2 == 1, F.col("s")).otherwise(-F.col("s")))
            .cast("long")
            .alias("d"),
        )
        lvl_rows = nxt.select(
            F.lit(l).cast("long").alias("lvl"),
            F.col("i").cast("long").alias("idx"),
            F.col("d"),
        )
        dets = lvl_rows if dets is None else dets.unionAll(lvl_rows)
        cur = nxt.select("i", "s")
    ap = cur.select(F.col("s").alias("s_ap"))  # 1 row: the total
    top8 = materialize(
        dets.orderBy(F.abs(F.col("d")).desc(), F.col("lvl"), F.col("idx"))
        .limit(_KEEP),
        StorageLevel.MEMORY_AND_DISK,  # output rows + recon terms
    )
    cov = (
        base.crossJoin(F.broadcast(top8))
        .where(
            (F.col("i") > (F.col("idx") - 1) * F.expr(_P2))
            & (F.col("i") <= F.col("idx") * F.expr(_P2))
        )
        .select(
            F.col("i").alias("j"),
            F.expr(
                f"CASE WHEN i <= (idx - 1) * ({_P2}) + ({_P2H})"
                f" THEN d * ({_WGT}) ELSE 0 - d * ({_WGT}) END"
            ).alias("term"),
        )
        .groupBy("j")
        .agg(F.sum("term").cast("long").alias("terms"))
    )
    recon = (
        base.join(cov, base["i"] == cov["j"], "left")
        .crossJoin(F.broadcast(ap))
        .select(
            "i",
            "s",
            (F.col("s_ap") + F.coalesce(F.col("terms"), F.lit(0))).alias("r64"),
        )
    )
    sse = recon.agg(
        F.sum(
            F.expr(
                f"(({_N} * s - r64) div {_N} div 1000)"
                f" * (({_N} * s - r64) div {_N} div 1000)"
            )
        )
        .cast("long")
        .alias("v")
    )
    out = top8.select("lvl", "idx", F.col("d").cast("long").alias("coeff"))
    out = out.unionAll(
        ap.select(
            F.lit(0).cast("long").alias("lvl"),
            F.lit(0).cast("long").alias("idx"),
            F.col("s_ap").cast("long").alias("coeff"),
        )
    )
    return out.unionAll(
        sse.select(
            F.lit(-1).cast("long").alias("lvl"),
            F.lit(-1).cast("long").alias("idx"),
            F.col("v").alias("coeff"),
        )
    )
