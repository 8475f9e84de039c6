"""Distribution-band / association statistics (round 6, wave 6):

- ecdf_dkw_band: the empirical CDF of order totals at 11 fixed grid
  points with the Dvoretzky-Kiefer-Wolfowitz 95% confidence band
  ε = sqrt(ln(2/α)/(2n)). ECDF values are exact integer counts in ppm
  (int128 floor div); ε is ONE double expression over the exact n
  (LN parity pinned; sqrt IEEE) floored to ppm; the band is clamped to
  [0, 1e6] with pure integer GREATEST/LEAST.
- pmi_top_pairs: pointwise mutual information of the top-50 adjacent
  word bigrams: PMI = ln(N·c_xy/(c_x·c_y)), floored to nanos
  ELEMENTWISE per bigram over exact integer counts — identical
  expression text both engines. Top-50 by (c_xy DESC, w1, w2) via the
  bounded re-rank, then PMI only on the 50 selected rows.

Scale notes (100 TB): ecdf is one fact pass against an 11-row
broadcast grid; pmi is the bigram zip_with pass (never a token
self-join) plus vocabulary-sized joins on the 50 selected bigrams.

Reference parity: beyond the reference kv kernel
(/root/reference/src/hpmr.h:1-10) along the brief's analytics axis.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hpmr_spark.catalog import _t, register
from hpmr_spark.engine import materialize

# ---------------------------------------------------------------------------
# ECDF with DKW band at 11 grid points.
# ---------------------------------------------------------------------------

_DKW_STEP = 5000000  # $50k in cents
_DKW_EPS = (
    "CAST(FLOOR(SQRT(LN(2.0 / 0.05) / (2.0 * CAST(n AS DOUBLE)))"
    " * 1000000) AS BIGINT)"
)

_DKW_ORACLE = f"""
    WITH r AS (
      SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents FROM orders
    ),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM r),
    grid AS (
      SELECT CAST(j * {_DKW_STEP} AS BIGINT) AS g_cents
      FROM range(0, 11) t(j)
    ),
    e AS (
      SELECT g.g_cents,
             CAST(SUM(CASE WHEN r.cents <= g.g_cents THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_le
      FROM grid g CROSS JOIN r
      GROUP BY g.g_cents
    )
    SELECT e.g_cents, e.n_le,
           CAST(CAST(e.n_le AS HUGEINT) * 1000000 // nn.n AS BIGINT)
             AS ecdf_ppm,
           GREATEST(CAST(CAST(e.n_le AS HUGEINT) * 1000000 // nn.n AS BIGINT)
                    - ({_DKW_EPS}), 0) AS lo_ppm,
           LEAST(CAST(CAST(e.n_le AS HUGEINT) * 1000000 // nn.n AS BIGINT)
                 + ({_DKW_EPS}), 1000000) AS hi_ppm
    FROM e, nn
"""


@register("ecdf_dkw_band", _DKW_ORACLE)
def ecdf_dkw_band(spark, sf_dir):
    """ECDF of order totals with the DKW 95% band — see module
    docstring. Output: 11 rows (g_cents, n_le, ecdf_ppm, lo_ppm,
    hi_ppm)."""
    o = _t(spark, sf_dir, "orders")
    r = o.select(F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"))
    nn = r.agg(F.count(F.lit(1)).cast("long").alias("n"))
    grid = spark.range(0, 11).select(
        (F.col("id") * _DKW_STEP).cast("long").alias("g_cents")
    )
    e = (
        r.crossJoin(F.broadcast(grid))
        .groupBy("g_cents")
        .agg(
            F.sum(F.when(F.col("cents") <= F.col("g_cents"), 1).otherwise(0))
            .cast("long")
            .alias("n_le")
        )
    )
    return e.crossJoin(F.broadcast(nn)).select(
        "g_cents",
        "n_le",
        F.expr("CAST(CAST(n_le AS DECIMAL(38,0)) * 1000000 div n AS BIGINT)").alias(
            "ecdf_ppm"
        ),
        F.expr(
            f"GREATEST(CAST(CAST(n_le AS DECIMAL(38,0)) * 1000000 div n AS BIGINT)"
            f" - ({_DKW_EPS}), 0)"
        ).alias("lo_ppm"),
        F.expr(
            f"LEAST(CAST(CAST(n_le AS DECIMAL(38,0)) * 1000000 div n AS BIGINT)"
            f" + ({_DKW_EPS}), 1000000)"
        ).alias("hi_ppm"),
    )


# ---------------------------------------------------------------------------
# PMI of the top-50 adjacent bigrams.
# ---------------------------------------------------------------------------

_PMI = (
    "CAST(FLOOR(LN(CAST(nbi AS DOUBLE) * CAST(cxy AS DOUBLE)"
    " / (CAST(cx AS DOUBLE) * CAST(cy AS DOUBLE))) * 1000000000) AS BIGINT)"
)

_PMI_ORACLE = f"""
    WITH toks AS MATERIALIZED (
      SELECT doc_id,
             unnest(string_split(text, ' ')) AS w,
             generate_subscripts(string_split(text, ' '), 1) AS i
      FROM documents
    ),
    bi AS MATERIALIZED (
      SELECT a.w AS w1, b.w AS w2, CAST(COUNT(*) AS BIGINT) AS cxy
      FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.i = a.i + 1
      GROUP BY 1, 2
    ),
    nb AS (SELECT CAST(SUM(cxy) AS BIGINT) AS nbi FROM bi),
    uni1 AS (SELECT w1, CAST(SUM(cxy) AS BIGINT) AS cx FROM bi GROUP BY w1),
    uni2 AS (SELECT w2, CAST(SUM(cxy) AS BIGINT) AS cy FROM bi GROUP BY w2),
    top AS (
      SELECT w1, w2, cxy FROM bi
      ORDER BY cxy DESC, w1, w2 LIMIT 50
    )
    SELECT t.w1, t.w2, t.cxy, {_PMI} AS pmi_nano
    FROM top t
    JOIN uni1 ON uni1.w1 = t.w1
    JOIN uni2 ON uni2.w2 = t.w2
    CROSS JOIN nb
"""


@register("pmi_top_pairs", _PMI_ORACLE)
def pmi_top_pairs(spark, sf_dir):
    """PMI (nano-floored) of the 50 most frequent adjacent bigrams,
    with marginals taken over bigram positions (first/second slot) —
    see module docstring. Output: 50 rows (w1, w2, cxy, pmi_nano)."""
    docs = _t(spark, sf_dir, "documents")
    t = docs.select(F.split("text", " ").alias("a"))
    bi = (
        t.select(
            F.explode(
                F.expr(
                    "zip_with(slice(a, 1, size(a) - 1), slice(a, 2, size(a) - 1), "
                    "(x, y) -> struct(x AS w1, y AS w2))"
                )
            ).alias("p")
        )
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("cxy"))
    )
    from pyspark import StorageLevel

    bi = materialize(bi, StorageLevel.MEMORY_AND_DISK)  # nb/uni1/uni2/top consumers
    nb = bi.agg(F.sum("cxy").cast("long").alias("nbi"))
    uni1 = bi.groupBy("w1").agg(F.sum("cxy").cast("long").alias("cx"))
    uni2 = bi.groupBy("w2").agg(F.sum("cxy").cast("long").alias("cy"))
    top = bi.orderBy(F.col("cxy").desc(), F.col("w1"), F.col("w2")).limit(50)
    return (
        top.join(uni1, "w1")
        .join(uni2, "w2")
        .crossJoin(F.broadcast(nb))
        .select("w1", "w2", "cxy", F.expr(_PMI).alias("pmi_nano"))
    )
