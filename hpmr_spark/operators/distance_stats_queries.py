"""Distribution-distance and rank-statistics operators (round 6, wave 6):

- emd_1d_price_shift: exact 1-D Wasserstein-1 (earth mover's) distance
  between the 1995 and 1996 order-total distributions. W1 in 1-D is the
  area between the CDFs: sum over adjacent support values of
  |F_a - F_b| * gap; cross-multiplied to integers (|cum_a*N_b -
  cum_b*N_a| * gap, int128) so no division happens until the single
  final floor div by N_a*N_b.
- kendall_tau_nations: exact Kendall tau-a between two per-nation
  metrics (revenue cents, order count) — concordant/discordant pair
  counts on the bounded 25-row rollup via a broadcast self-join; the
  tau emitted in ppm with truncating integer division (both engines
  truncate toward zero on integer operands — CLAUDE.md round-5 fact).
- rbo_rank_overlap: rank-biased overlap (p = 1/2, depth 20) between the
  1995 and 1996 top-20 part rankings. With p = 1/2 every weight
  (1-p)*p^(d-1)/d is an exact multiple of 1/(2^20 * lcm(1..20)), so
  RBO is computed in exact integer units of that denominator (a part
  first co-present at depth m contributes sum_{d=m..20}
  2^(20-d)*L/d) — the weight table is generated once in Python and
  embedded as identical CASE text in both engines.
- mahalanobis_outliers_top20: top-20 (quantity, price-cents) outliers
  by squared Mahalanobis distance. The 2x2 covariance comes from exact
  integer moments (sum-of-squares in int128); each row's d^2 is ONE
  double expression over those exact ints, floored to ppm elementwise
  (the committed statistic), then a deterministic total-order top-20
  (d2 DESC, qty, cents) — no parallel float summation anywhere.
- kde_price_grid_nano: Gaussian kernel density of order totals at 21
  fixed grid points. Each kernel term is floored to nanos ELEMENTWISE
  (EXP parity across engines is pinned by tests/test_libm_parity.py)
  and then exactly summed as BIGINT — order-invariant by construction.

Scale notes (100 TB): emd/kde/mahalanobis do one fact-scale pass plus
bounded post-processing (the support frame is distinct-value-sized and
uses the bucketed two-pass ordering, never a global window); kendall
and rbo run their quadratic parts on 25-row / 20-row frames only.

Reference parity: beyond the reference kv kernel
(/root/reference/src/hpmr.h:1-10) along the brief's analytics axis.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import functions as F

from hpmr_spark.catalog import _t, register
from hpmr_spark.engine import materialize
from hpmr_spark.functions.ranking import bounded_rank, global_order_multi

# ---------------------------------------------------------------------------
# 1-D earth mover's distance between two yearly price distributions.
# ---------------------------------------------------------------------------

_EMD_ORACLE = """
    WITH s AS (
      SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
             CAST(SUM(CASE WHEN EXTRACT(YEAR FROM CAST(o_orderdate AS DATE)) = 1995
                           THEN 1 ELSE 0 END) AS BIGINT) AS cnt_a,
             CAST(SUM(CASE WHEN EXTRACT(YEAR FROM CAST(o_orderdate AS DATE)) = 1996
                           THEN 1 ELSE 0 END) AS BIGINT) AS cnt_b
      FROM orders
      WHERE EXTRACT(YEAR FROM CAST(o_orderdate AS DATE)) IN (1995, 1996)
      GROUP BY 1
    ),
    e AS (
      SELECT cents,
             CAST(SUM(cnt_a) OVER (ORDER BY cents
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run_a,
             CAST(SUM(cnt_b) OVER (ORDER BY cents
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run_b,
             LEAD(cents) OVER (ORDER BY cents) AS next_cents
      FROM s
    ),
    tot AS (SELECT CAST(SUM(cnt_a) AS BIGINT) AS na,
                   CAST(SUM(cnt_b) AS BIGINT) AS nb,
                   CAST(COUNT(*) AS BIGINT) AS n_support
            FROM s)
    SELECT t.na AS n_a, t.nb AS n_b, t.n_support,
           CAST(CAST(SUM(ABS(CAST(e.run_a AS HUGEINT) * t.nb
                             - CAST(e.run_b AS HUGEINT) * t.na)
                         * CAST(e.next_cents - e.cents AS HUGEINT))
                     AS HUGEINT)
                // (CAST(t.na AS HUGEINT) * CAST(t.nb AS HUGEINT))
                AS BIGINT) AS emd_cents
    FROM e, tot t
    WHERE e.next_cents IS NOT NULL
    GROUP BY t.na, t.nb, t.n_support
"""


@register("emd_1d_price_shift", _EMD_ORACLE)
def emd_1d_price_shift(spark, sf_dir):
    """Exact 1-D Wasserstein-1 distance (in cents) between the 1995 and
    1996 order-total distributions — see module docstring. Output: one
    row (n_a, n_b, n_support, emd_cents)."""
    o = _t(spark, sf_dir, "orders")
    yr = F.year(F.col("o_orderdate").cast("date"))
    s = (
        o.where(yr.isin(1995, 1996))
        .groupBy(
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents")
        )
        .agg(
            F.sum(F.when(yr == 1995, 1).otherwise(0)).cast("long").alias("cnt_a"),
            F.sum(F.when(yr == 1996, 1).otherwise(0)).cast("long").alias("cnt_b"),
        )
    )
    # Telescoped gap-free form (VERDICT r6 item 6): with T_j =
    # |runA_j·nb − runB_j·na| and T_n = 0 (both CDFs end at 1),
    #   Σ_j T_j·(c_{j+1} − c_j)  =  Σ_j c_j·(T_{j-1} − T_j),
    # and T_{j-1} is computable PER ROW from the STRICT running sums the
    # same bucketed window pass already emits — so the fact-scale rn-equi
    # self-join that previously fetched next_cents (2 extra exchanges)
    # disappears. Exact integer identity: same _num, same emd_cents.
    e = materialize(global_order_multi(
        s,
        ["cents"],
        running=[
            ("cnt_a", "sum", True, "sa"),
            ("cnt_b", "sum", True, "sb"),
            ("cnt_a", "sum", False, "ra"),
            ("cnt_b", "sum", False, "rb"),
        ],
    ), StorageLevel.MEMORY_AND_DISK)  # two consumers (totals + sum)
    tot = e.agg(
        F.max("ra").cast("long").alias("na"),
        F.max("rb").cast("long").alias("nb"),
        F.count(F.lit(1)).cast("long").alias("n_support"),
    )
    return (
        e.crossJoin(F.broadcast(tot))
        .groupBy("na", "nb", "n_support")
        .agg(
            F.expr(
                "CAST(SUM(CAST(cents AS DECIMAL(38,0)) * ("
                " ABS(CAST(COALESCE(sa, 0) AS DECIMAL(38,0)) * nb"
                "     - CAST(COALESCE(sb, 0) AS DECIMAL(38,0)) * na)"
                " - ABS(CAST(ra AS DECIMAL(38,0)) * nb"
                "       - CAST(rb AS DECIMAL(38,0)) * na)"
                ")) AS DECIMAL(38,0))"
            ).alias("_num")
        )
        .select(
            F.col("na").alias("n_a"),
            F.col("nb").alias("n_b"),
            F.col("n_support"),
            F.expr(
                "CAST(_num div (CAST(na AS DECIMAL(38,0)) * nb) AS BIGINT)"
            ).alias("emd_cents"),
        )
    )


# ---------------------------------------------------------------------------
# Kendall tau-a between per-nation revenue and order count.
# ---------------------------------------------------------------------------

_KENDALL_ORACLE = """
    WITH m AS (
      SELECT n.n_nationkey AS nk,
             CAST(COALESCE(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)), 0)
                  AS BIGINT) AS rev,
             CAST(COUNT(o.o_orderkey) AS BIGINT) AS cnt
      FROM nation n
      LEFT JOIN customer c ON c.c_nationkey = n.n_nationkey
      LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY 1
    ),
    p AS (
      SELECT CAST(SUM(CASE WHEN (a.rev > b.rev AND a.cnt > b.cnt)
                             OR (a.rev < b.rev AND a.cnt < b.cnt)
                           THEN 1 ELSE 0 END) AS BIGINT) AS concordant,
             CAST(SUM(CASE WHEN (a.rev > b.rev AND a.cnt < b.cnt)
                             OR (a.rev < b.rev AND a.cnt > b.cnt)
                           THEN 1 ELSE 0 END) AS BIGINT) AS discordant,
             CAST(SUM(CASE WHEN a.rev = b.rev OR a.cnt = b.cnt
                           THEN 1 ELSE 0 END) AS BIGINT) AS tied_pairs,
             CAST(COUNT(*) AS BIGINT) AS n_pairs
      FROM m a JOIN m b ON a.nk < b.nk
    )
    SELECT concordant, discordant, tied_pairs, n_pairs,
           CAST((concordant - discordant) * 1000000 // n_pairs AS BIGINT)
             AS tau_a_ppm
    FROM p
"""


@register("kendall_tau_nations", _KENDALL_ORACLE)
def kendall_tau_nations(spark, sf_dir):
    """Exact Kendall tau-a between per-nation revenue and order count —
    see module docstring. Output: one row (concordant, discordant,
    tied_pairs, n_pairs, tau_a_ppm)."""
    n = _t(spark, sf_dir, "nation")
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    m = (
        n.join(c, c["c_nationkey"] == n["n_nationkey"], "left")
        .join(o, o["o_custkey"] == c["c_custkey"], "left")
        .groupBy(n["n_nationkey"].alias("nk"))
        .agg(
            F.coalesce(
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long")),
                F.lit(0),
            )
            .cast("long")
            .alias("rev"),
            F.count("o_orderkey").cast("long").alias("cnt"),
        )
    )
    a = m.select(
        F.col("nk").alias("nk_a"), F.col("rev").alias("rev_a"), F.col("cnt").alias("cnt_a")
    )
    b = m.select(
        F.col("nk").alias("nk_b"), F.col("rev").alias("rev_b"), F.col("cnt").alias("cnt_b")
    )
    pairs = a.join(F.broadcast(b), F.col("nk_a") < F.col("nk_b"))
    return pairs.agg(
        F.sum(
            F.when(
                ((F.col("rev_a") > F.col("rev_b")) & (F.col("cnt_a") > F.col("cnt_b")))
                | ((F.col("rev_a") < F.col("rev_b")) & (F.col("cnt_a") < F.col("cnt_b"))),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("concordant"),
        F.sum(
            F.when(
                ((F.col("rev_a") > F.col("rev_b")) & (F.col("cnt_a") < F.col("cnt_b")))
                | ((F.col("rev_a") < F.col("rev_b")) & (F.col("cnt_a") > F.col("cnt_b"))),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("discordant"),
        F.sum(
            F.when(
                (F.col("rev_a") == F.col("rev_b")) | (F.col("cnt_a") == F.col("cnt_b")),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("tied_pairs"),
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
    ).select(
        "concordant",
        "discordant",
        "tied_pairs",
        "n_pairs",
        F.expr("(concordant - discordant) * 1000000 div n_pairs").alias("tau_a_ppm"),
    )


# ---------------------------------------------------------------------------
# Rank-biased overlap (p = 1/2, depth 20) between two yearly top-20 parts.
# ---------------------------------------------------------------------------

_RBO_L = 232792560  # lcm(1..20)
_RBO_DEPTH = 20
# Exact integer weight of a part first co-present at depth m, in units of
# 1 / (2^20 * L): W(m) = sum_{d=m..20} 2^(20-d) * L/d.
_RBO_W = {
    m: sum((1 << (_RBO_DEPTH - d)) * (_RBO_L // d) for d in range(m, _RBO_DEPTH + 1))
    for m in range(1, _RBO_DEPTH + 1)
}
_RBO_DENOM = (1 << _RBO_DEPTH) * _RBO_L
_RBO_CASE = (
    "CASE CAST(m AS BIGINT) "
    + " ".join(f"WHEN {m} THEN {w}" for m, w in sorted(_RBO_W.items()))
    + " ELSE 0 END"
)


def _rbo_year_sql(year: int) -> str:
    return f"""
      SELECT l_partkey AS pk, rnk FROM (
        SELECT l_partkey,
               ROW_NUMBER() OVER (
                 ORDER BY SUM(CAST(ROUND(l_extendedprice * (1 - l_discount)
                                         * 100) AS BIGINT)) DESC,
                          l_partkey
               ) AS rnk
        FROM lineitem
        WHERE EXTRACT(YEAR FROM CAST(l_shipdate AS DATE)) = {year}
        GROUP BY l_partkey
      ) WHERE rnk <= {_RBO_DEPTH}
    """


_RBO_ORACLE = f"""
    WITH ta AS ({_rbo_year_sql(1995)}),
    tb AS ({_rbo_year_sql(1996)}),
    j AS (
      SELECT GREATEST(ta.rnk, tb.rnk) AS m
      FROM ta JOIN tb ON ta.pk = tb.pk
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_overlap_at_20,
             CAST(COALESCE(SUM({_RBO_CASE}), 0) AS BIGINT) AS rbo_scaled
      FROM j
    )
    SELECT n_overlap_at_20, rbo_scaled,
           CAST(CAST(rbo_scaled AS HUGEINT) * 1000000
                // CAST({_RBO_DENOM} AS HUGEINT) AS BIGINT) AS rbo_ppm
    FROM s
"""


@register("rbo_rank_overlap", _RBO_ORACLE)
def rbo_rank_overlap(spark, sf_dir):
    """Rank-biased overlap (p = 1/2, depth 20) between the 1995 and 1996
    top-20 part-revenue rankings — see module docstring. Output: one row
    (n_overlap_at_20, rbo_scaled, rbo_ppm); rbo_scaled is RBO in exact
    units of 1/(2^20 * lcm(1..20))."""
    li = _t(spark, sf_dir, "lineitem")

    def top20(year: int, suffix: str):
        agg = (
            li.where(F.year(F.col("l_shipdate").cast("date")) == year)
            .groupBy("l_partkey")
            .agg(
                F.sum(
                    F.round(
                        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                    ).cast("long")
                )
                .cast("long")
                .alias("rev")
            )
        )
        lim = agg.orderBy(F.col("rev").desc(), F.col("l_partkey")).limit(_RBO_DEPTH)
        return bounded_rank(
            lim, "rev", "l_partkey", primary_desc=True, out="rnk"
        ).select(F.col("l_partkey").alias(f"pk_{suffix}"), F.col("rnk").alias(f"rnk_{suffix}"))

    ta, tb = top20(1995, "a"), top20(1996, "b")
    j = ta.join(F.broadcast(tb), F.col("pk_a") == F.col("pk_b")).select(
        F.greatest("rnk_a", "rnk_b").alias("m")
    )
    s = j.agg(
        F.count(F.lit(1)).cast("long").alias("n_overlap_at_20"),
        F.coalesce(F.sum(F.expr(_RBO_CASE)), F.lit(0))
        .cast("long")
        .alias("rbo_scaled"),
    )
    return s.select(
        "n_overlap_at_20",
        "rbo_scaled",
        F.expr(
            f"CAST(CAST(rbo_scaled AS DECIMAL(38,0)) * 1000000"
            f" div CAST({_RBO_DENOM} AS DECIMAL(38,0)) AS BIGINT)"
        ).alias("rbo_ppm"),
    )


# ---------------------------------------------------------------------------
# Mahalanobis outliers over (quantity, extendedprice-cents).
# ---------------------------------------------------------------------------

# One double expression over the exact integer moments and the row's exact
# ints — identical text on both engines, hence bit-equal (CLAUDE.md
# exact-moment-doubles rule). MLE covariance (divide by n).
_MAHA_D2 = (
    "FLOOR(("
    "  (CAST(syy AS DOUBLE) / CAST(n AS DOUBLE)"
    "     - (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))"
    "       * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)))"
    "  * (CAST(qty AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))"
    "  * (CAST(qty AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))"
    "  - 2.0 * (CAST(sxy AS DOUBLE) / CAST(n AS DOUBLE)"
    "     - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))"
    "       * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)))"
    "    * (CAST(qty AS DOUBLE) - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))"
    "    * (CAST(cents AS DOUBLE) - CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))"
    "  + (CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE)"
    "     - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))"
    "       * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))"
    "    * (CAST(cents AS DOUBLE) - CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))"
    "    * (CAST(cents AS DOUBLE) - CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))"
    ") / ("
    "  (CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE)"
    "     - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))"
    "       * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))"
    "  * (CAST(syy AS DOUBLE) / CAST(n AS DOUBLE)"
    "     - (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))"
    "       * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)))"
    "  - (CAST(sxy AS DOUBLE) / CAST(n AS DOUBLE)"
    "     - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))"
    "       * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)))"
    "    * (CAST(sxy AS DOUBLE) / CAST(n AS DOUBLE)"
    "     - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))"
    "       * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)))"
    ") * 1000000)"
)

_MAHA_ORACLE = f"""
    WITH r AS (
      SELECT CAST(l_quantity AS BIGINT) AS qty,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents
      FROM lineitem
    ),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(qty) AS BIGINT) AS sx,
             CAST(SUM(cents) AS BIGINT) AS sy,
             CAST(SUM(qty * qty) AS BIGINT) AS sxx,
             CAST(SUM(CAST(cents AS HUGEINT) * cents) AS HUGEINT) AS syy,
             CAST(SUM(qty * cents) AS BIGINT) AS sxy
      FROM r
    )
    SELECT qty, cents, CAST({_MAHA_D2} AS BIGINT) AS d2_ppm
    FROM r, m
    ORDER BY d2_ppm DESC, qty, cents
    LIMIT 20
"""


@register("mahalanobis_outliers_top20", _MAHA_ORACLE)
def mahalanobis_outliers_top20(spark, sf_dir):
    """Top-20 Mahalanobis-distance outliers over (quantity, price-cents)
    — see module docstring. Output: 20 rows (qty, cents, d2_ppm)."""
    li = _t(spark, sf_dir, "lineitem")
    r = li.select(
        F.col("l_quantity").cast("long").alias("qty"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    m = r.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("qty").cast("long").alias("sx"),
        F.sum("cents").cast("long").alias("sy"),
        F.sum(F.expr("qty * qty")).cast("long").alias("sxx"),
        F.expr("CAST(SUM(CAST(cents AS DECIMAL(38,0)) * cents) AS DECIMAL(38,0))").alias(
            "syy"
        ),
        F.sum(F.expr("qty * cents")).cast("long").alias("sxy"),
    )
    # Hoist the moment-derived constants (means, variances, covariance,
    # determinant) into the 1-row broadcast (VERDICT r6 item 6): the
    # committed per-row expression text re-derived ~40 double divisions
    # per fact row; each hoisted constant is computed with the IDENTICAL
    # operation sequence (mx = sx/n, vx = sxx/n − mx·mx, ...), so every
    # per-row double — and therefore the floored ppm — is bit-equal to
    # the oracle's inline form. Per-row work drops to 2 subs, 6 mults,
    # 1 div, 1 floor.
    mc = m.select(
        F.expr("CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)").alias("mx"),
        F.expr("CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)").alias("my"),
        F.expr(
            "CAST(sxx AS DOUBLE) / CAST(n AS DOUBLE)"
            " - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))"
            " * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))"
        ).alias("vx"),
        F.expr(
            "CAST(syy AS DOUBLE) / CAST(n AS DOUBLE)"
            " - (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))"
            " * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))"
        ).alias("vy"),
        F.expr(
            "CAST(sxy AS DOUBLE) / CAST(n AS DOUBLE)"
            " - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))"
            " * (CAST(sy AS DOUBLE) / CAST(n AS DOUBLE))"
        ).alias("vxy"),
    ).select(
        "mx", "my", "vx", "vy", "vxy",
        F.expr("vx * vy - vxy * vxy").alias("det"),
    )
    scored = r.crossJoin(F.broadcast(mc)).select(
        "qty",
        "cents",
        F.expr(
            "CAST(FLOOR(("
            " vy * (CAST(qty AS DOUBLE) - mx) * (CAST(qty AS DOUBLE) - mx)"
            " - 2.0 * vxy * (CAST(qty AS DOUBLE) - mx)"
            "   * (CAST(cents AS DOUBLE) - my)"
            " + vx * (CAST(cents AS DOUBLE) - my)"
            "   * (CAST(cents AS DOUBLE) - my)"
            ") / det * 1000000) AS BIGINT)"
        ).alias("d2_ppm"),
    )
    return scored.orderBy(
        F.col("d2_ppm").desc(), F.col("qty"), F.col("cents")
    ).limit(20)


# ---------------------------------------------------------------------------
# Gaussian KDE of order totals at 21 fixed grid points, nano-floored terms.
# ---------------------------------------------------------------------------

_KDE_H = "2500000.0"  # bandwidth in cents ($25k)
_KDE_STEP = 2500000  # grid spacing in cents
_KDE_TERM = (
    f"CAST(FLOOR(EXP(-0.5 * ((CAST(cents - g_cents AS DOUBLE)) / {_KDE_H})"
    f" * ((CAST(cents - g_cents AS DOUBLE)) / {_KDE_H})) * 1000000000)"
    " AS BIGINT)"
)

_KDE_ORACLE = f"""
    WITH r AS (
      SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents FROM orders
    ),
    grid AS (
      SELECT CAST(j * {_KDE_STEP} AS BIGINT) AS g_cents
      FROM range(0, 21) t(j)
    )
    SELECT g_cents,
           CAST(SUM({_KDE_TERM}) AS BIGINT) AS kde_nano,
           CAST(COUNT(*) AS BIGINT) AS n_rows
    FROM r, grid
    GROUP BY g_cents
"""


@register("kde_price_grid_nano", _KDE_ORACLE)
def kde_price_grid_nano(spark, sf_dir):
    """Gaussian KDE of order totals at 21 grid points — see module
    docstring. Output: 21 rows (g_cents, kde_nano, n_rows)."""
    o = _t(spark, sf_dir, "orders")
    r = o.select(F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"))
    grid = spark.range(0, 21).select(
        (F.col("id") * _KDE_STEP).cast("long").alias("g_cents")
    )
    return (
        r.crossJoin(F.broadcast(grid))
        .groupBy("g_cents")
        .agg(
            F.sum(F.expr(_KDE_TERM)).cast("long").alias("kde_nano"),
            F.count(F.lit(1)).cast("long").alias("n_rows"),
        )
    )
