"""Optimizer-statistics batch (ANALYZE TABLE parity): equi-depth histogram
boundaries, most-common-value lists, and per-column null/NDV stats — the
three stats a cost-based optimizer collects before planning 100 TB joins.

Reference parity: the reference exposes load diagnostics only
(check_balance — /root/reference/src/dist_hasher.h); a SQL engine's
equivalent telemetry is column statistics, computed with the same keyed
aggregation kernel.

Determinism: boundary selection by integer rank cross-multiplication,
MCV shares in integer ppm by floor division, NDV exact (the sketched
variant lives in sketch_bounded_checks)."""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark import StorageLevel

from hpmr_spark.catalog import register, _t
from hpmr_spark.engine import materialize
from hpmr_spark.functions.ranking import global_row_number


@register(
    "equi_depth_histogram_bounds",
    """
    WITH r AS (
      SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
             ROW_NUMBER() OVER (ORDER BY ROUND(o_totalprice * 100),
                                o_orderkey) AS rn,
             COUNT(*) OVER () AS n
      FROM orders
    )
    SELECT CAST(rn * 10 // n AS BIGINT) AS decile,
           cents AS upper_bound_cents,
           CAST(rn AS BIGINT) AS rank_at_bound
    FROM r
    WHERE rn * 10 // n > (rn - 1) * 10 // n
    """,
)
def equi_depth_histogram_bounds(spark, sf_dir):
    """Equi-depth (equi-height) histogram: the 10 decile upper bounds of
    order value, selected where the integer quotient rn·10 div n
    increments — pure rank cross-multiplication, no float quantile math,
    fully tie-broken (cents, orderkey). This is the stats structure a CBO
    range-prunes and estimates selectivity with. The rank is the two-pass
    value-bucketed row_number (functions/ranking.global_row_number —
    buckets derived from the leading key's broadcast min/max, NEVER from
    physical placement; see ranking.py on RangePartitioner
    nondeterminism), the total a broadcast 1-row count; the boundary
    predicate is unchanged and every stage is parallel."""
    o = _t(spark, sf_dir, "orders").select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        "o_orderkey",
    )
    rn = global_row_number(o, ["cents", "o_orderkey"], out="rn")
    t = o.agg(F.count(F.lit(1)).alias("n"))
    r = rn.crossJoin(F.broadcast(t))
    return r.where(
        F.expr("rn * 10 div n > (rn - 1) * 10 div n")
    ).select(
        F.expr("rn * 10 div n").cast("long").alias("decile"),
        F.col("cents").alias("upper_bound_cents"),
        F.col("rn").cast("long").alias("rank_at_bound"),
    )


@register(
    "mcv_quantity_top5",
    """
    WITH c AS (
      SELECT CAST(l_quantity AS BIGINT) AS qty,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM lineitem GROUP BY CAST(l_quantity AS BIGINT)
    ),
    t AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM lineitem)
    SELECT qty, cnt,
           CAST(cnt * 1000000 // total AS BIGINT) AS share_ppm
    FROM c, t
    ORDER BY cnt DESC, qty
    LIMIT 5
    """,
)
def mcv_quantity_top5(spark, sf_dir):
    """Most-common-value list (the CBO's skew detector): top-5 quantity
    values by frequency with exact ppm shares — count-ordered with a full
    value tie-break so equal frequencies resolve identically everywhere.
    One groupBy on a vocabulary-sized key; the total is a broadcast 1-row
    aggregate; the ORDER BY runs on the distinct-values frame, not rows."""
    li = _t(spark, sf_dir, "lineitem")
    c = li.groupBy(F.col("l_quantity").cast("long").alias("qty")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    t = li.agg(F.count(F.lit(1)).alias("total"))
    return (
        c.crossJoin(F.broadcast(t))
        .select("qty", "cnt", F.expr("cnt * 1000000 div total").alias("share_ppm"))
        .orderBy(F.col("cnt").desc(), "qty")
        .limit(5)
    )


@register(
    "column_stats_orders",
    """
    SELECT 'o_orderpriority' AS col_name,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_null,
           CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS ndv
    FROM orders
    UNION ALL
    SELECT 'o_orderstatus',
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END)
             AS BIGINT),
           CAST(COUNT(DISTINCT o_orderstatus) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'o_custkey',
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT)
    FROM orders
    """,
)
def column_stats_orders(spark, sf_dir):
    """Per-column ANALYZE stats (row count, null count, exact NDV) for
    three orders columns, stacked as (col_name, n, n_null, ndv) rows —
    the catalog table a CBO joins against at plan time. One aggregation
    per column (each with a single distinct — deliberately NOT fused into
    one agg: multiple countDistinct in one agg multiplies rows through
    Expand, the sketch_bounded_checks lesson). At 100 TB you'd swap exact
    NDV for the HLL-gated variant; the stacked shape stays."""
    o = _t(spark, sf_dir, "orders")

    def one(col: str):
        return o.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col(col).isNull(), 1).otherwise(0)).alias("n_null"),
            F.countDistinct(col).alias("ndv"),
        ).select(F.lit(col).alias("col_name"), "n", "n_null", "ndv")

    return one("o_orderpriority").unionAll(one("o_orderstatus")).unionAll(
        one("o_custkey")
    )


@register(
    "join_cardinality_estimate",
    """
    WITH s AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem) AS n_li,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM orders) AS n_o,
             (SELECT CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) FROM orders)
               AS ndv_o
    )
    SELECT n_li, n_o, ndv_o,
           CAST(n_li * n_o // ndv_o AS BIGINT) AS est_join_rows,
           (SELECT CAST(COUNT(*) AS BIGINT)
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
             AS actual_join_rows
    FROM s
    """,
)
def join_cardinality_estimate(spark, sf_dir):
    """The CBO's textbook equi-join estimate |L⋈O| ≈ |L|·|O| / ndv(key)
    (integer floor division over exact counts) side by side with the
    actual join cardinality — the estimator-quality check that drives
    stats refresh policy. The inputs are three 1-row aggregates plus one
    real join count; everything cross-joins broadcast-style at the end."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    s = (
        li.agg(F.count(F.lit(1)).alias("n_li"))
        .crossJoin(o.agg(F.count(F.lit(1)).alias("n_o")))
        .crossJoin(o.agg(F.countDistinct("o_orderkey").alias("ndv_o")))
    )
    actual = li.join(o, li.l_orderkey == o.o_orderkey).agg(
        F.count(F.lit(1)).alias("actual_join_rows")
    )
    return s.crossJoin(actual).select(
        "n_li", "n_o", "ndv_o",
        F.expr("n_li * n_o div ndv_o").alias("est_join_rows"),
        "actual_join_rows",
    )


@register(
    "dq_expectations_orders",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_nonpositive_price,
           CAST(SUM(CASE WHEN o_orderdate < DATE '1990-01-01'
                           OR o_orderdate > DATE '2000-12-31'
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_date_out_of_range,
           CAST(SUM(CASE WHEN o_orderstatus NOT IN ('F', 'O', 'P')
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_status,
           CAST(SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_null_custkey,
           SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) = 0
             AND SUM(CASE WHEN o_orderstatus NOT IN ('F', 'O', 'P')
                     THEN 1 ELSE 0 END) = 0
             AND SUM(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) = 0
             AS suite_pass
    FROM orders
    """,
)
def dq_expectations_orders(spark, sf_dir):
    """Expectation-suite data-quality gate (the Great-Expectations shape):
    per-constraint violation counts — positive money, date range, status
    domain, FK non-null — plus an overall pass boolean, all from ONE
    conditional-aggregate scan (never one pass per expectation). This row
    is what a pipeline publishes next to the snapshot it validates; at
    100 TB the suite cost is one table scan regardless of how many
    expectations it carries."""
    o = _t(spark, sf_dir, "orders")

    def viol(cond):
        return F.sum(F.when(cond, 1).otherwise(0))

    bad_price = F.col("o_totalprice") <= 0
    bad_date = (F.col("o_orderdate") < F.lit("1990-01-01").cast("date")) | (
        F.col("o_orderdate") > F.lit("2000-12-31").cast("date")
    )
    bad_status = ~F.col("o_orderstatus").isin("F", "O", "P")
    null_ck = F.col("o_custkey").isNull()
    return o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        viol(bad_price).alias("n_nonpositive_price"),
        viol(bad_date).alias("n_date_out_of_range"),
        viol(bad_status).alias("n_bad_status"),
        viol(null_ck).alias("n_null_custkey"),
        (
            (viol(bad_price) == 0) & (viol(bad_status) == 0) & (viol(null_ck) == 0)
        ).alias("suite_pass"),
    )


@register(
    "l_diversity_audit",
    """
    WITH g AS (
      SELECT c_mktsegment, c_nationkey,
             CAST(COUNT(*) AS BIGINT) AS grp_n,
             CAST(COUNT(DISTINCT CASE WHEN c_acctbal < 0 THEN 'neg'
                                      WHEN c_acctbal < 5000 THEN 'mid'
                                      ELSE 'high' END) AS BIGINT) AS l_div
      FROM customer GROUP BY c_mktsegment, c_nationkey
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_groups,
           CAST(MIN(l_div) AS BIGINT) AS min_l,
           CAST(SUM(CASE WHEN l_div < 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_homogeneous_groups,
           CAST(SUM(CASE WHEN l_div < 2 THEN grp_n ELSE 0 END) AS BIGINT)
             AS n_exposed_rows
    FROM g
    """,
)
def l_diversity_audit(spark, sf_dir):
    """The l-diversity companion to k_anonymity_audit: within each
    quasi-identifier group, count DISTINCT sensitive-attribute classes
    (balance bucketed neg/mid/high); groups with l < 2 are homogeneous —
    an attacker who locates the group learns the sensitive value exactly,
    which k-anonymity alone never detects. Reports worst-case l,
    homogeneous group count, and exposed-row cost. Same one-shuffle
    shape as the k audit."""
    c = _t(spark, sf_dir, "customer")
    sens = (
        F.when(F.col("c_acctbal") < 0, F.lit("neg"))
        .when(F.col("c_acctbal") < 5000, F.lit("mid"))
        .otherwise(F.lit("high"))
    )
    g = c.groupBy("c_mktsegment", "c_nationkey").agg(
        F.count(F.lit(1)).cast("long").alias("grp_n"),
        F.countDistinct(sens).cast("long").alias("l_div"),
    )
    return g.agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.min("l_div").cast("long").alias("min_l"),
        F.sum(F.when(F.col("l_div") < 2, 1).otherwise(0)).cast("long").alias(
            "n_homogeneous_groups"
        ),
        F.sum(F.when(F.col("l_div") < 2, F.col("grp_n")).otherwise(0))
        .cast("long")
        .alias("n_exposed_rows"),
    )


# ---------------------------------------------------------------------------
# V-optimal histogram construction as relational DP (round 5).
# ---------------------------------------------------------------------------
_VO_K = 16  # coarse pre-buckets
_VO_B = 4   # output bins


def _vo_cost(div: str) -> str:
    """SST-normalized ppm cost of bin (i..j] from prefix diffs — the
    committed integer floor (quotient ppm-sized)."""
    return (
        "CAST(CASE WHEN (bc - ac) > 0 THEN"
        " ((bc - ac) * (bq - aq) - (bs - as_) * (bs - as_))"
        f" * 1000000 * n0 {div} ((bc - ac) * d0)"
        " ELSE 0 END AS BIGINT)"
    )


def _vo_oracle() -> str:
    # The packed value min(total*32 + i) IS the lexicographic
    # (total, argmin-i) minimum since i < 32 — argmin rides in one MIN.
    layers = []
    prev = "f1"
    for b in range(2, _VO_B + 1):
        layers.append(f"""
    f{b} AS (
      SELECT c.j,
             CAST(MIN((p.packed // 32 + c.cost) * 32 + c.i) AS BIGINT)
               AS packed
      FROM cost c JOIN {prev} p ON p.j = c.i
      WHERE c.j >= {b}
      GROUP BY c.j
    )""")
        prev = f"f{b}"
    sel = " UNION ALL ".join(
        f"SELECT CAST({b} AS BIGINT) AS n_bins, CAST(j AS BIGINT) AS boundary,"
        f" CAST(packed // 32 AS BIGINT) AS cost_ppm,"
        f" CAST(packed % 32 AS BIGINT) AS from_boundary FROM f{b}"
        for b in range(1, _VO_B + 1)
    )
    return f"""
    WITH cents AS (
      SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v FROM orders
    ),
    bounds AS (SELECT MIN(v) AS mn, MAX(v) AS mx FROM cents),
    mq AS (
      SELECT k,
             CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(CAST(v AS HUGEINT)) AS HUGEINT) AS s,
             CAST(SUM(CAST(v AS HUGEINT) * v) AS HUGEINT) AS q
      FROM (
        SELECT CASE WHEN mx > mn
                 THEN LEAST({_VO_K} - 1, ((v - mn) * {_VO_K}) // (mx - mn + 1))
                 ELSE 0 END AS k, v
        FROM cents, bounds
      ) GROUP BY k
    ),
    grid AS (SELECT UNNEST(range(0, {_VO_K} + 1)) AS j),
    pfx AS (
      SELECT g.j,
             CAST(COALESCE(SUM(mq.cnt), 0) AS BIGINT) AS pc,
             CAST(COALESCE(SUM(mq.s), 0) AS HUGEINT) AS ps,
             CAST(COALESCE(SUM(mq.q), 0) AS HUGEINT) AS pq
      FROM grid g LEFT JOIN mq ON mq.k < g.j
      GROUP BY g.j
    ),
    tot AS (
      SELECT CAST(pc AS BIGINT) AS n0,
             CAST(pc * pq - ps * ps AS HUGEINT) AS d0
      FROM pfx WHERE j = {_VO_K}
    ),
    cost AS (
      SELECT i, j, {_vo_cost('//')} AS cost
      FROM (
        SELECT a.j AS i, b.j AS j, a.pc AS ac, b.pc AS bc,
               a.ps AS as_, b.ps AS bs, a.pq AS aq, b.pq AS bq
        FROM pfx a JOIN pfx b ON b.j > a.j
      ), tot
    ),
    f1 AS (
      SELECT j, CAST(cost * 32 + 0 AS BIGINT) AS packed
      FROM cost WHERE i = 0
    ),
    {",".join(layers)}
    {sel}
    """


@register("voptimal_histogram_dp", _vo_oracle())
def voptimal_histogram_dp(spark, sf_dir):
    """V-optimal histogram construction — the optimizer-statistics
    primitive (choose B=4 bin boundaries over K=16 ordered pre-buckets
    minimizing within-bin SSE) — as pure relational dynamic programming:
    exact int128 moments per pre-bucket, bin costs committed to
    SST-normalized ppm integers (quotients ppm-sized per the
    div-yields-LONG rule; the int128 numerator caps around 10⁸ input
    rows — pre-aggregate to coarser cents beyond that), and
    f[b][j] = min_i (f[b−1][i] + cost(i,j)) as B−1 chained join+min
    layers over the ≤K²/2 cost frame. The DP value is PACKED as
    total·32 + argmin_i — since i < 32, min(packed) IS the
    lexicographic (total, i) minimum, so the argmin rides along in one
    integer min with no struct ordering (cf. the Viterbi 16·score−1
    fold). Output = the full DP table; the optimal histogram is read by
    walking from_boundary back from (4, 16). Everything after the one
    fact aggregation runs on ≤17-row broadcast frames."""
    o = _t(spark, sf_dir, "orders")
    cents = o.select(F.round(F.col("o_totalprice") * 100).cast("long").alias("v"))
    bounds = cents.agg(F.min("v").alias("mn"), F.max("v").alias("mx"))
    bk = cents.crossJoin(F.broadcast(bounds)).select(
        F.expr(
            f"CASE WHEN mx > mn THEN LEAST({_VO_K} - 1,"
            f" ((v - mn) * {_VO_K}) div (mx - mn + 1)) ELSE 0 END"
        ).alias("k"),
        "v",
    )
    mq = bk.groupBy("k").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum(F.expr("CAST(v AS DECIMAL(38,0))")).alias("s"),
        F.sum(F.expr("CAST(v AS DECIMAL(38,0)) * v")).alias("q"),
    )
    grid = spark.range(0, _VO_K + 1).select(F.col("id").cast("long").alias("j"))
    pfx = materialize(
        grid.join(F.broadcast(mq), F.col("k") < F.col("j"), "left")
        .groupBy("j")
        .agg(
            F.coalesce(F.sum("cnt"), F.lit(0)).cast("long").alias("pc"),
            F.coalesce(F.sum("s"), F.expr("CAST(0 AS DECIMAL(38,0))")).alias("ps"),
            F.coalesce(F.sum("q"), F.expr("CAST(0 AS DECIMAL(38,0))")).alias("pq"),
        ),
        StorageLevel.MEMORY_AND_DISK,
    )
    tot = pfx.where(F.col("j") == _VO_K).select(
        F.col("pc").cast("long").alias("n0"),
        F.expr("CAST(pc * pq - ps * ps AS DECIMAL(38,0))").alias("d0"),
    )
    a = pfx.select(
        F.col("j").alias("i"), F.col("pc").alias("ac"), F.col("ps").alias("as_"),
        F.col("pq").alias("aq"),
    )
    b = pfx.select(
        F.col("j").alias("j"), F.col("pc").alias("bc"), F.col("ps").alias("bs"),
        F.col("pq").alias("bq"),
    )
    cost = materialize(
        a.join(F.broadcast(b), F.col("j") > F.col("i"))
        .crossJoin(F.broadcast(tot))
        .select("i", "j", F.expr(_vo_cost("div")).alias("cost")),
        StorageLevel.MEMORY_AND_DISK,
    )
    f = cost.where(F.col("i") == 0).select(
        "j", F.expr("CAST(cost * 32 + 0 AS BIGINT)").alias("packed")
    )
    outs = [
        f.select(
            F.lit(1).cast("long").alias("n_bins"),
            F.col("j").cast("long").alias("boundary"),
            F.expr("CAST(packed div 32 AS BIGINT)").alias("cost_ppm"),
            F.expr("CAST(packed % 32 AS BIGINT)").alias("from_boundary"),
        )
    ]
    for nb in range(2, _VO_B + 1):
        prev = f.select(F.col("j").alias("pi"), F.col("packed").alias("ppk"))
        f = (
            cost.where(F.col("j") >= nb)
            .join(F.broadcast(prev), F.col("pi") == F.col("i"))
            .groupBy("j")
            .agg(
                F.min(
                    F.expr("(ppk div 32 + cost) * 32 + i")
                )
                .cast("long")
                .alias("packed")
            )
        )
        outs.append(
            f.select(
                F.lit(nb).cast("long").alias("n_bins"),
                F.col("j").cast("long").alias("boundary"),
                F.expr("CAST(packed div 32 AS BIGINT)").alias("cost_ppm"),
                F.expr("CAST(packed % 32 AS BIGINT)").alias("from_boundary"),
            )
        )
    from functools import reduce as _reduce

    return _reduce(lambda x, y: x.unionAll(y), outs)
