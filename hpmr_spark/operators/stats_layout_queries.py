"""Stats + layout batch: exact skewness/kurtosis moments, graph degree
histogram, small-file compaction planning, incremental running totals,
rolling windowed regression, and token Gini impurity.

Reference parity: keyed-aggregation + ordered-window workloads over the
reference's sync() combine model (/root/reference/src/dist_map.h:147-210).

Determinism: every distributed sum is an exact BIGINT moment; doubles
appear only in ONE final per-row expression over those exact integers
(identical IEEE op sequence on both engines — the corr_qty_discount
discipline); layout decisions are integer floor division."""

from __future__ import annotations

import os

from pyspark.sql import Window
from pyspark.sql import functions as F

from hpmr_spark.catalog import register, _t
from hpmr_spark.engine import scratch_dir


# ---------------------------------------------------------------------------
# Exact skewness / kurtosis from integer power sums.
# ---------------------------------------------------------------------------
_SKEW_EXPR = (
    "(CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE)"
    " - 3.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))"
    "   * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))"
    " + 2.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))"
    "   * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))"
    "   * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))"
    " / ((CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)"
    "     - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))"
    "       * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))"
    "    * sqrt(CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)"
    "           - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))"
    "             * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))))"
)

_KURT_EXPR = (
    "(CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE)"
    " - 4.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))"
    "   * (CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE))"
    " + 6.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))"
    "   * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))"
    "   * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))"
    " - 3.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))"
    "   * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))"
    "   * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))"
    "   * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))"
    " / ((CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)"
    "     - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))"
    "       * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))"
    "    * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE)"
    "       - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))"
    "         * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))) - 3.0"
)


@register(
    "skew_kurtosis_quantity",
    f"""
    WITH m AS (
      SELECT l_returnflag,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS s1,
             CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))
               AS BIGINT) AS s2,
             CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)
                      * CAST(l_quantity AS BIGINT)) AS BIGINT) AS s3,
             CAST(SUM(CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT)
                      * CAST(l_quantity AS BIGINT) * CAST(l_quantity AS BIGINT))
               AS BIGINT) AS s4
      FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag, n, s1, s2, s3, s4,
           {_SKEW_EXPR} AS skewness,
           {_KURT_EXPR} AS excess_kurtosis
    FROM m
    """,
)
def skew_kurtosis_quantity(spark, sf_dir):
    """Population skewness + excess kurtosis from exact integer power sums
    (Σx, Σx², Σx³, Σx⁴ as BIGINT — associative, partition-invariant; x ≤ 50
    so Σx⁴ stays far under 2^63 even at planetary row counts). The shape
    statistics are ONE final double expression over the exact moments — the
    identical text is planted on both engines so the IEEE op sequence
    matches bit-for-bit. Contrast with F.skewness/F.kurtosis, whose
    running-variance accumulation is merge-order-dependent. 4 numbers per
    group cross the shuffle."""
    li = _t(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("long")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("s1"),
        F.sum(x * x).alias("s2"),
        F.sum(x * x * x).alias("s3"),
        F.sum(x * x * x * x).alias("s4"),
    )
    return m.select(
        "l_returnflag", "n", "s1", "s2", "s3", "s4",
        F.expr(_SKEW_EXPR).alias("skewness"),
        F.expr(_KURT_EXPR).alias("excess_kurtosis"),
    )


# ---------------------------------------------------------------------------
# Graph degree histogram: customer→supplier trade graph.
# ---------------------------------------------------------------------------
@register(
    "graph_degree_histogram",
    """
    WITH edges AS (
      SELECT DISTINCT o_custkey AS c, l_suppkey AS s
      FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    ),
    deg AS (
      SELECT c, CAST(COUNT(*) AS BIGINT) AS degree FROM edges GROUP BY c
    )
    SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM deg GROUP BY degree
    """,
)
def graph_degree_histogram(spark, sf_dir):
    """Degree-distribution of the customer→supplier trade graph (the first
    thing you compute on any large graph): distinct edges, per-vertex
    out-degree, then the histogram over degrees. Three shuffles, each on a
    progressively smaller keyspace (edges → vertices → degree values);
    distinct happens map-side first. At 100 TB the edge distinct is the
    dominant exchange and it keys on (c, s) — no skew hotspot beyond what
    AQE's skew-join handles."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    edges = (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .select(F.col("o_custkey").alias("c"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    deg = edges.groupBy("c").agg(F.count(F.lit(1)).alias("degree"))
    return deg.groupBy("degree").agg(F.count(F.lit(1)).alias("n_customers"))


# ---------------------------------------------------------------------------
# Small-file compaction planner: first-fit day runs into byte-target bins.
# ---------------------------------------------------------------------------
@register(
    "compaction_bin_packing",
    """
    WITH files AS (
      SELECT o_orderdate AS day, CAST(COUNT(*) * 64 AS BIGINT) AS est_bytes
      FROM orders GROUP BY o_orderdate
    ),
    placed AS (
      SELECT day, est_bytes,
             CAST((SUM(est_bytes) OVER (ORDER BY day
                     ROWS UNBOUNDED PRECEDING) - est_bytes) // 65536
               AS BIGINT) AS bin
      FROM files
    )
    SELECT bin,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(est_bytes) AS BIGINT) AS total_bytes,
           MIN(day) AS first_day, MAX(day) AS last_day
    FROM placed GROUP BY bin
    """,
)
def compaction_bin_packing(spark, sf_dir):
    """Small-file compaction planning — the table-maintenance op every
    100 TB lakehouse runs nightly: per-day file-size estimates (64 B/row
    here; real deployments read footer metadata) are packed date-contiguous
    into ~64 KiB merge bins (1 GiB in production — the knob scales, the plan doesn't change) by integer floor division over the running
    cumulative size, preserving sort order so compacted files stay
    range-prunable. The plan runs over file-level METADATA (one row per
    day), thousands of rows at any data scale — the single-partition
    cumulative window is metadata-sized by construction, never data-sized."""
    o = _t(spark, sf_dir, "orders")
    files = o.groupBy(F.col("o_orderdate").alias("day")).agg(
        (F.count(F.lit(1)) * 64).alias("est_bytes")
    )
    # the exclusive running size is the two-pass bucketed prefix sum over
    # the numeric day (functions/ranking.py) — parallel even though the
    # frame is metadata-sized, and no partition-less window in any log
    from hpmr_spark.functions.ranking import global_running

    files = files.withColumn("day_num", F.unix_date(F.col("day").cast("date")))
    placed = global_running(
        files, ["day_num"], "est_bytes", kind="sum", strict=True, out="_before"
    ).withColumn(
        "bin", F.expr("coalesce(_before, 0) div 65536")
    )
    return placed.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n_days"),
        F.sum("est_bytes").alias("total_bytes"),
        F.min("day").alias("first_day"),
        F.max("day").alias("last_day"),
    )


# ---------------------------------------------------------------------------
# Incremental-view pattern: daily revenue + year-to-date running total.
# ---------------------------------------------------------------------------
@register(
    "ivm_running_daily_revenue",
    """
    WITH daily AS (
      SELECT o_orderdate AS day,
             CAST(year(o_orderdate) AS BIGINT) AS yr,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS day_cents
      FROM orders GROUP BY o_orderdate
    )
    SELECT day, yr, day_cents,
           CAST(SUM(day_cents) OVER (PARTITION BY yr ORDER BY day
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ytd_cents
    FROM daily
    """,
)
def ivm_running_daily_revenue(spark, sf_dir):
    """The incremental-view-maintenance shape: the base aggregate (daily
    revenue, integer cents) is the materialized delta unit — a new day's
    partition folds in without touching history — and the year-to-date
    running total is a window over the already-aggregated day rows
    (days-per-year sized, not data-sized). Partitioning the cumsum by year
    keeps every window partition bounded at any horizon."""
    o = _t(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("day_cents")
    ).withColumn("yr", F.year("day").cast("long"))
    w = (
        Window.partitionBy("yr")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return daily.select(
        "day", "yr", "day_cents", F.sum("day_cents").over(w).alias("ytd_cents")
    )


# ---------------------------------------------------------------------------
# Rolling windowed regression: 30-row trailing slope per user.
# ---------------------------------------------------------------------------
@register(
    "rolling_regression_user_value",
    """
    WITH seq AS (
      SELECT event_id, user_id,
             CAST(ROW_NUMBER() OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id) AS BIGINT) AS i,
             CAST(ROUND(value * 100) AS BIGINT) AS y
      FROM events
    ),
    roll AS (
      SELECT event_id, user_id, i, y,
             CAST(COUNT(*) OVER w AS BIGINT) AS n,
             CAST(SUM(i) OVER w AS BIGINT) AS sx,
             CAST(SUM(y) OVER w AS BIGINT) AS sy,
             CAST(SUM(i * i) OVER w AS BIGINT) AS sxx,
             CAST(SUM(i * y) OVER w AS BIGINT) AS sxy
      FROM seq
      WINDOW w AS (PARTITION BY user_id ORDER BY i
                   ROWS BETWEEN 29 PRECEDING AND CURRENT ROW)
    )
    SELECT event_id, user_id, i, n,
           CASE WHEN n >= 2 THEN
             (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
           END AS slope_cents
    FROM roll
    """,
)
def rolling_regression_user_value(spark, sf_dir):
    """Trailing-30-event trend per user — the feature-engineering shape for
    drift/trend signals: regression slope of value (integer cents) against
    the event index over a rolling row frame. The rolling sufficient
    moments are exact BIGINT window sums (x is the per-user row index, so
    magnitudes stay tiny); the slope is one final double expression (same
    text on both engines; the x-variance denominator can't be zero once
    n ≥ 2 because x is strictly increasing). One shuffle on user_id; both
    window passes share the same sort."""
    ev = _t(spark, sf_dir, "events")
    w0 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "event_id",
        "user_id",
        F.row_number().over(w0).cast("long").alias("i"),
        F.round(F.col("value") * 100).cast("long").alias("y"),
    )
    w = Window.partitionBy("user_id").orderBy("i").rowsBetween(-29, 0)
    roll = seq.select(
        "event_id",
        "user_id",
        "i",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("i").over(w).alias("sx"),
        F.sum("y").over(w).alias("sy"),
        F.sum(F.col("i") * F.col("i")).over(w).alias("sxx"),
        F.sum(F.col("i") * F.col("y")).over(w).alias("sxy"),
    )
    slope = F.expr(
        "CASE WHEN n >= 2 THEN "
        "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
        " / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
        " - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) END"
    )
    return roll.select("event_id", "user_id", "i", "n", slope.alias("slope_cents"))


# ---------------------------------------------------------------------------
# Token Gini impurity: vocabulary-diversity quality signal per document.
# ---------------------------------------------------------------------------
@register(
    "token_gini_impurity_ppm",
    """
    WITH tc AS (
      SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
            FROM documents) t
      GROUP BY doc_id, w
    ),
    agg AS (
      SELECT doc_id,
             CAST(SUM(c) AS BIGINT) AS n_tokens,
             CAST(SUM(c * c) AS BIGINT) AS sum_c2
      FROM tc GROUP BY doc_id
    )
    SELECT doc_id, n_tokens,
           CAST(1000000 - sum_c2 * 1000000 // (n_tokens * n_tokens)
             AS BIGINT) AS gini_ppm
    FROM agg
    """,
)
def token_gini_impurity_ppm(spark, sf_dir):
    """Gini impurity of each document's token distribution (1 − Σp² in
    integer ppm) — the log-free diversity twin of entropy for repetition
    filtering: boilerplate-heavy docs score low, varied prose scores high.
    Two-level exact reduce: (doc, token) counts, then per-doc Σc and Σc²,
    with the ppm computed by integer floor division (non-negative operands
    — Spark div ≡ DuckDB //). Both shuffles key on doc_id-derived keys;
    per-doc state is vocabulary-bounded."""
    d = _t(spark, sf_dir, "documents")
    tc = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    agg = tc.groupBy("doc_id").agg(
        F.sum("c").alias("n_tokens"),
        F.sum(F.col("c") * F.col("c")).alias("sum_c2"),
    )
    return agg.select(
        "doc_id",
        "n_tokens",
        F.expr("1000000 - sum_c2 * 1000000 div (n_tokens * n_tokens)").alias(
            "gini_ppm"
        ),
    )


# ---------------------------------------------------------------------------
# Incremental-view checkpoint/restore: merge persisted partials with a delta.
# ---------------------------------------------------------------------------
@register(
    "ivm_checkpoint_resume",
    """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS total_cents
    FROM orders GROUP BY o_orderpriority
    """,
)
def ivm_checkpoint_resume(spark, sf_dir):
    """The materialize→restore→merge loop of incremental view maintenance:
    history (orders before 1997) aggregates once and CHECKPOINTS to
    parquet; the delta (1997+) aggregates separately; the published view
    is the re-aggregated union of restored partials + delta partials —
    proven equal to a full recompute by the oracle. Integer-cents partials
    are associative, so the merge is exact regardless of how history was
    split. At 100 TB this is the nightly pattern: history partials are
    metadata-sized (groups, not rows), and only the delta touches new
    data."""
    o = _t(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    cutoff = F.lit("1997-01-01").cast("date")

    def partial(df):
        return df.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(cents).alias("total_cents"),
        )

    ckpt = os.path.join(scratch_dir("ivm"), "history_partials")
    partial(o.where(F.col("o_orderdate") < cutoff)).write.mode("overwrite").parquet(
        ckpt
    )
    restored = spark.read.parquet(ckpt)
    delta = partial(o.where(F.col("o_orderdate") >= cutoff))
    return (
        restored.unionByName(delta)
        .groupBy("o_orderpriority")
        .agg(
            F.sum("n_orders").alias("n_orders"),
            F.sum("total_cents").alias("total_cents"),
        )
    )


# ---------------------------------------------------------------------------
# Incremental JOIN maintenance: ΔFact ⋈ Dims merged with materialized state.
# ---------------------------------------------------------------------------
@register(
    "ivm_join_delta_merge",
    """
    SELECT n_name,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM orders JOIN customer ON o_custkey = c_custkey
                JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """,
)
def ivm_join_delta_merge(spark, sf_dir):
    """Incremental maintenance of a JOIN view (revenue per nation over
    orders ⋈ customer ⋈ nation). With unchanged dimensions the bilinear
    delta rule Δ(F ⋈ D) = ΔF ⋈ D means only the fact delta re-joins:
    history partials (orders < 1997 joined + pre-aggregated) are
    materialized to parquet, restored, and merged with the delta join's
    partials via re-aggregation — the oracle's full recompute proves
    equality. At 100 TB: the delta join broadcasts the dims exactly like
    the full join, history state is group-sized metadata, and no historical
    fact row is ever re-read."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    dims = F.broadcast(
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey).select(
            "c_custkey", "n_name"
        )
    )
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    cutoff = F.lit("1997-01-01").cast("date")

    def partial(fact):
        return (
            fact.join(dims, fact.o_custkey == dims.c_custkey)
            .groupBy("n_name")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum(cents).alias("revenue_cents"),
            )
        )

    ckpt = os.path.join(scratch_dir("ivmj"), "history_join")
    partial(o.where(F.col("o_orderdate") < cutoff)).write.mode("overwrite").parquet(
        ckpt
    )
    restored = spark.read.parquet(ckpt)
    delta = partial(o.where(F.col("o_orderdate") >= cutoff))
    return (
        restored.unionByName(delta)
        .groupBy("n_name")
        .agg(
            F.sum("n_orders").alias("n_orders"),
            F.sum("revenue_cents").alias("revenue_cents"),
        )
    )
