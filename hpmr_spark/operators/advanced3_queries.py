"""Behavioral-analytics batch: association rules, user-similarity cosine,
active-day streaks, week-over-week growth.

Reference parity: keyed combine workloads (/root/reference/src/dist_map.h:
147-210) over derived keys (baskets, user pairs, streak anchors, weeks).

Determinism: counts/cents as BIGINT; ratios as integer ppm with floor
division on positive operands; cosine/lift/growth as ONE final double
expression over exact integer moments (identical SQL text on both engines,
so IEEE evaluation is bit-equal)."""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from hpmr_spark.catalog import _t, register
from hpmr_spark.engine import materialize
from hpmr_spark.sources.tables import load_events

# ---------------------------------------------------------------------------
# Association rules over daily event-type baskets: support / confidence /
# lift (market-basket analysis).
# ---------------------------------------------------------------------------
_ASSOC_SQL = """
    WITH b AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d, event_type
               FROM events),
    nb AS (SELECT CAST(COUNT(DISTINCT (user_id, d)) AS BIGINT) AS n_baskets FROM b),
    item AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM b
             GROUP BY event_type),
    pair AS (SELECT x.event_type AS a, y.event_type AS b,
                    CAST(COUNT(*) AS BIGINT) AS n_ab
             FROM b x JOIN b y
               ON x.user_id = y.user_id AND x.d = y.d AND x.event_type < y.event_type
             GROUP BY a, b)
    SELECT a, b, n_ab,
           CAST(n_ab * 1000000 // n_baskets AS BIGINT) AS support_ppm,
           CAST(n_ab * 1000000 // ia.n AS BIGINT) AS conf_a_to_b_ppm,
           CAST(n_ab * 1000000 // ib.n AS BIGINT) AS conf_b_to_a_ppm,
           CAST(n_ab * n_baskets AS DOUBLE) / CAST(ia.n * ib.n AS DOUBLE) AS lift
    FROM pair JOIN item ia ON pair.a = ia.event_type
              JOIN item ib ON pair.b = ib.event_type
              CROSS JOIN nb
"""


@register("assoc_rules_support_ppm", _ASSOC_SQL)
def assoc_rules_support_ppm(spark, sf_dir):
    """Market-basket association rules where a basket is one user-day's set
    of event types: pair support/confidence as integer ppm, lift as one
    final double over exact counts (n_ab·N / n_a·n_b). The pair join is an
    equi-join on (user, day) — the classic co-occurrence shuffle; item
    counts and the basket total are broadcast 1-row/5-row frames. At scale
    baskets are bounded (|event types| per user-day), so the pair explosion
    is |basket|²-bounded per key, not corpus-quadratic."""
    ev = load_events(spark, sf_dir)
    b = ev.select(
        "user_id", F.to_date("ts").alias("d"), "event_type"
    ).distinct()
    nb = b.select("user_id", "d").distinct().agg(
        F.count(F.lit(1)).alias("n_baskets")
    )
    item = b.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    x, y = b.alias("x"), b.alias("y")
    pair = (
        x.join(
            y,
            [
                F.col("x.user_id") == F.col("y.user_id"),
                F.col("x.d") == F.col("y.d"),
                F.col("x.event_type") < F.col("y.event_type"),
            ],
        )
        .select(F.col("x.event_type").alias("a"), F.col("y.event_type").alias("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    ia = item.select(F.col("event_type").alias("a"), F.col("n").alias("na"))
    ib = item.select(F.col("event_type").alias("b"), F.col("n").alias("nb"))
    return (
        pair.join(F.broadcast(ia), "a")
        .join(F.broadcast(ib), "b")
        .crossJoin(F.broadcast(nb))
        .select(
            "a",
            "b",
            "n_ab",
            F.expr("n_ab * 1000000 div n_baskets").alias("support_ppm"),
            F.expr("n_ab * 1000000 div na").alias("conf_a_to_b_ppm"),
            F.expr("n_ab * 1000000 div nb").alias("conf_b_to_a_ppm"),
            F.expr(
                "CAST(n_ab * n_baskets AS DOUBLE) / CAST(na * nb AS DOUBLE)"
            ).alias("lift"),
        )
    )


# ---------------------------------------------------------------------------
# User behavioral similarity: cosine between event-type count vectors.
# ---------------------------------------------------------------------------
_BCOS_SQL = """
    WITH v AS (SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n
               FROM events GROUP BY user_id, event_type),
    nrm AS (SELECT user_id, CAST(SUM(n * n) AS BIGINT) AS nn FROM v
            GROUP BY user_id),
    dot AS (SELECT a.user_id AS u1, b.user_id AS u2,
                   CAST(SUM(a.n * b.n) AS BIGINT) AS dp
            FROM v a JOIN v b
              ON a.event_type = b.event_type AND a.user_id < b.user_id
            GROUP BY u1, u2)
    SELECT u1, u2, dp,
           CAST(dp AS DOUBLE) / sqrt(CAST(na.nn * nb.nn AS DOUBLE)) AS cosine
    FROM dot JOIN nrm na ON dot.u1 = na.user_id
             JOIN nrm nb ON dot.u2 = nb.user_id
"""


@register("user_behavior_cosine", _BCOS_SQL)
def user_behavior_cosine(spark, sf_dir):
    """Pairwise cosine similarity between users' event-type count vectors.
    Dot products and squared norms are exact BIGINT moments accumulated by
    an equi-join on the (tiny-cardinality) vector component key; the cosine
    is ONE final double expression (dp / √(nn₁·nn₂)) — identical text on
    both engines. The pair space is |users|² over the POST-aggregation
    frame (users, not events) — at 100 TB this pairs via LSH/IVF blocking
    (similarity/lsh.py) instead of the exact component join."""
    ev = load_events(spark, sf_dir)
    v = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    nrm = v.groupBy("user_id").agg(F.sum(F.col("n") * F.col("n")).alias("nn"))
    a, b = v.alias("a"), v.alias("b")
    dot = (
        a.join(
            b,
            [
                F.col("a.event_type") == F.col("b.event_type"),
                F.col("a.user_id") < F.col("b.user_id"),
            ],
        )
        .select(
            F.col("a.user_id").alias("u1"),
            F.col("b.user_id").alias("u2"),
            (F.col("a.n") * F.col("b.n")).alias("p"),
        )
        .groupBy("u1", "u2")
        .agg(F.sum("p").alias("dp"))
    )
    na = nrm.select(F.col("user_id").alias("u1"), F.col("nn").alias("nn1"))
    nb = nrm.select(F.col("user_id").alias("u2"), F.col("nn").alias("nn2"))
    return (
        dot.join(F.broadcast(na), "u1")
        .join(F.broadcast(nb), "u2")
        .select(
            "u1",
            "u2",
            "dp",
            F.expr("CAST(dp AS DOUBLE) / sqrt(CAST(nn1 * nn2 AS DOUBLE))").alias(
                "cosine"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Gaps-and-islands: longest consecutive-active-day streak per user.
# ---------------------------------------------------------------------------
_STREAK_SQL = """
    WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
    g AS (SELECT user_id, d,
                 d - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d)
                          AS INTEGER) AS anchor
          FROM ud),
    s AS (SELECT user_id, anchor, CAST(COUNT(*) AS BIGINT) AS len
          FROM g GROUP BY user_id, anchor)
    SELECT user_id,
           CAST(SUM(len) AS BIGINT) AS n_active_days,
           CAST(MAX(len) AS BIGINT) AS longest_streak,
           CAST(COUNT(*) AS BIGINT) AS n_streaks
    FROM s GROUP BY user_id
"""


@register("user_active_streaks", _STREAK_SQL)
def user_active_streaks(spark, sf_dir):
    """Longest consecutive-day activity streak per user via the
    gaps-and-islands anchor trick (d − row_number is constant within a run
    of consecutive dates). Pure integer/date arithmetic, one user_id window
    + two cheap aggs; no self-join."""
    ev = load_events(spark, sf_dir)
    ud = ev.select("user_id", F.to_date("ts").alias("d")).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    g = ud.withColumn("anchor", F.date_sub(F.col("d"), F.row_number().over(w)))
    s = g.groupBy("user_id", "anchor").agg(F.count(F.lit(1)).alias("len"))
    return s.groupBy("user_id").agg(
        F.sum("len").alias("n_active_days"),
        F.max("len").alias("longest_streak"),
        F.count(F.lit(1)).alias("n_streaks"),
    )


# ---------------------------------------------------------------------------
# Week-over-week revenue growth.
# ---------------------------------------------------------------------------
_WOW_SQL = """
    WITH wk AS (SELECT CAST(date_trunc('week', ts) AS DATE) AS week,
                       CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                         AS revenue_cents
                FROM events WHERE event_type = 'purchase' GROUP BY week)
    SELECT week, revenue_cents,
           lag(revenue_cents) OVER (ORDER BY week) AS prev_cents,
           CAST(revenue_cents - lag(revenue_cents) OVER (ORDER BY week) AS DOUBLE)
             / CAST(lag(revenue_cents) OVER (ORDER BY week) AS DOUBLE) AS wow_growth
    FROM wk
"""


@register("wow_growth_revenue", _WOW_SQL)
def wow_growth_revenue(spark, sf_dir):
    """Week-over-week purchase-revenue growth: exact integer cents per ISO
    week (date_trunc('week') starts Monday on both engines); lag() becomes
    a self-equi-join on the two-pass bucketed row_number (rn = rn−1) —
    no window at all; growth is ONE final double expression (Δ/prev — may
    be negative, so no integer floor division). First week's growth is NULL
    by construction (left join miss)."""
    from hpmr_spark.functions.ranking import global_row_number

    ev = load_events(spark, sf_dir)
    cents = F.round(F.col("value") * 100).cast("long")
    wk = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy(F.date_trunc("week", F.col("ts")).cast("date").alias("week"))
        .agg(F.sum(cents).alias("revenue_cents"))
    )
    r = global_row_number(
        wk.withColumn("week_num", F.unix_date("week")), ["week_num"], out="rn"
    )
    prev = r.select(
        (F.col("rn") + 1).alias("rn"), F.col("revenue_cents").alias("prev_cents")
    )
    return r.join(prev, "rn", "left").select(
        "week",
        "revenue_cents",
        "prev_cents",
        (
            (F.col("revenue_cents") - F.col("prev_cents")).cast("double")
            / F.col("prev_cents").cast("double")
        ).alias("wow_growth"),
    )


# ---------------------------------------------------------------------------
# Robust statistics: exact median absolute deviation and exact mode.
# ---------------------------------------------------------------------------
_MAD_SQL = """
    WITH c AS (SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
    t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM c),
    d AS (SELECT cents, CAST(COUNT(*) AS BIGINT) AS cnt FROM c GROUP BY cents),
    cum AS (SELECT cents,
                   CAST(SUM(cnt) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING)
                        AS BIGINT) AS cm
            FROM d),
    med AS (SELECT MIN(cents) AS m FROM cum, t WHERE cm >= (n + 1) // 2),
    dev AS (SELECT abs(cents - m) AS dv FROM c, med),
    dd AS (SELECT dv, CAST(COUNT(*) AS BIGINT) AS cnt FROM dev GROUP BY dv),
    dcum AS (SELECT dv,
                    CAST(SUM(cnt) OVER (ORDER BY dv ROWS UNBOUNDED PRECEDING)
                         AS BIGINT) AS cm
             FROM dd)
    SELECT t.n, med.m AS median_cents,
           (SELECT MIN(dv) FROM dcum, t WHERE cm >= (n + 1) // 2) AS mad_cents
    FROM t, med
"""


@register("median_absolute_deviation", _MAD_SQL)
def median_absolute_deviation(spark, sf_dir):
    """Exact MAD in two rank-selection passes (lower median = least value
    whose cumulative count reaches ⌈n/2⌉, over the GROUPED distinct-value
    frame both times). Pure integer cents — the robust-statistics twin of
    winsorize_clip_stats. Near-unique prices make the distinct-value frame
    row-scale, so each cumulative count is the two-pass bucketed prefix sum
    (functions/ranking.py) — no single-partition window.

    Round-4 shuffle diet (was 15 shuffles / 7 fact scans): orders is
    grouped into the (cents, cnt) histogram ONCE and everything downstream
    — the total, both rank selections, and the DEVIATION histogram
    (dv = |cents − median| regrouped with its counts) — derives from that
    one frame, so identical subtrees collapse under ReuseExchange and the
    fact table is never re-scanned for the second pass.

    r11 optimization: the histogram feeds FIVE downstream subtrees (total,
    both rank selections — each a machinery call consuming it twice — and
    the deviation regroup), so its lineage was re-planned/re-executed per
    consumer subtree at every broadcast-job barrier. persist(MEMORY_AND_DISK)
    materializes the orders scan+agg ONCE; with
    canChangeCachedPlanOutputPartitioning=true (engine.py, this round) AQE
    coalesces the cached layout so the old 4x tiny-partition persist
    regression no longer applies. Locally neutral (probed A/B/C all
    ~3-4 s warm within contention noise — /tmp probes, OPTIMIZATION_r11.md);
    at 100 TB it removes ~3 redundant row-scale scan+agg re-executions."""
    from pyspark import StorageLevel

    from hpmr_spark.functions.ranking import global_running

    o = _t(spark, sf_dir, "orders")
    c = o.select(F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"))
    d = c.groupBy("cents").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    d = materialize(d, StorageLevel.MEMORY_AND_DISK)
    t = d.agg(F.sum("cnt").cast("long").alias("n"))

    def rank_select(hist, col):
        cum = global_running(hist, [col], "cnt", kind="sum", out="cm")
        return (
            cum.crossJoin(F.broadcast(t))
            .where(F.expr("cm >= (n + 1) div 2"))
            .agg(F.min(col).alias("sel"))
        )

    med = rank_select(d, "cents")
    dd = (
        d.crossJoin(F.broadcast(med))
        .groupBy(F.abs(F.col("cents") - F.col("sel")).alias("dv"))
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )
    mad = rank_select(dd, "dv")
    return (
        t.crossJoin(med.select(F.col("sel").alias("median_cents")))
        .crossJoin(mad.select(F.col("sel").alias("mad_cents")))
        .select("n", "median_cents", "mad_cents")
    )


_MODE_SQL = """
    WITH c AS (SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
    d AS (SELECT cents, CAST(COUNT(*) AS BIGINT) AS cnt FROM c GROUP BY cents)
    SELECT cents AS mode_cents, cnt AS n_occurrences
    FROM d ORDER BY cnt DESC, cents LIMIT 1
"""


@register("mode_most_frequent_price", _MODE_SQL)
def mode_most_frequent_price(spark, sf_dir):
    """Exact mode with a full tie-break (highest count, then lowest value):
    a grouped count and a 1-row global top — the final sort runs over the
    distinct-value frame and TakeOrdered keeps only one row per partition
    in flight."""
    o = _t(spark, sf_dir, "orders")
    c = o.select(F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"))
    d = c.groupBy("cents").agg(F.count(F.lit(1)).alias("cnt"))
    return (
        d.orderBy(F.col("cnt").desc(), F.col("cents"))
        .limit(1)
        .select(F.col("cents").alias("mode_cents"), F.col("cnt").alias("n_occurrences"))
    )


# ---------------------------------------------------------------------------
# Data quality: gaps in a dense key sequence, Benford first-digit profile.
# ---------------------------------------------------------------------------
_GAPS_SQL = """
    WITH k AS (SELECT DISTINCT o_orderkey AS key FROM orders),
    l AS (SELECT key, lag(key) OVER (ORDER BY key) AS pk FROM k)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(MIN(key) AS BIGINT) AS min_key,
           CAST(MAX(key) AS BIGINT) AS max_key,
           CAST(MAX(key) - MIN(key) + 1 - COUNT(*) AS BIGINT) AS n_missing,
           CAST(SUM(CASE WHEN pk IS NOT NULL AND key - pk > 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_gaps,
           CAST(MAX(CASE WHEN pk IS NOT NULL THEN key - pk - 1 ELSE 0 END)
                AS BIGINT) AS widest_gap
    FROM l
"""


@register("sequence_gap_detection", _GAPS_SQL)
def sequence_gap_detection(spark, sf_dir):
    """Key-sequence completeness audit (gaps-and-islands over the DISTINCT
    key frame): one row with total missing ids, gap count, and the widest
    gap, from each key's predecessor. Always non-empty, so the value hash
    pins the audit even on dense data. The predecessor of a key in a sorted
    UNIQUE sequence is the running max over all strictly-earlier rows, so
    lag() becomes the two-pass bucketed strict running max
    (functions/ranking.py) — parallel over the fact-scale distinct-key
    frame, no single-partition window."""
    from hpmr_spark.functions.ranking import global_running

    o = _t(spark, sf_dir, "orders")
    k = o.select(F.col("o_orderkey").alias("key")).distinct()
    l = global_running(k, ["key"], "key", kind="max", strict=True, out="pk")
    gap = F.when(
        F.col("pk").isNotNull() & (F.col("key") - F.col("pk") > 1), F.lit(1)
    ).otherwise(F.lit(0))
    width = F.when(
        F.col("pk").isNotNull(), F.col("key") - F.col("pk") - 1
    ).otherwise(F.lit(0))
    return l.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.min("key").alias("min_key"),
        F.max("key").alias("max_key"),
        (F.max("key") - F.min("key") + 1 - F.count(F.lit(1))).alias("n_missing"),
        F.sum(gap).alias("n_gaps"),
        F.max(width).alias("widest_gap"),
    )


_BENFORD_SQL = """
    WITH c AS (SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents FROM orders
               WHERE o_totalprice > 0),
    d AS (SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT) AS digit FROM c),
    t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM d)
    SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_values,
           CAST(COUNT(*) * 1000000 // n AS BIGINT) AS share_ppm
    FROM d, t GROUP BY digit, n
"""


@register("benford_first_digit_ppm", _BENFORD_SQL)
def benford_first_digit_ppm(spark, sf_dir):
    """Benford's-law first-digit profile of order totals (the classic fraud
    / synthetic-data screen): leading digit extracted from the decimal
    string of exact integer cents (no float log10 — identical text both
    engines), shares as integer ppm against a broadcast 1-row total."""
    o = _t(spark, sf_dir, "orders")
    c = o.where(F.col("o_totalprice") > 0).select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents")
    )
    d = c.select(
        F.substring(F.col("cents").cast("string"), 1, 1).cast("long").alias("digit")
    )
    t = d.agg(F.count(F.lit(1)).alias("n"))
    return (
        d.crossJoin(F.broadcast(t))
        .groupBy("digit", "n")
        .agg(F.count(F.lit(1)).alias("n_values"))
        .select(
            "digit",
            "n_values",
            F.expr("n_values * 1000000 div n").alias("share_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# RFM scoring and Pareto (80/20) revenue concentration.
# ---------------------------------------------------------------------------
_RFM_SQL = """
    WITH m AS (SELECT user_id,
                      CAST(epoch_us(MAX(ts)) AS BIGINT) AS last_us,
                      CAST(COUNT(*) AS BIGINT) AS freq,
                      CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
               FROM events WHERE event_type = 'purchase' GROUP BY user_id)
    SELECT user_id,
           CAST(ntile(5) OVER (ORDER BY last_us, user_id) AS BIGINT) AS r_score,
           CAST(ntile(5) OVER (ORDER BY freq, user_id) AS BIGINT) AS f_score,
           CAST(ntile(5) OVER (ORDER BY cents, user_id) AS BIGINT) AS m_score
    FROM m
"""


@register("rfm_user_scores", _RFM_SQL)
def rfm_user_scores(spark, sf_dir):
    """Recency/frequency/monetary quintiles per purchasing user — NTILE(5)
    over each exact-integer metric with user_id as the total-order
    tie-break (ntile is only deterministic under a TOTAL order). The user
    frame is fact-scale at 100 TB, so the quintiles come from ONE fused
    three-ordering builder (functions/ranking.global_row_numbers — single
    bounds aggregate, three chained bucket windows on the same frame, no
    join back on user_id; the round-4 fusion of what used to be three
    separate global_row_number passes + three user_id equi-joins) + exact
    integer NTILE — no single-partition window; the oracle keeps the NTILE
    window form."""
    from hpmr_spark.functions.ranking import exact_ntile, global_row_numbers

    ev = load_events(spark, sf_dir)
    m = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.unix_micros(F.max("ts")).alias("last_us"),
            F.count(F.lit(1)).alias("freq"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"),
        )
    )
    # multi-consumer post-agg frame (fused bounds agg + windows + totals +
    # the n count): persist, or every consumer re-derives the events
    # aggregation (CLAUDE.md persist rule)
    m = materialize(m)
    t = m.agg(F.count(F.lit(1)).alias("n"))
    r = global_row_numbers(
        m,
        [
            (["last_us", "user_id"], "_rn_r_score"),
            (["freq", "user_id"], "_rn_f_score"),
            (["cents", "user_id"], "_rn_m_score"),
        ],
    )
    out = r.crossJoin(F.broadcast(t))
    return out.select(
        "user_id",
        *[
            exact_ntile(F.col("_rn_" + s), F.col("n"), 5).alias(s)
            for s in ("r_score", "f_score", "m_score")
        ],
    )


_PARETO_SQL = """
    WITH r AS (SELECT o_custkey,
                      CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                        AS cents
               FROM orders GROUP BY o_custkey),
    t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cust,
                 CAST(SUM(cents) AS BIGINT) AS total FROM r),
    rk AS (SELECT cents,
                  row_number() OVER (ORDER BY cents DESC, o_custkey) AS rn,
                  CAST(SUM(cents) OVER (ORDER BY cents DESC, o_custkey
                                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
           FROM r)
    SELECT t.n_cust, t.total AS total_cents,
           CAST((SELECT MAX(cum) FROM rk, t WHERE 5 * rn <= t.n_cust)
                * 1000000 // t.total AS BIGINT) AS top20pct_share_ppm,
           CAST((SELECT MIN(rn) FROM rk, t WHERE 5 * cum >= 4 * t.total)
                * 1000000 // t.n_cust AS BIGINT) AS custs_for_80pct_ppm
    FROM t
"""


@register("pareto_revenue_concentration", _PARETO_SQL)
def pareto_revenue_concentration(spark, sf_dir):
    """80/20 analysis: the revenue share of the top-20% customers and the
    customer fraction needed for 80% of revenue — thresholds as integer
    cross-multiplications (5·rn ≤ n, 5·cum ≥ 4·total), shares as integer
    ppm. The per-customer frame is fact-scale, so the descending cumulative
    rank is the two-pass bucketed form (functions/ranking.py) on the
    NEGATED cents leading key (mixed-direction order (cents DESC, custkey
    ASC) ≡ ascending (−cents, custkey) — cents are positive); the oracle
    keeps the window form."""
    from hpmr_spark.functions.ranking import global_order_multi

    o = _t(spark, sf_dir, "orders")
    # multi-consumer post-agg frame (total + ranked subtree feed three
    # consumers): persist, or each re-derives the per-customer aggregation
    # (CLAUDE.md persist rule).
    r = materialize(
        o.groupBy("o_custkey").agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents")
        )
    )
    t = r.agg(
        F.count(F.lit(1)).alias("n_cust"), F.sum("cents").alias("total")
    )
    r2 = r.withColumn("neg_cents", -F.col("cents"))
    # fused single pass: descending rank AND running revenue together
    rk = global_order_multi(
        r2,
        ["neg_cents", "o_custkey"],
        rn_out="rn",
        running=[("cents", "sum", False, "cum")],
    ).select("cents", "rn", F.col("cum").cast("long").alias("cum"))
    rt = rk.crossJoin(F.broadcast(t))
    top20 = rt.where(F.expr("5 * rn <= n_cust")).agg(F.max("cum").alias("c20"))
    need80 = rt.where(F.expr("5 * cum >= 4 * total")).agg(F.min("rn").alias("r80"))
    return (
        t.crossJoin(F.broadcast(top20))
        .crossJoin(F.broadcast(need80))
        .select(
            "n_cust",
            F.col("total").alias("total_cents"),
            F.expr("c20 * 1000000 div total").alias("top20pct_share_ppm"),
            F.expr("r80 * 1000000 div n_cust").alias("custs_for_80pct_ppm"),
        )
    )
