"""Evaluation/statistics batch 2 (round 4): split-conformal calibration,
categorical mutual information, Kaplan-Meier survival, duration-capped
sessionization, retrieval ranking metrics (MRR / nDCG), and a distributed
minhash-merge property check (the sketch analog of the reference's
combine-on-insert, /root/reference/src/bare_map.h:55-57).

All queries follow the exact-integer cross-engine disciplines (CLAUDE.md):
rank-selected order statistics (never float quantiles), sign-split LN/EXP
floors over exact integer ratios (libm-parity commitment), int128 for
cross-products that pass int64, full tie-breaks on every ordering.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import Window
from pyspark.sql import functions as F

from hpmr_spark.catalog import _t, register
from hpmr_spark.engine import materialize
from hpmr_spark.functions.hashing import (
    MINHASH_A,
    MINHASH_B,
    N_PERM,
    P32,
    sql_hash32,
)
from hpmr_spark.sources.tables import load_events

# ---------------------------------------------------------------------------
# Split-conformal calibration: 90% threshold + held-out coverage.
# ---------------------------------------------------------------------------
_CONF_BASE = """
    SELECT c.c_custkey, c.c_mktsegment AS segment,
           CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS cents
    FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey, c.c_mktsegment
"""


@register(
    "conformal_threshold_coverage",
    f"""
    WITH w AS ({_CONF_BASE}),
    segm AS (
      SELECT segment,
             CAST(SUM(CASE WHEN c_custkey % 2 = 1 THEN cents ELSE 0 END)
                  // SUM(CASE WHEN c_custkey % 2 = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS mu
      FROM w GROUP BY segment
    ),
    sc AS (
      SELECT w.c_custkey, ABS(w.cents - segm.mu) AS score,
             CAST(w.c_custkey % 2 AS BIGINT) AS is_cal
      FROM w JOIN segm ON w.segment = segm.segment
    ),
    nc AS (SELECT CAST(SUM(is_cal) AS BIGINT) AS n_cal,
                  CAST(SUM(1 - is_cal) AS BIGINT) AS n_test FROM sc),
    hist AS (SELECT score, CAST(SUM(is_cal) AS BIGINT) AS cnt
             FROM sc WHERE is_cal = 1 GROUP BY score),
    cum AS (SELECT score,
                   CAST(SUM(cnt) OVER (ORDER BY score ROWS UNBOUNDED PRECEDING)
                        AS BIGINT) AS cm
            FROM hist),
    thr AS (SELECT MIN(score) AS thr FROM cum, nc
            WHERE cm >= (9 * (nc.n_cal + 1) + 9) // 10)
    SELECT nc.n_cal, nc.n_test, CAST(thr.thr AS BIGINT) AS thr_cents,
           CAST((SELECT SUM(CASE WHEN score <= thr.thr THEN 1 ELSE 0 END)
                 FROM sc WHERE is_cal = 0) * 1000000 // nc.n_test AS BIGINT)
             AS coverage_ppm
    FROM nc, thr
    """,
)
def conformal_threshold_coverage(spark, sf_dir):
    """Split-conformal prediction at α = 0.1: nonconformity score =
    |spend − segment calibration mean| (exact integer cents; the mean is a
    floor-divided integer so both halves score identically cross-engine),
    threshold = the ⌈0.9·(n_cal+1)⌉-th smallest calibration score (exact
    rank selection over the grouped score histogram — the same two-pass
    prefix machinery as the quantile table, never a float quantile), and
    the guaranteed ≥ 90% marginal coverage is AUDITED on the even-custkey
    held-out half in ppm. Odd/even custkey is the deterministic
    cal/test split.

    VERDICT r5 stage diet (≈25 tiny stages → ~8): (1) the cal/test TOTALS
    ride on the 5-row segment aggregate (n_odd/n_even fold into the same
    groupBy that computes the calibration mean) instead of a third
    consumer of the score histogram; (2) the calibration AND test running
    sums come from ONE fused global_order_multi window pass over a single
    per-score histogram; (3) threshold and coverage are extracted in ONE
    final aggregate — filtered min() for the threshold, filtered min_by()
    for the inclusive test prefix at that row (scores are unique after the
    groupBy, so min_by needs no tie-break). The per-customer frame stays
    persisted (calibration mean vs scoring is irreducibly two-pass)."""
    from hpmr_spark.functions.ranking import global_order_multi

    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    # aggregate orders BEFORE the join (map-side partial combine on the fact
    # alone), then attach the segment with a dimension join — one fact
    # shuffle instead of join-then-regroup's two, and the join side is the
    # already-reduced per-custkey frame (broadcastable customer locally,
    # SMJ on the reduced frame at cluster scale)
    o_agg = o.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"),
    )
    w = o_agg.join(
        c.select("c_custkey", F.col("c_mktsegment").alias("segment")),
        "c_custkey",
    ).select("c_custkey", "segment", "cents")
    # w has two consumers (calibration mean + scoring) but — unlike the old
    # join-then-regroup shape — both prune to the SAME column set
    # (c_custkey, segment, cents), so ReuseExchange shares the one o_agg
    # fact shuffle between them (verified: 7 ReusedExchange nodes, no
    # persist barrier needed)
    segm = w.groupBy("segment").agg(
        F.expr(
            "CAST(SUM(CASE WHEN c_custkey % 2 = 1 THEN cents ELSE 0 END)"
            " div SUM(CASE WHEN c_custkey % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)"
        ).alias("mu"),
        F.sum(F.expr("CASE WHEN c_custkey % 2 = 1 THEN 1 ELSE 0 END"))
        .cast("long")
        .alias("n_odd"),
        F.sum(F.expr("CASE WHEN c_custkey % 2 = 0 THEN 1 ELSE 0 END"))
        .cast("long")
        .alias("n_even"),
    )
    nc = segm.agg(
        F.sum("n_odd").cast("long").alias("n_cal"),
        F.sum("n_even").cast("long").alias("n_test"),
    )
    sc = w.join(F.broadcast(segm.select("segment", "mu")), "segment").select(
        F.abs(F.col("cents") - F.col("mu")).alias("score"),
        (F.col("c_custkey") % 2).cast("long").alias("is_cal"),
    )
    # persisted: global_order_multi consumes the histogram twice (bucket
    # bounds agg + the window input) with DIFFERENT pruned column sets, so
    # without the cache the score groupBy shuffles twice (the round-4
    # prune-breaks-ReuseExchange class); frame is customer-cardinality
    hist = materialize(
        sc.groupBy("score")
        .agg(
            F.sum("is_cal").cast("long").alias("cal_cnt"),
            F.sum(1 - F.col("is_cal")).cast("long").alias("test_cnt"),
        ),
        StorageLevel.MEMORY_AND_DISK,
    )
    cum = global_order_multi(
        hist,
        ["score"],
        running=[
            ("cal_cnt", "sum", False, "cal_cum"),
            ("test_cnt", "sum", False, "test_cum"),
        ],
    )
    return (
        cum.crossJoin(F.broadcast(nc))
        .agg(
            F.max("n_cal").alias("n_cal"),
            F.max("n_test").alias("n_test"),
            F.min(
                F.when(
                    F.expr("cal_cum >= (9 * (n_cal + 1) + 9) div 10"),
                    F.col("score"),
                )
            )
            .cast("long")
            .alias("thr_cents"),
            F.min_by(
                "test_cum",
                F.when(
                    F.expr("cal_cum >= (9 * (n_cal + 1) + 9) div 10"),
                    F.col("score"),
                ),
            ).alias("_cov"),
        )
        .select(
            "n_cal",
            "n_test",
            "thr_cents",
            F.expr("CAST(_cov * 1000000 div n_test AS BIGINT)").alias(
                "coverage_ppm"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Mutual information between segment and nation, exact integer nanos.
# ---------------------------------------------------------------------------
@register(
    "mutual_information_nano",
    """
    WITH cell AS (
      SELECT c_mktsegment AS x, CAST(c_nationkey AS BIGINT) AS y,
             CAST(COUNT(*) AS BIGINT) AS cxy
      FROM customer GROUP BY c_mktsegment, c_nationkey
    ),
    rx AS (SELECT x, CAST(SUM(cxy) AS BIGINT) AS rx FROM cell GROUP BY x),
    cy AS (SELECT y, CAST(SUM(cxy) AS BIGINT) AS cy FROM cell GROUP BY y),
    t AS (SELECT CAST(SUM(cxy) AS BIGINT) AS n FROM cell),
    term AS (
      SELECT CASE WHEN CAST(cell.cxy AS HUGEINT) * t.n
                       >= CAST(rx.rx AS HUGEINT) * cy.cy
             THEN CAST(cell.cxy * CAST(FLOOR(LN(
                    CAST(CAST(cell.cxy AS HUGEINT) * t.n AS DOUBLE)
                    / CAST(CAST(rx.rx AS HUGEINT) * cy.cy AS DOUBLE))
                    * 1000000000) AS BIGINT) // t.n AS BIGINT)
             ELSE 0 - CAST(cell.cxy * CAST(FLOOR(LN(
                    CAST(CAST(rx.rx AS HUGEINT) * cy.cy AS DOUBLE)
                    / CAST(CAST(cell.cxy AS HUGEINT) * t.n AS DOUBLE))
                    * 1000000000) AS BIGINT) // t.n AS BIGINT) END AS term_nano
      FROM cell JOIN rx ON cell.x = rx.x JOIN cy ON cell.y = cy.y CROSS JOIN t
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(SUM(term_nano) AS BIGINT) AS mi_nano
    FROM term
    """,
)
def mutual_information_nano(spark, sf_dir):
    """Mutual information I(segment; nation) in integer nanos — the
    categorical feature-dependence screen: Σ (c_xy/N)·ln(c_xy·N/(r_x·c_y)),
    each cell's term floored elementwise from exact integer
    cross-products (int128: c_xy·N and r_x·c_y pass int64 at ~3e9 rows)
    with the SIGN-SPLIT |ln| = ln(max/min) discipline — individual cells
    can be negatively informative even though Σ ≥ 0. One cell aggregation,
    two marginal re-aggs of the CELL frame (never the fact table), one
    1-row total."""
    c = _t(spark, sf_dir, "customer")
    cell = c.groupBy(
        F.col("c_mktsegment").alias("x"),
        F.col("c_nationkey").cast("long").alias("y"),
    ).agg(F.count(F.lit(1)).cast("long").alias("cxy"))
    rx = cell.groupBy("x").agg(F.sum("cxy").cast("long").alias("rx"))
    cy = cell.groupBy("y").agg(F.sum("cxy").cast("long").alias("cy"))
    t = cell.agg(F.sum("cxy").cast("long").alias("n"))
    num = "CAST(cxy AS DECIMAL(38,0)) * n"
    den = "CAST(rx AS DECIMAL(38,0)) * cy"
    term = (
        cell.join(rx, "x")
        .join(cy, "y")
        .crossJoin(F.broadcast(t))
        .select(
            F.expr(
                f"CASE WHEN {num} >= {den}"
                f" THEN CAST(cxy * CAST(FLOOR(LN(CAST({num} AS DOUBLE)"
                f" / CAST({den} AS DOUBLE)) * 1000000000) AS BIGINT)"
                f" div n AS BIGINT)"
                f" ELSE 0 - CAST(cxy * CAST(FLOOR(LN(CAST({den} AS DOUBLE)"
                f" / CAST({num} AS DOUBLE)) * 1000000000) AS BIGINT)"
                f" div n AS BIGINT) END"
            ).alias("term_nano")
        )
    )
    return term.agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.sum("term_nano").cast("long").alias("mi_nano"),
    )


# ---------------------------------------------------------------------------
# Kaplan-Meier survival curve: time to first error per user.
# ---------------------------------------------------------------------------
@register(
    "km_survival_curve",
    """
    WITH per AS (
      SELECT user_id,
             CAST(epoch_us(MIN(ts)) AS BIGINT) AS t0,
             CAST(epoch_us(MIN(CASE WHEN event_type = 'error' THEN ts END))
                  AS BIGINT) AS terr,
             CAST(epoch_us(MAX(ts)) AS BIGINT) AS tlast
      FROM events GROUP BY user_id
    ),
    obs AS (
      SELECT CASE WHEN terr IS NOT NULL THEN terr - t0 ELSE tlast - t0 END
               AS dur_us,
             CASE WHEN terr IS NOT NULL THEN 1 ELSE 0 END AS died
      FROM per
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM obs),
    g AS (SELECT dur_us, CAST(COUNT(*) AS BIGINT) AS cnt,
                 CAST(SUM(died) AS BIGINT) AS d
          FROM obs GROUP BY dur_us),
    cum AS (SELECT dur_us, d,
                   CAST(COALESCE(SUM(cnt) OVER (ORDER BY dur_us
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                        AS BIGINT) AS lt
            FROM g),
    dt AS (
      SELECT dur_us, d, n.total - lt AS n_risk,
             CASE WHEN n.total - lt > d
               THEN CAST(FLOOR(LN(CAST(n.total - lt AS DOUBLE)
                    / CAST(n.total - lt - d AS DOUBLE)) * 1000000000) AS BIGINT)
               ELSE CAST(0 AS BIGINT) END AS term_nano,
             CASE WHEN n.total - lt <= d THEN 1 ELSE 0 END AS hit_zero
      FROM cum, n WHERE d > 0
    ),
    s AS (
      SELECT dur_us, d, n_risk,
             CAST(SUM(term_nano) OVER (ORDER BY dur_us
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_nano,
             CAST(MAX(hit_zero) OVER (ORDER BY dur_us
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS zeroed
      FROM dt
    )
    SELECT dur_us, CAST(n_risk AS BIGINT) AS n_risk, CAST(d AS BIGINT) AS d,
           CAST(CASE WHEN zeroed = 1 THEN 0
                ELSE CAST(FLOOR(EXP(CAST(0 - cum_nano AS DOUBLE) / 1000000000.0)
                     * 1000000) AS BIGINT) END AS BIGINT) AS surv_ppm
    FROM s
    """,
)
def km_survival_curve(spark, sf_dir):
    """Kaplan-Meier survival estimate of "time from first event to first
    error" per user (users without an error are right-censored at their
    last event): at each death time, S ← S·(1 − d/n_risk), computed in the
    log domain — per-time term ⌊ln(n/(n−d))·10⁹⌋ from exact integer risk
    counts (LN parity), ONE fused two-pass ordered pass producing BOTH the
    running term sum and the running zero-flag max
    (functions/ranking.global_order_multi with two running specs — no
    window), and the final survival ⌊e^(−Σ/10⁹)·10⁶⌋ elementwise (EXP
    parity). n_risk comes from the strict prefix of the grouped duration
    histogram — never a per-row scan. The retention/uptime curve every
    reliability dashboard draws, exact and partition-invariant."""
    from hpmr_spark.functions.ranking import global_order_multi, global_running

    ev = load_events(spark, sf_dir)
    per = ev.groupBy("user_id").agg(
        F.unix_micros(F.min("ts")).alias("t0"),
        F.unix_micros(
            F.min(F.when(F.col("event_type") == "error", F.col("ts")))
        ).alias("terr"),
        F.unix_micros(F.max("ts")).alias("tlast"),
    )
    obs = per.select(
        F.when(F.col("terr").isNotNull(), F.col("terr") - F.col("t0"))
        .otherwise(F.col("tlast") - F.col("t0"))
        .alias("dur_us"),
        F.when(F.col("terr").isNotNull(), 1).otherwise(0).alias("died"),
    )
    g = obs.groupBy("dur_us").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum("died").cast("long").alias("d"),
    )
    # the duration histogram feeds the total, the prefix machinery's three
    # branches, and the final ordered pass. Size-aware dispatch (the r8
    # BROADCAST_MAX_DOCS discipline, via the declared parquet footer count
    # — driver-side metadata, no Spark job): a bounded histogram gets
    # coalesce(4) + eager localCheckpoint, which cuts the events-agg
    # lineage out of every downstream machinery job (measured 8.8 → 2.8 s
    # warm at sf0.1, hashes identical); an unbounded one keeps the persist
    # path — coalescing a billion-duration histogram to 4 partitions would
    # be the real regression.
    from hpmr_spark.sources.tables import table_rows

    n_events = table_rows(sf_dir, "events")
    if n_events is not None and n_events <= 10_000_000:
        g = g.coalesce(4).localCheckpoint(eager=True)
    else:
        g = materialize(g, StorageLevel.MEMORY_AND_DISK)
    n = g.agg(F.sum("cnt").cast("long").alias("total"))
    cum = global_running(
        g, ["dur_us"], "cnt", kind="sum", strict=True, out="lt"
    ).withColumn("lt", F.coalesce(F.col("lt"), F.lit(0)))
    dt = (
        cum.crossJoin(F.broadcast(n))
        .where(F.col("d") > 0)
        .select(
            "dur_us",
            "d",
            (F.col("total") - F.col("lt")).alias("n_risk"),
            F.expr(
                "CASE WHEN total - lt > d"
                " THEN CAST(FLOOR(LN(CAST(total - lt AS DOUBLE)"
                " / CAST(total - lt - d AS DOUBLE)) * 1000000000) AS BIGINT)"
                " ELSE CAST(0 AS BIGINT) END"
            ).alias("term_nano"),
            F.expr(
                "CASE WHEN total - lt <= d THEN 1 ELSE 0 END"
            ).alias("hit_zero"),
        )
    )
    s = global_order_multi(
        dt,
        ["dur_us"],
        running=[
            ("term_nano", "sum", False, "cum_nano"),
            ("hit_zero", "max", False, "zeroed"),
        ],
    )
    return s.select(
        "dur_us",
        F.col("n_risk").cast("long").alias("n_risk"),
        F.col("d").cast("long").alias("d"),
        F.expr(
            "CAST(CASE WHEN zeroed = 1 THEN 0"
            " ELSE CAST(FLOOR(EXP(CAST(0 - cum_nano AS DOUBLE) / 1000000000.0)"
            " * 1000000) AS BIGINT) END AS BIGINT)"
        ).alias("surv_ppm"),
    )


# ---------------------------------------------------------------------------
# Sessionization with BOTH an inactivity gap and a max-duration cap.
# ---------------------------------------------------------------------------
@register(
    "session_cap_split",
    """
    WITH e AS (
      SELECT user_id, event_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us
      FROM events
    ),
    m AS (
      SELECT user_id, event_id, ts_us,
             CASE WHEN ts_us - lag(ts_us) OVER
                    (PARTITION BY user_id ORDER BY ts_us, event_id)
                  > 1800000000 THEN 1 ELSE 0 END AS brk
      FROM e
    ),
    isl AS (
      SELECT user_id, event_id, ts_us,
             CAST(SUM(brk) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS island
      FROM m
    ),
    st AS (SELECT user_id, island, CAST(MIN(ts_us) AS BIGINT) AS start_us
           FROM isl GROUP BY user_id, island),
    tagged AS (
      SELECT isl.user_id, isl.island,
             (isl.ts_us - st.start_us) // 14400000000 AS sub
      FROM isl JOIN st ON isl.user_id = st.user_id AND isl.island = st.island
    ),
    ses AS (SELECT user_id, island, sub, CAST(COUNT(*) AS BIGINT) AS n_events
            FROM tagged GROUP BY user_id, island, sub)
    SELECT user_id,
           CAST(COUNT(DISTINCT island) AS BIGINT) AS n_islands,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(MAX(n_events) AS BIGINT) AS max_session_events
    FROM ses GROUP BY user_id
    """,
)
def session_cap_split(spark, sf_dir):
    """Sessionization with BOTH rules real pipelines use: a 30-minute
    inactivity gap (gaps-and-islands: break marker → running sum, windows
    PARTITIONED by user — parallel across users, never global) AND a
    4-hour hard duration cap splitting marathon islands into
    ⌊(ts − island_start)/4h⌋ sub-sessions (exact integer micros — the rule
    `session_window` alone cannot express). Per-user report: islands,
    capped sessions, densest session. The (ts_us, event_id) compound order
    makes lag and the running sum fully tie-broken."""
    ev = load_events(spark, sf_dir)
    e = ev.select(
        "user_id", "event_id", F.unix_micros(F.col("ts")).alias("ts_us")
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    m = e.withColumn(
        "brk",
        F.when(
            F.col("ts_us") - F.lag("ts_us").over(w) > 1_800_000_000, 1
        ).otherwise(0),
    )
    isl = m.withColumn(
        "island",
        F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)).cast("long"),
    )
    st = isl.groupBy("user_id", "island").agg(
        F.min("ts_us").cast("long").alias("start_us")
    )
    tagged = isl.join(st, ["user_id", "island"]).select(
        "user_id",
        "island",
        F.expr("(ts_us - start_us) div 14400000000").alias("sub"),
    )
    ses = tagged.groupBy("user_id", "island", "sub").agg(
        F.count(F.lit(1)).cast("long").alias("n_events")
    )
    return ses.groupBy("user_id").agg(
        F.countDistinct("island").cast("long").alias("n_islands"),
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.max("n_events").cast("long").alias("max_session_events"),
    )


# ---------------------------------------------------------------------------
# Retrieval metrics: MRR + nDCG@5 of the label-match relevance.
# ---------------------------------------------------------------------------
_NDCG_W = (
    "CAST(FLOOR(1000000000.0 * LN(CAST(2 AS DOUBLE))"
    " / LN(CAST({r} + 1 AS DOUBLE))) AS BIGINT)"
)


@register(
    "retrieval_mrr_ndcg",
    f"""
    WITH q AS (SELECT vec_id AS qid, embedding AS qe, CAST(label AS BIGINT) AS qlabel
               FROM embeddings WHERE vec_id % 50 = 0),
    c AS (SELECT vec_id AS cid, embedding AS ce, CAST(label AS BIGINT) AS clabel
          FROM embeddings),
    p AS (
      SELECT qid, qlabel, cid, clabel,
             CAST(list_sum(list_transform(range(1, len(qe) + 1),
                  _i -> CAST(FLOOR(CAST(qe[_i] AS DOUBLE) * 1000000) AS BIGINT)
                      * CAST(FLOOR(CAST(ce[_i] AS DOUBLE) * 1000000) AS BIGINT)))
                  AS BIGINT) AS dot
      FROM q, c WHERE cid <> qid
    ),
    r AS (SELECT qid, qlabel, clabel,
                 row_number() OVER (PARTITION BY qid ORDER BY dot DESC, cid) AS rn
          FROM p),
    k AS (SELECT qid,
                 CASE WHEN clabel = qlabel THEN 1 ELSE 0 END AS rel, rn
          FROM r WHERE rn <= 5),
    perq AS (
      SELECT qid,
             CAST(SUM(rel) AS BIGINT) AS n_rel,
             CAST(COALESCE(MIN(CASE WHEN rel = 1 THEN rn END), 0) AS BIGINT)
               AS first_rel,
             CAST(SUM(rel * {_NDCG_W.format(r="rn")}) AS BIGINT) AS dcg_nano
      FROM k GROUP BY qid
    )
    SELECT qid AS vec_id, n_rel,
           CAST(CASE WHEN first_rel > 0 THEN 1000000000 // first_rel
                ELSE 0 END AS BIGINT) AS mrr_ppb,
           CAST(CASE WHEN n_rel > 0
                THEN dcg_nano * 1000000
                     // CAST(list_sum(list_transform(range(1, n_rel + 1),
                          _r -> {_NDCG_W.format(r="_r")})) AS BIGINT)
                ELSE 0 END AS BIGINT) AS ndcg_ppm
    FROM perq
    """,
)
def retrieval_mrr_ndcg(spark, sf_dir):
    """Retrieval-quality metrics over the exact 5-NN runs (label match =
    relevance): per query, MRR as 10⁹//first-relevant-rank and nDCG@5 with
    log2 discount weights w(r) = ⌊10⁹·ln2/ln(r+1)⌋ — both engines evaluate
    the IDENTICAL double expression over small integer ranks (LN parity;
    ln2/ln2 = 1.0 exactly for rank 1), floor to integers, then everything
    downstream is integer arithmetic including the ideal-DCG denominator
    (a sum over sequence(1, n_rel) of the same weight formula — HOF on
    both engines). The embedding-space eval twin of knn_label_vote_eval;
    same bounded-probe broadcast pattern, scale-safe."""
    e = _t(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        F.col("label").cast("long").alias("qlabel"),
    )
    c = e.select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("ce"),
        F.col("label").cast("long").alias("clabel"),
    )
    p = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("cid") != F.col("qid"))
        .select(
            "qid",
            "qlabel",
            "cid",
            "clabel",
            F.expr(
                "CAST(aggregate(zip_with(qe, ce, (x, y) ->"
                " CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT)"
                " * CAST(FLOOR(CAST(y AS DOUBLE) * 1000000) AS BIGINT)),"
                " 0L, (acc, v) -> acc + v) AS BIGINT)"
            ).alias("dot"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("dot").desc(), F.col("cid"))
    k = (
        p.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 5)
        .select(
            "qid",
            F.when(F.col("clabel") == F.col("qlabel"), 1).otherwise(0).alias("rel"),
            "rn",
        )
    )
    wexpr = _NDCG_W.format(r="rn")
    perq = k.groupBy("qid").agg(
        F.sum("rel").cast("long").alias("n_rel"),
        F.coalesce(
            F.min(F.when(F.col("rel") == 1, F.col("rn"))), F.lit(0)
        )
        .cast("long")
        .alias("first_rel"),
        F.expr(f"CAST(SUM(rel * {wexpr}) AS BIGINT)").alias("dcg_nano"),
    )
    idcg = _NDCG_W.format(r="_r")
    return perq.select(
        F.col("qid").alias("vec_id"),
        "n_rel",
        F.expr(
            "CAST(CASE WHEN first_rel > 0 THEN 1000000000 div first_rel"
            " ELSE 0 END AS BIGINT)"
        ).alias("mrr_ppb"),
        F.expr(
            "CAST(CASE WHEN n_rel > 0"
            " THEN dcg_nano * 1000000"
            f" div CAST(aggregate(sequence(1L, n_rel), 0L, (acc, _r) -> acc"
            f" + {idcg}) AS BIGINT)"
            " ELSE 0 END AS BIGINT)"
        ).alias("ndcg_ppm"),
    )


# ---------------------------------------------------------------------------
# Distributed minhash merge property: sig(A ∪ B) = elementwise-min.
# ---------------------------------------------------------------------------
_PERM_VALUES = ", ".join(
    f"({j}, {MINHASH_A[j]}, {MINHASH_B[j]})" for j in range(N_PERM)
)


@register(
    "minhash_merge_property",
    f"""
    WITH shingled AS (
      SELECT doc_id,
             list_distinct(list_transform(range(len(toks) - 2),
                 i -> toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3])) AS sh
      FROM (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
            FROM documents)
      WHERE len(toks) >= 3),
    sh AS (SELECT doc_id % 2 AS half, unnest(sh) AS shingle FROM shingled),
    h AS (SELECT half, {sql_hash32("shingle")} AS h32 FROM sh),
    perm AS (
      SELECT v.j, h.half,
             CAST((v.a * h.h32 + v.b) % {P32} AS BIGINT) AS pv
      FROM h CROSS JOIN (VALUES {_PERM_VALUES}) v(j, a, b)
    ),
    halves AS (
      SELECT j,
             CAST(MIN(CASE WHEN half = 0 THEN pv END) AS BIGINT) AS sig_a,
             CAST(MIN(CASE WHEN half = 1 THEN pv END) AS BIGINT) AS sig_b,
             CAST(MIN(pv) AS BIGINT) AS sig_full
      FROM perm GROUP BY j
    )
    SELECT CAST(j AS BIGINT) AS j, sig_a, sig_b,
           CAST(LEAST(sig_a, sig_b) AS BIGINT) AS sig_merged, sig_full,
           (LEAST(sig_a, sig_b) = sig_full) AS merged_equals_full
    FROM halves
    """,
)
def minhash_merge_property(spark, sf_dir):
    """Distributed-sketch merge law, engine-checked: the corpus-level
    minhash signature of A ∪ B equals the elementwise min of the two
    halves' signatures — the algebra that makes minhash shard-parallel
    (compute per shard, merge per-permutation minima; the sketch analog of
    the reference's combine-on-insert, bare_map.h:55-57) and the reason
    incremental corpus dedup state stays mergeable across epochs. Runs the
    REAL shingle → md5-h32 → 32 committed permutations pipeline (the same
    MINHASH_A/B constants as dedup_minhash_lsh, embedded as literals in
    BOTH engines' texts) over the doc_id-parity halves; output pins
    sig_a/sig_b/merged/full with merged = full on every row."""
    from hpmr_spark.dedup.shingles import shingle_sets
    from hpmr_spark.functions.hashing import hash32, minhash_perm

    d = _t(spark, sf_dir, "documents")
    sh = shingle_sets(d).select(
        (F.col("doc_id") % 2).alias("half"), F.explode("sh").alias("shingle")
    )
    h = sh.select("half", hash32(F.col("shingle")).alias("h32"))
    perms = h.select(
        "half",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"),
                        minhash_perm(F.col("h32"), j).alias("pv"),
                    )
                    for j in range(N_PERM)
                ]
            )
        ).alias("p"),
    ).select("half", "p.j", "p.pv")
    halves = perms.groupBy("j").agg(
        F.min(F.when(F.col("half") == 0, F.col("pv"))).cast("long").alias("sig_a"),
        F.min(F.when(F.col("half") == 1, F.col("pv"))).cast("long").alias("sig_b"),
        F.min("pv").cast("long").alias("sig_full"),
    )
    return halves.select(
        F.col("j").cast("long").alias("j"),
        "sig_a",
        "sig_b",
        F.least("sig_a", "sig_b").cast("long").alias("sig_merged"),
        "sig_full",
        (F.least("sig_a", "sig_b") == F.col("sig_full")).alias(
            "merged_equals_full"
        ),
    )


# ---------------------------------------------------------------------------
# Nelson-Aalen cumulative hazard (round 5) — the PURE-RATIONAL survival
# twin of km_survival_curve: H(t) = Σ_{t_i ≤ t} d_i/n_i needs no LN/EXP
# commitment at all (the strongest cross-engine class; cf. Kneser-Ney).
# ---------------------------------------------------------------------------
@register(
    "nelson_aalen_hazard",
    """
    WITH per AS (
      SELECT user_id,
             CAST(epoch_us(MIN(ts)) AS BIGINT) AS t0,
             CAST(epoch_us(MIN(CASE WHEN event_type = 'error' THEN ts END))
                  AS BIGINT) AS terr,
             CAST(epoch_us(MAX(ts)) AS BIGINT) AS tlast
      FROM events GROUP BY user_id
    ),
    obs AS (
      SELECT CASE WHEN terr IS NOT NULL THEN terr - t0 ELSE tlast - t0 END
               AS dur_us,
             CASE WHEN terr IS NOT NULL THEN 1 ELSE 0 END AS died
      FROM per
    ),
    g AS (SELECT dur_us, CAST(COUNT(*) AS BIGINT) AS cnt,
                 CAST(SUM(died) AS BIGINT) AS d
          FROM obs GROUP BY dur_us),
    n AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM g),
    cum AS (SELECT dur_us, d,
                   CAST(COALESCE(SUM(cnt) OVER (ORDER BY dur_us
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                        AS BIGINT) AS lt
            FROM g),
    dt AS (
      SELECT dur_us, d, n.total - lt AS n_risk,
             CAST(d * 1000000 // (n.total - lt) AS BIGINT) AS term_ppm
      FROM cum, n WHERE d > 0
    )
    SELECT dur_us, CAST(n_risk AS BIGINT) AS n_risk, CAST(d AS BIGINT) AS d,
           CAST(SUM(term_ppm) OVER (ORDER BY dur_us
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumhaz_ppm
    FROM dt
    """,
)
def nelson_aalen_hazard(spark, sf_dir):
    """Nelson-Aalen cumulative hazard of time-to-first-error (right-
    censored at last event, same observation model as km_survival_curve):
    H(t) = Σ_{death times ≤ t} d_i/n_i, with each increment floored to
    ppm from EXACT integer risk counts (d·10⁶ // n_risk, operands
    positive) before the running sum — pure rational arithmetic end to
    end, NO log/exp commitment (the strongest cross-engine class; KM
    needs the LN/EXP parity pin, Nelson-Aalen doesn't, which is why
    reliability pipelines that must be bit-reproducible prefer it).
    n_risk = total − strict-prefix of the grouped duration histogram
    (two-pass bucketed global_running; the oracle keeps the window
    form); the running hazard is a second ordered pass over the ≤|death
    times| frame. Fact-scale work is ONE per-user aggregation."""
    from hpmr_spark.functions.ranking import global_running

    ev = load_events(spark, sf_dir)
    per = ev.groupBy("user_id").agg(
        F.unix_micros(F.min("ts")).alias("t0"),
        F.unix_micros(
            F.min(F.when(F.col("event_type") == "error", F.col("ts")))
        ).alias("terr"),
        F.unix_micros(F.max("ts")).alias("tlast"),
    )
    obs = per.select(
        F.when(F.col("terr").isNotNull(), F.col("terr") - F.col("t0"))
        .otherwise(F.col("tlast") - F.col("t0"))
        .alias("dur_us"),
        F.when(F.col("terr").isNotNull(), 1).otherwise(0).alias("died"),
    )
    g = obs.groupBy("dur_us").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum("died").cast("long").alias("d"),
    )
    g = materialize(g, StorageLevel.MEMORY_AND_DISK)
    n = g.agg(F.sum("cnt").cast("long").alias("total"))
    cum = global_running(
        g, ["dur_us"], "cnt", kind="sum", strict=True, out="lt"
    ).withColumn("lt", F.coalesce(F.col("lt"), F.lit(0)))
    dt = (
        cum.crossJoin(F.broadcast(n))
        .where(F.col("d") > 0)
        .select(
            "dur_us",
            "d",
            (F.col("total") - F.col("lt")).alias("n_risk"),
            F.expr("CAST(d * 1000000 div (total - lt) AS BIGINT)").alias(
                "term_ppm"
            ),
        )
    )
    s = global_running(dt, ["dur_us"], "term_ppm", kind="sum", out="cumhaz_ppm")
    return s.select(
        "dur_us",
        F.col("n_risk").cast("long").alias("n_risk"),
        F.col("d").cast("long").alias("d"),
        F.col("cumhaz_ppm").cast("long").alias("cumhaz_ppm"),
    )


# ---------------------------------------------------------------------------
# Log-rank test between user cohorts (round 6) — completes the survival
# family next to km_survival_curve / nelson_aalen_hazard.
# ---------------------------------------------------------------------------
# χ²(1) critical value at α=0.05, committed as micros (3.841459).
_LOGRANK_CRIT_MICRO = 3_841_459

_LOGRANK_ORACLE = f"""
    WITH per AS (
      SELECT user_id,
             CAST(user_id % 2 AS BIGINT) AS grp,
             CAST(epoch_us(MIN(ts)) AS BIGINT) AS t0,
             CAST(epoch_us(MIN(CASE WHEN event_type = 'error' THEN ts END))
                  AS BIGINT) AS terr,
             CAST(epoch_us(MAX(ts)) AS BIGINT) AS tlast
      FROM events GROUP BY user_id
    ),
    obs AS (
      SELECT grp,
             CASE WHEN terr IS NOT NULL THEN terr - t0
                  ELSE tlast - t0 END AS dur_us,
             CASE WHEN terr IS NOT NULL THEN 1 ELSE 0 END AS died
      FROM per
    ),
    g AS (
      SELECT dur_us,
             CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
             CAST(SUM(CASE WHEN grp = 1 THEN died ELSE 0 END) AS BIGINT) AS d1,
             CAST(COUNT(*) AS BIGINT) AS c,
             CAST(SUM(died) AS BIGINT) AS d
      FROM obs GROUP BY dur_us
    ),
    tot AS (SELECT CAST(SUM(c1) AS BIGINT) AS n1tot,
                   CAST(SUM(c) AS BIGINT) AS ntot FROM g),
    risk AS (
      SELECT g.dur_us, g.d1, g.d,
             tot.n1tot - CAST(COALESCE(SUM(g.c1) OVER (ORDER BY g.dur_us
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS n1,
             tot.ntot - CAST(COALESCE(SUM(g.c) OVER (ORDER BY g.dur_us
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS n
      FROM g CROSS JOIN tot
    ),
    terms AS (
      SELECT d1,
             CASE WHEN d > 0 AND n > 1 THEN
               CAST(CAST(d AS HUGEINT) * n1 * 1000000000 // n AS BIGINT)
             ELSE 0 END AS e1_nano,
             CASE WHEN d > 0 AND n > 1 THEN
               CAST(CAST(d AS HUGEINT) * n1 * (n - n1) * (n - d)
                    * 1000000000
                    // (CAST(n AS HUGEINT) * n * (n - 1)) AS BIGINT)
             ELSE 0 END AS v_nano
      FROM risk
    )
    SELECT tot.n1tot AS n_grp1, tot.ntot - tot.n1tot AS n_grp0,
           CAST(SUM(terms.d1) AS BIGINT) AS o1,
           CAST(SUM(terms.e1_nano) AS BIGINT) AS e1_nano,
           CAST(SUM(terms.v_nano) AS BIGINT) AS v_nano,
           (CAST(SUM(terms.d1) * 1000000000 - SUM(terms.e1_nano) AS HUGEINT)
            * CAST(SUM(terms.d1) * 1000000000 - SUM(terms.e1_nano) AS HUGEINT)
            * 1000000
            >= CAST({_LOGRANK_CRIT_MICRO} AS HUGEINT)
               * CAST(SUM(terms.v_nano) AS HUGEINT) * 1000000000)
             AS significant_05
    FROM terms CROSS JOIN tot
    GROUP BY tot.n1tot, tot.ntot
"""


@register("logrank_test_cohorts", _LOGRANK_ORACLE)
def logrank_test_cohorts(spark, sf_dir):
    """Log-rank test: do odd- and even-user_id cohorts have the same
    time-to-first-error survival (same durations as km_survival_curve —
    censored at last event)? At each pooled death time, observed group-1
    deaths vs hypergeometric expectation E = d·n1/n and variance
    V = d·n1(n−n1)(n−d)/(n²(n−1)) — both EXACT integer nanos via int128
    floor division (never a float ratio); χ² ≥ 3.841459 decided by int128
    cross-multiplication ((O·10⁹−E)²·10⁶ ≥ crit·V·10⁹ — products ≤ 10³²,
    inside DECIMAL(38,0)/HUGEINT). Risk sets come from strict-prefix
    running sums over the grouped duration histogram in ONE fused
    global_order_multi pass (both cohort and pooled counts) — the KM
    machinery, zero global windows, one fact-keyed shuffle."""
    from hpmr_spark.functions.ranking import global_order_multi

    ev = load_events(spark, sf_dir)
    per = ev.groupBy("user_id").agg(
        F.unix_micros(F.min("ts")).alias("t0"),
        F.unix_micros(
            F.min(F.when(F.col("event_type") == "error", F.col("ts")))
        ).alias("terr"),
        F.unix_micros(F.max("ts")).alias("tlast"),
    )
    obs = per.select(
        (F.col("user_id") % 2).cast("long").alias("grp"),
        F.when(F.col("terr").isNotNull(), F.col("terr") - F.col("t0"))
        .otherwise(F.col("tlast") - F.col("t0"))
        .alias("dur_us"),
        F.when(F.col("terr").isNotNull(), 1).otherwise(0).alias("died"),
    )
    g = obs.groupBy("dur_us").agg(
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0))
        .cast("long")
        .alias("c1"),
        F.sum(F.when(F.col("grp") == 1, F.col("died")).otherwise(0))
        .cast("long")
        .alias("d1"),
        F.count(F.lit(1)).cast("long").alias("c"),
        F.sum("died").cast("long").alias("d"),
    )
    cum = global_order_multi(
        g,
        ["dur_us"],
        running=[
            ("c1", "sum", True, "p1"),  # strict prefix of cohort-1 entries
            ("c", "sum", True, "p"),  # strict prefix of pooled entries
        ],
    )
    tot = g.agg(
        F.sum("c1").cast("long").alias("n1tot"),
        F.sum("c").cast("long").alias("ntot"),
    )
    risk = cum.crossJoin(F.broadcast(tot)).select(
        "d1",
        "d",
        (F.col("n1tot") - F.coalesce(F.col("p1"), F.lit(0))).alias("n1"),
        (F.col("ntot") - F.coalesce(F.col("p"), F.lit(0))).alias("n"),
        "n1tot",
        "ntot",
    )
    terms = risk.select(
        "d1",
        "n1tot",
        "ntot",
        F.expr(
            "CASE WHEN d > 0 AND n > 1 THEN"
            " CAST(CAST(d AS DECIMAL(38,0)) * n1 * 1000000000 div n AS BIGINT)"
            " ELSE 0 END"
        ).alias("e1_nano"),
        F.expr(
            "CASE WHEN d > 0 AND n > 1 THEN"
            " CAST(CAST(d AS DECIMAL(38,0)) * n1 * (n - n1) * (n - d)"
            " * 1000000000"
            " div (CAST(n AS DECIMAL(38,0)) * n * (n - 1)) AS BIGINT)"
            " ELSE 0 END"
        ).alias("v_nano"),
    )
    return terms.groupBy(
        F.col("n1tot").alias("n_grp1"),
        (F.col("ntot") - F.col("n1tot")).alias("n_grp0"),
    ).agg(
        F.sum("d1").cast("long").alias("o1"),
        F.sum("e1_nano").cast("long").alias("e1_nano"),
        F.sum("v_nano").cast("long").alias("v_nano"),
        F.expr(
            "CAST(SUM(d1) * 1000000000 - SUM(e1_nano) AS DECIMAL(38,0))"
            " * CAST(SUM(d1) * 1000000000 - SUM(e1_nano) AS DECIMAL(38,0))"
            f" * 1000000"
            f" >= CAST({_LOGRANK_CRIT_MICRO} AS DECIMAL(38,0))"
            " * CAST(SUM(v_nano) AS DECIMAL(38,0)) * 1000000000"
        ).alias("significant_05"),
    )
