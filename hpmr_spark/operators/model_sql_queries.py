"""In-SQL model training / evaluation operators (round 6, wave 6):

- decision_stump_gini_split: train a one-node decision tree — the best
  quantity threshold predicting l_returnflag by weighted Gini impurity.
  Minimizing weighted Gini maximizes H(t) = sum_c cL_c^2/nL +
  sum_c cR_c^2/nR; H is compared as the committed floored statistic
  h_scaled = (nR*sum cL^2 + nL*sum cR^2) * 1e12 div (nL*nR) in int128
  (Spark DECIMAL(38,0) div ≡ DuckDB HUGEINT //, both truncate; the
  quotient ≈ H*1e12 ≤ n*1e12 stays inside int64 through sf1 — ceiling
  documented). Candidate thresholds and class prefixes live on the
  bounded 50-quantity histogram; argmax ties go to the LOWEST threshold
  (max_by over (h, -t)).
- heaps_law_fit: Heaps'-law vocabulary-growth exponent. Global token
  positions come from the bucketed two-pass row_number over (doc_id,
  pos) (never a global window); V(n) = count of tokens whose FIRST
  occurrence position ≤ n, sampled at 16 grid points n_k = k*N div 16;
  each ln floored to milli-nats elementwise (LN parity pinned by
  tests/test_libm_parity.py), then the OLS slope/intercept are
  one-final-double expressions over the exact integer moments — the
  zipf_fit_slope discipline.
- bcubed_dedup_eval: B-cubed precision/recall of a prefix-fingerprint
  dedup clustering against exact-duplicate ground truth. Per-document
  precision c_pt/c_p is floored to nanos per (pred, truth) CELL (every
  document in a cell has the identical value), weighted by c_pt in
  int128, and the corpus mean is one final floor div by N — fully
  deterministic under any partitioning.
- business_days_latency: order→ship latency in BUSINESS days (weekends
  excluded) per order priority. busdays = (diff div 7)*5 + B(wd, diff%7)
  where wd = (epoch_days+3) % 7 (Monday=0 — the engine-neutral weekday,
  CLAUDE.md round-5) and B is the 7x7 partial-week lookup generated once
  in Python and embedded as identical CASE text in both engines.

Scale notes (100 TB): every query is one fact-scale pass into a bounded
frame (50-quantity histogram, 16-point grid, cluster cells, priority
rollup); the only quadratic work is 50x3 threshold-class pairs.

Reference parity: beyond the reference kv kernel
(/root/reference/src/hpmr.h:1-10) along the brief's analytics axis.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hpmr_spark.catalog import _t, register
from hpmr_spark.engine import materialize
from hpmr_spark.functions.hashing import hash60, sql_hash60
from hpmr_spark.functions.ranking import global_row_number, global_running

# ---------------------------------------------------------------------------
# Decision stump: best Gini split on l_quantity predicting l_returnflag.
# ---------------------------------------------------------------------------

_STUMP_K = 10**12

_STUMP_ORACLE = f"""
    WITH h AS (
      SELECT CAST(l_quantity AS BIGINT) AS q, l_returnflag AS c,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM lineitem GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM h),
    tc AS (SELECT c, CAST(SUM(cnt) AS BIGINT) AS tc FROM h GROUP BY c),
    thr AS (SELECT DISTINCT q AS t FROM h WHERE q < (SELECT MAX(q) FROM h)),
    lc AS (
      SELECT thr.t, h.c, CAST(SUM(h.cnt) AS BIGINT) AS cl
      FROM thr JOIN h ON h.q <= thr.t
      GROUP BY thr.t, h.c
    ),
    side AS (
      SELECT lc.t,
             CAST(SUM(lc.cl) AS BIGINT) AS nl,
             CAST(SUM(CAST(lc.cl AS HUGEINT) * lc.cl) AS HUGEINT) AS sl2,
             CAST(SUM(CAST(tc.tc - lc.cl AS HUGEINT) * (tc.tc - lc.cl))
                  AS HUGEINT) AS sr2
      FROM lc JOIN tc ON tc.c = lc.c
      GROUP BY lc.t
    ),
    scored AS (
      SELECT side.t, side.nl, t2.n - side.nl AS nr,
             CAST((CAST(t2.n - side.nl AS HUGEINT) * side.sl2
                   + CAST(side.nl AS HUGEINT) * side.sr2)
                  * {_STUMP_K}
                  // (CAST(side.nl AS HUGEINT) * (t2.n - side.nl))
                  AS BIGINT) AS h_scaled
      FROM side, (SELECT n FROM tot) t2
      WHERE side.nl > 0 AND t2.n - side.nl > 0
    )
    SELECT CAST(t AS BIGINT) AS best_threshold,
           CAST(h_scaled AS BIGINT) AS h_scaled,
           CAST(nl AS BIGINT) AS n_left, CAST(nr AS BIGINT) AS n_right
    FROM scored
    ORDER BY h_scaled DESC, t ASC
    LIMIT 1
"""


@register("decision_stump_gini_split", _STUMP_ORACLE)
def decision_stump_gini_split(spark, sf_dir):
    """Best single Gini split on l_quantity predicting l_returnflag —
    see module docstring. Output: one row (best_threshold, h_scaled,
    n_left, n_right)."""
    li = _t(spark, sf_dir, "lineitem")
    h = li.groupBy(
        F.col("l_quantity").cast("long").alias("q"),
        F.col("l_returnflag").alias("c"),
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    tot = h.agg(F.sum("cnt").cast("long").alias("n"))
    tc = h.groupBy("c").agg(F.sum("cnt").cast("long").alias("tc"))
    qmax = h.agg(F.max("q").alias("qmax"))
    thr = (
        h.select("q")
        .distinct()
        .crossJoin(F.broadcast(qmax))
        .where(F.col("q") < F.col("qmax"))
        .select(F.col("q").alias("t"))
    )
    lc = (
        thr.join(F.broadcast(h), F.col("q") <= F.col("t"))
        .groupBy("t", "c")
        .agg(F.sum("cnt").cast("long").alias("cl"))
    )
    side = (
        lc.join(F.broadcast(tc), "c")
        .groupBy("t")
        .agg(
            F.sum("cl").cast("long").alias("nl"),
            F.expr("CAST(SUM(CAST(cl AS DECIMAL(38,0)) * cl) AS DECIMAL(38,0))").alias(
                "sl2"
            ),
            F.expr(
                "CAST(SUM(CAST(tc - cl AS DECIMAL(38,0)) * (tc - cl))"
                " AS DECIMAL(38,0))"
            ).alias("sr2"),
        )
    )
    scored = (
        side.crossJoin(F.broadcast(tot))
        .where((F.col("nl") > 0) & (F.col("n") - F.col("nl") > 0))
        .select(
            "t",
            "nl",
            (F.col("n") - F.col("nl")).alias("nr"),
            F.expr(
                f"CAST((CAST(n - nl AS DECIMAL(38,0)) * sl2"
                f" + CAST(nl AS DECIMAL(38,0)) * sr2)"
                f" * {_STUMP_K}"
                f" div (CAST(nl AS DECIMAL(38,0)) * (n - nl)) AS BIGINT)"
            ).alias("h_scaled"),
        )
    )
    best = scored.agg(
        F.max(
            F.struct(
                F.col("h_scaled").alias("h"),
                (-F.col("t")).alias("negt"),
                F.col("nl").alias("nl"),
                F.col("nr").alias("nr"),
            )
        ).alias("b")
    )
    return best.select(
        (-F.col("b.negt")).cast("long").alias("best_threshold"),
        F.col("b.h").cast("long").alias("h_scaled"),
        F.col("b.nl").cast("long").alias("n_left"),
        F.col("b.nr").cast("long").alias("n_right"),
    )


# ---------------------------------------------------------------------------
# Heaps'-law fit: vocabulary growth V(n) ~ K * n^beta.
# ---------------------------------------------------------------------------

_HEAPS_GRID = 16

_HEAPS_ORACLE = f"""
    WITH tok AS (
      SELECT doc_id,
             unnest(string_split(text, ' ')) AS w,
             generate_subscripts(string_split(text, ' '), 1) AS i
      FROM documents
    ),
    g AS (
      SELECT w, ROW_NUMBER() OVER (ORDER BY doc_id, i) AS gpos FROM tok
    ),
    n AS (SELECT CAST(MAX(gpos) AS BIGINT) AS n_tok FROM g),
    fo AS (SELECT w, CAST(MIN(gpos) AS BIGINT) AS fp FROM g GROUP BY w),
    grid AS (
      SELECT CAST(k AS BIGINT) AS k,
             CAST(CAST(n.n_tok AS BIGINT) * k // {_HEAPS_GRID} AS BIGINT)
               AS nk
      FROM range(1, {_HEAPS_GRID} + 1) t(k), n
      WHERE CAST(n.n_tok AS BIGINT) * k // {_HEAPS_GRID} >= 1
    ),
    v AS (
      SELECT grid.k, grid.nk,
             CAST(COUNT(*) AS BIGINT) AS vk
      FROM grid JOIN fo ON fo.fp <= grid.nk
      GROUP BY grid.k, grid.nk
    ),
    xy AS (
      SELECT CAST(FLOOR(LN(CAST(nk AS DOUBLE)) * 1000) AS BIGINT) AS x,
             CAST(FLOOR(LN(CAST(vk AS DOUBLE)) * 1000) AS BIGINT) AS y
      FROM v
    ),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS np,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(x * y) AS BIGINT) AS sxy
      FROM xy
    )
    SELECT (SELECT n_tok FROM n) AS n_tokens,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM fo) AS vocab,
           np AS n_grid,
           CAST(np * sxy - sx * sy AS DOUBLE)
             / CAST(np * sxx - sx * sx AS DOUBLE) AS heaps_beta,
           CAST(sy AS DOUBLE) / CAST(np AS DOUBLE) / 1000.0
             - (CAST(np * sxy - sx * sy AS DOUBLE)
                / CAST(np * sxx - sx * sx AS DOUBLE))
               * (CAST(sx AS DOUBLE) / CAST(np AS DOUBLE) / 1000.0)
             AS heaps_k_ln
    FROM m
"""


@register("heaps_law_fit", _HEAPS_ORACLE)
def heaps_law_fit(spark, sf_dir):
    """Heaps'-law exponent of the corpus — see module docstring. Output:
    one row (n_tokens, vocab, n_grid, heaps_beta, heaps_k_ln)."""
    docs = _t(spark, sf_dir, "documents")
    # Global token position = per-doc offset + local position, where the
    # offset is the strict prefix sum of per-doc token COUNTS in doc_id
    # order. The two-pass prefix machinery therefore runs on the DOC-level
    # frame (one row per document, count from size(split) — no explode),
    # and tokens take exactly ONE token-scale shuffle (the groupBy w).
    # The pre-r7 shape ran global_row_number over every TOKEN — the
    # steepest linear probe in SCALE.md round6c (17.7 s at 10M); this
    # rewrite is the fusable-double-pass fix (VERDICT r6 item 6).
    dc = docs.select(
        "doc_id", F.split("text", " ").alias("toks")
    ).select("doc_id", "toks", F.size("toks").cast("long").alias("cnt"))
    off = global_running(
        dc, ["doc_id"], "cnt", kind="sum", strict=True, out="off"
    ).select(
        "toks", F.coalesce(F.col("off"), F.lit(0)).cast("long").alias("off"),
        "cnt",
    )
    tok = off.select("off", F.posexplode("toks").alias("i0", "w"))
    g = tok.select((F.col("off") + F.col("i0") + 1).alias("gpos"), "w")
    # r11: n_tok = max(off + cnt) ≡ sum(cnt) exactly (off is the strict
    # prefix sum of cnt in doc_id order, so the last doc's off + cnt is
    # the total) — deriving it from `dc` drops a full re-derivation of
    # the prefix machinery (window + totals + broadcast) whose only
    # consumer was this 1-row aggregate (guide §2.4).
    n = dc.agg(F.sum("cnt").cast("long").alias("n_tok"))
    fo = g.groupBy("w").agg(F.min("gpos").cast("long").alias("fp"))
    vocab = fo.agg(F.count(F.lit(1)).cast("long").alias("vocab"))
    grid = (
        spark.range(1, _HEAPS_GRID + 1)
        .select(F.col("id").cast("long").alias("k"))
        .crossJoin(F.broadcast(n))
        .select("k", F.expr(f"n_tok * k div {_HEAPS_GRID}").alias("nk"))
        .where(F.col("nk") >= 1)
    )
    v = (
        fo.join(F.broadcast(grid), F.col("fp") <= F.col("nk"))
        .groupBy("k", "nk")
        .agg(F.count(F.lit(1)).cast("long").alias("vk"))
    )
    xy = v.select(
        F.expr("CAST(FLOOR(LN(CAST(nk AS DOUBLE)) * 1000) AS BIGINT)").alias("x"),
        F.expr("CAST(FLOOR(LN(CAST(vk AS DOUBLE)) * 1000) AS BIGINT)").alias("y"),
    )
    m = xy.agg(
        F.count(F.lit(1)).cast("long").alias("np"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.expr("x * x")).cast("long").alias("sxx"),
        F.sum(F.expr("x * y")).cast("long").alias("sxy"),
    )
    return (
        m.crossJoin(F.broadcast(n))
        .crossJoin(F.broadcast(vocab))
        .select(
            F.col("n_tok").alias("n_tokens"),
            F.col("vocab"),
            F.col("np").alias("n_grid"),
            F.expr(
                "CAST(np * sxy - sx * sy AS DOUBLE)"
                " / CAST(np * sxx - sx * sx AS DOUBLE)"
            ).alias("heaps_beta"),
            F.expr(
                "CAST(sy AS DOUBLE) / CAST(np AS DOUBLE) / 1000.0"
                " - (CAST(np * sxy - sx * sy AS DOUBLE)"
                " / CAST(np * sxx - sx * sx AS DOUBLE))"
                " * (CAST(sx AS DOUBLE) / CAST(np AS DOUBLE) / 1000.0)"
            ).alias("heaps_k_ln"),
        )
    )


# ---------------------------------------------------------------------------
# B-cubed precision/recall of prefix-fingerprint dedup vs exact-dup truth.
# ---------------------------------------------------------------------------

_BC_PRED_SQL = sql_hash60("array_to_string(string_split(text, ' ')[1:24], ' ')")
_BC_TRUTH_SQL = sql_hash60("text")

_BCUBED_ORACLE = f"""
    WITH lab AS (
      SELECT {_BC_PRED_SQL} AS pred, {_BC_TRUTH_SQL} AS truth
      FROM documents
    ),
    cells AS (
      SELECT pred, truth, CAST(COUNT(*) AS BIGINT) AS cpt
      FROM lab GROUP BY pred, truth
    ),
    pc AS (SELECT pred, CAST(SUM(cpt) AS BIGINT) AS cp FROM cells GROUP BY pred),
    tc AS (SELECT truth, CAST(SUM(cpt) AS BIGINT) AS ct FROM cells GROUP BY truth),
    terms AS (
      SELECT cells.cpt,
             CAST(cells.cpt AS HUGEINT)
               * (CAST(cells.cpt AS HUGEINT) * 1000000000 // pc.cp) AS pterm,
             CAST(cells.cpt AS HUGEINT)
               * (CAST(cells.cpt AS HUGEINT) * 1000000000 // tc.ct) AS rterm
      FROM cells JOIN pc ON pc.pred = cells.pred
                 JOIN tc ON tc.truth = cells.truth
    )
    SELECT CAST(SUM(cpt) AS BIGINT) AS n_docs,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM pc) AS n_pred_clusters,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM tc) AS n_truth_clusters,
           CAST(CAST(SUM(pterm) AS HUGEINT)
                // CAST(SUM(cpt) AS HUGEINT) AS BIGINT) AS b3_precision_nano,
           CAST(CAST(SUM(rterm) AS HUGEINT)
                // CAST(SUM(cpt) AS HUGEINT) AS BIGINT) AS b3_recall_nano
    FROM terms
"""


@register("bcubed_dedup_eval", _BCUBED_ORACLE)
def bcubed_dedup_eval(spark, sf_dir):
    """B-cubed precision/recall of the 24-token-prefix fingerprint dedup
    clustering against exact-duplicate truth — see module docstring.
    Output: one row (n_docs, n_pred_clusters, n_truth_clusters,
    b3_precision_nano, b3_recall_nano)."""
    from pyspark import StorageLevel

    docs = _t(spark, sf_dir, "documents")
    lab = docs.select(
        hash60(F.array_join(F.slice(F.split("text", " "), 1, 24), " ")).alias("pred"),
        hash60(F.col("text")).alias("truth"),
    )
    # r11: the cells frame (TWO committed md5 evaluations per doc) used to
    # be re-derived by five consumer subtrees (pc, tc, both term-join
    # sides, the final agg) — persist it so the doc scan + hashing run
    # once (guide §2.4). The cluster-rollup joins are
    # merge-pinned: pc/tc are corpus-derived aggregates (the r7/r13
    # broadcast-OOM discipline).
    cells = materialize(lab.groupBy("pred", "truth").agg(
        F.count(F.lit(1)).cast("long").alias("cpt"),
    ), StorageLevel.DISK_ONLY)
    # r12 storage-level probe at 1M docs (SCALE.md round-12-opt probes):
    # MEMORY_AND_DISK 3.4s, _DESER 3.2s, DISK_ONLY 3.2s, no-persist 3.1s —
    # within noise locally; DISK_ONLY removes the in-memory cache of a
    # frame that is ~n_docs rows at corpus scale (narrow but unbounded).
    pc = cells.groupBy("pred").agg(F.sum("cpt").cast("long").alias("cp"))
    tc = cells.groupBy("truth").agg(F.sum("cpt").cast("long").alias("ct"))
    npc = pc.agg(F.count(F.lit(1)).cast("long").alias("n_pred_clusters"))
    ntc = tc.agg(F.count(F.lit(1)).cast("long").alias("n_truth_clusters"))
    terms = (
        cells.join(pc.hint("merge"), "pred")
        .join(tc.hint("merge"), "truth")
        .select(
            "cpt",
            F.expr(
                "CAST(cpt AS DECIMAL(38,0))"
                " * (CAST(cpt AS DECIMAL(38,0)) * 1000000000 div cp)"
            ).alias("pterm"),
            F.expr(
                "CAST(cpt AS DECIMAL(38,0))"
                " * (CAST(cpt AS DECIMAL(38,0)) * 1000000000 div ct)"
            ).alias("rterm"),
        )
    )
    agg = terms.agg(
        F.sum("cpt").cast("long").alias("n_docs"),
        F.expr("CAST(SUM(pterm) AS DECIMAL(38,0))").alias("psum"),
        F.expr("CAST(SUM(rterm) AS DECIMAL(38,0))").alias("rsum"),
    )
    return (
        agg.crossJoin(F.broadcast(npc))
        .crossJoin(F.broadcast(ntc))
        .select(
            "n_docs",
            "n_pred_clusters",
            "n_truth_clusters",
            F.expr(
                "CAST(psum div CAST(n_docs AS DECIMAL(38,0)) AS BIGINT)"
            ).alias("b3_precision_nano"),
            F.expr(
                "CAST(rsum div CAST(n_docs AS DECIMAL(38,0)) AS BIGINT)"
            ).alias("b3_recall_nano"),
        )
    )


# ---------------------------------------------------------------------------
# Business-day latency (weekends excluded) per order priority.
# ---------------------------------------------------------------------------

# B(w, r) = # of t in 1..r with (w + t) % 7 <= 4, w = Monday-0 weekday.
_BUS_B = {
    (w, r): sum(1 for t in range(1, r + 1) if (w + t) % 7 <= 4)
    for w in range(7)
    for r in range(7)
}
_BUS_CASE = (
    "CASE "
    + " ".join(
        f"WHEN wd1 = {w} AND rem = {r} THEN {b}"
        for (w, r), b in sorted(_BUS_B.items())
    )
    + " ELSE 0 END"
)

_BUSDAYS_ORACLE = f"""
    WITH r AS (
      SELECT o.o_orderpriority AS priority,
             CAST(CAST(l.l_shipdate AS DATE) - CAST(o.o_orderdate AS DATE)
                  AS BIGINT) AS diff,
             CAST((CAST(o.o_orderdate AS DATE) - DATE '1970-01-01' + 3) % 7
                  AS BIGINT) AS wd1
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    b AS (
      SELECT priority,
             (diff // 7) * 5
               + ({_BUS_CASE.replace("rem", "diff % 7")}) AS busdays
      FROM r
    )
    SELECT priority,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(busdays) AS BIGINT) AS sum_busdays,
           CAST(CAST(SUM(busdays) AS BIGINT) * 1000
                // CAST(COUNT(*) AS BIGINT) AS BIGINT) AS avg_busdays_milli
    FROM b GROUP BY priority
"""


@register("business_days_latency", _BUSDAYS_ORACLE)
def business_days_latency(spark, sf_dir):
    """Order→ship latency in business days per priority — see module
    docstring. Output: 5 rows (priority, n_items, sum_busdays,
    avg_busdays_milli)."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    r = (
        o.join(li, li["l_orderkey"] == o["o_orderkey"])
        .select(
            F.col("o_orderpriority").alias("priority"),
            F.datediff(
                F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
            )
            .cast("long")
            .alias("diff"),
            ((F.unix_date(F.col("o_orderdate").cast("date")) + 3) % 7)
            .cast("long")
            .alias("wd1"),
        )
    )
    b = r.select(
        "priority",
        F.expr(f"(diff div 7) * 5 + ({_BUS_CASE.replace('rem', 'diff % 7')})").alias(
            "busdays"
        ),
    )
    return b.groupBy("priority").agg(
        F.count(F.lit(1)).cast("long").alias("n_items"),
        F.sum("busdays").cast("long").alias("sum_busdays"),
        F.expr("CAST(SUM(busdays) * 1000 div COUNT(*) AS BIGINT)").alias(
            "avg_busdays_milli"
        ),
    )
