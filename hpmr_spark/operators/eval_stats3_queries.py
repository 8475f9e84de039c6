"""Statistical evaluation operators, third batch (round 6, wave 6):

- naive_bayes_lang_eval: train a multinomial Naive Bayes language
  classifier on the corpus itself (word-given-lang counts, Laplace +1)
  and emit the self-classification confusion matrix. Every log term is
  floored to nanos ELEMENTWISE per (token, lang) — LN parity across
  engines is pinned by tests/test_libm_parity.py — so per-document
  scores are exact BIGINT sums (order-invariant); argmax ties break to
  the lexicographically smallest language via min(struct(-score,
  lang)) ≡ the oracle's ROW_NUMBER (score DESC, lang ASC).
- jackknife_ratio_variance: delete-one jackknife variance of the
  revenue-per-unit ratio (sum cents / sum qty) per l_returnflag. Each
  leave-one-out ratio's deviation from the integer center c = SY div SX
  is floored to MILLIS elementwise (one double expression over exact
  ints, identical text both engines); the two dev moments are exact
  BIGINT sums (dev ≤ ~2e3 milli keeps sum-of-squares inside int64
  through sf100), and the jackknife variance/SE are one-final-double
  expressions over them (sqrt is IEEE-correctly-rounded — portable).

Scale notes (100 TB): NB is one token-scale counting pass plus a
(doc, word, count)-scale scoring fan — per-doc word counts are
pre-aggregated BEFORE the |langs| fan-out (ADVICE r6), so the fan and
its (w, lang) join never touch raw token occurrences; jackknife is one fact pass against a
3-row broadcast of group moments. No windows, no driver loops.

Reference parity: beyond the reference kv kernel
(/root/reference/src/hpmr.h:1-10) along the brief's analytics axis.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hpmr_spark.catalog import _t, register
from hpmr_spark.engine import materialize

# ---------------------------------------------------------------------------
# Multinomial Naive Bayes language classifier, self-eval confusion matrix.
# ---------------------------------------------------------------------------

# Identical per-(token, lang) expression both engines: cnt (smoothing base),
# ntok (lang token count), v (vocab size).
_NB_TERM = (
    "CAST(FLOOR((LN(CAST(cnt + 1 AS DOUBLE))"
    " - LN(CAST(ntok + v AS DOUBLE))) * 1000000000) AS BIGINT)"
)
_NB_PRIOR = (
    "CAST(FLOOR((LN(CAST(n_l AS DOUBLE))"
    " - LN(CAST(n_all AS DOUBLE))) * 1000000000) AS BIGINT)"
)

_NB_ORACLE = f"""
    WITH toks AS MATERIALIZED (
      SELECT doc_id, lang,
             unnest(string_split(text, ' ')) AS w
      FROM documents
    ),
    cwl AS MATERIALIZED (
      SELECT w, lang, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY w, lang
    ),
    langs AS MATERIALIZED (SELECT DISTINCT lang FROM documents),
    nl AS MATERIALIZED (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS ntok FROM toks GROUP BY lang
    ),
    vv AS (SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS v FROM toks),
    pri AS (
      SELECT d.lang, {_NB_PRIOR} AS prior_nano
      FROM (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_l
            FROM documents GROUP BY lang) d,
           (SELECT CAST(COUNT(*) AS BIGINT) AS n_all FROM documents) t
    ),
    dwc AS MATERIALIZED (
      SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS k
      FROM toks GROUP BY doc_id, w
    ),
    sc AS (
      SELECT t.doc_id, t.lang,
             CAST(SUM(t.k * ({_NB_TERM})) AS BIGINT) AS s
      FROM (SELECT d0.doc_id, d0.k, l0.lang, COALESCE(c0.c, 0) AS cnt
            FROM dwc d0
            CROSS JOIN langs l0
            LEFT JOIN cwl c0 ON c0.w = d0.w AND c0.lang = l0.lang) t
      JOIN nl ON nl.lang = t.lang
      CROSS JOIN vv
      GROUP BY t.doc_id, t.lang
    ),
    scored AS (
      SELECT sc.doc_id, sc.lang, sc.s + pri.prior_nano AS score
      FROM sc JOIN pri ON pri.lang = sc.lang
    ),
    pred AS (
      SELECT doc_id, lang AS pred_lang FROM (
        SELECT doc_id, lang,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, lang ASC) AS rn
        FROM scored
      ) WHERE rn = 1
    )
    SELECT d.lang AS true_lang, p.pred_lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM documents d JOIN pred p ON p.doc_id = d.doc_id
    GROUP BY d.lang, p.pred_lang
"""


@register("naive_bayes_lang_eval", _NB_ORACLE)
def naive_bayes_lang_eval(spark, sf_dir):
    """Multinomial NB language classifier self-eval — see module
    docstring. Output: (true_lang, pred_lang, n_docs) confusion cells.

    r11 optimization (guide §2.3/§2.4): the corpus-scale token explode
    used to feed FOUR independent aggregates (cwl, nl, vv — the last a
    distinct-Expand — and dwc), i.e. four full explode passes in one
    plan. Now the per-doc postings frame dwc (doc, lang, word, k) is
    built ONCE and persisted (the r12 postings-frame discipline), and everything else derives
    from it by exact integer re-aggregation: cwl = Σk by (w, lang)
    (two-level aggregation, partial-agg friendly), nl = Σk by lang,
    v = |distinct w of cwl| — identical values (exact counts), one
    corpus explode+shuffle instead of four. The fan's (w, lang) join is
    merge-pinned: cwl is a corpus-derived aggregate (the r13
    token_pruning lesson — Catalyst's post-agg estimate must not pick
    broadcast for it at corpus scale)."""
    from pyspark import StorageLevel

    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("w")
    )
    # Pre-aggregate per-document word counts BEFORE the |langs| fan-out
    # (ADVICE r6): the fan and its (w, lang) shuffle-join run on the
    # (doc, word, count) frame — distinct words per doc, not raw token
    # occurrences. k·term is exact integer arithmetic, values unchanged.
    dwc = materialize(toks.groupBy("doc_id", "lang", "w").agg(
        F.count(F.lit(1)).cast("long").alias("k"),
    ), StorageLevel.DISK_ONLY)
    # r12 storage-level probe at 1M docs (SCALE.md round-12-opt probes,
    # cycle-2 walls): MEMORY_AND_DISK 78.9s/326MB cached, _DESER 68.7s/508MB,
    # DISK_ONLY 66.9s/0MB, no-persist 66.3s. DISK_ONLY ties no-persist,
    # keeps the one-corpus-explode plan, and removes the §5 memory-pressure
    # hazard (a postings-scale in-memory cache can evict-thrash at 100 TB).
    cwl = dwc.groupBy("w", "lang").agg(F.sum("k").cast("long").alias("c"))
    langs = docs.select("lang").distinct()
    nl = dwc.groupBy("lang").agg(F.sum("k").cast("long").alias("ntok"))
    vv = cwl.agg(F.countDistinct("w").cast("long").alias("v"))
    pri = (
        docs.groupBy("lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_l"))
        .crossJoin(
            F.broadcast(docs.agg(F.count(F.lit(1)).cast("long").alias("n_all")))
        )
        .select("lang", F.expr(_NB_PRIOR).alias("prior_nano"))
    )
    cwl2 = cwl.select(
        F.col("w").alias("cw"), F.col("lang").alias("clang"), "c"
    ).hint("merge")
    fan = (
        dwc.crossJoin(F.broadcast(langs.select(F.col("lang").alias("slang"))))
        .join(
            cwl2,
            (F.col("cw") == F.col("w")) & (F.col("clang") == F.col("slang")),
            "left",
        )
        .select(
            "doc_id",
            "slang",
            "k",
            F.coalesce(F.col("c"), F.lit(0)).cast("long").alias("cnt"),
        )
    )
    sc = (
        fan.join(
            F.broadcast(nl.select(F.col("lang").alias("slang"), "ntok")), "slang"
        )
        .crossJoin(F.broadcast(vv))
        .groupBy("doc_id", "slang")
        .agg(
            F.sum(F.col("k") * F.expr(_NB_TERM)).cast("long").alias("s")
        )
    )
    scored = sc.join(
        F.broadcast(pri.select(F.col("lang").alias("slang"), "prior_nano")), "slang"
    ).select("doc_id", "slang", (F.col("s") + F.col("prior_nano")).alias("score"))
    pred = (
        scored.groupBy("doc_id")
        .agg(
            F.min(
                F.struct((-F.col("score")).alias("ns"), F.col("slang").alias("lg"))
            ).alias("b")
        )
        .select("doc_id", F.col("b.lg").alias("pred_lang"))
    )
    return (
        docs.select("doc_id", F.col("lang").alias("true_lang"))
        .join(pred, "doc_id")
        .groupBy("true_lang", "pred_lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )


# ---------------------------------------------------------------------------
# Delete-one jackknife variance of the cents-per-unit ratio per returnflag.
# ---------------------------------------------------------------------------

_JK_DEV = (
    "CAST(FLOOR((CAST(sy - cents AS DOUBLE) / CAST(sx - qty AS DOUBLE)"
    " - CAST(c_ratio AS DOUBLE)) * 1000) AS BIGINT)"
)

_JK_ORACLE = f"""
    WITH r AS (
      SELECT l_returnflag AS flag,
             CAST(l_quantity AS BIGINT) AS qty,
             CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents
      FROM lineitem
    ),
    g AS (
      SELECT flag,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(qty) AS BIGINT) AS sx,
             CAST(SUM(cents) AS BIGINT) AS sy
      FROM r GROUP BY flag
    ),
    gc AS (SELECT flag, n, sx, sy, sy // sx AS c_ratio FROM g),
    dev AS (
      SELECT r.flag, {_JK_DEV} AS d
      FROM r JOIN gc ON gc.flag = r.flag
    ),
    m AS (
      SELECT flag, CAST(SUM(d) AS BIGINT) AS sd,
             CAST(SUM(d * d) AS BIGINT) AS sdd
      FROM dev GROUP BY flag
    )
    SELECT gc.flag AS returnflag, gc.n, gc.c_ratio,
           m.sd AS sum_dev_milli,
           (CAST(gc.n - 1 AS DOUBLE) / CAST(gc.n AS DOUBLE))
             * (CAST(m.sdd AS DOUBLE)
                - CAST(m.sd AS DOUBLE) * CAST(m.sd AS DOUBLE)
                  / CAST(gc.n AS DOUBLE)) AS jk_var_milli2,
           SQRT((CAST(gc.n - 1 AS DOUBLE) / CAST(gc.n AS DOUBLE))
             * (CAST(m.sdd AS DOUBLE)
                - CAST(m.sd AS DOUBLE) * CAST(m.sd AS DOUBLE)
                  / CAST(gc.n AS DOUBLE))) AS jk_se_milli
    FROM gc JOIN m ON m.flag = gc.flag
"""


@register("jackknife_ratio_variance", _JK_ORACLE)
def jackknife_ratio_variance(spark, sf_dir):
    """Delete-one jackknife variance of cents-per-unit per returnflag —
    see module docstring. Output: 3 rows (returnflag, n, c_ratio,
    sum_dev_milli, jk_var_milli2, jk_se_milli)."""
    li = _t(spark, sf_dir, "lineitem")
    r = li.select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_quantity").cast("long").alias("qty"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("cents"),
    )
    g = r.groupBy("flag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("qty").cast("long").alias("sx"),
        F.sum("cents").cast("long").alias("sy"),
    )
    gc = g.select("flag", "n", "sx", "sy", F.expr("sy div sx").alias("c_ratio"))
    dev = r.join(F.broadcast(gc), "flag").select(
        "flag", F.expr(_JK_DEV).alias("d")
    )
    m = dev.groupBy("flag").agg(
        F.sum("d").cast("long").alias("sd"),
        F.sum(F.expr("d * d")).cast("long").alias("sdd"),
    )
    var_expr = (
        "(CAST(n - 1 AS DOUBLE) / CAST(n AS DOUBLE))"
        " * (CAST(sdd AS DOUBLE)"
        " - CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE) / CAST(n AS DOUBLE))"
    )
    return (
        gc.join(m, "flag")
        .select(
            F.col("flag").alias("returnflag"),
            "n",
            "c_ratio",
            F.col("sd").alias("sum_dev_milli"),
            F.expr(var_expr).alias("jk_var_milli2"),
            F.expr(f"SQRT({var_expr})").alias("jk_se_milli"),
        )
    )
