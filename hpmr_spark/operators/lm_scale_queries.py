"""Log-domain LM/corpus batch, unlocked by the verified LN/EXP cross-engine
parity (floor(f(x)*scale) elementwise is bit-equal across Spark's JVM math,
DuckDB, and CPython — probed over 1M values each; a commitment like the LSH
constants, re-verified by selfcheck every round):

- doc_perplexity_avg_nll: true log-domain perplexity (average negative
  log-likelihood) under an add-1-smoothed corpus bigram LM — the standard
  LM-based quality filter (complements the log-free mean-probability score
  in doc_lm_score_ppm).
- zipf_fit_slope: OLS fit of ln(freq) vs ln(rank) — the Zipf-law exponent
  of the corpus, a one-number corpus-health diagnostic.
- softmax_temperature_mixture: temperature-scaled source sampling weights
  p_s ∝ n_s^(1/T) (computed as exp(ln(n)/T)) — the data-mixture
  reweighting used by large pretraining runs.
- weighted_sample_topk_es: Efraimidis-Spirakis weighted sampling without
  replacement, made deterministic with committed md5-derived uniforms —
  exact-k weighted corpus subsampling that needs only a top-k, never a
  global sort of random numbers per epoch.

Integer discipline: every ln/exp value is floored to a fixed-point BIGINT
elementwise BEFORE any aggregation; sums are exact integer adds; final
ratios are positive floor divisions or one-final-double expressions over
exact BIGINT moments (identical SQL text both engines).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from hpmr_spark.catalog import _t, register
from hpmr_spark.engine import materialize
from hpmr_spark.functions.hashing import sql_hash60, hash60

# ---------------------------------------------------------------------------
# Per-document average NLL under the corpus add-1 bigram LM.
# ---------------------------------------------------------------------------
_NLL_TERM = (
    "CAST(FLOOR(LN(CAST(n12 + 1 AS DOUBLE) / CAST(n1 + v AS DOUBLE)) * 1000000)"
    " AS BIGINT)"
)


@register(
    "doc_perplexity_avg_nll",
    f"""
    WITH toks AS (
      SELECT doc_id,
             unnest(string_split(text, ' ')) AS w,
             generate_subscripts(string_split(text, ' '), 1) AS i
      FROM documents
    ),
    bi AS (
      SELECT a.doc_id, a.w AS w1, b.w AS w2
      FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.i = a.i + 1
    ),
    c12 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n12 FROM bi GROUP BY w1, w2),
    c1 AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS n1 FROM bi GROUP BY w1),
    vo AS (SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS v FROM toks),
    t AS (
      SELECT bi.doc_id, {_NLL_TERM} AS term_uppm
      FROM bi JOIN c12 USING (w1, w2) JOIN c1 USING (w1) CROSS JOIN vo
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST((0 - CAST(SUM(term_uppm) AS BIGINT)) // COUNT(*) AS BIGINT)
             AS avg_nll_uppm
    FROM t GROUP BY doc_id
    """,
)
def doc_perplexity_avg_nll(spark, sf_dir):
    """Average negative log-likelihood (micro-nats) of each document under
    the whole-corpus add-1 bigram model: p = (c12+1)/(c1+V), each ln(p)
    floored to an integer elementwise (LN-parity commitment), then summed
    exactly and floor-divided by the doc's bigram count (terms are strictly
    negative, so -sum is positive and div ≡ //). Plan: the (doc, w1, w2)
    pair frame is persisted — it feeds the bigram-count agg, the
    first-word-count agg, and the scoring join (no Catalyst cross-tree
    CSE); LM state is vocab²-bounded while the corpus streams through. The
    classic perplexity filter for pretraining data, exact and
    partition-invariant."""
    d = _t(spark, sf_dir, "documents").select("doc_id", F.split("text", " ").alias("a"))
    pairs = d.select(
        "doc_id",
        F.explode(
            F.expr(
                "zip_with(slice(a, 1, size(a) - 1), slice(a, 2, size(a) - 1), "
                "(x, y) -> struct(x AS w1, y AS w2))"
            )
        ).alias("p"),
    ).select("doc_id", "p.w1", "p.w2")
    from pyspark import StorageLevel

    # corpus-sized frame: spill-tolerant persist (same discipline as the
    # minhash shingle frame) — memory-only showed pressure at the 3x probe
    pairs = materialize(pairs, StorageLevel.MEMORY_AND_DISK)
    c12 = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("long").alias("n12"))
    c1 = pairs.groupBy("w1").agg(F.count(F.lit(1)).cast("long").alias("n1"))
    toks = d.select(F.explode("a").alias("w"))
    vo = toks.agg(F.countDistinct("w").cast("long").alias("v"))
    t = (
        pairs.join(c12, ["w1", "w2"])
        .join(c1, ["w1"])
        .crossJoin(F.broadcast(vo))
        .withColumn("term_uppm", F.expr(_NLL_TERM))
    )
    return t.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.expr("(0 - CAST(SUM(term_uppm) AS BIGINT)) div COUNT(1)")
        .cast("long")
        .alias("avg_nll_uppm"),
    )


# ---------------------------------------------------------------------------
# Zipf-law fit: OLS slope of ln(freq) on ln(rank), exact integer moments.
# ---------------------------------------------------------------------------
@register(
    "zipf_fit_slope",
    """
    WITH c AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS n_w
      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      GROUP BY w
    ),
    r AS (
      SELECT n_w, ROW_NUMBER() OVER (ORDER BY n_w DESC, w) AS rnk FROM c
    ),
    xy AS (
      SELECT CAST(FLOOR(LN(CAST(rnk AS DOUBLE)) * 1000) AS BIGINT) AS x,
             CAST(FLOOR(LN(CAST(n_w AS DOUBLE)) * 1000) AS BIGINT) AS y
      FROM r
    ),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(x * y) AS BIGINT) AS sxy
      FROM xy
    )
    SELECT n AS vocab,
           CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)
             AS zipf_slope,
           CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) / 1000.0
             - (CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE))
               * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) / 1000.0) AS intercept_ln
    FROM m
    """,
)
def zipf_fit_slope(spark, sf_dir):
    """Zipf exponent of the corpus: OLS slope of ln(freq) vs ln(rank) where
    ranks carry a full (freq DESC, word) tie-break and each log is floored
    to milli-nats elementwise (keeping every moment product inside BIGINT:
    |x|,|y| ≤ 9e3, so n·Sxy ≤ ~6e14). The slope and intercept are
    one-final-double expressions over the five exact integer moments —
    identical text on both engines, hence bit-equal. One vocabulary-sized
    groupBy; the (freq DESC, word) rank is the two-pass bucketed row_number
    (functions/ranking.py, negated-count leading key — Heaps-law vocab still
    reaches ~1e8 types at 100 TB, too big for one partition), one 1-row
    aggregate."""
    from hpmr_spark.functions.ranking import global_row_number

    docs = _t(spark, sf_dir, "documents")
    c = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("n_w"))
    )
    r = global_row_number(
        c.withColumn("neg_n_w", -F.col("n_w")), ["neg_n_w", "w"], out="rnk"
    ).select("n_w", "rnk")
    xy = r.select(
        F.expr("CAST(FLOOR(LN(CAST(rnk AS DOUBLE)) * 1000) AS BIGINT)").alias("x"),
        F.expr("CAST(FLOOR(LN(CAST(n_w AS DOUBLE)) * 1000) AS BIGINT)").alias("y"),
    )
    m = xy.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.expr("x * x")).cast("long").alias("sxx"),
        F.sum(F.expr("x * y")).cast("long").alias("sxy"),
    )
    return m.select(
        F.col("n").alias("vocab"),
        F.expr(
            "CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)"
        ).alias("zipf_slope"),
        F.expr(
            "CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) / 1000.0"
            " - (CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE))"
            " * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) / 1000.0)"
        ).alias("intercept_ln"),
    )


# ---------------------------------------------------------------------------
# Temperature-scaled data-mixture weights per source: p_s ∝ n_s^(1/1.3).
# ---------------------------------------------------------------------------
_POW_EXPR = (
    "CAST(FLOOR(EXP(LN(CAST(n_tok AS DOUBLE)) / 1.3) * 1000000) AS BIGINT)"
)


@register(
    "softmax_temperature_mixture",
    f"""
    WITH s AS (
      SELECT source, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tok
      FROM documents GROUP BY source
    ),
    w AS (SELECT source, n_tok, {_POW_EXPR} AS w_upm FROM s)
    SELECT source, n_tok, w_upm,
           CAST(w_upm * 1000000 // SUM(w_upm) OVER () AS BIGINT) AS share_ppm
    FROM w
    """,
)
def softmax_temperature_mixture(spark, sf_dir):
    """Temperature-1.3 mixture reweighting across sources (the pretraining
    data-mixture trick: p_s ∝ n_s^(1/T), flattening big sources): the power
    is computed as exp(ln(n)/1.3) elementwise and floored to micro-units
    (LN/EXP parity commitment); the normalizing sum and the ppm shares are
    exact integer arithmetic. One source-sized aggregate + a window over
    the |sources| frame — nothing corpus-sized shuffles twice."""
    docs = _t(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(
        F.sum(F.size(F.split("text", " "))).cast("long").alias("n_tok")
    )
    w = s.withColumn("w_upm", F.expr(_POW_EXPR))
    t = w.agg(F.sum("w_upm").alias("_tot"))
    return (
        w.crossJoin(F.broadcast(t))
        .withColumn("share_ppm", F.expr("w_upm * 1000000 div _tot").cast("long"))
        .drop("_tot")
    )


# ---------------------------------------------------------------------------
# Deterministic Efraimidis-Spirakis weighted sampling without replacement.
# ---------------------------------------------------------------------------
# GREATEST(...,1) guards a zero-length doc (weight must stay positive even
# if the corpus is ever regenerated with empty texts)
_ES_KEY = (
    "CAST(FLOOR(LN(CAST(u AS DOUBLE) / 1000000.0)"
    " / CAST(GREATEST(n_chars, 1) AS DOUBLE)"
    " * 1000000000000.0) AS BIGINT)"
)


@register(
    "weighted_sample_topk_es",
    f"""
    WITH u AS (
      SELECT doc_id, n_chars,
             ({sql_hash60("CAST(doc_id AS VARCHAR)")} % 1000000) + 1 AS u
      FROM documents
    ),
    k AS (SELECT doc_id, n_chars, {_ES_KEY} AS key_ppt FROM u),
    r AS (
      SELECT doc_id, n_chars, key_ppt,
             ROW_NUMBER() OVER (ORDER BY key_ppt DESC, doc_id) AS rnk
      FROM k
    )
    SELECT doc_id, n_chars, key_ppt, CAST(rnk AS BIGINT) AS rnk
    FROM r WHERE rnk <= 20
    """,
)
def weighted_sample_topk_es(spark, sf_dir):
    """Exact-k weighted sampling without replacement (Efraimidis-Spirakis):
    each doc draws a committed md5-derived uniform u ∈ (0,1] and competes
    with key u^(1/weight) — realized in log space as ln(u)/weight, floored
    to pico-units elementwise (LN parity), weight = n_chars. The top-20
    keys ARE a correctly-distributed weighted sample; deterministic because
    the uniforms are content-addressed, so resumes/retries pick the same
    sample (the property a 100 TB pipeline actually needs). Selection is
    TakeOrderedAndProject (per-partition top-k heaps, 20-row merge — the
    docstring's claim is now also the plan's shape); the rank window runs
    on the already-selected 20-row frame only."""
    docs = _t(spark, sf_dir, "documents")
    u = docs.select(
        "doc_id",
        "n_chars",
        (hash60(F.col("doc_id").cast("string")) % F.lit(1000000) + 1).alias("u"),
    )
    k = u.withColumn("key_ppt", F.expr(_ES_KEY))
    from hpmr_spark.functions.ranking import bounded_rank

    top = k.select("doc_id", "n_chars", "key_ppt").orderBy(
        F.desc("key_ppt"), F.asc("doc_id")
    ).limit(20)
    # 20-row re-rank as a broadcast non-equi join — no window at all
    return bounded_rank(top, "key_ppt", "doc_id", out="rnk").select(
        "doc_id", "n_chars", "key_ppt", "rnk"
    )
