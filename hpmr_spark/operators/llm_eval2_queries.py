"""LLM-pipeline evaluation, second batch (round 6, wave 6):

- oov_rate_heldout: out-of-vocabulary rate of a top-1024 vocabulary
  (trained on the hash60(doc)%2=0 split, (count DESC, word) total
  order) measured on the held-out split — the tokenizer-coverage
  check every corpus pipeline runs before committing a vocab. Exact
  integer counts; rate in ppm (int128 floor div); per language.
- draft_accept_rate_ppm: speculative-decoding acceptance simulation —
  a bigram "target" accepts a unigram "draft" at position t iff
  P_bigram(w_t | w_{t-1}) ≥ P_unigram(w_t), decided by the exact
  cross-multiplication c_pw·N_tok ≥ c_w·c_p• (no division). Reports
  the acceptance rate in ppm per language plus the decided-position
  count — the expected-speedup estimator for draft-model screening.
- nearest_centroid_eval: nearest-centroid classification self-eval on
  the embeddings table. Per-label centroids are COMMITTED integers
  (per-dim μ̂ = (Σ milli-quantized x) div n — truncating div, engine-
  identical); distances are exact BIGINT sums of squared differences;
  argmin ties to the smallest label. Output: per (true_label,
  pred_label) confusion cells.

Scale notes (100 TB): oov/draft are token-scale passes into vocab-
sized joins; nearest-centroid is one pass to build k·d centroid cells
and one broadcast-join pass to classify.

Reference parity: beyond the reference kv kernel
(/root/reference/src/hpmr.h:1-10) along the brief's LLM-pipeline axis.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hpmr_spark.catalog import _t, register
from hpmr_spark.engine import materialize
from hpmr_spark.functions.hashing import hash60, sql_hash60
from hpmr_spark.functions.ranking import bounded_rank

# ---------------------------------------------------------------------------
# OOV rate of a split-0-trained top-1024 vocab on the held-out split.
# ---------------------------------------------------------------------------

_VOCAB_K = 1024
_SPLIT = sql_hash60("'oov|' || CAST(doc_id AS VARCHAR)") + " % 2"

_OOV_ORACLE = f"""
    WITH tok AS (
      SELECT doc_id, lang, {_SPLIT} AS split,
             unnest(string_split(text, ' ')) AS w
      FROM documents
    ),
    vocab AS (
      SELECT w FROM (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS c
        FROM tok WHERE split = 0 GROUP BY w
      ) ORDER BY c DESC, w LIMIT {_VOCAB_K}
    ),
    held AS (
      SELECT lang, w,
             CASE WHEN w IN (SELECT w FROM vocab) THEN 0 ELSE 1 END AS oov
      FROM tok WHERE split = 1
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(oov) AS BIGINT) AS n_oov,
           CAST(CAST(SUM(oov) AS HUGEINT) * 1000000
                // CAST(COUNT(*) AS HUGEINT) AS BIGINT) AS oov_ppm
    FROM held GROUP BY lang
"""


@register("oov_rate_heldout", _OOV_ORACLE)
def oov_rate_heldout(spark, sf_dir):
    """Held-out OOV rate of a split-trained top-1024 vocab — see module
    docstring. Output: (lang, n_tokens, n_oov, oov_ppm)."""
    docs = _t(spark, sf_dir, "documents")
    split = hash60(
        F.concat(F.lit("oov|"), F.col("doc_id").cast("string"))
    ) % 2
    tok = docs.select(
        "lang", split.alias("split"), F.explode(F.split("text", " ")).alias("w")
    )
    vocab = (
        tok.where(F.col("split") == 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .orderBy(F.col("c").desc(), F.col("w"))
        .limit(_VOCAB_K)
        .select("w")
    )
    held = tok.where(F.col("split") == 1).join(
        F.broadcast(vocab.withColumn("in_v", F.lit(1))), "w", "left"
    )
    return held.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        F.sum(F.when(F.col("in_v").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_oov"),
        F.expr(
            "CAST(CAST(SUM(CASE WHEN in_v IS NULL THEN 1 ELSE 0 END)"
            " AS DECIMAL(38,0)) * 1000000"
            " div CAST(COUNT(*) AS DECIMAL(38,0)) AS BIGINT)"
        ).alias("oov_ppm"),
    )


# ---------------------------------------------------------------------------
# Speculative-decoding acceptance: bigram target vs unigram draft.
# ---------------------------------------------------------------------------

_DRAFT_ORACLE = """
    WITH toks AS MATERIALIZED (
      SELECT doc_id, lang,
             unnest(string_split(text, ' ')) AS w,
             generate_subscripts(string_split(text, ' '), 1) AS i
      FROM documents
    ),
    nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_tok FROM toks),
    uni AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cw FROM toks GROUP BY w),
    pre AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cp FROM toks GROUP BY w),
    bi AS (
      SELECT a.lang, a.w AS p, b.w AS w
      FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.i = a.i + 1
    ),
    bic AS (
      SELECT lang, p, w, CAST(COUNT(*) AS BIGINT) AS cpw
      FROM bi GROUP BY lang, p, w
    ),
    dec AS (
      SELECT bic.lang, bic.cpw,
             CASE WHEN CAST(bic.cpw AS HUGEINT) * nt.n_tok
                       >= CAST(uni.cw AS HUGEINT) * pre.cp
                  THEN 1 ELSE 0 END AS acc
      FROM bic
      JOIN uni ON uni.w = bic.w
      JOIN pre ON pre.w = bic.p
      CROSS JOIN nt
    )
    SELECT lang,
           CAST(SUM(cpw) AS BIGINT) AS n_positions,
           CAST(SUM(acc * cpw) AS BIGINT) AS n_accepted,
           CAST(CAST(SUM(acc * cpw) AS HUGEINT) * 1000000
                // CAST(SUM(cpw) AS HUGEINT) AS BIGINT) AS accept_ppm
    FROM dec GROUP BY lang
"""


@register("draft_accept_rate_ppm", _DRAFT_ORACLE)
def draft_accept_rate_ppm(spark, sf_dir):
    """Speculative-decoding acceptance rate (bigram target vs unigram
    draft) — see module docstring. Output: (lang, n_positions,
    n_accepted, accept_ppm)."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", "lang", F.posexplode(F.split("text", " ")).alias("i0", "w")
    )
    nt = toks.agg(F.count(F.lit(1)).cast("long").alias("n_tok"))
    uni = toks.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("cw"))
    pre = toks.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("cp"))
    t = docs.select("lang", F.split("text", " ").alias("a"))
    bic = (
        t.select(
            "lang",
            F.explode(
                F.expr(
                    "zip_with(slice(a, 1, size(a) - 1), slice(a, 2, size(a) - 1), "
                    "(x, y) -> struct(x AS p, y AS w))"
                )
            ).alias("pr"),
        )
        .select("lang", "pr.p", "pr.w")
        .groupBy("lang", "p", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("cpw"))
    )
    dec = (
        bic.join(uni, "w")
        .join(pre.select(F.col("w").alias("p"), "cp"), "p")
        .crossJoin(F.broadcast(nt))
        .select(
            "lang",
            "cpw",
            F.expr(
                "CASE WHEN CAST(cpw AS DECIMAL(38,0)) * n_tok"
                " >= CAST(cw AS DECIMAL(38,0)) * cp THEN 1 ELSE 0 END"
            ).alias("acc"),
        )
    )
    return dec.groupBy("lang").agg(
        F.sum("cpw").cast("long").alias("n_positions"),
        F.sum(F.expr("acc * cpw")).cast("long").alias("n_accepted"),
        F.expr(
            "CAST(CAST(SUM(acc * cpw) AS DECIMAL(38,0)) * 1000000"
            " div CAST(SUM(cpw) AS DECIMAL(38,0)) AS BIGINT)"
        ).alias("accept_ppm"),
    )


# ---------------------------------------------------------------------------
# Nearest-centroid classification self-eval on embeddings.
# ---------------------------------------------------------------------------

_NC_ORACLE = """
    WITH v AS MATERIALIZED (
      SELECT vec_id, label,
             generate_subscripts(embedding, 1) AS dim,
             CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000) AS BIGINT)
               AS x
      FROM embeddings
    ),
    cent AS MATERIALIZED (
      SELECT label AS c, dim,
             CAST(CAST(SUM(x) AS HUGEINT) // COUNT(*) AS BIGINT) AS mu
      FROM v GROUP BY label, dim
    ),
    dist AS (
      SELECT v.vec_id, v.label, cent.c,
             CAST(SUM((v.x - cent.mu) * (v.x - cent.mu)) AS BIGINT) AS d2
      FROM v JOIN cent ON cent.dim = v.dim
      GROUP BY v.vec_id, v.label, cent.c
    ),
    pred AS (
      SELECT vec_id, label AS true_label, c AS pred_label FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                     ORDER BY d2 ASC, c ASC) AS rn
        FROM dist
      ) WHERE rn = 1
    )
    SELECT CAST(true_label AS BIGINT) AS true_label,
           CAST(pred_label AS BIGINT) AS pred_label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs
    FROM pred GROUP BY 1, 2
"""


@register("nearest_centroid_eval", _NC_ORACLE)
def nearest_centroid_eval(spark, sf_dir):
    """Nearest-centroid self-eval confusion matrix — see module
    docstring. Output: (true_label, pred_label, n_vecs) cells."""
    from pyspark import StorageLevel

    emb = _t(spark, sf_dir, "embeddings")
    v = materialize(emb.select(
        "vec_id",
        "label",
        F.posexplode(
            F.expr(
                "transform(embedding,"
                " x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT))"
            )
        ).alias("dim0", "x"),
    ).select(
        "vec_id", "label", (F.col("dim0") + 1).alias("dim"), "x"
    ), StorageLevel.MEMORY_AND_DISK)  # centroid build + classify pass
    cent = v.groupBy(F.col("label").alias("c"), "dim").agg(
        F.expr("CAST(CAST(SUM(x) AS DECIMAL(38,0)) div COUNT(*) AS BIGINT)").alias(
            "mu"
        )
    )
    dist = (
        v.join(F.broadcast(cent), "dim")
        .groupBy("vec_id", "label", "c")
        .agg(
            F.sum(F.expr("(x - mu) * (x - mu)")).cast("long").alias("d2")
        )
    )
    pred = (
        dist.groupBy("vec_id", "label")
        .agg(
            F.min(F.struct(F.col("d2").alias("d"), F.col("c").alias("c"))).alias("b")
        )
        .select(F.col("label").alias("true_label"), F.col("b.c").alias("pred_label"))
    )
    return pred.groupBy("true_label", "pred_label").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs")
    )
