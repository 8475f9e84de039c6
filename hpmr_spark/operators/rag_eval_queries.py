"""Round-12 wave 2: RAG / QA evaluation operators over the documents
corpus — the lexical-grounding metrics an LLM-answer pipeline computes at
corpus scale, all in exact integer arithmetic:

- token_f1_paired_docs: SQuAD-style token F1 (Rajpurkar et al. 2016)
  between prediction/gold doc pairs — multiset token overlap, and the
  identity F1 = 2·overlap/(len_p + len_g) (the harmonic mean of P and R
  collapses to one integer ratio).
- context_recall_topk: retrieval context recall@k — committed lexical
  retriever (distinct-token overlap, total tie-break), gold set = same-
  source docs; |top-k ∩ gold| / |gold| in ppm.
- citation_ngram_support: answer grounding / faithfulness lexical proxy —
  fraction of the prediction's word 3-grams that appear verbatim in its
  paired context doc (the "supported span" census used by attribution
  evals, e.g. Rashkin et al. 2023 AIS; Gao et al. 2023 ALCE).

Scale shapes: everything routes through token/3-gram inverted joins
(explode → groupBy → equi-join) — candidate generation is bounded by
shared tokens, never an all-pairs product; per-pair work is bounded by
doc length. No windows except a per-query bounded top-k rank.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import Window
from pyspark.sql import functions as F

from hpmr_spark.catalog import _t, register
from hpmr_spark.engine import materialize

# pred/gold pairing: even doc_id pairs with doc_id+1 (committed)
_PAIR_PRED = "doc_id % 2 = 0"


# ------------------------------------------------------------- token F1

_TF1_ORACLE = """
    WITH toks AS (
      SELECT doc_id, w, COUNT(*) AS c
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
            FROM documents)
      WHERE w <> '' GROUP BY doc_id, w
    ),
    lens AS (
      SELECT doc_id, CAST(SUM(c) AS BIGINT) AS len FROM toks GROUP BY doc_id
    ),
    ov AS (
      SELECT p.doc_id AS pred_id, g.doc_id AS gold_id,
             CAST(SUM(CASE WHEN p.c < g.c THEN p.c ELSE g.c END) AS BIGINT)
               AS overlap
      FROM toks p JOIN toks g
        ON g.doc_id = p.doc_id + 1 AND g.w = p.w
      WHERE p.doc_id % 2 = 0
      GROUP BY p.doc_id, g.doc_id
    )
    SELECT lp.doc_id AS pred_id, lp.doc_id + 1 AS gold_id,
           COALESCE(ov.overlap, 0) AS overlap,
           CAST(COALESCE(ov.overlap, 0) * 2000000
                // (lp.len + lg.len) AS BIGINT) AS f1_ppm
    FROM lens lp
      JOIN lens lg ON lg.doc_id = lp.doc_id + 1
      LEFT JOIN ov ON ov.pred_id = lp.doc_id
    WHERE lp.doc_id % 2 = 0
"""


@register("token_f1_paired_docs", _TF1_ORACLE)
def token_f1_paired_docs(spark, sf_dir):
    """SQuAD token F1 (Rajpurkar et al. 2016) for each (even doc_id,
    doc_id+1) prediction/gold pair: overlap = Σ_w min(cnt_p(w), cnt_g(w))
    (multiset intersection), and F1 = 2·P·R/(P+R) reduces EXACTLY to
    2·overlap/(len_p+len_g) — one integer ratio, no intermediate floats
    at all. Pairs with zero shared tokens emit 0 via the left join
    (DuckDB's empty-aggregate-NULL trap COALESCEd on both sides). Shape:
    one token-count agg + one equi-join on (adjacent id, token)."""
    d = _t(spark, sf_dir, "documents")
    # persisted: 3 consumers (lens, pred side, gold side) — no cross-tree
    # CSE in Catalyst, so without the persist each re-derives the explode
    # + count over the corpus.
    toks = materialize(
        d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .where(F.col("w") != "")
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).alias("c")),
        StorageLevel.DISK_ONLY,
    )
    lens = toks.groupBy("doc_id").agg(F.sum("c").cast("long").alias("len"))
    p = toks.where(F.expr(_PAIR_PRED)).select(
        F.col("doc_id").alias("pred_id"), "w", F.col("c").alias("cp")
    )
    g = toks.select(
        F.col("doc_id").alias("gid"), F.col("w").alias("gw"), F.col("c").alias("cg")
    )
    ov = (
        p.join(g, (F.col("gid") == F.col("pred_id") + 1) & (F.col("gw") == F.col("w")))
        .groupBy("pred_id")
        .agg(
            F.sum(F.expr("CASE WHEN cp < cg THEN cp ELSE cg END"))
            .cast("long")
            .alias("overlap")
        )
    )
    lp = lens.where(F.expr(_PAIR_PRED)).select(
        F.col("doc_id").alias("pred_id"), F.col("len").alias("lp")
    )
    lg = lens.select(
        (F.col("doc_id") - 1).alias("pred_id"), F.col("len").alias("lg")
    )
    return (
        lp.join(lg, "pred_id")
        .join(ov, "pred_id", "left")
        .select(
            "pred_id",
            (F.col("pred_id") + 1).alias("gold_id"),
            F.coalesce(F.col("overlap"), F.lit(0)).alias("overlap"),
            F.expr(
                "CAST(COALESCE(overlap, 0) * 2000000 div (lp + lg)"
                " AS BIGINT)"
            ).alias("f1_ppm"),
        )
    )


# ------------------------------------------------------ context recall@k

_CR_K = 5  # committed retrieval depth
_CR_QMOD = 50  # queries: doc_id % 50 = 0


_CR_ORACLE = f"""
    WITH toks AS (
      SELECT DISTINCT doc_id, lang, source, w
      FROM (SELECT doc_id, lang, source,
                   unnest(string_split(text, ' ')) AS w
            FROM documents)
      WHERE w <> ''
    ),
    q AS (SELECT DISTINCT doc_id AS qid, lang AS ql, source AS qsrc
          FROM documents WHERE doc_id % {_CR_QMOD} = 0),
    score AS (
      SELECT q.qid, t.doc_id AS did, CAST(COUNT(*) AS BIGINT) AS ov
      FROM q JOIN toks qt ON qt.doc_id = q.qid
             JOIN toks t ON t.w = qt.w AND t.lang = q.ql
                         AND t.doc_id <> q.qid
      GROUP BY q.qid, t.doc_id
    ),
    ranked AS (
      SELECT qid, did, ov,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY ov DESC, did) AS rn
      FROM score
    ),
    gold AS (
      SELECT q.qid, d.doc_id AS did
      FROM q JOIN documents d
        ON d.source = q.qsrc AND d.doc_id <> q.qid
    ),
    hit AS (
      SELECT g.qid, CAST(COUNT(r.did) AS BIGINT) AS n_hit
      FROM gold g LEFT JOIN ranked r
        ON r.qid = g.qid AND r.did = g.did AND r.rn <= {_CR_K}
      GROUP BY g.qid
    ),
    gn AS (SELECT qid, CAST(COUNT(*) AS BIGINT) AS n_gold
           FROM gold GROUP BY qid)
    SELECT gn.qid AS query_id, gn.n_gold, COALESCE(hit.n_hit, 0) AS n_hit,
           CAST(COALESCE(hit.n_hit, 0) * 1000000 // gn.n_gold AS BIGINT)
             AS recall_ppm
    FROM gn LEFT JOIN hit ON hit.qid = gn.qid
"""


@register("context_recall_topk", _CR_ORACLE)
def context_recall_topk(spark, sf_dir):
    """Retrieval context recall@{_CR_K}: every doc_id % {_CR_QMOD} = 0 doc
    is a query; the committed lexical retriever ranks same-lang docs by
    DISTINCT-token overlap (ties → doc_id ASC — a total order); the gold
    set is the query's same-source docs. recall@k = |top-k ∩ gold|/|gold|
    in exact ppm. Candidate generation is the token inverted-index join
    (bounded by shared tokens — never |q|×|corpus|); the per-query rank
    is a partitioned bounded top-k window."""
    d = _t(spark, sf_dir, "documents")
    # persisted: consumed by the query-term side and the corpus side of
    # the inverted-index join (no cross-tree CSE).
    toks = materialize(
        d.select(
            "doc_id",
            "lang",
            "source",
            F.explode(F.array_distinct(F.split("text", " "))).alias("w"),
        )
        .where(F.col("w") != "")
        .distinct(),
        StorageLevel.DISK_ONLY,
    )
    q = d.where(F.col("doc_id") % _CR_QMOD == 0).select(
        F.col("doc_id").alias("qid"),
        F.col("lang").alias("ql"),
        F.col("source").alias("qsrc"),
    )
    qt = q.join(toks.select(F.col("doc_id").alias("qid"), "w"), "qid")
    score = (
        qt.join(
            toks.select(F.col("doc_id").alias("did"), "lang", "w"),
            ["w"],
        )
        .where((F.col("lang") == F.col("ql")) & (F.col("did") != F.col("qid")))
        .groupBy("qid", "did")
        .agg(F.count(F.lit(1)).cast("long").alias("ov"))
    )
    ranked = score.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("qid").orderBy(F.desc("ov"), F.asc("did"))
        ),
    ).where(F.col("rn") <= _CR_K)
    gold = q.join(
        d.select(F.col("doc_id").alias("did"), F.col("source").alias("qsrc")),
        "qsrc",
    ).where(F.col("did") != F.col("qid"))
    gn = gold.groupBy("qid").agg(F.count(F.lit(1)).cast("long").alias("n_gold"))
    hit = (
        gold.join(ranked.select("qid", "did"), ["qid", "did"], "left_semi")
        .groupBy("qid")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hit"))
    )
    return (
        gn.join(hit, "qid", "left")
        .select(
            F.col("qid").alias("query_id"),
            "n_gold",
            F.coalesce(F.col("n_hit"), F.lit(0)).alias("n_hit"),
            F.expr(
                "CAST(COALESCE(n_hit, 0) * 1000000 div n_gold AS BIGINT)"
            ).alias("recall_ppm"),
        )
    )


context_recall_topk.__doc__ = context_recall_topk.__doc__.replace(
    "{_CR_K}", str(_CR_K)
).replace("{_CR_QMOD}", str(_CR_QMOD))


# -------------------------------------------------- citation 3-gram support

_CIT_ORACLE = """
    WITH toks AS (
      SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ),
    g3 AS (
      SELECT doc_id,
             list_transform(range(1, len(ws) - 1),
               i -> ws[i] || ' ' || ws[i + 1] || ' ' || ws[i + 2]) AS gs
      FROM toks
    ),
    pred AS (
      SELECT doc_id AS pred_id, unnest(gs) AS g
      FROM g3 WHERE doc_id % 2 = 0
    ),
    ctx AS (
      SELECT DISTINCT doc_id AS ctx_id, unnest(gs) AS g FROM g3
    ),
    sup AS (
      SELECT p.pred_id, CAST(COUNT(*) AS BIGINT) AS total,
             CAST(SUM(CASE WHEN c.g IS NULL THEN 0 ELSE 1 END) AS BIGINT)
               AS supported
      FROM pred p LEFT JOIN ctx c
        ON c.ctx_id = p.pred_id + 1 AND c.g = p.g
      GROUP BY p.pred_id
    )
    SELECT pred_id, pred_id + 1 AS ctx_id, total, supported,
           CAST(supported * 1000000 // total AS BIGINT) AS support_ppm
    FROM sup
"""


@register("citation_ngram_support", _CIT_ORACLE)
def citation_ngram_support(spark, sf_dir):
    """Answer-grounding lexical census (the attribution-eval proxy —
    Rashkin et al. 2023 AIS, Gao et al. 2023 ALCE): for each (even
    doc_id = answer, doc_id+1 = cited context) pair, the fraction of the
    answer's word 3-grams that occur VERBATIM anywhere in the context.
    3-grams via positional slicing of the token array (the descending-
    sequence guard: docs with < 3 tokens emit no grams and drop from the
    census — range/sequence are empty on both engines only with the
    size-3 floor on the sequence bound). Exact integer ppm."""
    d = _t(spark, sf_dir, "documents")
    g3 = d.select(
        "doc_id",
        F.expr(
            "CASE WHEN size(split(text, ' ')) >= 3 THEN"
            " transform(sequence(1, size(split(text, ' ')) - 2),"
            " i -> concat_ws(' ', element_at(split(text, ' '), i),"
            " element_at(split(text, ' '), i + 1),"
            " element_at(split(text, ' '), i + 2)))"
            " ELSE array() END"
        ).alias("gs"),
    )
    pred = g3.where(F.expr(_PAIR_PRED)).select(
        F.col("doc_id").alias("pred_id"), F.explode("gs").alias("g")
    )
    ctx = (
        g3.select(F.col("doc_id").alias("ctx_id"), F.explode("gs").alias("cg"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    return (
        pred.join(
            ctx,
            (F.col("ctx_id") == F.col("pred_id") + 1)
            & (F.col("cg") == F.col("g")),
            "left",
        )
        .groupBy("pred_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("total"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0)))
            .cast("long")
            .alias("supported"),
        )
        .select(
            "pred_id",
            (F.col("pred_id") + 1).alias("ctx_id"),
            "total",
            "supported",
            F.expr("CAST(supported * 1000000 div total AS BIGINT)").alias(
                "support_ppm"
            ),
        )
    )
