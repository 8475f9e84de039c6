"""Round-12 wave 4: retrieval-serving operators — the index-side pruning
and drafting arithmetic a serving stack audits offline:

- wand_upper_bound_prune: WAND / MaxScore pruning census (Broder et al.
  CIKM 2003): per-term score upper bounds vs the exact top-k threshold θ —
  how many scored candidates a WAND traversal could provably skip.
- bigram_greedy_draft_accept: n-gram drafting acceptance census (the
  prompt-lookup / REST speculative-decoding family, He et al. 2024): the
  corpus bigram argmax as the draft model, acceptance = P(draft token =
  actual next token), per lang.
- simrank_bipartite_iter1: SimRank first iteration (Jeh & Widom KDD 2002)
  on the part↔order bipartite graph — s₁(a,b) = C·|I_a∩I_b|/(|I_a||I_b|)
  in exact ppm (the closed form of iteration 1 from s₀ = identity).

Disciplines: LN parity for idf (elementwise floor to nanos BEFORE sums);
argmax via MIN over a (-count, token) struct (cross-engine struct-min
fact, CLAUDE.md r9); all ratios integer cross-multiplied; top-k under
total orders. Scale: inverted-index joins bounded by shared terms;
SimRank pairs bounded per order (≤7 lines); no global windows.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import Window
from pyspark.sql import functions as F

from hpmr_spark.catalog import _t, register
from hpmr_spark.engine import materialize
from hpmr_spark.functions.hashing import spark_sql_hash60, sql_hash60

# ------------------------------------------------------------------ WAND

_WAND_K = 3  # exact top-k depth defining θ (committed)
_WAND_QMOD = 100  # query docs: doc_id % 100 = 0
_WAND_NTERM = 3  # query terms: the 3 lowest-hash60 distinct tokens


def _wand_oracle() -> str:
    qh = sql_hash60("w")
    return f"""
    WITH toks AS (
      SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
            FROM documents)
      WHERE w <> '' GROUP BY doc_id, w
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nd FROM documents),
    idf AS (
      SELECT w, CAST(FLOOR(ln(CAST(nd AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))
               * 1000000000.0e0) AS BIGINT) AS idf_nano
      FROM toks, n GROUP BY w, nd
    ),
    ub AS (
      SELECT t.w, CAST(MAX(t.tf * i.idf_nano) AS BIGINT) AS ub_nano
      FROM toks t JOIN idf i ON t.w = i.w GROUP BY t.w
    ),
    qterm AS (
      SELECT doc_id AS qid, w FROM (
        SELECT doc_id, w,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY {qh}, w) AS rn
        FROM toks WHERE doc_id % {_WAND_QMOD} = 0
      ) WHERE rn <= {_WAND_NTERM}
    ),
    cand AS (
      SELECT q.qid, t.doc_id AS did,
             CAST(SUM(t.tf * i.idf_nano) AS BIGINT) AS full_nano,
             CAST(SUM(u.ub_nano) AS BIGINT) AS ubsum_nano
      FROM qterm q
        JOIN toks t ON t.w = q.w
        JOIN idf i ON i.w = q.w
        JOIN ub u ON u.w = q.w
      GROUP BY q.qid, t.doc_id
    ),
    theta AS (
      SELECT qid, CAST(MIN(full_nano) AS BIGINT) AS theta_nano FROM (
        SELECT qid, full_nano,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY full_nano DESC, did) AS rn
        FROM cand
      ) WHERE rn <= {_WAND_K} GROUP BY qid
    )
    SELECT c.qid AS query_id,
           CAST(COUNT(*) AS BIGINT) AS n_candidates,
           CAST(MAX(th.theta_nano) AS BIGINT) AS theta_nano,
           CAST(SUM(CASE WHEN c.ubsum_nano < th.theta_nano THEN 1 ELSE 0 END)
             AS BIGINT) AS n_prunable,
           CAST(CAST(SUM(CASE WHEN c.ubsum_nano < th.theta_nano
                     THEN 1 ELSE 0 END) AS BIGINT) * 1000000
             // CAST(COUNT(*) AS BIGINT) AS BIGINT) AS prune_ppm
    FROM cand c JOIN theta th ON th.qid = c.qid
    GROUP BY c.qid
"""


@register("wand_upper_bound_prune", _wand_oracle())
def wand_upper_bound_prune(spark, sf_dir):
    """WAND pruning-power census (Broder et al. 2003): tf·idf term scores
    in integer nanos (idf = ⌊ln(N/df)·1e9⌋ per term — the elementwise
    LN-parity floor), per-term upper bounds UB(t) = max_d score(t,d),
    query = the 3 lowest-committed-hash distinct tokens of each
    doc_id % {_WAND_QMOD} = 0 doc. θ = the exact k-th best candidate
    score (k={_WAND_K}, (score DESC, doc) total order); a candidate whose
    Σ UB over its matched query terms is < θ is provably skippable
    without scoring. Emits the per-query prunable fraction — the number
    WAND's block-max variants improve on. Inverted-index joins only;
    candidates bounded by postings of 3 terms."""
    d = _t(spark, sf_dir, "documents")
    # persisted postings frame: 2 direct consumers (idf, scored-side) +
    # the query-term subtree — no cross-tree CSE, so the un-persisted form
    # re-derived the corpus explode per consumer (12 shuffles).
    toks = materialize(
        d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .where(F.col("w") != "")
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("tf")),
        StorageLevel.DISK_ONLY,
    )
    nd = d.agg(F.count(F.lit(1)).cast("long").alias("nd"))
    idf = (
        toks.groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
        .crossJoin(F.broadcast(nd))
        .select(
            "w",
            F.expr(
                "CAST(FLOOR(ln(CAST(nd AS DOUBLE) / CAST(df AS DOUBLE))"
                " * 1000000000.0e0) AS BIGINT)"
            ).alias("idf_nano"),
        )
    )
    # persisted: scored feeds the per-term upper bounds AND the candidate
    # scoring join
    scored = materialize(toks.join(idf, "w").select(
        "doc_id", "w", (F.col("tf") * F.col("idf_nano")).alias("s_nano")
    ), StorageLevel.DISK_ONLY)
    ub = scored.groupBy("w").agg(F.max("s_nano").cast("long").alias("ub_nano"))
    qterm = (
        toks.where(F.col("doc_id") % _WAND_QMOD == 0)
        .select(
            F.col("doc_id").alias("qid"),
            "w",
            F.expr(spark_sql_hash60("w")).alias("h"),
        )
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("qid").orderBy("h", "w")
            ),
        )
        .where(F.col("rn") <= _WAND_NTERM)
        .select("qid", "w")
    )
    cand = (
        qterm.join(scored.withColumnRenamed("doc_id", "did"), "w")
        .join(ub, "w")
        .groupBy("qid", "did")
        .agg(
            F.sum("s_nano").cast("long").alias("full_nano"),
            F.sum("ub_nano").cast("long").alias("ubsum_nano"),
        )
    )
    theta = (
        cand.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("qid").orderBy(
                    F.desc("full_nano"), F.asc("did")
                )
            ),
        )
        .where(F.col("rn") <= _WAND_K)
        .groupBy("qid")
        .agg(F.min("full_nano").cast("long").alias("theta_nano"))
    )
    return (
        cand.join(theta, "qid")
        .groupBy(F.col("qid").alias("query_id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_candidates"),
            F.max("theta_nano").cast("long").alias("theta_nano"),
            F.sum(
                F.expr("CASE WHEN ubsum_nano < theta_nano THEN 1 ELSE 0 END")
            )
            .cast("long")
            .alias("n_prunable"),
            F.expr(
                "CAST(CAST(SUM(CASE WHEN ubsum_nano < theta_nano THEN 1"
                " ELSE 0 END) AS BIGINT) * 1000000"
                " div CAST(COUNT(1) AS BIGINT) AS BIGINT)"
            ).alias("prune_ppm"),
        )
    )


wand_upper_bound_prune.__doc__ = wand_upper_bound_prune.__doc__.replace(
    "{_WAND_QMOD}", str(_WAND_QMOD)
).replace("{_WAND_K}", str(_WAND_K))


# --------------------------------------------------- bigram draft accept

_DRAFT_ORACLE = """
    WITH toks AS (
      SELECT doc_id, lang, string_split(text, ' ') AS ws FROM documents
    ),
    pairs AS (
      SELECT doc_id, lang, ws[i] AS w, ws[i + 1] AS nxt
      FROM (SELECT doc_id, lang, ws, unnest(range(1, len(ws))) AS i
            FROM toks)
    ),
    bg AS (
      SELECT w, nxt, CAST(COUNT(*) AS BIGINT) AS c
      FROM pairs GROUP BY w, nxt
    ),
    draft AS (
      SELECT w, MIN({'nc': 0 - c, 'nx': nxt}) AS m FROM bg GROUP BY w
    )
    SELECT p.lang,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CASE WHEN d.m.nx = p.nxt THEN 1 ELSE 0 END) AS BIGINT)
             AS n_accept,
           CAST(CAST(SUM(CASE WHEN d.m.nx = p.nxt THEN 1 ELSE 0 END)
                 AS BIGINT) * 1000000 // CAST(COUNT(*) AS BIGINT) AS BIGINT)
             AS accept_ppm
    FROM pairs p JOIN draft d ON d.w = p.w
    GROUP BY p.lang
"""


@register("bigram_greedy_draft_accept", _DRAFT_ORACLE)
def bigram_greedy_draft_accept(spark, sf_dir):
    """N-gram speculative-drafting acceptance census (prompt-lookup /
    REST — He et al. 2024): the corpus bigram table is the draft model —
    draft(w) = argmax_{w'} count(w→w') with the (count DESC, w' ASC)
    total tie-break (MIN over a (-count, next) struct — the cross-engine
    struct-min identity). Acceptance rate per lang = P(draft(w_i) =
    w_{i+1}) over every adjacent token pair — the offline upper bound on
    1-token greedy drafting. Exact integers end to end."""
    d = _t(spark, sf_dir, "documents")
    pairs = d.select(
        "doc_id",
        "lang",
        F.expr(
            "CASE WHEN size(split(text, ' ')) >= 2 THEN"
            " transform(sequence(1, size(split(text, ' ')) - 1),"
            " i -> named_struct("
            "'w', element_at(split(text, ' '), i),"
            " 'nxt', element_at(split(text, ' '), i + 1)))"
            " ELSE array() END"
        ).alias("ps"),
    ).select("doc_id", "lang", F.explode("ps").alias("p")).select(
        "doc_id", "lang", F.col("p.w").alias("w"), F.col("p.nxt").alias("nxt")
    )
    bg = pairs.groupBy("w", "nxt").agg(F.count(F.lit(1)).cast("long").alias("c"))
    draft = bg.groupBy("w").agg(
        F.min(F.expr("named_struct('nc', 0 - c, 'nx', nxt)")).alias("m")
    )
    return (
        pairs.join(draft, "w")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum(F.expr("CASE WHEN m.nx = nxt THEN 1 ELSE 0 END"))
            .cast("long")
            .alias("n_accept"),
            F.expr(
                "CAST(CAST(SUM(CASE WHEN m.nx = nxt THEN 1 ELSE 0 END)"
                " AS BIGINT) * 1000000 div CAST(COUNT(1) AS BIGINT)"
                " AS BIGINT)"
            ).alias("accept_ppm"),
        )
    )


# ------------------------------------------------------ SimRank iter 1

_SR_C_NUM = 8  # C = 0.8 committed as the exact rational 8/10
_SR_TOPK = 50


_SR_ORACLE = f"""
    WITH pe AS (
      SELECT DISTINCT l_partkey AS p, l_orderkey AS o FROM lineitem
    ),
    deg AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS d FROM pe GROUP BY p),
    common AS (
      SELECT a.p AS pa, b.p AS pb, CAST(COUNT(*) AS BIGINT) AS c
      FROM pe a JOIN pe b ON a.o = b.o AND a.p < b.p
      GROUP BY a.p, b.p
    ),
    s AS (
      SELECT cm.pa, cm.pb, cm.c, da.d AS da, db.d AS db,
             CAST(cm.c * {_SR_C_NUM} * 100000 // (da.d * db.d) AS BIGINT)
               AS simrank_ppm
      FROM common cm
        JOIN deg da ON da.p = cm.pa
        JOIN deg db ON db.p = cm.pb
    )
    SELECT pa, pb, c AS n_common, simrank_ppm
    FROM s
    ORDER BY simrank_ppm DESC, pa, pb
    LIMIT {_SR_TOPK}
"""


@register("simrank_bipartite_iter1", _SR_ORACLE)
def simrank_bipartite_iter1(spark, sf_dir):
    """SimRank first iteration (Jeh & Widom KDD 2002, C=0.8) on the
    part↔order bipartite graph: from s₀ = identity, iteration 1 has the
    CLOSED FORM s₁(a,b) = C·|I_a ∩ I_b| / (|I_a|·|I_b|) — common orders
    over the in-degree product. Exact rational ppm: c·8·10⁵ div (dₐ·d_b)
    (products bounded far inside int64 by per-part order degrees). Pair
    generation is the per-order self-join (≤7 lines/order ⟹ ≤21 pairs —
    linear in facts, the adamic-adar bound); top-{_SR_TOPK} under the
    total order (ppm DESC, pa, pb)."""
    li = _t(spark, sf_dir, "lineitem")
    pe = li.select(
        F.col("l_partkey").alias("p"), F.col("l_orderkey").alias("o")
    ).distinct()
    deg = pe.groupBy("p").agg(F.count(F.lit(1)).cast("long").alias("d"))
    a = pe.select(F.col("p").alias("pa"), "o")
    b = pe.select(F.col("p").alias("pb"), "o")
    common = (
        a.join(b, "o")
        .where(F.col("pa") < F.col("pb"))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    s = (
        common.join(deg.select(F.col("p").alias("pa"), F.col("d").alias("da")), "pa")
        .join(deg.select(F.col("p").alias("pb"), F.col("d").alias("db")), "pb")
        .select(
            "pa",
            "pb",
            "n_common",
            F.expr(
                f"CAST(n_common * {_SR_C_NUM} * 100000 div (da * db)"
                " AS BIGINT)"
            ).alias("simrank_ppm"),
        )
    )
    return s.orderBy(F.desc("simrank_ppm"), "pa", "pb").limit(_SR_TOPK)


simrank_bipartite_iter1.__doc__ = simrank_bipartite_iter1.__doc__.replace(
    "{_SR_TOPK}", str(_SR_TOPK)
)
