"""Round-9 fourth wave: corpus-LM scoring, diversity, and serving-memory
analytics (each a named published recipe absent from the registry):

- stupid_backoff_trigram_score: the Stupid Backoff distributed LM (Brants
  et al. 2007 — THE MapReduce language-model paper) scoring every doc
  held-out: each trigram is scored against leave-one-doc-out corpus
  counts (so backoff actually fires on doc-unique n-grams), with the
  committed alpha = 0.4 chain trigram -> bigram -> unigram.
- paged_kv_fragmentation: PagedAttention block-allocation accounting
  (Kwon et al. 2023, §4): per block-size, blocks needed and internal
  fragmentation vs contiguous allocation — the paper's headline memory
  metric, exact integers.
- word_burstiness_vmr: word burstiness as the variance-to-mean ratio of
  per-document counts (Church & Gale 1995) — VMR 1 = Poisson, higher =
  bursty; exact integer moments, int128 ppm cross-multiplication.
- self_bleu2_diversity: Self-BLEU-2 (Zhu et al. 2018, Texygen) linearized:
  each doc's clipped bigram precision against the REST of the corpus
  (clip = min(own, corpus - own)) — the corpus-reference form that avoids
  the O(n^2) pairwise definition while preserving the diversity signal.
- cross_entropy_lang_matrix: the language-transfer map — cross-entropy
  H(eval_lang, train_lang) of each language's MLE unigram distribution
  under every other language's add-1-smoothed unigram LM.

Integer discipline (CLAUDE.md): every LN term is floored to integer nanos
elementwise BEFORE summation; ppm ratios with possibly-int64-overflowing
numerators use the engine-split int128 idiom (Spark DECIMAL(38,0) div /
DuckDB HUGEINT //); negative-numerator floor divisions rely on the
verified truncate-toward-zero equivalence.

Reference parity: beyond the reference kv kernel
(/root/reference/src/hpmr.h:1-10) along the brief's LLM-pipeline axis.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hpmr_spark.catalog import _t, register
from hpmr_spark.functions.hashing import hash60, sql_hash60

# ---------------------------------------------------------------------------
# Stupid Backoff held-out trigram scoring.
# ---------------------------------------------------------------------------

# The committed score expression (identical double ops both engines —
# identifier spelling differs by binding site; LOO counts):
# c3/c12 if c3>0, else 0.4 * (c23/cu2 if c23>0 else 0.4 * cu3/tl).
# GREATEST(cu3, 1) is a committed guard for the (never-seen-here) case of a
# word unique to its doc; tl = T - n_tok(doc) > 0 always.
def _sb_score_expr(c3, c12, c23, cu2, cu3, tl):
    return (
        f"CASE WHEN {c3} > 0 THEN"
        f" CAST(FLOOR(LN(CAST({c3} AS DOUBLE) / CAST({c12} AS DOUBLE))"
        " * 1000000000) AS BIGINT)"
        f" WHEN {c23} > 0 THEN"
        f" CAST(FLOOR((LN(0.4) + LN(CAST({c23} AS DOUBLE)"
        f" / CAST({cu2} AS DOUBLE)))"
        " * 1000000000) AS BIGINT)"
        " ELSE"
        " CAST(FLOOR((LN(0.4) + LN(0.4)"
        f" + LN(CAST(GREATEST({cu3}, 1) AS DOUBLE) / CAST({tl} AS DOUBLE)))"
        " * 1000000000) AS BIGINT) END"
    )


_SB_SCORE = _sb_score_expr("c3", "c12", "c23", "cu2", "cu3", "tl")


def _sb_oracle() -> str:
    h = sql_hash60
    return f"""
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS toks,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents
    ),
    tot AS (SELECT CAST(SUM(n_tok) AS BIGINT) AS t FROM d),
    uni AS MATERIALIZED (
      SELECT doc_id, {h("CONCAT('u|', w)")} AS kh
      FROM (SELECT doc_id, unnest(toks) AS w FROM d)
    ),
    bi AS MATERIALIZED (
      SELECT doc_id,
             {h("CONCAT('b|', list_aggregate(toks[i : i + 1], 'string_agg', ' '))")}
               AS kh
      FROM (SELECT doc_id, toks,
                   unnest(generate_series(1, CAST(len(toks) AS BIGINT) - 1))
                     AS i
            FROM d)
    ),
    tri AS MATERIALIZED (
      SELECT doc_id, i,
             {h("CONCAT('t|', list_aggregate(toks[i : i + 2], 'string_agg', ' '))")}
               AS k3,
             {h("CONCAT('b|', list_aggregate(toks[i : i + 1], 'string_agg', ' '))")}
               AS k12,
             {h("CONCAT('b|', list_aggregate(toks[i + 1 : i + 2], 'string_agg', ' '))")}
               AS k23,
             {h("CONCAT('u|', toks[CAST(i + 1 AS BIGINT)])")} AS k2,
             {h("CONCAT('u|', toks[CAST(i + 2 AS BIGINT)])")} AS k1w3
      FROM (SELECT doc_id, toks,
                   unnest(generate_series(1, CAST(len(toks) AS BIGINT) - 2))
                     AS i
            FROM d)
    ),
    allg AS MATERIALIZED (
      SELECT doc_id, kh FROM uni
      UNION ALL SELECT doc_id, kh FROM bi
      UNION ALL SELECT doc_id, k3 AS kh FROM tri
    ),
    cc AS MATERIALIZED (
      SELECT kh, CAST(COUNT(*) AS BIGINT) AS c FROM allg GROUP BY kh
    ),
    dc AS MATERIALIZED (
      SELECT doc_id, kh, CAST(COUNT(*) AS BIGINT) AS cd
      FROM allg GROUP BY doc_id, kh
    ),
    stacked AS (
      SELECT doc_id, i, 't3' AS slot, k3 AS kh FROM tri
      UNION ALL SELECT doc_id, i, 'b12', k12 FROM tri
      UNION ALL SELECT doc_id, i, 'b23', k23 FROM tri
      UNION ALL SELECT doc_id, i, 'u2', k2 FROM tri
      UNION ALL SELECT doc_id, i, 'u3', k1w3 FROM tri
    ),
    looed AS (
      SELECT s.doc_id, s.i, s.slot, cc.c - COALESCE(dc.cd, 0) AS loo
      FROM stacked s
      JOIN cc ON cc.kh = s.kh
      LEFT JOIN dc ON dc.doc_id = s.doc_id AND dc.kh = s.kh
    ),
    occ AS (
      SELECT doc_id, i,
             MAX(CASE WHEN slot = 't3' THEN loo END) AS c3,
             MAX(CASE WHEN slot = 'b12' THEN loo END) AS c12,
             MAX(CASE WHEN slot = 'b23' THEN loo END) AS c23,
             MAX(CASE WHEN slot = 'u2' THEN loo END) AS cu2,
             MAX(CASE WHEN slot = 'u3' THEN loo END) AS cu3
      FROM looed GROUP BY doc_id, i
    ),
    scored AS (
      -- tl is projected in a plain derived table, NOT via LATERAL: DuckDB
      -- LATERAL cannot bind columns of a comma-joined subquery (CLAUDE.md
      -- round-9 binder-error fact)
      SELECT doc_id, {_SB_SCORE} AS s_nano
      FROM (SELECT occ.doc_id, occ.c3, occ.c12, occ.c23, occ.cu2, occ.cu3,
                   tot.t - d.n_tok AS tl
            FROM occ JOIN d ON d.doc_id = occ.doc_id, tot) q
    )
    SELECT s.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tri,
           CAST(SUM(s_nano) AS BIGINT) // CAST(COUNT(*) AS BIGINT)
             AS sb_mean_nano
    FROM scored s
    GROUP BY s.doc_id
    """


def stupid_backoff_df(docs):
    """DF-level Stupid-Backoff pipeline over a (doc_id, text) frame —
    the registered query's body; the round-9 1M-doc scale probe also ran
    it (COVERAGE.md round-9 scale notes).

    MAP-SIDE LOO design (round-9 probe: the first build stacked a 5x
    per-occurrence key table through two 290M-row sort-merge joins —
    700 s at 1M docs; this shape moved it to per-doc in-row gram counts,
    ONE corpus-count join on the distinct-gram frame, a per-doc LOO map,
    and a single map stage computing every trigram score in-row):

      1. garr: all tagged grams of a doc (u|/b|/t|), built in-row.
      2. dg: (doc, gram-hash, in-doc count) — array_distinct + in-row
         filter counts, explode. Shuffle volume = per-doc DISTINCT grams.
      3. cc: corpus counts = SUM(cd) over dg (one agg — occurrences
         reconstructed exactly from the in-doc counts).
      4. loo map per doc: map(kh -> c - cd) via map_from_entries.
      5. scores: one projection over (toks, m, tl) rebuilding the five
         position keys per trigram and folding the committed CASE score
         in-row (sequential integer fold — order-deterministic)."""
    from hpmr_spark.functions.hashing import spark_sql_hash60

    d = docs.select(
        "doc_id",
        F.split("text", " ").alias("toks"),
        F.size(F.split("text", " ")).cast("long").alias("n_tok"),
    )
    tot = d.agg(F.sum("n_tok").cast("long").alias("t"))
    garr = (
        "concat("
        " transform(toks, w -> concat('u|', w)),"
        " CASE WHEN size(toks) >= 2 THEN"
        "  transform(sequence(1, size(toks) - 1),"
        "   i -> concat('b|', array_join(slice(toks, i, 2), ' ')))"
        "  ELSE array() END,"
        " CASE WHEN size(toks) >= 3 THEN"
        "  transform(sequence(1, size(toks) - 2),"
        "   i -> concat('t|', array_join(slice(toks, i, 3), ' ')))"
        "  ELSE array() END)"
    )
    g1 = d.select("doc_id", "toks", "n_tok", F.expr(garr).alias("garr"))
    # in-doc counts by sorted-hash run-length (O(n log n) on longs): the
    # first form counted via filter(garr, x = g) per distinct gram —
    # O(distinct * grams) STRING equality, the dominant cost at 1M docs
    dg = (
        g1.select(
            "doc_id",
            F.expr(
                f"array_sort(transform(garr, g -> {spark_sql_hash60('g')}))"
            ).alias("ha"),
        )
        .select(
            "doc_id",
            "ha",
            F.expr(
                "filter(sequence(1, size(ha)), i ->"
                " i = 1 OR element_at(ha, i) != element_at(ha, i - 1))"
            ).alias("bnd"),
        )
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(bnd)), j -> struct("
                    " element_at(ha, element_at(bnd, j)) AS kh,"
                    " CAST((CASE WHEN j < size(bnd)"
                    "  THEN element_at(bnd, j + 1)"
                    "  ELSE size(ha) + 1 END)"
                    "  - element_at(bnd, j) AS BIGINT) AS cd))"
                )
            ).alias("e"),
        )
        .select("doc_id", "e.kh", "e.cd")
    )
    cc = dg.groupBy("kh").agg(F.sum("cd").cast("long").alias("c"))
    loo_map = (
        dg.join(cc.hint("merge"), "kh")
        .groupBy("doc_id")
        .agg(
            F.map_from_entries(
                F.collect_list(
                    F.struct(
                        F.col("kh"), (F.col("c") - F.col("cd")).alias("loo")
                    )
                )
            ).alias("m")
        )
    )
    key = {
        "c3": "concat('t|', array_join(slice(toks, i, 3), ' '))",
        "c12": "concat('b|', array_join(slice(toks, i, 2), ' '))",
        "c23": "concat('b|', array_join(slice(toks, i + 1, 2), ' '))",
        "cu2": "concat('u|', toks[i])",
        "cu3": "concat('u|', toks[i + 1])",
    }
    fields = ", ".join(
        f"element_at(m, {spark_sql_hash60(expr)}) AS {name}"
        for name, expr in key.items()
    )
    score = _sb_score_expr("s.c3", "s.c12", "s.c23", "s.cu2", "s.cu3", "tl")
    scores = (
        "transform(transform(sequence(1, size(toks) - 2),"
        f" i -> struct({fields})),"
        f" s -> {score})"
    )
    return (
        g1.where(F.col("n_tok") >= 3)
        .join(loo_map.hint("merge"), "doc_id")
        .crossJoin(F.broadcast(tot))
        .withColumn("tl", F.col("t") - F.col("n_tok"))
        .select(
            "doc_id",
            (F.col("n_tok") - 2).cast("long").alias("n_tri"),
            F.expr(
                f"aggregate({scores}, 0L, (a, x) -> a + x)"
                " div (size(toks) - 2)"
            ).alias("sb_mean_nano"),
        )
    )


@register("stupid_backoff_trigram_score", _sb_oracle())
def stupid_backoff_trigram_score(spark, sf_dir):
    """Stupid Backoff (Brants et al. 2007) held-out scoring: every trigram
    occurrence is scored S = c3/c12, backing off (alpha = 0.4 per level)
    to the bigram then unigram estimate — against LEAVE-ONE-DOC-OUT corpus
    counts, so doc-unique n-grams genuinely exercise the backoff chain
    (scored on its own counts every c3 >= 1 and the recursion is dead
    code). Counts for all three gram orders live in ONE kind-tagged
    hash-keyed table (the encoding-advisor stacking rewrite: 2 count joins
    + 1 pivot regroup instead of 10 per-order joins); per-trigram LN
    scores are floored to nanos elementwise, per-doc mean by truncating
    division. Scale shape: gram explodes are linear; every join shuffles
    on committed 60-bit hashes; merge-pinned corpus-frame joins (r7
    rule)."""
    return stupid_backoff_df(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# PagedAttention KV-block fragmentation accounting.
# ---------------------------------------------------------------------------

_KV_BLOCK_SIZES = (8, 16, 32, 64)  # committed block-size grid (tokens)


_PAGED_ORACLE = f"""
    WITH d AS (
      SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents
    ),
    a AS (
      SELECT CAST(g.bs AS BIGINT) AS block_size, n_tok,
             (n_tok + g.bs - 1) // g.bs AS blocks
      FROM d CROSS JOIN (SELECT unnest([{', '.join(str(b) for b in _KV_BLOCK_SIZES)}]) AS bs) g
    )
    SELECT block_size,
           CAST(COUNT(*) AS BIGINT) AS n_seqs,
           CAST(SUM(blocks) AS BIGINT) AS total_blocks,
           CAST(SUM(blocks * block_size - n_tok) AS BIGINT) AS frag_tok,
           CAST(SUM(blocks * block_size - n_tok) AS BIGINT) * 1000000
             // (CAST(SUM(blocks) AS BIGINT) * block_size) AS frag_ppm
    FROM a
    GROUP BY block_size
"""


@register("paged_kv_fragmentation", _PAGED_ORACLE)
def paged_kv_fragmentation(spark, sf_dir):
    """PagedAttention block accounting (Kwon et al. 2023, §4): with the KV
    cache paged into fixed-size token blocks, each sequence of length L
    needs ceil(L/bs) blocks and wastes blocks*bs - L slots to internal
    fragmentation (the only waste paging leaves; contiguous pre-allocation
    wastes max_len - L instead). Emits, per committed block size: sequence
    count, total blocks, fragmented tokens, and fragmentation ppm of
    allocated slots — all exact integers. Scale shape: one projection,
    a 4x bounded grid explode, one 4-row agg."""
    d = _t(spark, sf_dir, "documents").select(
        F.size(F.split("text", " ")).cast("long").alias("n_tok")
    )
    a = d.select(
        "n_tok",
        F.explode(
            F.array(*[F.lit(b).cast("long") for b in _KV_BLOCK_SIZES])
        ).alias("block_size"),
    ).select(
        "block_size",
        "n_tok",
        F.expr("(n_tok + block_size - 1) div block_size").alias("blocks"),
    )
    return a.groupBy("block_size").agg(
        F.count(F.lit(1)).cast("long").alias("n_seqs"),
        F.sum("blocks").cast("long").alias("total_blocks"),
        F.sum(F.col("blocks") * F.col("block_size") - F.col("n_tok"))
        .cast("long")
        .alias("frag_tok"),
        F.expr(
            "CAST(SUM(blocks * block_size - n_tok) AS BIGINT) * 1000000"
            " div (CAST(SUM(blocks) AS BIGINT) * block_size)"
        ).alias("frag_ppm"),
    )


# ---------------------------------------------------------------------------
# Word burstiness (variance-to-mean ratio of per-doc counts).
# ---------------------------------------------------------------------------

_BURST_ORACLE = """
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM d),
    pc AS (
      SELECT w, doc_id, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT doc_id, unnest(toks) AS w FROM d)
      GROUP BY w, doc_id
    )
    SELECT w,
           CAST(COUNT(*) AS BIGINT) AS n_docs_with,
           CAST(SUM(c) AS BIGINT) AS total_cnt,
           CAST(CAST(nd.n * CAST(SUM(c * c) AS BIGINT)
                     - CAST(SUM(c) AS BIGINT) * CAST(SUM(c) AS BIGINT)
                     AS HUGEINT) * 1000000
                // CAST(nd.n * CAST(SUM(c) AS BIGINT) AS HUGEINT)
                AS BIGINT) AS vmr_ppm
    FROM pc, nd
    GROUP BY w, nd.n
"""


@register("word_burstiness_vmr", _BURST_ORACLE)
def word_burstiness_vmr(spark, sf_dir):
    """Word burstiness (Church & Gale 1995): the variance-to-mean ratio of
    a word's per-document count over ALL documents (absent docs count 0 —
    they contribute nothing to the sums, so the exact integer moments are
    computed over present docs only and N enters the closed form).
    VMR = (N*sum(c^2) - sum(c)^2) / (N*sum(c)), 1e6-scaled with the
    int128 cross-multiplication idiom (the x1e6 numerator brushes int64 at
    corpus scale). VMR ~ 1 = Poisson scatter; content words run bursty.
    Scale shape: one (word, doc) agg, one per-word agg, a 1-row count
    broadcast."""
    d = _t(spark, sf_dir, "documents")
    nd = d.agg(F.count(F.lit(1)).cast("long").alias("n"))
    pc = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("w", "doc_id")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    return (
        pc.crossJoin(F.broadcast(nd))
        .groupBy("w", "n")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs_with"),
            F.sum("c").cast("long").alias("total_cnt"),
            F.expr(
                "CAST(CAST(n * CAST(SUM(c * c) AS BIGINT)"
                " - CAST(SUM(c) AS BIGINT) * CAST(SUM(c) AS BIGINT)"
                " AS DECIMAL(38,0)) * 1000000"
                " div CAST(n * CAST(SUM(c) AS BIGINT) AS DECIMAL(38,0))"
                " AS BIGINT)"
            ).alias("vmr_ppm"),
        )
        .drop("n")
    )


# ---------------------------------------------------------------------------
# Self-BLEU-2 diversity (corpus-reference clipped bigram precision).
# ---------------------------------------------------------------------------

_SELF_BLEU_ORACLE = f"""
    WITH d AS (
      SELECT doc_id, lang, string_split(text, ' ') AS toks,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents
    ),
    bg AS MATERIALIZED (
      SELECT doc_id, lang,
             {sql_hash60("list_aggregate(toks[i : i + 1], 'string_agg', ' ')")}
               AS h
      FROM (SELECT doc_id, lang, toks,
                   unnest(generate_series(1, CAST(len(toks) AS BIGINT) - 1))
                     AS i
            FROM d)
    ),
    dcnt AS MATERIALIZED (
      SELECT doc_id, ANY_VALUE(lang) AS lang, h,
             CAST(COUNT(*) AS BIGINT) AS cd
      FROM bg GROUP BY doc_id, h
    ),
    ccnt AS MATERIALIZED (
      SELECT h, CAST(COUNT(*) AS BIGINT) AS c FROM bg GROUP BY h
    )
    SELECT doc_id, ANY_VALUE(dcnt.lang) AS lang,
           CAST(SUM(cd) AS BIGINT) AS n_bigrams,
           CAST(SUM(LEAST(cd, c - cd)) AS BIGINT) AS clipped_hits,
           CAST(SUM(LEAST(cd, c - cd)) AS BIGINT) * 1000000
             // CAST(SUM(cd) AS BIGINT) AS selfbleu2_ppm
    FROM dcnt JOIN ccnt USING (h)
    GROUP BY doc_id
"""


@register("self_bleu2_diversity", _SELF_BLEU_ORACLE)
def self_bleu2_diversity(spark, sf_dir):
    """Self-BLEU-2 diversity (Zhu et al. 2018): each doc's modified
    (clipped) bigram precision against the rest of the corpus as the
    pooled reference — clip = min(own_count, corpus_count - own_count),
    the linear corpus-reference form of the O(n^2) pairwise original.
    High ppm = the doc's bigrams are everywhere (low diversity). Exact
    integers end to end. Scale shape: one bigram explode, per-doc and
    corpus count aggs, one merge-pinned hash join, one per-doc agg."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.split("text", " ").alias("toks"),
    )
    bg = d.select(
        "doc_id",
        "lang",
        F.explode(
            F.expr(
                "CASE WHEN size(toks) >= 2 THEN"
                " transform(sequence(1, size(toks) - 1),"
                " i -> array_join(slice(toks, i, 2), ' '))"
                " ELSE array() END"
            )
        ).alias("g"),
    ).select("doc_id", "lang", hash60(F.col("g")).alias("h"))
    dcnt = bg.groupBy("doc_id", "h").agg(
        F.any_value("lang").alias("lang"),
        F.count(F.lit(1)).cast("long").alias("cd"),
    )
    ccnt = bg.groupBy("h").agg(F.count(F.lit(1)).cast("long").alias("c"))
    return (
        dcnt.join(ccnt.hint("merge"), "h")
        .groupBy("doc_id")
        .agg(
            F.any_value("lang").alias("lang"),
            F.sum("cd").cast("long").alias("n_bigrams"),
            F.sum(F.least("cd", F.col("c") - F.col("cd")))
            .cast("long")
            .alias("clipped_hits"),
            F.expr(
                "CAST(SUM(LEAST(cd, c - cd)) AS BIGINT) * 1000000"
                " div CAST(SUM(cd) AS BIGINT)"
            ).alias("selfbleu2_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# Cross-entropy language-transfer matrix.
# ---------------------------------------------------------------------------

_CE_ORACLE = """
    WITH toks AS MATERIALIZED (
      SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT lang, unnest(string_split(text, ' ')) AS w
            FROM documents)
      GROUP BY lang, w
    ),
    vv AS (SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS v FROM toks),
    lt AS MATERIALIZED (
      SELECT lang, CAST(SUM(c) AS BIGINT) AS n FROM toks GROUP BY lang
    ),
    pairs AS (
      SELECT e.lang AS eval_lang, tn.lang AS train_lang,
             e.w, e.c AS c_e, en.n AS n_e,
             COALESCE(tc.c, 0) AS c_t, tn.n AS n_t, vv.v
      FROM toks e
      JOIN lt en ON en.lang = e.lang
      CROSS JOIN lt tn
      LEFT JOIN toks tc ON tc.lang = tn.lang AND tc.w = e.w,
      vv
    )
    SELECT eval_lang, train_lang,
           CAST(0 - SUM(CAST(FLOOR(
             CAST(c_e AS DOUBLE) / CAST(n_e AS DOUBLE)
             * LN(CAST(c_t + 1 AS DOUBLE) / CAST(n_t + v AS DOUBLE))
             * 1000000000) AS BIGINT)) AS BIGINT) AS ce_nano
    FROM pairs
    GROUP BY eval_lang, train_lang
"""


@register("cross_entropy_lang_matrix", _CE_ORACLE)
def cross_entropy_lang_matrix(spark, sf_dir):
    """The language-transfer map: cross-entropy H(p_eval, q_train) =
    -sum_w p_eval(w) * ln(q_train(w)) with p_eval the MLE unigram
    distribution of the eval language and q_train the add-1-smoothed
    unigram LM of the train language (smoothing keeps every ln finite;
    words absent from eval contribute exactly 0 and are skipped). The
    diagonal is each language's entropy-plus-smoothing-penalty; off-
    diagonal gaps rank transfer difficulty — the standard first look
    before mixture weighting. Every term is floored to nanos elementwise
    before the sum. Scale shape: one (lang, word) agg; everything after
    is O(|langs|^2 x |vocab|), corpus-size-free."""
    d = _t(spark, sf_dir, "documents")
    toks = (
        d.select("lang", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("lang", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    vv = toks.agg(F.countDistinct("w").cast("long").alias("v"))
    lt = toks.groupBy("lang").agg(F.sum("c").cast("long").alias("n"))
    e = toks.select(
        F.col("lang").alias("eval_lang"), "w", F.col("c").alias("c_e")
    ).join(
        F.broadcast(lt.select(F.col("lang").alias("eval_lang"),
                              F.col("n").alias("n_e"))),
        "eval_lang",
    )
    t = lt.select(F.col("lang").alias("train_lang"), F.col("n").alias("n_t"))
    tc = toks.select(
        F.col("lang").alias("train_lang"), "w", F.col("c").alias("c_t")
    )
    pairs = (
        e.crossJoin(F.broadcast(t))
        # tc is (langs x vocab)-bounded, not corpus-scale: broadcast is safe
        .join(F.broadcast(tc), ["train_lang", "w"], "left")
        .crossJoin(F.broadcast(vv))
        .select(
            "eval_lang",
            "train_lang",
            "c_e",
            "n_e",
            F.coalesce("c_t", F.lit(0)).alias("c_t"),
            "n_t",
            "v",
        )
    )
    return pairs.groupBy("eval_lang", "train_lang").agg(
        F.expr(
            "CAST(0 - SUM(CAST(FLOOR("
            "CAST(c_e AS DOUBLE) / CAST(n_e AS DOUBLE)"
            " * LN(CAST(c_t + 1 AS DOUBLE) / CAST(n_t + v AS DOUBLE))"
            " * 1000000000) AS BIGINT)) AS BIGINT)"
        ).alias("ce_nano")
    )
