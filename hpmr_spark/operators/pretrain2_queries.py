"""Round-9 pretraining-pipeline batch: the standard corpus-curation recipes
still missing after rounds 1-8 (each one a named step in a published
pipeline, none reducible to an existing registry row):

- gopher_repetition_fractions: the Gopher repetition filters (Rae et al.
  2021, §A1.1) — fraction of characters inside the most-frequent
  {2,3,4}-gram, plus the duplicated-5-gram coverage fraction with
  overlap-safe interval union (token analog; this corpus is single-line,
  single-space — the documented segment convention).
- ccnet_ppl_buckets: the CCNet head/middle/tail perplexity terciles
  (Wenzek et al. 2020) — per-language unigram-NLL tercile assignment, the
  step BETWEEN scoring (doc_perplexity_avg_nll) and filtering.
- data_repeats_budget: epochs-per-source allocation under a token budget
  with diminishing returns on repeats (Muennighoff et al. 2023, "Scaling
  Data-Constrained Language Models") — halving-utility integer analog.
- contamination_span_profile: span-level decontamination report — longest
  contiguous contaminated region per document via interval union over
  hit 5-grams (extends contamination_check_5gram's count-only view the
  way Brown et al. 2020 Appendix C removes CONTIGUOUS contaminated spans).
- bitext_margin_mining: margin-based parallel-pair mining (Artetxe &
  Schwenk 2019) — mutual top-1 by ratio-margin score over two corpus
  halves; the exact brute-force baseline (documented O(n_A*n_B), like
  similarity_bruteforce_pairs); the 100 TB path routes the same scoring
  through the IVF shortlist (similarity/ivfpq.py).

Integer discipline (CLAUDE.md): counts/positions/chars are exact BIGINTs;
every ln is floored to integer micro-nats elementwise BEFORE summation;
cosine/margin scores are one-final-double expressions over exact integer
moments (identical SQL text both engines); floor divisions are
non-negative or engine-paired (Spark `div` ≡ DuckDB `//`, both truncate).

Reference parity: beyond the reference kv kernel
(/root/reference/src/hpmr.h:1-10) along the brief's LLM-pipeline axis.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from hpmr_spark.catalog import _t, register
from hpmr_spark.engine import materialize
from hpmr_spark.functions.hashing import hash60, sql_hash60

# ---------------------------------------------------------------------------
# Gopher repetition fractions: top-{2,3,4}-gram char share + dup-5-gram
# coverage (interval union over token positions).
# ---------------------------------------------------------------------------

_GOPHER_REP_ORACLE_TMPL = """
    WITH d AS (
      SELECT doc_id, text, string_split(text, ' ') AS toks,
             CAST(len(text) AS BIGINT) AS n_chars,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents
    ),
    grams AS (
      SELECT doc_id, n, i,
             list_aggregate(toks[i : i + n - 1], 'string_agg', ' ') AS gram
      FROM (
        SELECT d.doc_id, d.toks, n.n,
               unnest(generate_series(1, CAST(len(d.toks) AS BIGINT)
                                         - n.n + 1)) AS i
        FROM d CROSS JOIN (SELECT unnest([2, 3, 4]) AS n) n
      )
    ),
    cnt AS (
      -- shuffle key is the committed md5-60 of the gram (+ its length),
      -- never the string: the 10M probe exhausted spill disk on string
      -- keys; tie-break commitment is (count DESC, hash ASC)
      SELECT doc_id, n, h, l, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT doc_id, n, HASH60GRAM AS h,
                   CAST(len(gram) AS BIGINT) AS l
            FROM grams)
      GROUP BY doc_id, n, h, l
    ),
    top AS (
      SELECT doc_id, n, h, l, c,
             ROW_NUMBER() OVER (PARTITION BY doc_id, n
                                ORDER BY c DESC, h) AS rk
      FROM cnt
    ),
    toppiv AS (
      SELECT t.doc_id,
             CAST(MAX(CASE WHEN t.n = 2
               THEN t.c * t.l * 1000000 // d.n_chars END) AS BIGINT)
               AS top2_ppm,
             CAST(MAX(CASE WHEN t.n = 3
               THEN t.c * t.l * 1000000 // d.n_chars END) AS BIGINT)
               AS top3_ppm,
             CAST(MAX(CASE WHEN t.n = 4
               THEN t.c * t.l * 1000000 // d.n_chars END) AS BIGINT)
               AS top4_ppm
      FROM top t JOIN d ON d.doc_id = t.doc_id
      WHERE t.rk = 1
      GROUP BY t.doc_id
    ),
    grams5 AS (
      SELECT doc_id, i,
             list_aggregate(toks[i : i + 4], 'string_agg', ' ') AS gram
      FROM (
        SELECT d.doc_id, d.toks,
               unnest(generate_series(1, CAST(len(d.toks) AS BIGINT) - 4))
                 AS i
        FROM d
      )
    ),
    dup5 AS (
      SELECT doc_id, i,
             COUNT(*) OVER (PARTITION BY doc_id, HASH60GRAM) AS c
      FROM grams5
    ),
    starts AS (
      SELECT doc_id, i, i + 4 AS e FROM dup5 WHERE c >= 2
    ),
    sw AS (
      SELECT doc_id, i, e,
             CASE WHEN i > MAX(e) OVER (PARTITION BY doc_id ORDER BY i
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  THEN 1 ELSE 0 END AS new_island
      FROM starts
    ),
    isl AS (
      SELECT doc_id, i, e,
             SUM(new_island) OVER (PARTITION BY doc_id ORDER BY i
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island_id
      FROM sw
    ),
    spans AS (
      SELECT doc_id, island_id,
             CAST(MAX(e) - MIN(i) + 1 AS BIGINT) AS span_tok
      FROM isl GROUP BY doc_id, island_id
    ),
    cover AS (
      SELECT doc_id, CAST(SUM(span_tok) AS BIGINT) AS covered_tok
      FROM spans GROUP BY doc_id
    )
    SELECT d.doc_id, d.n_tok AS n_tokens, d.n_chars AS total_chars,
           COALESCE(t.top2_ppm, 0) AS top2_ppm,
           COALESCE(t.top3_ppm, 0) AS top3_ppm,
           COALESCE(t.top4_ppm, 0) AS top4_ppm,
           CAST(COALESCE(c.covered_tok, 0) * 1000000 // d.n_tok AS BIGINT)
             AS dup5_cover_ppm
    FROM d
    LEFT JOIN toppiv t ON t.doc_id = d.doc_id
    LEFT JOIN cover c ON c.doc_id = d.doc_id
"""

_GOPHER_REP_ORACLE = _GOPHER_REP_ORACLE_TMPL.replace(
    "HASH60GRAM", sql_hash60("gram")
)


def gopher_fractions_df(docs):
    """Frame-level builder over a (doc_id, text) DataFrame — reused by the
    registered query below; the round-9 scale probe also ran it on
    synthetic corpora at 1M/3M/10M docs (SCALE.md round-9 probes)."""
    d = docs.select(
        "doc_id",
        F.split("text", " ").alias("a"),
        F.length("text").cast("long").alias("n_chars"),
        F.size(F.split("text", " ")).cast("long").alias("n_tok"),
    )
    # top-{2,3,4}-gram: ONE corpus scan builds all three gram sizes (concat
    # of guarded transforms — sequence DESCENDS when size < n, the round-6
    # trap, so each size gets its own CASE guard), then one explode
    gram_arrays = " , ".join(
        f"CASE WHEN size(a) >= {n} THEN "
        f"transform(sequence(1, size(a) - {n} + 1), "
        f"i -> struct({n} AS n, array_join(slice(a, i, {n}), ' ') AS gram)) "
        f"ELSE array() END"
        for n in (2, 3, 4)
    )
    # shuffle key is the committed md5-60 of the gram (+ its length),
    # never the string: the 10M probe exhausted spill disk on string keys;
    # tie-break commitment is (count DESC, hash ASC)
    stacked = d.select(
        "doc_id",
        "n_chars",
        F.explode(F.expr(f"concat({gram_arrays})")).alias("s"),
    ).select(
        "doc_id",
        "n_chars",
        F.col("s.n").alias("n"),
        hash60(F.col("s.gram")).alias("h"),
        F.length("s.gram").cast("long").alias("l"),
    )
    cnt = stacked.groupBy("doc_id", "n_chars", "n", "h", "l").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    rk = F.row_number().over(
        Window.partitionBy("doc_id", "n").orderBy(F.desc("c"), "h")
    )
    top = cnt.withColumn("rk", rk).where(F.col("rk") == 1)
    share = "c * l * 1000000 div n_chars"
    toppiv = top.groupBy("doc_id").agg(
        F.max(F.expr(f"CASE WHEN n = 2 THEN {share} END"))
        .cast("long")
        .alias("top2_ppm"),
        F.max(F.expr(f"CASE WHEN n = 3 THEN {share} END"))
        .cast("long")
        .alias("top3_ppm"),
        F.max(F.expr(f"CASE WHEN n = 4 THEN {share} END"))
        .cast("long")
        .alias("top4_ppm"),
    )
    # duplicated-5-gram coverage: positions + per-(doc, gram) window count
    g5 = d.select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN size(a) >= 5 THEN "
                "transform(sequence(1, size(a) - 4), "
                "i -> struct(i AS i, array_join(slice(a, i, 5), ' ') AS gram)) "
                "ELSE array() END"
            )
        ).alias("s"),
    ).select(
        "doc_id",
        F.col("s.i").cast("long").alias("i"),
        hash60(F.col("s.gram")).alias("gh"),
    )
    dup5 = g5.withColumn(
        "c", F.count(F.lit(1)).over(Window.partitionBy("doc_id", "gh"))
    )
    starts = dup5.where(F.col("c") >= 2).select(
        "doc_id", "i", (F.col("i") + 4).alias("e")
    )
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    sw = starts.select(
        "doc_id",
        "i",
        "e",
        F.when(F.col("i") > F.max("e").over(w_prev), 1).otherwise(0).alias(
            "new_island"
        ),
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    isl = sw.select(
        "doc_id", "i", "e", F.sum("new_island").over(w_run).alias("island_id")
    )
    spans = isl.groupBy("doc_id", "island_id").agg(
        (F.max("e") - F.min("i") + 1).cast("long").alias("span_tok")
    )
    cover = spans.groupBy("doc_id").agg(
        F.sum("span_tok").cast("long").alias("covered_tok")
    )
    return (
        d.select("doc_id", F.col("n_tok").alias("n_tokens"),
                 F.col("n_chars").alias("total_chars"))
        .join(toppiv, "doc_id", "left")
        .join(cover, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            "total_chars",
            F.coalesce("top2_ppm", F.lit(0)).cast("long").alias("top2_ppm"),
            F.coalesce("top3_ppm", F.lit(0)).cast("long").alias("top3_ppm"),
            F.coalesce("top4_ppm", F.lit(0)).cast("long").alias("top4_ppm"),
            F.expr(
                "coalesce(covered_tok, 0) * 1000000 div n_tokens"
            ).cast("long").alias("dup5_cover_ppm"),
        )
    )


@register("gopher_repetition_fractions", _GOPHER_REP_ORACLE)
def gopher_repetition_fractions(spark, sf_dir):
    """Gopher repetition filters (Rae et al. 2021 Table A1): per document,
    the ppm of characters contained in the single most-frequent
    {2,3,4}-gram (count x gram-chars / doc-chars — can exceed 1e6 for
    degenerate docs, exactly as the published rule can) and the ppm of
    token positions covered by 5-grams that occur >= 2 times in the doc,
    with overlapping occurrences counted ONCE via the sweep-line interval
    union (the gaps-and-islands idiom of interval_coverage_union). This
    corpus has no newlines, so the line/paragraph rules have no unit here;
    the n-gram rules are the exact published arithmetic. All integers:
    counts, positions and char lengths; top-gram selection carries the
    full (count DESC, gram) tie-break. Every window is doc-partitioned —
    per-doc state bounds memory at any corpus size, and the only shuffles
    are (doc, n, gram)-keyed counts. Plan/arithmetic live in
    gopher_fractions_df (shared with the round9 scale probe)."""
    return gopher_fractions_df(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# CCNet perplexity buckets: per-language head/middle/tail terciles over the
# unigram-NLL score.
# ---------------------------------------------------------------------------

_CCNET_COST = (
    "CAST(FLOOR(LN(CAST(tot AS DOUBLE) / CAST(n_w AS DOUBLE)) * 1000000)"
    " AS BIGINT)"
)

_CCNET_ORACLE = f"""
    WITH dt AS MATERIALIZED (
      SELECT doc_id, lang, w, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
            FROM documents)
      GROUP BY doc_id, lang, w
    ),
    c AS (
      SELECT w, CAST(SUM(cnt) AS BIGINT) AS n_w FROM dt GROUP BY w
    ),
    t AS (SELECT CAST(SUM(n_w) AS BIGINT) AS tot FROM c),
    cost AS (
      SELECT w, {_CCNET_COST} AS cost_unano FROM c CROSS JOIN t
    ),
    nll AS (
      SELECT k.doc_id, k.lang,
             CAST(SUM(k.cnt) AS BIGINT) AS n_tokens,
             CAST(CAST(SUM(k.cnt * cost.cost_unano) AS BIGINT)
                  // CAST(SUM(k.cnt) AS BIGINT) AS BIGINT)
               AS nll_unano
      FROM dt k JOIN cost ON cost.w = k.w
      GROUP BY k.doc_id, k.lang
    ),
    rk AS (
      SELECT doc_id, lang, n_tokens, nll_unano,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY nll_unano, doc_id) AS r,
             COUNT(*) OVER (PARTITION BY lang) AS n
      FROM nll
    )
    SELECT doc_id, lang, n_tokens, nll_unano,
           CASE WHEN r * 3 <= n THEN 'head'
                WHEN r * 3 <= 2 * n THEN 'middle'
                ELSE 'tail' END AS bucket
    FROM rk
"""


@register("ccnet_ppl_buckets", _CCNET_ORACLE)
def ccnet_ppl_buckets(spark, sf_dir):
    """CCNet's head/middle/tail split (Wenzek et al. 2020): score each
    document with a corpus unigram LM (average negative log-likelihood,
    micro-nats — each ln(T/c(w)) floored to BIGINT per WORD TYPE before
    any sum: LN-parity commitment, vocab-bounded cost table broadcast),
    then assign per-LANGUAGE terciles by exact integer cross-multiplication
    (3r <= n / 3r <= 2n) over the (nll, doc_id) total order. head = the
    most-fluent third, the part CCNet keeps by default. One corpus token
    pass, one vocab-bounded agg + broadcast join, one per-lang window —
    no global windows, nothing quadratic."""
    from pyspark import StorageLevel

    d = _t(spark, sf_dir, "documents")
    toks = d.select("doc_id", "lang", F.explode(F.split("text", " ")).alias("w"))
    # per-doc token counts feed BOTH the vocab agg and the scoring join (no
    # cross-tree CSE) — persist the pre-aggregated frame
    dt = materialize(toks.groupBy("doc_id", "lang", "w").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
    ), StorageLevel.DISK_ONLY)
    c = dt.groupBy("w").agg(F.sum("cnt").cast("long").alias("n_w"))
    t = c.agg(F.sum("n_w").cast("long").alias("tot"))
    cost = c.crossJoin(F.broadcast(t)).select(
        "w", F.expr(_CCNET_COST).alias("cost_unano")
    )
    nll = (
        dt.join(F.broadcast(cost), "w")
        .groupBy("doc_id", "lang")
        .agg(
            F.sum("cnt").cast("long").alias("n_tokens"),
            F.expr(
                "CAST(SUM(cnt * cost_unano) AS BIGINT)"
                " div CAST(SUM(cnt) AS BIGINT)"
            )
            .cast("long")
            .alias("nll_unano"),
        )
    )
    w_rk = Window.partitionBy("lang").orderBy("nll_unano", "doc_id")
    w_n = Window.partitionBy("lang")
    rk = nll.select(
        "doc_id",
        "lang",
        "n_tokens",
        "nll_unano",
        F.row_number().over(w_rk).alias("r"),
        F.count(F.lit(1)).over(w_n).alias("n"),
    )
    return rk.select(
        "doc_id",
        "lang",
        "n_tokens",
        "nll_unano",
        F.expr(
            "CASE WHEN r * 3 <= n THEN 'head' "
            "WHEN r * 3 <= 2 * n THEN 'middle' ELSE 'tail' END"
        ).alias("bucket"),
    )


# ---------------------------------------------------------------------------
# Data-constrained repeats: epochs per source under a token budget with
# halving utility per extra epoch.
# ---------------------------------------------------------------------------

_REPEATS_ORACLE = """
    WITH u AS (
      SELECT source,
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS uniq_tok
      FROM documents GROUP BY source
    ),
    t AS (
      SELECT CAST(SUM(uniq_tok) AS BIGINT) AS total,
             CAST(COUNT(*) AS BIGINT) AS n_src
      FROM u
    ),
    a AS (
      SELECT u.source, u.uniq_tok,
             CAST(3 * (t.total // t.n_src) AS BIGINT) AS target_tok,
             LEAST(4, GREATEST(1,
               (3 * (t.total // t.n_src) + u.uniq_tok - 1) // u.uniq_tok))
               AS epochs
      FROM u CROSS JOIN t
    )
    SELECT source, uniq_tok, target_tok,
           CAST(epochs AS BIGINT) AS epochs,
           CAST(epochs * uniq_tok AS BIGINT) AS sampled_tok,
           CAST(uniq_tok
                + CASE WHEN epochs >= 2 THEN uniq_tok // 2 ELSE 0 END
                + CASE WHEN epochs >= 3 THEN uniq_tok // 4 ELSE 0 END
                + CASE WHEN epochs >= 4 THEN uniq_tok // 8 ELSE 0 END
             AS BIGINT) AS effective_tok,
           CAST(CAST(uniq_tok
                + CASE WHEN epochs >= 2 THEN uniq_tok // 2 ELSE 0 END
                + CASE WHEN epochs >= 3 THEN uniq_tok // 4 ELSE 0 END
                + CASE WHEN epochs >= 4 THEN uniq_tok // 8 ELSE 0 END
                AS HUGEINT)
                * 1000000 // (epochs * uniq_tok) AS BIGINT)
             AS utilization_ppm
    FROM a
"""


@register("data_repeats_budget", _REPEATS_ORACLE)
def data_repeats_budget(spark, sf_dir):
    """Data-constrained scaling allocation (Muennighoff et al. 2023): each
    source owns uniq_tok unique tokens; the per-source target is 3x the
    equal share of the corpus (data-derived, so the answer is meaningful
    at every SF); epochs = ceil(target/uniq) clamped to [1, 4] (the
    paper's ~4-epoch "repeats are nearly free" knee); effective tokens
    count each extra epoch at half the previous epoch's utility (integer
    halving analog of the paper's diminishing-returns fit, exactly
    summable as uniq + uniq//2 + uniq//4 + uniq//8). utilization_ppm =
    effective/sampled. Pure integer arithmetic end to end; one corpus agg
    plus a 1-row broadcast — scale-free."""
    d = _t(spark, sf_dir, "documents")
    u = d.groupBy("source").agg(
        F.sum(F.size(F.split("text", " "))).cast("long").alias("uniq_tok")
    )
    t = u.agg(
        F.sum("uniq_tok").cast("long").alias("total"),
        F.count(F.lit(1)).cast("long").alias("n_src"),
    )
    a = u.crossJoin(F.broadcast(t)).select(
        "source",
        "uniq_tok",
        F.expr("3 * (total div n_src)").cast("long").alias("target_tok"),
        F.expr(
            "LEAST(4, GREATEST(1, "
            "(3 * (total div n_src) + uniq_tok - 1) div uniq_tok))"
        ).alias("epochs"),
    )
    eff = (
        "uniq_tok"
        " + CASE WHEN epochs >= 2 THEN uniq_tok div 2 ELSE 0 END"
        " + CASE WHEN epochs >= 3 THEN uniq_tok div 4 ELSE 0 END"
        " + CASE WHEN epochs >= 4 THEN uniq_tok div 8 ELSE 0 END"
    )
    return a.select(
        "source",
        "uniq_tok",
        "target_tok",
        F.col("epochs").cast("long").alias("epochs"),
        F.expr("epochs * uniq_tok").cast("long").alias("sampled_tok"),
        F.expr(eff).cast("long").alias("effective_tok"),
        F.expr(
            f"CAST(CAST({eff} AS DECIMAL(38,0)) * 1000000"
            " div (epochs * uniq_tok) AS BIGINT)"
        ).alias("utilization_ppm"),
    )


# ---------------------------------------------------------------------------
# Contamination span profile: interval union + longest contaminated run.
# ---------------------------------------------------------------------------

_SPAN_ORACLE = f"""
    WITH d AS (
      SELECT doc_id, source, string_split(text, ' ') AS toks,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents
    ),
    g AS (
      SELECT d.doc_id, d.source, d.n_tok, g.i,
             {sql_hash60("list_aggregate(d.toks[g.i : g.i + 4], 'string_agg', ' ')")}
               AS gh
      FROM d, LATERAL (
        SELECT unnest(generate_series(1, CAST(len(d.toks) AS BIGINT) - 4))
          AS i
      ) g
    ),
    bench AS (SELECT DISTINCT gh FROM g WHERE source = 'src0'),
    hits AS (
      SELECT g.doc_id, g.n_tok, g.i, g.i + 4 AS e
      FROM g JOIN bench ON bench.gh = g.gh
      WHERE g.source <> 'src0'
    ),
    sw AS (
      SELECT doc_id, n_tok, i, e,
             CASE WHEN i > MAX(e) OVER (PARTITION BY doc_id ORDER BY i
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                  THEN 1 ELSE 0 END AS new_island
      FROM hits
    ),
    isl AS (
      SELECT doc_id, n_tok, i, e,
             SUM(new_island) OVER (PARTITION BY doc_id ORDER BY i
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island_id
      FROM sw
    ),
    spans AS (
      SELECT doc_id, MAX(n_tok) AS n_tok, island_id,
             CAST(COUNT(*) AS BIGINT) AS n_grams,
             CAST(MAX(e) - MIN(i) + 1 AS BIGINT) AS span_tok
      FROM isl GROUP BY doc_id, island_id
    )
    SELECT doc_id,
           CAST(SUM(n_grams) AS BIGINT) AS n_contam_grams,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(MAX(span_tok) AS BIGINT) AS longest_span_tok,
           CAST(CAST(SUM(span_tok) AS BIGINT) * 1000000 // MAX(n_tok)
             AS BIGINT) AS covered_ppm
    FROM spans GROUP BY doc_id
"""


@register("contamination_span_profile", _SPAN_ORACLE)
def contamination_span_profile(spark, sf_dir):
    """Span-level decontamination report (the contiguous-span view GPT-3's
    Appendix C decontamination removes; extends contamination_check_5gram's
    per-doc COUNT): treating source='src0' as the held-out benchmark, each
    contaminated 5-gram occurrence in a remaining document covers token
    interval [i, i+4]; the sweep-line union merges overlapping hits so a
    verbatim quoted passage reports as ONE span with its exact token
    length. Emits per contaminated doc: total hit grams, span count,
    longest span, covered-token ppm. Grams travel as 60-bit md5 (hash60),
    the eval gram set is broadcast (eval benches are bounded by
    definition), all windows are doc-partitioned — zero corpus-scale
    shuffles beyond the one explode. Plan/arithmetic live in
    contamination_spans_df (shared with the round9 scale probe)."""
    return contamination_spans_df(_t(spark, sf_dir, "documents"))


def contamination_spans_df(docs, eval_source: str = "src0"):
    """Frame-level builder over a (doc_id, source, text) DataFrame."""
    d = docs.select(
        "doc_id",
        "source",
        F.split("text", " ").alias("a"),
        F.size(F.split("text", " ")).cast("long").alias("n_tok"),
    )
    g = d.select(
        "doc_id",
        "source",
        "n_tok",
        F.explode(
            F.expr(
                "CASE WHEN size(a) >= 5 THEN "
                "transform(sequence(1, size(a) - 4), "
                "i -> struct(i AS i, array_join(slice(a, i, 5), ' ') AS gram)) "
                "ELSE array() END"
            )
        ).alias("s"),
    ).select(
        "doc_id",
        "source",
        "n_tok",
        F.col("s.i").cast("long").alias("i"),
        hash60(F.col("s.gram")).alias("gh"),
    )
    bench = g.where(F.col("source") == eval_source).select("gh").distinct()
    hits = (
        g.where(F.col("source") != eval_source)
        .join(F.broadcast(bench), "gh")
        .select("doc_id", "n_tok", "i", (F.col("i") + 4).alias("e"))
    )
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    sw = hits.select(
        "doc_id",
        "n_tok",
        "i",
        "e",
        F.when(F.col("i") > F.max("e").over(w_prev), 1).otherwise(0).alias(
            "new_island"
        ),
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    isl = sw.select(
        "doc_id", "n_tok", "i", "e",
        F.sum("new_island").over(w_run).alias("island_id"),
    )
    spans = isl.groupBy("doc_id", "island_id").agg(
        F.max("n_tok").alias("n_tok"),
        F.count(F.lit(1)).cast("long").alias("n_grams"),
        (F.max("e") - F.min("i") + 1).cast("long").alias("span_tok"),
    )
    return spans.groupBy("doc_id").agg(
        F.sum("n_grams").cast("long").alias("n_contam_grams"),
        F.count(F.lit(1)).cast("long").alias("n_spans"),
        F.max("span_tok").cast("long").alias("longest_span_tok"),
        F.expr(
            "CAST(SUM(span_tok) AS BIGINT) * 1000000 div MAX(n_tok)"
        ).cast("long").alias("covered_ppm"),
    )


# ---------------------------------------------------------------------------
# Margin-based bitext mining: mutual top-1 by ratio margin over two halves.
# ---------------------------------------------------------------------------

_MARGIN_K = 4  # neighborhood size for the margin denominator (committed)

# VERDICT r9 item 4: the exact all-pairs baselines get the GEMM_N_CEILING
# treatment (similarity/lsh.py:157-161). Above this declared corpus size the
# O(N²) cross join is refused with a routing message — the committed scoring
# expression is unchanged, only the candidate generation moves to the IVF
# shortlist. 100k vectors is already 10^10 pairs; nothing exact survives
# past that, and the estimator is never consulted (declared-n only).
EXACT_PAIRS_N_CEILING = 100_000


def _exact_pairs_guard(op_name: str, n_rows, sf_dir: str):
    """Declared-n dispatch guard for the exact all-pairs baselines.

    n_rows=None reads the parquet FOOTER (driver-side pyarrow metadata, no
    Spark job — the dedup/minhash.py size-aware-dispatch idiom); a caller
    with a known corpus size passes it explicitly."""
    if n_rows is None:
        from hpmr_spark.sources.tables import table_rows

        n_rows = table_rows(sf_dir, "embeddings")
    if n_rows is not None and n_rows > EXACT_PAIRS_N_CEILING:
        raise ValueError(
            f"{op_name}: exact all-pairs scoring over n_rows={n_rows} "
            f"exceeds EXACT_PAIRS_N_CEILING={EXACT_PAIRS_N_CEILING}: "
            "O(N²) cross-join compute is not realistic at this size. "
            "Run the same committed cosine/margin scoring over the IVF "
            "shortlist instead (hpmr_spark.similarity.lsh.ivf_topk_trained "
            "or similarity.ivfpq) — only candidate generation changes."
        )

_SCORE_NANO = (
    "CAST(FLOOR(CAST(dot_micros AS DOUBLE) * 1000000000.0"
    " / SQRT(CAST(n2x AS DOUBLE) * CAST(n2y AS DOUBLE))) AS BIGINT)"
)
_MARGIN_NANO = (
    "CAST(CASE WHEN sumx + sumy <> 0 THEN"
    " FLOOR(CAST(score_nano AS DOUBLE) * 8000000000.0"
    " / CAST(sumx + sumy AS DOUBLE)) END AS BIGINT)"
)

_BITEXT_ORACLE = f"""
    WITH v AS (
      SELECT vec_id,
             list_transform(embedding, e -> CAST(e AS DOUBLE)) AS emb,
             CAST(list_sum(list_transform(embedding,
               e -> CAST(FLOOR(CAST(e AS DOUBLE) * CAST(e AS DOUBLE)
                               * 1000000) AS BIGINT))) AS BIGINT) AS n2
      FROM embeddings
    ),
    pairs AS MATERIALIZED (
      SELECT a.vec_id AS x_id, b.vec_id AS y_id,
             a.n2 AS n2x, b.n2 AS n2y,
             CAST(list_sum(list_transform(generate_series(1, len(a.emb)),
               i -> CAST(FLOOR(a.emb[i] * b.emb[i] * 1000000) AS BIGINT)))
               AS BIGINT) AS dot_micros
      FROM v a, v b
      WHERE a.vec_id % 2 = 0 AND b.vec_id % 2 = 1
    ),
    scored AS MATERIALIZED (
      SELECT x_id, y_id, {_SCORE_NANO} AS score_nano FROM pairs
    ),
    rks AS MATERIALIZED (
      SELECT x_id, y_id, score_nano,
             ROW_NUMBER() OVER (PARTITION BY x_id
                                ORDER BY score_nano DESC, y_id) AS rnx,
             ROW_NUMBER() OVER (PARTITION BY y_id
                                ORDER BY score_nano DESC, x_id) AS rny
      FROM scored
    ),
    sums AS MATERIALIZED (
      SELECT x_id, y_id, score_nano,
             CAST(SUM(CASE WHEN rnx <= {_MARGIN_K} THEN score_nano END)
               OVER (PARTITION BY x_id) AS BIGINT) AS sumx,
             CAST(SUM(CASE WHEN rny <= {_MARGIN_K} THEN score_nano END)
               OVER (PARTITION BY y_id) AS BIGINT) AS sumy
      FROM rks
    ),
    marg AS MATERIALIZED (
      SELECT x_id, y_id, score_nano, {_MARGIN_NANO} AS margin_nano
      FROM sums
    ),
    best AS (
      SELECT x_id, y_id, score_nano, margin_nano,
             ROW_NUMBER() OVER (PARTITION BY x_id
                                ORDER BY margin_nano DESC NULLS LAST, y_id)
               AS bx,
             ROW_NUMBER() OVER (PARTITION BY y_id
                                ORDER BY margin_nano DESC NULLS LAST, x_id)
               AS by
      FROM marg
    )
    SELECT x_id, y_id, score_nano, margin_nano
    FROM best WHERE bx = 1 AND by = 1
"""


@register("bitext_margin_mining", _BITEXT_ORACLE)
def bitext_margin_mining(spark, sf_dir, n_rows=None):
    """Margin-based parallel-pair mining (Artetxe & Schwenk 2019): split
    the embedding corpus into halves A (even vec_id) / B (odd), score all
    cross pairs with exact-integer cosine moments (per-term floored dot
    micros + norm micros: the hof_zipwith idiom — partition-invariant),
    margin(x, y) = cos / (mean of x's top-k cos + mean of y's top-k cos)/2
    computed as one final double expression over exact BIGINT sums
    (k = 4 committed), and keep pairs that are MUTUAL margin-top-1 in both
    directions — the paper's "max-margin mutual" retrieval criterion.

    This is the documented exact O(n_A x n_B) baseline (like
    similarity_bruteforce_pairs): every window is partitioned by one side's
    id, all tie-breaks total. The 100 TB path scores the same committed
    expression over the IVF shortlist (similarity/ivfpq.py) instead of the
    cross join."""
    _exact_pairs_guard("bitext_margin_mining", n_rows, sf_dir)
    emb = _t(spark, sf_dir, "embeddings")
    n2 = F.aggregate(
        F.transform(
            "embedding",
            lambda e: F.floor(e.cast("double") * e.cast("double") * F.lit(1000000)).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, t: acc + t,
    )
    v = emb.select("vec_id", F.col("embedding").alias("emb"), n2.alias("n2"))
    a = v.where(F.col("vec_id") % 2 == 0).select(
        F.col("vec_id").alias("x_id"), F.col("emb").alias("ea"), F.col("n2").alias("n2x")
    )
    b = v.where(F.col("vec_id") % 2 == 1).select(
        F.col("vec_id").alias("y_id"), F.col("emb").alias("eb"), F.col("n2").alias("n2y")
    )
    dot = F.aggregate(
        F.zip_with(
            "ea",
            "eb",
            lambda x, y: F.floor(x.cast("double") * y.cast("double") * F.lit(1000000)).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, t: acc + t,
    )
    pairs = a.crossJoin(b).select(
        "x_id", "y_id", "n2x", "n2y", dot.alias("dot_micros")
    )
    scored = pairs.select("x_id", "y_id", F.expr(_SCORE_NANO).alias("score_nano"))
    rks = scored.select(
        "x_id",
        "y_id",
        "score_nano",
        F.row_number()
        .over(Window.partitionBy("x_id").orderBy(F.desc("score_nano"), "y_id"))
        .alias("rnx"),
        F.row_number()
        .over(Window.partitionBy("y_id").orderBy(F.desc("score_nano"), "x_id"))
        .alias("rny"),
    )
    sums = rks.select(
        "x_id",
        "y_id",
        "score_nano",
        F.sum(
            F.expr(f"CASE WHEN rnx <= {_MARGIN_K} THEN score_nano END")
        ).over(Window.partitionBy("x_id")).cast("long").alias("sumx"),
        F.sum(
            F.expr(f"CASE WHEN rny <= {_MARGIN_K} THEN score_nano END")
        ).over(Window.partitionBy("y_id")).cast("long").alias("sumy"),
    )
    marg = sums.select(
        "x_id", "y_id", "score_nano", F.expr(_MARGIN_NANO).alias("margin_nano")
    )
    best = marg.select(
        "x_id",
        "y_id",
        "score_nano",
        "margin_nano",
        F.row_number()
        .over(
            Window.partitionBy("x_id").orderBy(
                F.desc_nulls_last("margin_nano"), "y_id"
            )
        )
        .alias("bx"),
        F.row_number()
        .over(
            Window.partitionBy("y_id").orderBy(
                F.desc_nulls_last("margin_nano"), "x_id"
            )
        )
        .alias("by"),
    )
    return best.where((F.col("bx") == 1) & (F.col("by") == 1)).select(
        "x_id", "y_id", "score_nano", "margin_nano"
    )


# ---------------------------------------------------------------------------
# Bradley-Terry strength fit (MM algorithm) over per-source token contests.
# ---------------------------------------------------------------------------

_BT_ITERS = 8  # MM iterations (committed; convergence is geometric)


def _bt_fold(pdf):
    """MM iterations (Hunter 2004) in plain Python floats — bit-identical
    to the recursive-CTE oracle (test_libm_parity covers CPython float ops;
    the fold order over j is the committed lang-sorted order both sides)."""
    import math

    import pandas as pd

    langs = sorted(set(pdf["li"].tolist()))
    ix = {l: i for i, l in enumerate(langs)}
    m = len(langs)
    wp = [[0] * m for _ in range(m)]  # smoothed wins i beats j
    raw = [[0] * m for _ in range(m)]
    for li, lj, w in zip(pdf["li"].tolist(), pdf["lj"].tolist(),
                         pdf["w"].tolist()):
        raw[ix[li]][ix[lj]] = int(w)
        wp[ix[li]][ix[lj]] = int(w) + 1
    big_w = [sum(wp[i][j] for j in range(m) if j != i) for i in range(m)]
    s = [1.0] * m
    for _ in range(_BT_ITERS):
        new = []
        for i in range(m):
            acc = 0.0
            for j in range(m):
                if j != i:
                    acc = acc + (wp[i][j] + wp[j][i]) / (s[i] + s[j])
                else:
                    acc = acc + 0.0
            new.append(big_w[i] / acc)
        s = new
    total = 0.0
    for x in s:
        total = total + x
    return pd.DataFrame(
        {
            "lang": langs,
            "wins": [sum(raw[ix[l]]) for l in langs],
            "games": [
                sum(raw[ix[l]][j] + raw[j][ix[l]] for j in range(m))
                for l in langs
            ],
            "strength_nano": [
                math.floor(s[ix[l]] * 1000000000.0 / total) for l in langs
            ],
        }
    )


def _bt_oracle() -> str:
    m_expr = "(SELECT CAST(COUNT(*) AS BIGINT) AS m FROM li)"
    term = (
        "CASE WHEN j <> i THEN "
        "CAST(wl[CAST(i * mm.m + j + 1 AS BIGINT)]"
        "   + wl[CAST(j * mm.m + i + 1 AS BIGINT)] AS DOUBLE)"
        " / (s[CAST(i + 1 AS BIGINT)] + s[CAST(j + 1 AS BIGINT)]) "
        "ELSE 0.0 END"
    )
    return f"""
    WITH st AS MATERIALIZED (
      SELECT source, lang,
             CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tok
      FROM documents GROUP BY source, lang
    ),
    li AS MATERIALIZED (
      SELECT lang, ROW_NUMBER() OVER (ORDER BY lang) - 1 AS ix
      FROM (SELECT DISTINCT lang FROM st)
    ),
    pw AS (
      SELECT a.lang AS la, b.lang AS lb,
             CAST(SUM(CASE WHEN a.tok > b.tok THEN 1 ELSE 0 END) AS BIGINT)
               AS w
      FROM st a JOIN st b ON b.source = a.source AND b.lang <> a.lang
      GROUP BY a.lang, b.lang
    ),
    dense AS MATERIALIZED (
      SELECT i.ix AS ii, j.ix AS jj, i.lang AS la, j.lang AS lb,
             CASE WHEN i.lang = j.lang THEN 0
                  ELSE COALESCE(pw.w, 0) END AS w,
             CASE WHEN i.lang = j.lang THEN 0
                  ELSE COALESCE(pw.w, 0) + 1 END AS wp
      FROM li i CROSS JOIN li j
      LEFT JOIN pw ON pw.la = i.lang AND pw.lb = j.lang
    ),
    mm AS ({m_expr}),
    wmat AS (
      SELECT list(wp ORDER BY ii * (SELECT m FROM li, mm LIMIT 1) + jj)
        AS wl
      FROM dense
    ),
    bw AS (
      SELECT list(CAST(tw AS DOUBLE) ORDER BY ii) AS wlist
      FROM (SELECT ii, SUM(wp) AS tw FROM dense WHERE ii <> jj GROUP BY ii)
    ),
    it AS (
      WITH RECURSIVE rec(k, s) AS (
        SELECT 0,
               list_transform(range((SELECT m FROM mm)),
                              i -> CAST(1.0 AS DOUBLE))
        UNION ALL
        SELECT k + 1,
               list_transform(range(CAST(mm.m AS BIGINT)), i ->
                 bw.wlist[CAST(i + 1 AS BIGINT)]
                 / list_reduce(
                     list_prepend(0.0,
                       list_transform(range(CAST(mm.m AS BIGINT)), j ->
                         {term})),
                     (a, b) -> a + b))
        FROM rec, wmat, bw, mm
        WHERE k < {_BT_ITERS}
      )
      SELECT s FROM rec WHERE k = {_BT_ITERS}
    ),
    tot AS (
      SELECT list_reduce(list_prepend(0.0, (SELECT s FROM it)),
                         (a, b) -> a + b) AS total
    )
    SELECT li.lang,
           CAST((SELECT SUM(w) FROM dense d WHERE d.ii = li.ix) AS BIGINT)
             AS wins,
           CAST((SELECT SUM(w) FROM dense d
                 WHERE d.ii = li.ix OR d.jj = li.ix) AS BIGINT) AS games,
           CAST(FLOOR((SELECT s FROM it)[CAST(li.ix + 1 AS BIGINT)]
                      * 1000000000.0 / tot.total) AS BIGINT)
             AS strength_nano
    FROM li, tot
    """


@register("bradley_terry_lang_strength", _bt_oracle())
def bradley_terry_lang_strength(spark, sf_dir):
    """Bradley-Terry pairwise-strength fit via the MM algorithm (Hunter
    2004) — the model behind RLHF reward fitting and LLM-arena rankings —
    over deterministic contests: within each source, lang i "beats" lang j
    when it contributed strictly more tokens. The contest aggregation is
    distributed and exact-integer; the 5x5 (lang-bounded) smoothed wins
    matrix (+1 virtual win per direction keeps every strength positive)
    then runs {ITERS} MM iterations inside ONE grouped-pandas fold —
    CPython float arithmetic, bit-identical to the recursive-CTE oracle
    walking the same committed expression in the same lang-sorted fold
    order (the UCB1-replay pattern; test_libm_parity is the sentinel).
    Output per lang: raw wins, games, normalized strength in nanos.
    Scale shape: one corpus agg, one bounded (sources x langs)^2 pair agg,
    then O(langs^2) driver-free iteration — nothing grows with corpus
    size.""".replace("{ITERS}", str(_BT_ITERS))
    d = _t(spark, sf_dir, "documents")
    st = d.groupBy("source", "lang").agg(
        F.sum(F.size(F.split("text", " "))).cast("long").alias("tok")
    )
    a = st.select("source", F.col("lang").alias("la"), F.col("tok").alias("ta"))
    b = st.select("source", F.col("lang").alias("lb"), F.col("tok").alias("tb"))
    pw = (
        a.join(b, "source")
        .where(F.col("la") != F.col("lb"))
        .groupBy("la", "lb")
        .agg(
            F.sum(F.when(F.col("ta") > F.col("tb"), 1).otherwise(0))
            .cast("long")
            .alias("w")
        )
    )
    langs = st.select(F.col("lang")).distinct()
    dense = (
        langs.select(F.col("lang").alias("li"))
        .crossJoin(langs.select(F.col("lang").alias("lj")))
        .join(
            pw.select(F.col("la").alias("li"), F.col("lb").alias("lj"), "w"),
            ["li", "lj"],
            "left",
        )
        .select(
            "li",
            "lj",
            F.when(F.col("li") == F.col("lj"), F.lit(0))
            .otherwise(F.coalesce("w", F.lit(0)))
            .cast("long")
            .alias("w"),
        )
    )
    return (
        dense.withColumn("g", F.lit(0))
        .groupBy("g")
        .applyInPandas(
            lambda pdf: _bt_fold(pdf),
            schema="lang string, wins long, games long, strength_nano long",
        )
    )


# ---------------------------------------------------------------------------
# Systematic resampling: deterministic multinomial copy counts by token mass.
# ---------------------------------------------------------------------------

_RESAMPLE_N = 200  # committed sample size


_RESAMPLE_F = (
    "LEAST({N}, GREATEST(0, ({x} - u + step - 1) div step))"
)


def _resample_oracle() -> str:
    fw = _RESAMPLE_F.format(N=_RESAMPLE_N, x="cum_tok").replace("div", "//")
    fp = _RESAMPLE_F.format(N=_RESAMPLE_N, x="(cum_tok - n_tok)").replace(
        "div", "//"
    )
    return f"""
    WITH d AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents
    ),
    pre AS (
      SELECT doc_id, n_tok,
             CAST(SUM(n_tok) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_tok
      FROM d
    ),
    t AS (
      SELECT CAST(SUM(n_tok) AS BIGINT) AS tot FROM d
    ),
    p AS (
      SELECT doc_id, n_tok, cum_tok,
             GREATEST(1, tot // {_RESAMPLE_N}) AS step,
             GREATEST(1, tot // {_RESAMPLE_N}) // 2 AS u
      FROM pre CROSS JOIN t
    )
    SELECT doc_id, n_tok, cum_tok,
           CAST(({fw}) - ({fp}) AS BIGINT) AS n_copies
    FROM p
    WHERE ({fw}) - ({fp}) > 0
    """


@register("systematic_resample_counts", _resample_oracle())
def systematic_resample_counts(spark, sf_dir):
    """Systematic (stratified-grid) resampling (Kitagawa 1996), the
    deterministic multinomial used for importance-resampling training data:
    lay {N} evenly-spaced points u + k*step (step = total_tokens div {N},
    u = step div 2 — all committed integers) over the cumulative
    token-mass axis and give each document one copy per point falling in
    its [prev, cum) interval: n_copies = f(cum) - f(prev) with
    f(x) = clamp(ceil((x - u)/step), 0, {N}) — ceil as (x-u+step-1) div
    step, safe for small-x negatives because Spark div ≡ DuckDB // (both
    truncate) and the GREATEST(0, ...) clamp absorbs the difference from
    mathematical floor. The exact prefix sum runs on the two-pass bucketed
    builder (functions/ranking.global_running) — no single-partition
    window at any scale; the oracle uses DuckDB's global window, same
    integers.""".replace("{N}", str(_RESAMPLE_N))
    from hpmr_spark.functions.ranking import global_running

    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.split("text", " ")).cast("long").alias("n_tok"),
    )
    pre = global_running(d, ["doc_id"], "n_tok", kind="sum", out="cum_tok")
    t = d.agg(F.sum("n_tok").cast("long").alias("tot"))
    p = pre.crossJoin(F.broadcast(t)).select(
        "doc_id",
        "n_tok",
        F.col("cum_tok").cast("long").alias("cum_tok"),
        F.expr(f"GREATEST(1, tot div {_RESAMPLE_N})").alias("step"),
        F.expr(f"GREATEST(1, tot div {_RESAMPLE_N}) div 2").alias("u"),
    )
    fw = _RESAMPLE_F.format(N=_RESAMPLE_N, x="cum_tok")
    fp = _RESAMPLE_F.format(N=_RESAMPLE_N, x="(cum_tok - n_tok)")
    out = p.select(
        "doc_id",
        "n_tok",
        "cum_tok",
        F.expr(f"CAST(({fw}) - ({fp}) AS BIGINT)").alias("n_copies"),
    )
    return out.where(F.col("n_copies") > 0)


# ---------------------------------------------------------------------------
# Distinct-n diversity per source (Li et al. 2016).
# ---------------------------------------------------------------------------

_DIVERSITY_ORACLE = """
    WITH d AS (
      SELECT source, string_split(text, ' ') AS toks FROM documents
    ),
    grams AS (
      SELECT source, n,
             list_aggregate(toks[i : i + n - 1], 'string_agg', ' ') AS gram
      FROM (
        SELECT d.source, d.toks, n.n,
               unnest(generate_series(1, CAST(len(d.toks) AS BIGINT)
                                         - n.n + 1)) AS i
        FROM d CROSS JOIN (SELECT unnest([1, 2, 3]) AS n) n
      )
    ),
    agg AS (
      SELECT source, n,
             CAST(COUNT(*) AS BIGINT) AS total,
             CAST(COUNT(DISTINCT gram) AS BIGINT) AS n_distinct
      FROM grams GROUP BY source, n
    )
    SELECT source,
           CAST(MAX(CASE WHEN n = 1 THEN total END) AS BIGINT) AS total_1,
           CAST(MAX(CASE WHEN n = 1 THEN n_distinct * 1000000 // total END)
             AS BIGINT) AS distinct1_ppm,
           CAST(MAX(CASE WHEN n = 2 THEN n_distinct * 1000000 // total END)
             AS BIGINT) AS distinct2_ppm,
           CAST(MAX(CASE WHEN n = 3 THEN n_distinct * 1000000 // total END)
             AS BIGINT) AS distinct3_ppm
    FROM agg GROUP BY source
"""


@register("distinct_ngram_diversity", _DIVERSITY_ORACLE)
def distinct_ngram_diversity(spark, sf_dir):
    """distinct-n corpus diversity (Li et al. 2016): per source, the ppm of
    {1,2,3}-grams that are DISTINCT — the standard degeneracy/diversity
    metric for generated or crawled corpora (low distinct-n = templated or
    repetitive text). One stacked-gram scan (the gopher builder's concat
    trick), one (source, n)-keyed count-distinct agg, a 3-way MAX-CASE
    pivot. At 100 TB the distinct count is the only heavy part — it
    shuffles (source, n, gram) once; swap in approx_count_distinct for a
    sketch when exactness isn't contractual (kept exact here for the
    oracle)."""
    d = _t(spark, sf_dir, "documents").select(
        "source", F.split("text", " ").alias("a")
    )
    gram_arrays = " , ".join(
        f"CASE WHEN size(a) >= {n} THEN "
        f"transform(sequence(1, size(a) - {n} + 1), "
        f"i -> struct({n} AS n, array_join(slice(a, i, {n}), ' ') AS gram)) "
        f"ELSE array() END"
        for n in (1, 2, 3)
    )
    stacked = d.select(
        "source", F.explode(F.expr(f"concat({gram_arrays})")).alias("s")
    ).select("source", F.col("s.n").alias("n"), F.col("s.gram").alias("gram"))
    agg = stacked.groupBy("source", "n").agg(
        F.count(F.lit(1)).cast("long").alias("total"),
        F.countDistinct("gram").cast("long").alias("n_distinct"),
    )
    share = "n_distinct * 1000000 div total"
    return agg.groupBy("source").agg(
        F.max(F.expr("CASE WHEN n = 1 THEN total END"))
        .cast("long")
        .alias("total_1"),
        F.max(F.expr(f"CASE WHEN n = 1 THEN {share} END"))
        .cast("long")
        .alias("distinct1_ppm"),
        F.max(F.expr(f"CASE WHEN n = 2 THEN {share} END"))
        .cast("long")
        .alias("distinct2_ppm"),
        F.max(F.expr(f"CASE WHEN n = 3 THEN {share} END"))
        .cast("long")
        .alias("distinct3_ppm"),
    )


# ---------------------------------------------------------------------------
# Pipeline filter funnel: cumulative survivor counts through committed rules.
# ---------------------------------------------------------------------------

# committed rules, in pipeline order (each evaluable from one token pass):
#   r1 length:        10 <= n_tok <= 500
#   r2 diversity:     distinct tokens >= 35% of tokens (int cross-mult)
#   r3 top-token:     most frequent token <= 12% of tokens
#   r4 word length:   3 <= mean chars/token <= 12 (exact: 3n <= chars-(n-1)
#                     <= 12n, separators excluded)
_FUNNEL_RULES = [
    ("r1_length", "n_tok >= 10 AND n_tok <= 500"),
    ("r2_diversity", "n_distinct * 100 >= 35 * n_tok"),
    ("r3_top_token", "max_tok_c * 100 <= 12 * n_tok"),
    (
        "r4_word_len",
        "3 * n_tok <= n_chars - (n_tok - 1) AND n_chars - (n_tok - 1) <= 12 * n_tok",
    ),
]


def _funnel_oracle() -> str:
    passes = ",\n             ".join(
        f"CASE WHEN {cond} THEN 1 ELSE 0 END AS {name}"
        for name, cond in _FUNNEL_RULES
    )
    cums = []
    acc = []
    for name, _ in _FUNNEL_RULES:
        acc.append(name)
        cums.append(" * ".join(acc))
    stage_rows = "\n      UNION ALL\n".join(
        f"      SELECT {k + 1} AS stage, '{name}' AS rule,"
        f" CAST(SUM({name}) AS BIGINT) AS n_pass_rule,"
        f" CAST(SUM({cums[k]}) AS BIGINT) AS survivors FROM f"
        for k, (name, _c) in enumerate(_FUNNEL_RULES)
    )
    return f"""
    WITH t AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
             CAST(len(text) AS BIGINT) AS n_chars,
             CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
               AS n_distinct,
             CAST((SELECT MAX(c) FROM (
                SELECT COUNT(*) AS c
                FROM unnest(string_split(text, ' ')) AS u(w) GROUP BY w))
               AS BIGINT) AS max_tok_c
      FROM documents
    ),
    f AS (
      SELECT doc_id,
             {passes}
      FROM t
    )
    SELECT stage, rule, n_pass_rule, survivors FROM (
{stage_rows}
    )
    """


@register("pipeline_filter_funnel", _funnel_oracle())
def pipeline_filter_funnel(spark, sf_dir):
    """The filter funnel every pipeline paper reports (C4/Gopher/RefinedWeb
    Table 1): four committed integer rules applied in order — length,
    distinct-token diversity, top-token share, mean word length — with
    per-rule pass counts AND cumulative survivors (docs passing rules
    1..k). All thresholds are integer cross-multiplications (no division);
    the per-doc signals come from ONE token pass (groupBy (doc, token) →
    per-doc max + distinct + totals), then a 4-row funnel aggregate.
    Scale: one corpus-token shuffle keyed (doc, token), then doc-keyed
    rollup — linear, per-doc bounded."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.split("text", " ").alias("a"),
        F.length("text").cast("long").alias("n_chars"),
    )
    tok = d.select("doc_id", "n_chars", F.explode("a").alias("w"))
    per_tok = tok.groupBy("doc_id", "n_chars", "w").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    t = per_tok.groupBy("doc_id", "n_chars").agg(
        F.sum("c").cast("long").alias("n_tok"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.max("c").cast("long").alias("max_tok_c"),
    )
    f = t.select(
        "doc_id",
        *[
            F.expr(f"CASE WHEN {cond} THEN 1 ELSE 0 END").alias(name)
            for name, cond in _FUNNEL_RULES
        ],
    )
    # ONE aggregate computes all per-rule + cumulative counts (a 4-way
    # union of stage aggs would re-run the corpus token pass per stage —
    # 8 shuffles vs 3), then a literal explode emits the 4 funnel rows.
    aggs = []
    acc = []
    for k, (name, _cond) in enumerate(_FUNNEL_RULES):
        acc.append(name)
        aggs.append(F.sum(name).cast("long").alias(f"p{k}"))
        aggs.append(
            F.sum(F.expr(" * ".join(acc))).cast("long").alias(f"s{k}")
        )
    one = f.agg(*aggs)
    rows = ", ".join(
        f"struct({k + 1} AS stage, '{name}' AS rule,"
        f" p{k} AS n_pass_rule, s{k} AS survivors)"
        for k, (name, _cond) in enumerate(_FUNNEL_RULES)
    )
    return one.select(
        F.explode(F.expr(f"array({rows})")).alias("r")
    ).select(
        F.col("r.stage").cast("int").alias("stage"),
        F.col("r.rule").alias("rule"),
        F.col("r.n_pass_rule").alias("n_pass_rule"),
        F.col("r.survivors").alias("survivors"),
    )


# ---------------------------------------------------------------------------
# Strided T5 span corruption: deterministic mask spans + target extraction.
# ---------------------------------------------------------------------------

_SPAN_LEN = 3  # tokens per corruption span (committed)
_SPAN_STRIDE = 4  # candidate starts every STRIDE tokens (> LEN: no overlap)
_SPAN_GATE = 60  # gate: hash % 100 < 60 -> ~15% of tokens masked


def _span_sel(h: str) -> str:
    """Committed span-start predicate over candidate position i (1-based):
    candidates live at i % STRIDE == 1 and are hash-gated."""
    return (
        f"(i % {_SPAN_STRIDE} = 1 AND i + {_SPAN_LEN} - 1 <= n_tok"
        f" AND ({h}) % 100 < {_SPAN_GATE})"
    )


def _span_oracle() -> str:
    h = sql_hash60("CAST(doc_id AS VARCHAR) || '_' || CAST(i AS VARCHAR)")
    sel = _span_sel(h)
    return f"""
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS toks,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents
    ),
    pos AS (
      SELECT doc_id, n_tok, toks,
             unnest(generate_series(1, CAST(n_tok AS BIGINT))) AS i
      FROM d
    ),
    sel AS (
      SELECT doc_id, n_tok, i,
             CASE WHEN {sel} THEN 1 ELSE 0 END AS is_start
      FROM pos
    ),
    spans AS (
      SELECT doc_id, i AS s, i + {_SPAN_LEN} - 1 AS e,
             ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS sid
      FROM sel WHERE is_start = 1
    ),
    tok_state AS (
      SELECT p.doc_id, p.n_tok, p.i, p.toks[p.i] AS w,
             sp.sid, sp.s
      FROM pos p LEFT JOIN spans sp
        ON sp.doc_id = p.doc_id AND p.i BETWEEN sp.s AND sp.e
    ),
    corrupted AS (
      SELECT doc_id,
             string_agg(CASE WHEN sid IS NULL THEN w
                             WHEN i = s THEN '<X' || CAST(sid AS VARCHAR) || '>'
                        END, ' ' ORDER BY i) AS corrupt_text,
             string_agg(CASE WHEN sid IS NOT NULL THEN
                 CASE WHEN i = s THEN '<X' || CAST(sid AS VARCHAR) || '> ' || w
                      ELSE w END END, ' ' ORDER BY i) AS target_text,
             CAST(COUNT(DISTINCT sid) AS BIGINT) AS n_spans,
             CAST(SUM(CASE WHEN sid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_masked
      FROM tok_state GROUP BY doc_id
    )
    SELECT c.doc_id, d.n_tok AS n_tokens, c.n_spans, c.n_masked,
           CAST(c.n_masked * 1000000 // d.n_tok AS BIGINT) AS masked_ppm,
           {sql_hash60("COALESCE(c.corrupt_text, '')")} AS corrupt_fp,
           {sql_hash60("COALESCE(c.target_text, '')")} AS target_fp
    FROM corrupted c JOIN d ON d.doc_id = c.doc_id
    """


@register("span_corruption_transform", _span_oracle())
def span_corruption_transform(spark, sf_dir):
    """T5-style span corruption (Raffel et al. 2020 §3.1.4), the masked
    span-to-sentinel transform that turns raw text into (corrupted,
    target) training pairs: deterministic STRIDED variant — candidate
    span starts every {S} tokens, hash-gated to mask ~15% (gate {G}%,
    span length {L}; stride > length makes spans non-overlapping BY
    CONSTRUCTION, replacing T5's sequential greedy walk with a fully
    parallel rule — the documented deviation). Sentinels <Xk> number
    spans per doc in position order; the corrupted text keeps one
    sentinel per span, the target lists sentinel + original tokens —
    exactly T5's encoding. Output fingerprints the two texts with the
    committed md5-60 (cross-engine) plus exact span/mask counts. One
    posexplode + one per-doc window + broadcast-free per-doc rebuild;
    linear at any corpus size.""".replace("{S}", str(_SPAN_STRIDE)).replace(
        "{G}", str(_SPAN_GATE)
    ).replace("{L}", str(_SPAN_LEN))
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.split("text", " ").alias("toks"),
        F.size(F.split("text", " ")).cast("long").alias("n_tok"),
    )
    pos = d.select(
        "doc_id",
        "n_tok",
        F.posexplode("toks").alias("i0", "w"),
    ).select("doc_id", "n_tok", (F.col("i0") + 1).alias("i"), "w")
    h = hash60(F.concat(F.col("doc_id").cast("string"), F.lit("_"),
                        F.col("i").cast("string")))
    sel = pos.withColumn("hh", h).where(
        F.expr(_span_sel("hh"))
    ).select("doc_id", F.col("i").alias("s"), (F.col("i") + _SPAN_LEN - 1).alias("e"))
    spans = sel.withColumn(
        "sid", F.row_number().over(Window.partitionBy("doc_id").orderBy("s"))
    ).select(
        F.col("doc_id").alias("sdoc"), "s", "e", "sid"
    )
    tok_state = pos.join(
        spans,
        (pos["doc_id"] == spans["sdoc"])
        & (pos["i"] >= spans["s"])
        & (pos["i"] <= spans["e"]),
        "left",
    ).select("doc_id", "n_tok", "i", "w", "sid", "s")
    corrupted = tok_state.groupBy("doc_id").agg(
        F.max("n_tok").alias("n_tok"),
        F.expr(
            "array_join(transform(array_sort(collect_list(CASE WHEN sid IS NULL"
            " THEN struct(i, w)"
            " WHEN i = s THEN struct(i, concat('<X', CAST(sid AS STRING), '>') AS w)"
            " END)), x -> x.w), ' ')"
        ).alias("corrupt_text"),
        F.expr(
            "array_join(transform(array_sort(collect_list(CASE WHEN sid IS NOT NULL"
            " THEN struct(i, CASE WHEN i = s THEN"
            " concat('<X', CAST(sid AS STRING), '> ', w) ELSE w END AS w)"
            " END)), x -> x.w), ' ')"
        ).alias("target_text"),
        F.countDistinct("sid").cast("long").alias("n_spans"),
        F.sum(F.expr("CASE WHEN sid IS NOT NULL THEN 1 ELSE 0 END"))
        .cast("long")
        .alias("n_masked"),
    )
    return corrupted.select(
        "doc_id",
        F.col("n_tok").alias("n_tokens"),
        "n_spans",
        "n_masked",
        F.expr("n_masked * 1000000 div n_tok").cast("long").alias("masked_ppm"),
        hash60(F.coalesce("corrupt_text", F.lit(""))).alias("corrupt_fp"),
        hash60(F.coalesce("target_text", F.lit(""))).alias("target_fp"),
    )


# ---------------------------------------------------------------------------
# Cluster-balanced subsampling: cap per-cluster occupancy deterministically.
# ---------------------------------------------------------------------------

_BAL_K = 8  # committed cluster count (hash-seeded integer-L2 cells)
_BAL_KEEP = 16  # per-cluster cap
_BAL_SALT = "balance:"

_BAL_MICROS = (
    "transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000)"
    " AS BIGINT))"
)
_BAL_DUCK_D2 = (
    "list_sum(list_transform(range(1, 65), _k -> ({a}[_k] - {b}[_k])"
    " * ({a}[_k] - {b}[_k])))"
)


def _bal_oracle() -> str:
    from hpmr_spark.functions.hashing import sql_hash60

    seed_h = sql_hash60("'" + _BAL_SALT + "' || CAST(vec_id AS STRING)")
    rank_h = sql_hash60("'" + _BAL_SALT + "rk:' || CAST(vec_id AS STRING)")
    return f"""
    WITH vi AS MATERIALIZED (
      SELECT vec_id,
             list_transform(embedding,
               _x -> CAST(FLOOR(CAST(_x AS DOUBLE) * 1000000) AS BIGINT)) AS v
      FROM embeddings
    ),
    seeds AS MATERIALIZED (
      SELECT ROW_NUMBER() OVER (ORDER BY h, vec_id) - 1 AS cell, v
      FROM (SELECT vec_id, v, {seed_h} AS h FROM vi)
      ORDER BY h, vec_id LIMIT {_BAL_K}
    ),
    asg AS MATERIALIZED (
      SELECT vec_id, cell FROM (
        SELECT vi.vec_id, s.cell,
               ROW_NUMBER() OVER (
                 PARTITION BY vi.vec_id
                 ORDER BY {_BAL_DUCK_D2.format(a='vi.v', b='s.v')}, s.cell)
                 AS rn
        FROM vi, seeds s) WHERE rn = 1
    ),
    rk AS (
      SELECT vec_id, cell,
             ROW_NUMBER() OVER (PARTITION BY cell
                                ORDER BY {rank_h}, vec_id) AS rank_in_cell,
             COUNT(*) OVER (PARTITION BY cell) AS cell_occupancy
      FROM asg
    )
    SELECT vec_id, CAST(cell AS BIGINT) AS cell,
           CAST(rank_in_cell AS BIGINT) AS rank_in_cell,
           CAST(cell_occupancy AS BIGINT) AS cell_occupancy
    FROM rk WHERE rank_in_cell <= {_BAL_KEEP}
    """


@register("cluster_balanced_sample", _bal_oracle())
def cluster_balanced_sample(spark, sf_dir):
    """Cluster-balanced subsampling (the MetaCLIP/DataComp balancing
    recipe): cluster the embedding corpus (committed-hash seed vectors →
    exact integer-L2 assignment, the semdedup machinery with its own salt)
    and cap every cluster at {KEEP} survivors, chosen by a committed
    content-hash rank — flattening the cluster distribution so head
    clusters stop dominating the training mix. Fully deterministic:
    hash-rank selection is reproducible under any partitioning (unlike
    df.sample), the argmin carries the (d2, cell) tie-break. One bounded
    collect ({K} seed vectors — commented), one corpus scan for
    assignment, one per-cell window. At 100 TB the cluster count grows
    with the corpus (IVF routing) so the per-cell window stays
    bounded.""".replace("{KEEP}", str(_BAL_KEEP)).replace("{K}", str(_BAL_K))
    e = _t(spark, sf_dir, "embeddings")
    vi = e.select("vec_id", F.expr(_BAL_MICROS).alias("v"))
    seed_rows = sorted(
        vi.select(
            "vec_id",
            "v",
            hash60(
                F.concat(F.lit(_BAL_SALT), F.col("vec_id").cast("string"))
            ).alias("h"),
        )
        .orderBy("h", "vec_id")
        .limit(_BAL_K)
        .collect(),
        key=lambda r: (r["h"], r["vec_id"]),
    )
    seeds = [[int(x) for x in r["v"]] for r in seed_rows]

    def d2_text(v, arr):
        a = "array(" + ",".join(str(int(x)) for x in arr) + ")"
        return (
            f"aggregate(zip_with({v},{a},(a,b)->(a-b)*(a-b)),"
            f"CAST(0 AS BIGINT),(acc,x)->acc+x)"
        )

    structs = ",".join(
        f"named_struct('d2',{d2_text('v', cv)},'cell',{ci})"
        for ci, cv in enumerate(seeds)
    )
    asg = vi.select(
        "vec_id",
        F.expr(f"array_min(array({structs}))").getField("cell").alias("cell"),
    )
    rank_h = hash60(
        F.concat(F.lit(_BAL_SALT + "rk:"), F.col("vec_id").cast("string"))
    )
    w_rk = Window.partitionBy("cell").orderBy(rank_h.asc(), "vec_id")
    w_n = Window.partitionBy("cell")
    rk = asg.select(
        "vec_id",
        F.col("cell").cast("long").alias("cell"),
        F.row_number().over(w_rk).cast("long").alias("rank_in_cell"),
        F.count(F.lit(1)).over(w_n).cast("long").alias("cell_occupancy"),
    )
    return rk.where(F.col("rank_in_cell") <= _BAL_KEEP)


# ---------------------------------------------------------------------------
# Hard-negative mining: top-k cross-label neighbors per query vector.
# ---------------------------------------------------------------------------

_HN_K = 5  # negatives per query (committed)
_HN_QMOD = 10  # query subset: vec_id % 10 == 0 (committed bound)

_HN_SCORE = (
    "CAST(FLOOR(CAST(dot_micros AS DOUBLE) * 1000000000.0"
    " / SQRT(CAST(n2q AS DOUBLE) * CAST(n2c AS DOUBLE))) AS BIGINT)"
)

_HN_ORACLE = f"""
    WITH v AS (
      SELECT vec_id, label,
             list_transform(embedding, e -> CAST(e AS DOUBLE)) AS emb,
             CAST(list_sum(list_transform(embedding,
               e -> CAST(FLOOR(CAST(e AS DOUBLE) * CAST(e AS DOUBLE)
                               * 1000000) AS BIGINT))) AS BIGINT) AS n2
      FROM embeddings
    ),
    pairs AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neg_id,
             q.n2 AS n2q, c.n2 AS n2c,
             CAST(list_sum(list_transform(generate_series(1, len(q.emb)),
               i -> CAST(FLOOR(q.emb[i] * c.emb[i] * 1000000) AS BIGINT)))
               AS BIGINT) AS dot_micros
      FROM v q JOIN v c
        ON c.label <> q.label
      WHERE q.vec_id % {_HN_QMOD} = 0
    ),
    scored AS (
      SELECT query_id, neg_id, {_HN_SCORE} AS score_nano FROM pairs
    ),
    rk AS (
      SELECT query_id, neg_id, score_nano,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY score_nano DESC, neg_id) AS rank
      FROM scored
    )
    SELECT query_id, neg_id, CAST(rank AS BIGINT) AS rank, score_nano
    FROM rk WHERE rank <= {_HN_K}
"""


@register("hard_negative_mining", _HN_ORACLE)
def hard_negative_mining(spark, sf_dir, n_rows=None):
    """Hard-negative mining for contrastive/retrieval training (DPR,
    Karpukhin et al. 2020; ANCE): for each query vector (committed subset
    vec_id % {Q} = 0), the top-{K} most-similar vectors with a DIFFERENT
    label — the negatives that actually move the loss. Scores are the
    committed exact-integer cosine (per-term floored dot/norm micros, one
    final double per pair); ranking carries the (score DESC, neg_id)
    total order. This is the documented exact baseline (query-subset x
    corpus); at 100 TB the same scoring runs over the IVF shortlist
    (similarity/ivfpq.py) instead of the full cross join, and the
    label-mismatch filter pushes into the shortlist scan.""".replace(
        "{Q}", str(_HN_QMOD)
    ).replace("{K}", str(_HN_K))
    _exact_pairs_guard("hard_negative_mining", n_rows, sf_dir)
    emb = _t(spark, sf_dir, "embeddings")
    n2 = F.aggregate(
        F.transform(
            "embedding",
            lambda e: F.floor(
                e.cast("double") * e.cast("double") * F.lit(1000000)
            ).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, t: acc + t,
    )
    v = emb.select(
        "vec_id", "label", F.col("embedding").alias("emb"), n2.alias("n2")
    )
    q = v.where(F.col("vec_id") % _HN_QMOD == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("ql"),
        F.col("emb").alias("eq"),
        F.col("n2").alias("n2q"),
    )
    c = v.select(
        F.col("vec_id").alias("neg_id"),
        F.col("label").alias("cl"),
        F.col("emb").alias("ec"),
        F.col("n2").alias("n2c"),
    )
    dot = F.aggregate(
        F.zip_with(
            "eq",
            "ec",
            lambda x, y: F.floor(
                x.cast("double") * y.cast("double") * F.lit(1000000)
            ).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, t: acc + t,
    )
    pairs = (
        q.join(c, F.col("cl") != F.col("ql"))
        .select("query_id", "neg_id", "n2q", "n2c", dot.alias("dot_micros"))
    )
    scored = pairs.select(
        "query_id", "neg_id", F.expr(_HN_SCORE).alias("score_nano")
    )
    rk = scored.select(
        "query_id",
        "neg_id",
        "score_nano",
        F.row_number()
        .over(
            Window.partitionBy("query_id").orderBy(
                F.desc("score_nano"), "neg_id"
            )
        )
        .cast("long")
        .alias("rank"),
    )
    return rk.where(F.col("rank") <= _HN_K).select(
        "query_id", "neg_id", "rank", "score_nano"
    )


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer et al. 2003): per-window rightmost-min
# k-gram hash selection + cross-doc shared-fingerprint census.
# ---------------------------------------------------------------------------

_WIN_K = 5  # tokens per k-gram (committed)
_WIN_W = 4  # winnowing window: guarantee-free gap <= w (committed)


def _win_oracle() -> str:
    g_h = sql_hash60("list_aggregate(toks[i : i + 4], 'string_agg', ' ')")
    return f"""
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    g AS MATERIALIZED (
      SELECT doc_id, i, {g_h} AS h
      FROM (
        SELECT d.doc_id, d.toks,
               unnest(generate_series(1, CAST(len(d.toks) AS BIGINT) - 4))
                 AS i
        FROM d
      )
    ),
    ng AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams FROM g
      GROUP BY doc_id
    ),
    winmin AS (
      -- rightmost-min per window: min over the 4-gram frame of (h, -i)
      SELECT doc_id,
             MIN({{'h': h, 'negi': 0 - i}}) OVER (PARTITION BY doc_id ORDER BY i
               ROWS BETWEEN CURRENT ROW AND {_WIN_W - 1} FOLLOWING) AS m,
             i,
             CAST(MAX(i) OVER (PARTITION BY doc_id) AS BIGINT) AS max_i
      FROM g
    ),
    sel AS (
      SELECT DISTINCT doc_id,
             CAST(0 - (m).negi AS BIGINT) AS pos, (m).h AS h
      FROM winmin
      WHERE i <= max_i - {_WIN_W - 1}
    ),
    df AS (
      SELECT h, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS ndocs
      FROM sel GROUP BY h
    )
    SELECT s.doc_id,
           CAST(MAX(ng.n_grams) AS BIGINT) AS n_grams,
           CAST(COUNT(*) AS BIGINT) AS n_fp,
           CAST(SUM(CASE WHEN df.ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_shared_fp,
           CAST(CAST(SUM(s.h) AS HUGEINT) % 9223372036854775783 AS BIGINT)
             AS fp_checksum
    FROM sel s
    JOIN ng ON ng.doc_id = s.doc_id
    JOIN df ON df.h = s.h
    GROUP BY s.doc_id
    """


@register("winnowing_fingerprints", _win_oracle())
def winnowing_fingerprints(spark, sf_dir):
    """Winnowing document fingerprints (Schleimer et al. 2003 — the MOSS
    algorithm, the brief's "document fingerprinting (rolling hash)" item
    done properly): hash every {K}-token gram (committed md5-60), slide a
    window of {W} consecutive gram hashes, and select each window's
    minimum with the RIGHTMOST tie-break (robust winnowing) — encoded as
    MIN over struct(h, -i), so min h wins and ties prefer larger i; the
    guarantee is one fingerprint per {W}-gap. Fingerprints are the
    DISTINCT selected (pos, h); the census reports per doc: gram count,
    fingerprint count, fingerprints shared with ANY other doc (the
    winnowing near-dup signal), and an exact mod-prime checksum of
    selected hashes. Windows are doc-partitioned with bounded frames; the
    only corpus shuffle is the fingerprint-keyed document-frequency count
    (hashes, never text).""".replace("{K}", str(_WIN_K)).replace(
        "{W}", str(_WIN_W)
    )
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("a")
    )
    g = d.select(
        "doc_id",
        F.explode(
            F.expr(
                f"CASE WHEN size(a) >= {_WIN_K} THEN "
                f"transform(sequence(1, size(a) - {_WIN_K - 1}), "
                f"i -> struct(i AS i, array_join(slice(a, i, {_WIN_K}), ' ')"
                f" AS gram)) ELSE array() END"
            )
        ).alias("s"),
    ).select(
        "doc_id",
        F.col("s.i").cast("long").alias("i"),
        hash60(F.col("s.gram")).alias("h"),
    )
    ng = g.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("n_grams"))
    w_frame = (
        Window.partitionBy("doc_id").orderBy("i").rowsBetween(0, _WIN_W - 1)
    )
    w_doc = Window.partitionBy("doc_id")
    winmin = g.select(
        "doc_id",
        "i",
        F.min(F.struct(F.col("h"), (-F.col("i")).alias("negi"))).over(
            w_frame
        ).alias("m"),
        F.max("i").over(w_doc).alias("max_i"),
    )
    sel = (
        winmin.where(F.col("i") <= F.col("max_i") - (_WIN_W - 1))
        .select(
            "doc_id",
            (-F.col("m.negi")).cast("long").alias("pos"),
            F.col("m.h").alias("h"),
        )
        .distinct()
    )
    df = sel.groupBy("h").agg(
        F.countDistinct("doc_id").cast("long").alias("ndocs")
    )
    return (
        sel.hint("merge")
        .join(df, "h")
        .join(ng, "doc_id")
        .groupBy("doc_id")
        .agg(
            F.max("n_grams").cast("long").alias("n_grams"),
            F.count(F.lit(1)).cast("long").alias("n_fp"),
            F.sum(F.expr("CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END"))
            .cast("long")
            .alias("n_shared_fp"),
            F.expr(
                "CAST(SUM(CAST(h AS DECIMAL(38,0))) % 9223372036854775783"
                " AS BIGINT)"
            ).alias("fp_checksum"),
        )
    )
