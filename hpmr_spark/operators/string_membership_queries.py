"""Round-10 wave 8: string similarity and membership inference (named
published recipes absent from the registry):

- jaro_winkler_pairs: Jaro-Winkler similarity (Jaro 1989; Winkler 1990)
  — THE record-linkage string comparator next to the registry's
  levenshtein — over alphabetically adjacent vocabulary words, computed
  in PURE RATIONAL INTEGER arithmetic: the greedy windowed character
  matching runs as an in-row fold carrying [mask, m, (i,j) pairs…], the
  transposition count is doubled to stay integer, and the final
  similarity is one exact integer division
  ⌊10⁶·(10·J + ℓ(D−J)) / (10·D)⌋ — no float ever decides anything.
- mink_prob_membership: Min-K% Prob membership inference (Shi et al.
  2023, "Detecting Pretraining Data from LLMs"): per document, the mean
  of the LOWEST 20% token log-probabilities under the corpus unigram LM
  (LN over exact counts, nano-floored elementwise — the libm-parity
  commitment), aggregated per source — the standard
  was-this-in-the-training-set signal, and the measurement behind
  contamination audits.

Integer discipline (CLAUDE.md): every Jaro-Winkler quantity is an exact
small-integer rational (strings ≤ 8 chars); Min-K logprobs are
elementwise nano floors BEFORE any mean; means are truncating integer
divisions of negative-capable sums (sign-split).

Reference parity: beyond the reference kv kernel
(/root/reference/src/hpmr.h:1-10) along the brief's LLM-pipeline axis.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hpmr_spark.catalog import _t, register
from hpmr_spark.engine import materialize
from hpmr_spark.functions.ranking import bounded_rank

# ---------------------------------------------------------------------------
# Jaro-Winkler in rational integers
# ---------------------------------------------------------------------------

_JW_MAXLEN = 8  # corpus max word length (probed)


def _pow2(j: str) -> str:
    cases = " ".join(f"WHEN {k} THEN {1 << k}" for k in range(1, _JW_MAXLEN + 1))
    return f"(CASE CAST({j} AS INT) {cases} ELSE 0 END)"


def _jw_fold_duck() -> str:
    """Hand-assembled DuckDB fold (the dialect differences — list concat,
    slice end-index, element rebinding — warrant explicit text)."""
    mask = "acc[1]"
    m = "acc[2]"
    i = "_e[1]"
    cand = (
        f"CASE WHEN GREATEST(1, {i} - w) <= LEAST(mb, {i} + w) THEN"
        f" list_filter(range(GREATEST(1, {i} - w), LEAST(mb, {i} + w) + 1),"
        f" j -> substr(b, CAST(j AS INT), 1) = substr(a, CAST({i} AS INT), 1)"
        f" AND ({mask} // {_pow2('j')}) % 2 = 0)"
        f" ELSE [] END"
    )
    jstar = f"list_min({cand})"
    matched = (
        f"flatten([[{mask} + {_pow2(jstar)}, {m} + 1],"
        f" list_slice(acc, 3, len(acc)), [{i}, {jstar}]])"
    )
    step = (
        f"CASE WHEN {i} > ma THEN acc"
        f" WHEN {jstar} IS NULL THEN acc"
        f" ELSE {matched} END"
    )
    return (
        f"list_reduce(list_prepend([CAST(0 AS BIGINT), CAST(0 AS BIGINT)],"
        f" list_transform(range(1, {_JW_MAXLEN + 1}),"
        f" _i -> [CAST(_i AS BIGINT)])),"
        f" (acc, _e) -> {step})"
    )


def _jw_fold_spark() -> str:
    mask = "element_at(acc, 1)"
    m = "element_at(acc, 2)"
    cand = (
        f"CASE WHEN GREATEST(1, i - w) <= LEAST(mb, i + w) THEN"
        f" filter(sequence(GREATEST(1, i - w), LEAST(mb, i + w)),"
        f" j -> substr(b, CAST(j AS INT), 1) = substr(a, CAST(i AS INT), 1)"
        f" AND ({mask} div {_pow2('j')}) % 2 = 0)"
        f" ELSE array() END"
    )
    jstar = f"array_min({cand})"
    matched = (
        f"concat(array({mask} + {_pow2(jstar)}, {m} + 1),"
        f" slice(acc, 3, size(acc) - 2), array(CAST(i AS BIGINT), {jstar}))"
    )
    step = (
        f"CASE WHEN i > ma THEN acc"
        f" WHEN {jstar} IS NULL THEN acc"
        f" ELSE {matched} END"
    )
    return (
        f"aggregate(sequence(CAST(1 AS BIGINT), CAST({_JW_MAXLEN} AS BIGINT)),"
        f" array(CAST(0 AS BIGINT), CAST(0 AS BIGINT)),"
        f" (acc, i) -> {step})"
    )


def _jw_score(el, is_spark: bool) -> str:
    """sim_micro from the fold result `fr` plus a, b, ma, mb columns."""
    m = el("fr", 2)
    if is_spark:
        iks = (
            f"transform(sequence(1, {m}),"
            f" k -> element_at(fr, CAST(2 * k + 1 AS INT)))"
        )
        jks = (
            f"transform(sequence(1, {m}),"
            f" k -> element_at(fr, CAST(2 * k + 2 AS INT)))"
        )
        t2 = (
            f"size(filter(sequence(1, {m}), k ->"
            f" substr(a, CAST(element_at({iks}, CAST(k AS INT)) AS INT), 1)"
            f" <> substr(b, CAST(element_at(array_sort({jks}),"
            f" CAST(k AS INT)) AS INT), 1)))"
        )
        ell = (
            f"size(filter(sequence(1, LEAST(LEAST(ma, mb), 4)), p ->"
            f" substr(a, 1, CAST(p AS INT)) = substr(b, 1, CAST(p AS INT))))"
        )
    else:
        iks = f"list_transform(range(1, {m} + 1), k -> fr[2 * k + 1])"
        jks = f"list_transform(range(1, {m} + 1), k -> fr[2 * k + 2])"
        t2 = (
            f"len(list_filter(range(1, {m} + 1), k ->"
            f" substr(a, CAST(({iks})[k] AS INT), 1)"
            f" <> substr(b, CAST(list_sort({jks})[k] AS INT), 1)))"
        )
        ell = (
            f"len(list_filter(range(1, LEAST(LEAST(ma, mb), 4) + 1), p ->"
            f" substr(a, 1, CAST(p AS INT)) = substr(b, 1, CAST(p AS INT))))"
        )
    den = f"(6 * ma * mb * {m})"
    jnum = (
        f"(2 * {m} * {m} * mb + 2 * {m} * {m} * ma"
        f" + (2 * {m} - {t2}) * ma * mb)"
    )
    div = "div" if is_spark else "//"
    return (
        f"CASE WHEN {m} = 0 THEN CAST(0 AS BIGINT)"
        f" ELSE CAST((10 * {jnum} + ({ell}) * ({den} - {jnum})) * 1000000"
        f" {div} (10 * {den}) AS BIGINT) END"
    )


def _jw_oracle_text() -> str:
    def el(a, i):
        return f"{a}[{i}]"

    score = _jw_score(el, is_spark=False)
    return f"""
    WITH vocab AS MATERIALIZED (
      SELECT w, ROW_NUMBER() OVER (ORDER BY w) AS rn
      FROM (SELECT DISTINCT unnest(string_split(text, ' ')) AS w
            FROM documents)
    ),
    pairs AS (
      SELECT x.w AS a, y.w AS b,
             CAST(length(x.w) AS BIGINT) AS ma,
             CAST(length(y.w) AS BIGINT) AS mb,
             GREATEST(GREATEST(CAST(length(x.w) AS BIGINT),
                               CAST(length(y.w) AS BIGINT)) // 2 - 1,
                      0) AS w
      FROM vocab x JOIN vocab y ON y.rn = x.rn + 1
    ),
    folded AS (
      SELECT a, b, ma, mb, {_jw_fold_duck()} AS fr FROM pairs
    )
    SELECT a AS word_a, b AS word_b,
           CAST(fr[2] AS BIGINT) AS n_matches,
           {score} AS sim_micro
    FROM folded
"""


@register("jaro_winkler_pairs", _jw_oracle_text())
def jaro_winkler_pairs(spark, sf_dir):
    """Jaro-Winkler similarity (Jaro 1989; Winkler 1990) over
    alphabetically adjacent vocabulary words — the record-linkage
    comparator next to dedup_levenshtein_fuzzy. Entirely in RATIONAL
    INTEGERS: the greedy windowed matching is an in-row fold carrying
    [used-bitmask, m, (i,j) matches…] (words ≤ 8 chars ⟹ the bitmask is
    one BIGINT), transpositions ride doubled (t2), and
    JW = (10·J + ℓ(D−J))/(10·D) with J/D the exact Jaro rational — one
    integer division to micros at the end. Cross-engine with no float
    commitments at all (the strongest oracle class).

    Spark shape: the vocabulary frame is corpus-DERIVED but
    vocab-bounded; ranking is the broadcast bounded_rank (persisted —
    rank + join-back consumers), pairing is an rn-equi
    self-join, and the comparator is pure in-row HOF arithmetic."""
    d = _t(spark, sf_dir, "documents")
    vocab = materialize(d.select(F.explode(F.split("text", " ")).alias("w")).distinct())
    ranked = bounded_rank(vocab, "w", "w", primary_desc=False, out="rn")
    x = ranked.select(F.col("w").alias("a"), F.col("rn").alias("ra"))
    y = ranked.select(F.col("w").alias("b"), F.col("rn").alias("rb"))
    pairs = x.join(y, F.col("rb") == F.col("ra") + 1).select(
        "a",
        "b",
        F.length("a").cast("long").alias("ma"),
        F.length("b").cast("long").alias("mb"),
        F.expr(
            "GREATEST(GREATEST(CAST(length(a) AS BIGINT),"
            " CAST(length(b) AS BIGINT)) div 2 - 1, CAST(0 AS BIGINT))"
        ).alias("w"),
    )
    folded = pairs.select(
        "a", "b", "ma", "mb", F.expr(_jw_fold_spark()).alias("fr")
    )

    def el(a, i):
        return f"element_at({a}, CAST({i} AS INT))"

    return folded.select(
        F.col("a").alias("word_a"),
        F.col("b").alias("word_b"),
        F.expr("element_at(fr, 2)").cast("long").alias("n_matches"),
        F.expr(_jw_score(el, is_spark=True)).alias("sim_micro"),
    )


# ---------------------------------------------------------------------------
# Min-K% Prob membership inference
# ---------------------------------------------------------------------------

_MK_PCT = 20  # committed K%


_MK_ORACLE = f"""
    WITH wc AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      GROUP BY w
    ),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM wc),
    toks0 AS (
      SELECT doc_id, source, unnest(string_split(text, ' ')) AS w
      FROM documents
    ),
    toks AS (
      SELECT t.doc_id, t.source,
             CAST(FLOOR((LN(CAST(wc.c AS DOUBLE))
               - LN(CAST(tot.n AS DOUBLE))) * 1000000000) AS BIGINT) AS lp
      FROM toks0 t, wc, tot
      WHERE wc.w = t.w
    ),
    docs AS (
      SELECT doc_id, source,
             list_sort(list(lp)) AS lps,
             CAST(COUNT(*) AS BIGINT) AS nt
      FROM toks GROUP BY doc_id, source
    ),
    scored AS (
      SELECT source,
             CAST(list_sum(list_slice(lps, 1,
               CAST((nt * {_MK_PCT} + 99) // 100 AS BIGINT))) AS BIGINT)
               AS ssum,
             (nt * {_MK_PCT} + 99) // 100 AS k
      FROM docs
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(CASE WHEN SUM(ssum // k) >= 0
             THEN CAST(SUM(ssum // k) AS HUGEINT) // COUNT(*)
             ELSE 0 - ((0 - CAST(SUM(ssum // k) AS HUGEINT)) // COUNT(*))
             END AS BIGINT) AS mean_mink_nano,
           CAST(MAX(ssum // k) AS BIGINT) AS max_mink_nano
    FROM scored GROUP BY source
"""


@register("mink_prob_membership", _MK_ORACLE)
def mink_prob_membership(spark, sf_dir):
    """Min-K% Prob membership inference (Shi et al. 2023): per document,
    the mean of the LOWEST 20% token log-probabilities under the corpus
    unigram LM — members of the training set lack very-low-probability
    outlier tokens, so a high Min-K score flags membership /
    contamination. Log-probs are LN over exact counts, nano-floored
    ELEMENTWISE before any aggregation (the libm-parity commitment); the
    per-doc bottom-k mean is a truncating division (sign-split — scores
    are negative), and per-source means likewise. Read next to
    contamination_check_5gram: the n-gram-overlap vs LM-score views of
    the same audit.

    Spark shape: one token pass joined (merge-pinned — the vocab frame
    is corpus-derived, never broadcast) to the word-count LM, per-doc
    in-row sort + slice, one source agg. Linear at any scale."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", "source", F.explode(F.split("text", " ")).alias("w")
    )
    # the LM frame is vocab-bounded and consumed by tot + the token join
    # (multi-consumer rule) — persisted
    wc = materialize(
        toks.groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    tot = wc.agg(F.sum("c").cast("long").alias("n"))
    lp = (
        toks.hint("merge")
        .join(wc, "w")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            "source",
            F.expr(
                "CAST(FLOOR((LN(CAST(c AS DOUBLE)) - LN(CAST(n AS DOUBLE)))"
                " * 1000000000) AS BIGINT)"
            ).alias("lp"),
        )
    )
    docs = lp.groupBy("doc_id", "source").agg(
        F.expr("array_sort(collect_list(lp))").alias("lps"),
        F.count(F.lit(1)).cast("long").alias("nt"),
    )
    scored = docs.select(
        "source",
        F.expr(f"(nt * {_MK_PCT} + 99) div 100").alias("k"),
        F.expr(
            f"aggregate(slice(lps, 1, CAST((nt * {_MK_PCT} + 99) div 100"
            f" AS INT)), CAST(0 AS BIGINT), (s, x) -> s + x)"
        ).alias("ssum"),
    ).select(
        "source",
        F.expr(
            "CASE WHEN ssum >= 0 THEN ssum div k"
            " ELSE 0 - ((0 - ssum) div k) END"
        ).alias("mink"),
    )
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.expr(
            "CAST(CASE WHEN SUM(mink) >= 0"
            " THEN CAST(SUM(mink) AS DECIMAL(38,0)) div COUNT(*)"
            " ELSE 0 - ((0 - CAST(SUM(mink) AS DECIMAL(38,0)))"
            " div COUNT(*)) END AS BIGINT)"
        ).alias("mean_mink_nano"),
        F.max("mink").cast("long").alias("max_mink_nano"),
    )
