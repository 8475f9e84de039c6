"""Tokenizer batch 2 (round 5): unigram-LM Viterbi segmentation — the
SentencePiece-style optimal-segmentation step (BPE's merge step landed in
round 2; this is the OTHER mainstream subword algorithm) — done as pure
Catalyst dynamic programming: the per-word DP over split points is
unrolled into a fixed chain of column expressions over a pivoted
piece-score frame, so the whole operator is joins + aggregations +
projections with ZERO Python in the loop.

Determinism: piece scores are small exact integers; the additive DP
metric is value(piece) = 16·score(piece) − 1, which maximizes total
score with an AUTOMATIC min-piece-count tie-break in one integer
objective (total = 16·Σscore − n_pieces; recover n_pieces = 16 −
total % 16, score = (total + n_pieces) div 16 — exact on both engines,
totals are positive). Every max is over exact integers, so the DP value
is partition- and engine-invariant.

Reference parity: extends the engine surface beyond the reference's kv
kernel (/root/reference/src/hpmr.h:1-10) along the LLM-pipeline axis the
brief makes first-class.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hpmr_spark.catalog import _t, register
from hpmr_spark.functions.littables import values_df

_MAX_LEN = 10  # eligible word length cap — bounds the DP unroll
_MAX_PIECE = 4  # max subword piece length
_VOCAB_MIN_WORDS = 3  # piece must appear in ≥ this many distinct words
_NEG = -1000000000  # dominated sentinel for missing pieces

# (j, i) split pairs needing a vocab lookup: piece = word[j..i), 2 ≤ i−j ≤ 4.
_PAIRS = [
    (j, i)
    for i in range(2, _MAX_LEN + 1)
    for j in range(max(0, i - _MAX_PIECE), i - 1)
]


def _dp_exprs() -> list[str]:
    """d_i column expressions (identical text both engines): d_0 = 0;
    d_i = GREATEST(d_{i−1} + 15, max over vocab pieces ending at i of
    d_j + 16·score − 1). Single-char pieces (score 1 → value 15) make
    every prefix reachable, so no NULL states exist; missing vocab
    pieces are COALESCEd to a dominated sentinel."""
    exprs = []
    for i in range(1, _MAX_LEN + 1):
        terms = [f"d_{i - 1} + 15"]
        for j, i2 in _PAIRS:
            if i2 == i:
                terms.append(
                    f"COALESCE(d_{j} + 16 * s_{j}_{i} - 1, {_NEG})"
                )
        if len(terms) == 1:
            exprs.append(terms[0])
        else:
            exprs.append(f"GREATEST({', '.join(terms)})")
    return exprs


_BEST_CASE = "CASE " + " ".join(
    f"WHEN wlen = {i} THEN d_{i}" for i in range(2, _MAX_LEN + 1)
) + " END"


def _oracle() -> str:
    pair_values = ", ".join(f"({j}, {i})" for j, i in _PAIRS)
    wide_cols = ", ".join(
        f"MAX(CASE WHEN j = {j} AND i = {i} THEN score END) AS s_{j}_{i}"
        for j, i in _PAIRS
    )
    dp_ctes = []
    prev = "wide"
    for i, ex in enumerate(_dp_exprs(), start=1):
        dp_ctes.append(f"dp{i} AS (SELECT *, {ex} AS d_{i} FROM {prev})")
        prev = f"dp{i}"
    return f"""
    WITH toks AS (
      SELECT unnest(string_split(text, ' ')) AS w FROM documents
    ),
    words AS (
      SELECT DISTINCT w FROM toks
      WHERE regexp_full_match(w, '[a-z]+')
        AND len(w) BETWEEN 2 AND {_MAX_LEN}
    ),
    pieces AS (
      SELECT w, g.j, g.i, substr(w, g.j + 1, g.i - g.j) AS piece
      FROM words, (VALUES {pair_values}) g(j, i)
      WHERE g.i <= len(w)
    ),
    vocab AS (
      SELECT piece,
             CAST(4 * len(piece) * len(piece) AS BIGINT) AS score
      FROM (SELECT piece, COUNT(DISTINCT w) AS nw FROM pieces GROUP BY piece)
      WHERE nw >= {_VOCAB_MIN_WORDS}
    ),
    scored AS (
      SELECT p.w, p.j, p.i, v.score
      FROM pieces p JOIN vocab v ON v.piece = p.piece
    ),
    wide AS (
      SELECT w.w, CAST(len(w.w) AS BIGINT) AS wlen,
             CAST(0 AS BIGINT) AS d_0, {wide_cols}
      FROM words w LEFT JOIN scored s ON s.w = w.w
      GROUP BY w.w
    ),
    {", ".join(dp_ctes)},
    best AS (SELECT w AS word, wlen, {_BEST_CASE} AS total FROM {prev})
    SELECT word,
           CAST(16 - total % 16 AS BIGINT) AS n_pieces,
           CAST((total + (16 - total % 16)) // 16 AS BIGINT) AS seg_score
    FROM best
    """


@register("unigram_viterbi_segment", _oracle())
def unigram_viterbi_segment(spark, sf_dir):
    """Unigram-LM (SentencePiece-style) Viterbi segmentation of every
    eligible corpus word over a DATA-DERIVED subword vocabulary (pieces
    of length 2-4 occurring in ≥3 distinct words, score 4·len² — longer
    pieces win; single chars always available at score 1), solved as
    pure Catalyst DP: explode each word into its ≤27 (start, end) piece
    slots, ONE broadcast join against the vocab, pivot the scores back
    to per-word columns (MAX-CASE — no Python, no UDF), then the
    Viterbi recurrence unrolled as {n} chained integer column
    expressions. The additive metric 16·score−1 per piece folds the
    min-piece tie-break into the same integer maximization, and
    n_pieces/seg_score are recovered exactly by mod/div. At 100 TB the
    distinct-word frame is vocabulary-bounded (shuffles on word and
    piece keys only) and the DP is a fixed-width projection — linear
    scan, no iteration, no driver state.""".replace("{n}", str(_MAX_LEN))
    docs = _t(spark, sf_dir, "documents")
    words = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .where(
            F.col("w").rlike("^[a-z]+$")
            & F.length("w").between(2, _MAX_LEN)
        )
        .distinct()
    )
    # LocalRelation literal (r12): createDataFrame of the python list built
    # a PythonRDD whose broadcast-build job launched 32 python workers
    # (~60 s task-time cold for 27 rows — a task-time ranking finding)
    grid = values_df(spark, _PAIRS, "j int, i int")
    pieces = (
        words.crossJoin(F.broadcast(grid))
        .where(F.col("i") <= F.length("w"))
        .select(
            "w",
            "j",
            "i",
            F.expr("substr(w, j + 1, i - j)").alias("piece"),
        )
    )
    vocab = (
        pieces.groupBy("piece")
        .agg(F.countDistinct("w").alias("nw"))
        .where(F.col("nw") >= _VOCAB_MIN_WORDS)
        .select(
            "piece",
            F.expr("CAST(4 * length(piece) * length(piece) AS BIGINT)").alias(
                "score"
            ),
        )
    )
    scored = pieces.join(F.broadcast(vocab), "piece").select("w", "j", "i", "score")
    wide = (
        words.join(scored, "w", "left")
        .groupBy("w")
        .agg(
            *[
                F.max(
                    F.when((F.col("j") == j) & (F.col("i") == i), F.col("score"))
                ).alias(f"s_{j}_{i}")
                for j, i in _PAIRS
            ]
        )
        .withColumn("wlen", F.length("w").cast("long"))
        .withColumn("d_0", F.lit(0).cast("long"))
    )
    df = wide
    for i, ex in enumerate(_dp_exprs(), start=1):
        df = df.withColumn(f"d_{i}", F.expr(ex))
    best = df.select(
        F.col("w").alias("word"), F.expr(_BEST_CASE).alias("total")
    )
    return best.select(
        "word",
        F.expr("CAST(16 - total % 16 AS BIGINT)").alias("n_pieces"),
        F.expr("CAST((total + (16 - total % 16)) div 16 AS BIGINT)").alias(
            "seg_score"
        ),
    )
