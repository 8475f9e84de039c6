"""Corpus-quality batch: doc-level LM scoring, stopword discovery +
content ratio, PII-style masking, inverted-index postings, curriculum
shard assignment.

These are the quality-filtering / indexing stages of a pretraining-data
pipeline (CCNet/Gopher-style), each expressed as a single declarative
Catalyst plan. Reference parity: all are keyed-aggregation workloads —
the reference's sync() combine loop (/root/reference/src/dist_map.h:147-210)
over corpus keys.

Determinism rules (CLAUDE.md): probabilities and ratios in integer ppm via
floor division on non-negative operands; token sets stringified after an
explicit sort; masked text compared via md5 (the only cross-engine hash).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from hpmr_spark.catalog import register, _t
from hpmr_spark.engine import materialize


# ---------------------------------------------------------------------------
# Per-document LM score under the corpus bigram model (perplexity proxy).
# ---------------------------------------------------------------------------
@register(
    "doc_lm_score_ppm",
    """
    WITH toks AS (
      SELECT doc_id,
             unnest(string_split(text, ' ')) AS w,
             generate_subscripts(string_split(text, ' '), 1) AS i
      FROM documents
    ),
    bi AS (
      SELECT a.doc_id, a.w AS w1, b.w AS w2
      FROM toks a JOIN toks b
        ON a.doc_id = b.doc_id AND b.i = a.i + 1
    ),
    c AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n FROM bi GROUP BY w1, w2
    ),
    lm AS (
      SELECT w1, w2,
             CAST(n * 1000000 // SUM(n) OVER (PARTITION BY w1) AS BIGINT)
               AS p_ppm
      FROM c
    )
    SELECT bi.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(p_ppm) AS BIGINT) AS sum_ppm,
           CAST(SUM(p_ppm) // COUNT(*) AS BIGINT) AS mean_ppm
    FROM bi JOIN lm ON bi.w1 = lm.w1 AND bi.w2 = lm.w2
    GROUP BY bi.doc_id
    """,
)
def doc_lm_score_ppm(spark, sf_dir):
    """Perplexity-proxy quality score: mean conditional bigram probability
    P(w2|w1) (integer ppm) of each document under the LM estimated from the
    WHOLE corpus — the classic fluency filter, without logs or floats so the
    score is exact and parallel-sum-safe. Plan: one explode builds (doc_id,
    w1, w2) pairs (persisted — it feeds both the global count agg and the
    score join; Catalyst has no cross-tree CSE), the LM table is
    vocab²-bounded and broadcast back onto the pairs, then ONE shuffle per
    stage: groupBy(w1,w2) → broadcast join → groupBy(doc_id). At 100 TB the
    corpus streams through twice while LM state stays vocab²-bounded."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.split("text", " ").alias("a")
    )
    pairs = d.select(
        "doc_id",
        F.explode(
            F.expr(
                "zip_with(slice(a, 1, size(a) - 1), slice(a, 2, size(a) - 1), "
                "(x, y) -> struct(x AS w1, y AS w2))"
            )
        ).alias("p"),
    ).select("doc_id", "p.w1", "p.w2")
    pairs = materialize(pairs)
    c = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("n"))
    lm = c.withColumn(
        "p_ppm", F.expr("n * 1000000 div sum(n) over (partition by w1)")
    ).select("w1", "w2", "p_ppm")
    scored = (
        pairs.join(F.broadcast(lm), ["w1", "w2"])
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("p_ppm").alias("sum_ppm"),
        )
    )
    return scored.select(
        "doc_id",
        "n_bigrams",
        "sum_ppm",
        F.expr("sum_ppm div n_bigrams").alias("mean_ppm"),
    )


# ---------------------------------------------------------------------------
# Corpus-driven stopword discovery: document frequency per token.
# ---------------------------------------------------------------------------
@register(
    "stopword_discovery_df",
    """
    WITH toks AS (
      SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w
      FROM documents
    )
    SELECT w AS token,
           CAST(COUNT(*) AS BIGINT) AS df,
           COUNT(*) * 100 >= (SELECT COUNT(*) FROM documents) * 60 AS is_stop
    FROM toks GROUP BY w
    """,
)
def stopword_discovery_df(spark, sf_dir):
    """Data-driven stopword list: document frequency per token, flagged
    stop when the token appears in ≥60% of documents. The threshold test is
    integer cross-multiplication (df·100 ≥ n_docs·60) — no float ratio ever
    decides the flag. Plan: explode → per-doc distinct → ONE groupBy(token);
    the corpus total is a 1-row broadcast. Output is vocab-sized — this is
    the table the content-ratio filter broadcasts back over the corpus."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).distinct()
    total = d.select(F.count(F.lit(1)).alias("n_docs"))
    df = toks.groupBy("w").agg(F.count(F.lit(1)).alias("df"))
    return (
        df.crossJoin(F.broadcast(total))
        .select(
            F.col("w").alias("token"),
            "df",
            (F.col("df") * 100 >= F.col("n_docs") * 60).alias("is_stop"),
        )
    )


# ---------------------------------------------------------------------------
# Per-document content ratio after removing discovered stopwords.
# ---------------------------------------------------------------------------
@register(
    "doc_content_ratio_ppm",
    """
    WITH toks AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS w
      FROM documents
    ),
    stop AS (
      SELECT w
      FROM (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w
            FROM documents) t
      GROUP BY w
      HAVING COUNT(*) * 100 >= (SELECT COUNT(*) FROM documents) * 60
    )
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN s.w IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_content,
           CAST(SUM(CASE WHEN s.w IS NULL THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS content_ppm
    FROM toks t LEFT JOIN stop s ON t.w = s.w
    GROUP BY t.doc_id
    """,
)
def doc_content_ratio_ppm(spark, sf_dir):
    """Boilerplate-pressure signal: fraction (ppm) of each document's tokens
    that are NOT corpus-discovered stopwords — the 'how much content is
    left after cleaning' stage of a C4-style pipeline. The stop list is
    derived in-plan (df ≥ 60% of docs) and broadcast as a left join; the
    corpus makes one pass to build the list and one to score. At 100 TB the
    stop list stays vocab-bounded (broadcastable), and the score shuffle
    keys on doc_id only."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    total = d.select(F.count(F.lit(1)).alias("n_docs"))
    stop = (
        toks.distinct()
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("df"))
        .crossJoin(F.broadcast(total))
        .where(F.col("df") * 100 >= F.col("n_docs") * 60)
        .select("w", F.lit(True).alias("_stop"))
    )
    return (
        toks.join(F.broadcast(stop), "w", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("_stop").isNull(), 1).otherwise(0)).alias(
                "n_content"
            ),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_content",
            F.expr("n_content * 1000000 div n_tokens").alias("content_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# PII-style masking: redact digit runs from event props, count + fingerprint.
# ---------------------------------------------------------------------------
@register(
    "pii_scrub_props",
    """
    SELECT event_id,
           CAST(len(regexp_extract_all(props, '[0-9]+')) AS BIGINT)
             AS n_digit_runs,
           md5(regexp_replace(props, '[0-9]+', '#', 'g')) AS masked_md5
    FROM events
    """,
)
def pii_scrub_props(spark, sf_dir):
    """PII-redaction plumbing: mask every digit run in the raw payload,
    count how many spans were redacted, and fingerprint the masked text
    (md5 — the one cross-engine hash). The regex is intentionally plain
    ASCII-class ('[0-9]+') so Java regex (Spark) and RE2 (DuckDB) agree;
    production patterns (emails, phones, SSNs) drop into the same plan
    shape. Embarrassingly parallel — no shuffle at all: scan → project,
    whole-stage codegen, which is exactly what a redaction pass over
    100 TB must be."""
    e = _t(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.expr("CAST(size(regexp_extract_all(props, '[0-9]+', 0)) AS BIGINT)").alias(
            "n_digit_runs"
        ),
        F.md5(F.regexp_replace("props", "[0-9]+", "#")).alias("masked_md5"),
    )


# ---------------------------------------------------------------------------
# Inverted index: token → document-frequency + capped sorted posting list.
# ---------------------------------------------------------------------------
@register(
    "inverted_index_postings",
    """
    WITH toks AS (
      SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w
      FROM documents
    )
    SELECT w AS token,
           CAST(COUNT(*) AS BIGINT) AS df,
           array_to_string(list_sort(list(doc_id))[1:5], ',') AS top5_docs
    FROM toks GROUP BY w
    """,
)
def inverted_index_postings(spark, sf_dir):
    """Search-index build step: per-token document frequency plus the first
    5 postings (sorted doc_ids, stringified — collect order is
    partition-dependent, the sorted prefix is not). One explode + per-doc
    distinct + ONE groupBy(token). At 100 TB the full posting lists would
    go to a partitioned sink instead of a capped string, but the shuffle
    key (token) and the sort-then-cap discipline are identical."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    ).distinct()
    return toks.groupBy("w").agg(
        F.count(F.lit(1)).alias("df"),
        F.expr(
            "array_join(transform(slice(sort_array(collect_list(doc_id)), 1, 5), "
            "x -> cast(x as string)), ',')"
        ).alias("top5_docs"),
    ).select(F.col("w").alias("token"), "df", "top5_docs")


# ---------------------------------------------------------------------------
# Curriculum shard assignment: quality-ordered round-robin sharding.
# ---------------------------------------------------------------------------
@register(
    "curriculum_shards",
    """
    WITH r AS (
      SELECT doc_id, n_chars,
             ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) AS rn
      FROM documents
    )
    SELECT CAST((rn - 1) % 8 AS BIGINT) AS shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(MIN(rn) AS BIGINT) AS min_rank,
           CAST(MAX(rn) AS BIGINT) AS max_rank
    FROM r GROUP BY (rn - 1) % 8
    """,
)
def curriculum_shards(spark, sf_dir):
    """Curriculum sharding: rank documents by a quality proxy (length desc,
    doc_id tie-break) and deal them round-robin into 8 shards so every
    shard sees the same quality profile — the deterministic alternative to
    random shuffling for training-data layout. The global rank is the
    two-pass bucketed row_number (functions/ranking.py, negated-length
    leading key for the DESC order) — parallel over the doc-scale frame,
    modulo dealing unchanged."""
    from hpmr_spark.functions.ranking import global_row_number

    d = _t(spark, sf_dir, "documents")
    r = global_row_number(
        d.select("doc_id", "n_chars").withColumn("neg_chars", -F.col("n_chars")),
        ["neg_chars", "doc_id"],
        out="rn",
    ).select("doc_id", "n_chars", "rn")
    return (
        r.withColumn("shard", ((F.col("rn") - 1) % 8).cast("long"))
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.min("rn").cast("long").alias("min_rank"),
            F.max("rn").cast("long").alias("max_rank"),
        )
    )


# ---------------------------------------------------------------------------
# End-to-end pretraining-corpus pipeline report (composed single plan).
# ---------------------------------------------------------------------------
_MIX_W = {"en": 500000, "fr": 250000, "es": 125000, "zh": 62500, "de": 31250}
_MIX_CASE = (
    "CASE lang "
    + " ".join(f"WHEN '{k}' THEN {v}" for k, v in _MIX_W.items())
    + " ELSE 0 END"
)


def _pipeline_oracle() -> str:
    from hpmr_spark.functions.hashing import sql_hash60

    h = sql_hash60("CAST(doc_id AS VARCHAR)")
    return f"""
    WITH base AS (
      SELECT doc_id, lang, n_chars, md5(text) AS fp,
             len(string_split(text, ' ')) AS n_tokens,
             len(list_distinct(string_split(text, ' '))) AS n_distinct
      FROM documents
    ),
    flagged AS (
      SELECT *,
             (n_distinct * 1000000 // n_tokens >= 300000
              AND n_chars BETWEEN 100 AND 2000) AS q_ok
      FROM base
    ),
    ranked AS (
      SELECT *,
             CASE WHEN q_ok THEN
               ROW_NUMBER() OVER (PARTITION BY fp, q_ok ORDER BY doc_id)
             END AS rn
      FROM flagged
    ),
    final AS (
      SELECT *,
             q_ok AND rn = 1 AS is_unique,
             q_ok AND rn = 1 AND {h} % 1000000 < {_MIX_CASE} AS is_final
      FROM ranked
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_raw,
           CAST(SUM(CASE WHEN q_ok THEN 1 ELSE 0 END) AS BIGINT) AS n_quality,
           CAST(SUM(CASE WHEN is_unique THEN 1 ELSE 0 END) AS BIGINT)
             AS n_unique,
           CAST(SUM(CASE WHEN is_final THEN 1 ELSE 0 END) AS BIGINT)
             AS n_final,
           CAST(SUM(CASE WHEN is_final THEN n_tokens ELSE 0 END) AS BIGINT)
             AS tokens_final
    FROM final GROUP BY lang
    """


@register("pipeline_pretraining_report", _pipeline_oracle())
def pipeline_pretraining_report(spark, sf_dir):
    """The whole pretraining-corpus build as ONE declarative plan — the
    composition story: quality gate (distinct-token ppm ≥ 0.3 by integer
    cross-multiplication + length band) → exact near-dup keep (min doc_id
    per md5 fingerprint among survivors) → deterministic mixture sampling
    (committed hash60 vs per-lang ppm) → per-language survivor and token
    accounting. One corpus scan, one fingerprint window, one final
    groupBy(lang); every stage is a column, not a materialization, so
    Catalyst fuses the gates into the scan. At 100 TB this plan IS the
    corpus job: the window keys on content fingerprint (uniform), and no
    stage widens the data."""
    from hpmr_spark.functions.hashing import hash60
    from pyspark.sql import Window

    d = _t(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    base = d.select(
        "doc_id",
        "lang",
        "n_chars",
        F.md5("text").alias("fp"),
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
    )
    flagged = base.withColumn(
        "q_ok",
        F.expr("n_distinct * 1000000 div n_tokens >= 300000")
        & F.col("n_chars").between(100, 2000),
    )
    w = Window.partitionBy("fp", "q_ok").orderBy("doc_id")
    ranked = flagged.withColumn(
        "rn", F.when(F.col("q_ok"), F.row_number().over(w))
    )
    final = ranked.withColumn(
        "is_unique", F.col("q_ok") & (F.col("rn") == 1)
    ).withColumn(
        "is_final",
        F.col("is_unique")
        & ((hash60(F.col("doc_id").cast("string")) % 1000000) < F.expr(_MIX_CASE)),
    )
    return final.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_raw"),
        F.sum(F.when(F.col("q_ok"), 1).otherwise(0)).alias("n_quality"),
        F.sum(F.when(F.col("is_unique"), 1).otherwise(0)).alias("n_unique"),
        F.sum(F.when(F.col("is_final"), 1).otherwise(0)).alias("n_final"),
        F.sum(F.when(F.col("is_final"), F.col("n_tokens")).otherwise(0)).alias(
            "tokens_final"
        ),
    )
