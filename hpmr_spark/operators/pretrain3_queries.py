"""Round-9 second wave: training-data + serving analytics recipes still
absent from the registry after the pretrain2 batch (each a named step in a
published pipeline, none reducible to an existing row):

- mlm_masking_bert: BERT's 15% / 80-10-10 masked-LM corruption (Devlin et
  al. 2019, §3.1) — hash-gated per-token selection and role split, with the
  10% "random token" branch drawn from the corpus vocab by committed hash
  (the token-level twin of span_corruption_transform's T5 recipe).
- prefix_cache_sharing: radix-prefix KV-cache sharing analytics (vLLM,
  Kwon et al. 2023; RadixAttention, Zheng et al. 2024) — for a committed
  prefix-depth grid, how many prompt tokens a prefix-sharing cache serves
  without recompute. The fixed-depth grid is the SQL-expressible analog of
  a radix-tree walk (each k is one tree level).
- seqlen_bucket_padding_waste: dynamic-batching advisor — equi-depth
  length bucketing (the standard bucketed-batching recipe; e.g. fairseq's
  --required-batch-size-multiple pipelines) and the padding waste each
  bucket count leaves vs pad-to-max.
- softdedup_commonness_weights: SoftDeDup (He et al. 2024) — per-doc
  "data commonness" under the corpus 3-gram distribution, then inverse-
  commonness sampling weights (downweight common docs instead of dropping
  them). Non-vacuous here: the corpus has zero EXACT dup texts but heavy
  n-gram sharing (31-word vocab).

Integer discipline (CLAUDE.md): all counts/positions exact BIGINTs; every
LN is floored to integer nanos elementwise BEFORE any sum (test_libm_parity
is the sentinel); floor divisions are either non-negative or rely on the
verified Spark `div` ≡ DuckDB `//` truncate-toward-zero equivalence; no
parallel float summation anywhere.

Reference parity: beyond the reference kv kernel
(/root/reference/src/hpmr.h:1-10) along the brief's LLM-pipeline axis.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hpmr_spark.catalog import _t, register
from hpmr_spark.functions.hashing import hash60, sql_hash60
from hpmr_spark.functions.ranking import bounded_rank, exact_ntile, global_row_number

# ---------------------------------------------------------------------------
# BERT masked-LM corruption stats (15% select, 80/10/10 mask/random/keep).
# ---------------------------------------------------------------------------

_MLM_SEL_PCT = 15  # committed: select i when hash % 100 < 15
# role = hash % 10: 0-7 -> [MASK], 8 -> random vocab token, 9 -> keep


_MLM_ORACLE = f"""
    WITH d AS (
      SELECT doc_id, lang, string_split(text, ' ') AS toks,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n
      FROM documents
    ),
    tok AS MATERIALIZED (
      SELECT doc_id, lang, i, toks[CAST(i AS BIGINT)] AS w
      FROM (SELECT doc_id, lang, toks,
                   unnest(generate_series(1, n)) AS i
            FROM d)
    ),
    vocab AS MATERIALIZED (
      SELECT w AS vw, ROW_NUMBER() OVER (ORDER BY w) AS vrank
      FROM (SELECT DISTINCT w FROM tok)
    ),
    nv AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM vocab),
    dec AS (
      SELECT doc_id, lang, i,
             ({sql_hash60("CONCAT('mlm|', CAST(doc_id AS STRING), '|', CAST(i AS STRING), '|', w)")})
               % 100 < {_MLM_SEL_PCT} AS sel,
             ({sql_hash60("CONCAT('mlmrole|', CAST(doc_id AS STRING), '|', CAST(i AS STRING))")})
               % 10 AS role,
             ({sql_hash60("CONCAT('mlmrepl|', CAST(doc_id AS STRING), '|', CAST(i AS STRING))")})
               % nv.v + 1 AS vr
      FROM tok, nv
    ),
    j AS (
      SELECT dec.*, vocab.vrank
      FROM dec LEFT JOIN vocab ON vocab.vrank = dec.vr
    )
    SELECT doc_id, lang,
           CAST(COUNT(*) AS BIGINT) AS n_tok,
           CAST(SUM(CASE WHEN sel THEN 1 ELSE 0 END) AS BIGINT) AS n_sel,
           CAST(SUM(CASE WHEN sel AND role <= 7 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_mask,
           CAST(SUM(CASE WHEN sel AND role = 8 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_rand,
           CAST(SUM(CASE WHEN sel AND role = 9 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_keep,
           CAST(SUM(CASE WHEN sel THEN i ELSE 0 END) AS BIGINT)
             AS sel_pos_sum,
           CAST(SUM(CASE WHEN sel AND role = 8 THEN vrank ELSE 0 END)
                AS BIGINT) AS repl_rank_sum
    FROM j
    GROUP BY doc_id, lang
"""


def mlm_masking_df(d):
    """DF-level MLM pipeline over a (doc_id, lang, text) frame — the
    registered query's body; the round-9 1M-doc scale probe also ran it
    (COVERAGE.md round-9 scale notes)."""
    tok = d.select(
        "doc_id",
        "lang",
        F.posexplode(F.split("text", " ")).alias("pos", "w"),
    ).select(
        "doc_id", "lang", (F.col("pos") + 1).cast("long").alias("i"), "w"
    )
    vocab = bounded_rank(
        tok.select(F.col("w").alias("vw")).distinct(),
        "vw",
        "vw",
        primary_desc=False,
        out="vrank",
    )
    nv = vocab.agg(F.count(F.lit(1)).cast("long").alias("v"))
    dec = tok.crossJoin(F.broadcast(nv)).select(
        "doc_id",
        "lang",
        "i",
        (
            hash60(
                F.concat(
                    F.lit("mlm|"),
                    F.col("doc_id").cast("string"),
                    F.lit("|"),
                    F.col("i").cast("string"),
                    F.lit("|"),
                    F.col("w"),
                )
            )
            % 100
            < F.lit(_MLM_SEL_PCT)
        ).alias("sel"),
        (
            hash60(
                F.concat(
                    F.lit("mlmrole|"),
                    F.col("doc_id").cast("string"),
                    F.lit("|"),
                    F.col("i").cast("string"),
                )
            )
            % 10
        ).alias("role"),
        (
            hash60(
                F.concat(
                    F.lit("mlmrepl|"),
                    F.col("doc_id").cast("string"),
                    F.lit("|"),
                    F.col("i").cast("string"),
                )
            )
            % F.col("v")
            + 1
        ).alias("vr"),
    )
    j = dec.join(
        F.broadcast(vocab.select("vrank")), dec["vr"] == F.col("vrank"), "left"
    )
    return j.groupBy("doc_id", "lang").agg(
        F.count(F.lit(1)).cast("long").alias("n_tok"),
        F.sum(F.when(F.col("sel"), 1).otherwise(0)).cast("long").alias("n_sel"),
        F.sum(F.when(F.col("sel") & (F.col("role") <= 7), 1).otherwise(0))
        .cast("long")
        .alias("n_mask"),
        F.sum(F.when(F.col("sel") & (F.col("role") == 8), 1).otherwise(0))
        .cast("long")
        .alias("n_rand"),
        F.sum(F.when(F.col("sel") & (F.col("role") == 9), 1).otherwise(0))
        .cast("long")
        .alias("n_keep"),
        F.sum(F.when(F.col("sel"), F.col("i")).otherwise(0))
        .cast("long")
        .alias("sel_pos_sum"),
        F.sum(
            F.when(F.col("sel") & (F.col("role") == 8), F.col("vrank")).otherwise(0)
        )
        .cast("long")
        .alias("repl_rank_sum"),
    )


@register("mlm_masking_bert", _MLM_ORACLE)
def mlm_masking_bert(spark, sf_dir):
    """BERT masked-LM corruption (Devlin et al. 2019 §3.1): each token is
    selected for prediction when a committed md5-60 hash of
    (doc, position, token) lands under 15%; selected tokens split 80/10/10
    into [MASK] / random-vocab-token / kept by a second hash; the random
    replacement is vocab[hash % V] over the corpus vocab ranked by word.
    Emits per-doc counts plus two exact-integer checksums (selected
    position sum, replacement vocab-rank sum) so the oracle pins the exact
    masking pattern, not just the rates. Scale shape: one token explode,
    one bounded broadcast vocab join, one per-doc agg — no windows, no
    driver collect (vocab ranks ride bounded_rank's broadcast self-join)."""
    return mlm_masking_df(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Radix-prefix KV-cache sharing savings at a committed depth grid.
# ---------------------------------------------------------------------------

_PREFIX_KS = (1, 2, 4, 8)  # committed prefix depths (tokens)


_PREFIX_ORACLE = f"""
    WITH d AS (
      SELECT doc_id, string_split(text, ' ') AS toks,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents
    ),
    pk AS (
      SELECT k, doc_id, n_tok,
             {sql_hash60("list_aggregate(toks[1 : CAST(k AS BIGINT)], 'string_agg', ' ')")}
               AS ph
      FROM d CROSS JOIN (SELECT unnest([{', '.join(str(k) for k in _PREFIX_KS)}]) AS k) g
      WHERE n_tok >= k
    ),
    grp AS (
      SELECT k, ph, CAST(COUNT(*) AS BIGINT) AS c,
             CAST(SUM(n_tok) AS BIGINT) AS tok
      FROM pk GROUP BY k, ph
    )
    SELECT CAST(k AS BIGINT) AS k,
           CAST(COUNT(*) AS BIGINT) AS n_prefixes,
           CAST(SUM(c) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT)
             AS shared_docs,
           CAST(SUM((c - 1) * k) AS BIGINT) AS saved_tok,
           CAST(SUM((c - 1) * k) AS BIGINT) * 1000000
             // GREATEST(CAST(SUM(tok) AS BIGINT), 1) AS saving_ppm
    FROM grp
    GROUP BY k
"""


@register("prefix_cache_sharing", _PREFIX_ORACLE)
def prefix_cache_sharing(spark, sf_dir):
    """Prefix KV-cache sharing analytics (vLLM PagedAttention, Kwon et al.
    2023; SGLang RadixAttention, Zheng et al. 2024): at each committed
    prefix depth k, prompts sharing their first k tokens reuse one cached
    prefix — a batch of c identical-prefix prompts recomputes k tokens once
    and serves (c-1)*k from cache. Emits per depth: distinct prefixes,
    eligible prompts, prompts in shared groups, saved tokens, and the
    saved fraction of all prompt tokens (ppm, integer floor). The fixed
    depth grid is the declarative analog of one radix-tree level per k.
    Scale shape: one 4x token-slice map, one (k, prefix-hash) agg, one
    4-row rollup — shuffle keys are committed 60-bit hashes, never strings
    (the gopher-fractions rule)."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.split("text", " ").alias("toks"),
        F.size(F.split("text", " ")).cast("long").alias("n_tok"),
    )
    grid = F.explode(
        F.array(*[F.lit(k).cast("long") for k in _PREFIX_KS])
    ).alias("k")
    pk = (
        d.select("doc_id", "toks", "n_tok", grid)
        .where(F.col("n_tok") >= F.col("k"))
        .select(
            "k",
            "n_tok",
            hash60(
                F.array_join(F.slice("toks", 1, F.col("k").cast("int")), " ")
            ).alias("ph"),
        )
    )
    grp = pk.groupBy("k", "ph").agg(
        F.count(F.lit(1)).cast("long").alias("c"),
        F.sum("n_tok").cast("long").alias("tok"),
    )
    return grp.groupBy("k").agg(
        F.count(F.lit(1)).cast("long").alias("n_prefixes"),
        F.sum("c").cast("long").alias("n_docs"),
        F.sum(F.when(F.col("c") >= 2, F.col("c")).otherwise(0))
        .cast("long")
        .alias("shared_docs"),
        F.sum((F.col("c") - 1) * F.col("k")).cast("long").alias("saved_tok"),
        F.expr(
            "CAST(SUM((c - 1) * k) AS BIGINT) * 1000000"
            " div GREATEST(CAST(SUM(tok) AS BIGINT), 1)"
        ).alias("saving_ppm"),
    )


# ---------------------------------------------------------------------------
# Equi-depth length-bucket padding waste (dynamic batching advisor).
# ---------------------------------------------------------------------------

_BUCKET_GRID = (1, 2, 4, 8)  # committed bucket counts


def _ntile_sql(rn: str, n: str, b: int) -> str:
    """The exact_ntile arithmetic as SQL text (DuckDB; `//` floors
    non-negative operands identically to Spark `div`)."""
    size = f"({n} // {b})"
    rem = f"({n} % {b})"
    cut = f"({rem} * ({size} + 1))"
    return (
        f"CASE WHEN {rn} <= {cut}"
        f" THEN ({rn} - 1) // ({size} + 1) + 1"
        f" ELSE {rem} + ({rn} - {cut} - 1) // {size} + 1 END"
    )


def _padding_oracle() -> str:
    branches = " ".join(
        f"WHEN g.b = {b} THEN {_ntile_sql('rn', 'n', b)}" for b in _BUCKET_GRID
    )
    return f"""
    WITH d AS (
      SELECT doc_id,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents
    ),
    r AS MATERIALIZED (
      SELECT doc_id, n_tok,
             ROW_NUMBER() OVER (ORDER BY n_tok, doc_id) AS rn,
             CAST(COUNT(*) OVER () AS BIGINT) AS n
      FROM d
    ),
    assigned AS (
      SELECT CAST(g.b AS BIGINT) AS n_buckets,
             CAST(CASE {branches} END AS BIGINT) AS bucket,
             n_tok
      FROM r CROSS JOIN (SELECT unnest([{', '.join(str(b) for b in _BUCKET_GRID)}]) AS b) g
    )
    SELECT n_buckets, bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MAX(n_tok) AS BIGINT) AS max_len,
           CAST(SUM(n_tok) AS BIGINT) AS sum_len,
           (CAST(COUNT(*) AS BIGINT) * CAST(MAX(n_tok) AS BIGINT)
            - CAST(SUM(n_tok) AS BIGINT)) * 1000000
             // (CAST(COUNT(*) AS BIGINT) * CAST(MAX(n_tok) AS BIGINT))
             AS waste_ppm
    FROM assigned
    GROUP BY n_buckets, bucket
    """


@register("seqlen_bucket_padding_waste", _padding_oracle())
def seqlen_bucket_padding_waste(spark, sf_dir):
    """Dynamic-batching advisor: equi-depth sequence-length buckets (the
    standard bucketed-batching recipe for padding reduction) at a committed
    bucket-count grid. Each doc is NTILE'd by its (token-length, doc_id)
    total order; per bucket the pad-to-bucket-max waste is exact integer
    ppm. n_buckets=1 is the pad-to-global-max baseline the other rows are
    read against. Scale shape: one fact pass through the bucketed two-pass
    rank machinery (functions/ranking.global_row_number — no global
    window), a 1-row count broadcast, one 4x-exploded bounded agg."""
    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tok")
    )
    r = global_row_number(d, ["n_tok", "doc_id"], out="rn")
    n = d.agg(F.count(F.lit(1)).cast("long").alias("n"))
    grid = F.explode(
        F.array(*[F.lit(b).cast("long") for b in _BUCKET_GRID])
    ).alias("n_buckets")
    assigned = r.crossJoin(F.broadcast(n)).select("rn", "n", "n_tok", grid)
    bucket = None
    for b in _BUCKET_GRID:
        tile = exact_ntile(F.col("rn"), F.col("n"), b)
        bucket = (
            F.when(F.col("n_buckets") == b, tile)
            if bucket is None
            else bucket.when(F.col("n_buckets") == b, tile)
        )
    assigned = assigned.select(
        "n_buckets", bucket.cast("long").alias("bucket"), "n_tok"
    )
    return assigned.groupBy("n_buckets", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.max("n_tok").cast("long").alias("max_len"),
        F.sum("n_tok").cast("long").alias("sum_len"),
        F.expr(
            "(CAST(COUNT(*) AS BIGINT) * CAST(MAX(n_tok) AS BIGINT)"
            " - CAST(SUM(n_tok) AS BIGINT)) * 1000000"
            " div (CAST(COUNT(*) AS BIGINT) * CAST(MAX(n_tok) AS BIGINT))"
        ).alias("waste_ppm"),
    )


# ---------------------------------------------------------------------------
# SoftDeDup: n-gram data-commonness scoring + inverse-commonness weights.
# ---------------------------------------------------------------------------

_SD_N = 3  # committed commonness n-gram order


# Shared CTE prefix through the per-doc weights frame `w` — also consumed
# by importance_weight_ess (operators/planning_eval_queries.py).
SOFTDEDUP_W_CTES = f"""
    WITH d AS (
      SELECT doc_id, source, string_split(text, ' ') AS toks,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
      FROM documents
    ),
    grams AS MATERIALIZED (
      SELECT doc_id, source, n_tok,
             {sql_hash60("list_aggregate(toks[i : i + " + str(_SD_N - 1) + "], 'string_agg', ' ')")}
               AS h
      FROM (SELECT doc_id, source, n_tok, toks,
                   unnest(generate_series(1, CAST(len(toks) AS BIGINT)
                                             - {_SD_N - 1})) AS i
            FROM d)
      WHERE n_tok >= {_SD_N}
    ),
    cnt AS MATERIALIZED (
      SELECT h, CAST(COUNT(*) AS BIGINT) AS c FROM grams GROUP BY h
    ),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM cnt),
    per_doc AS MATERIALIZED (
      SELECT doc_id, ANY_VALUE(source) AS source,
             ANY_VALUE(n_tok) AS n_tok,
             CAST(SUM(CAST(FLOOR((LN(CAST(c AS DOUBLE))
                                  - LN(CAST(t AS DOUBLE))) * 1000000000)
                           AS BIGINT)) AS BIGINT)
               // (ANY_VALUE(n_tok) - {_SD_N - 1}) AS common_nano
      FROM grams JOIN cnt USING (h), tot
      GROUP BY doc_id
    ),
    ext AS (
      SELECT CAST(MIN(common_nano) AS BIGINT) AS cmin,
             CAST(MAX(common_nano) AS BIGINT) AS cmax
      FROM per_doc
    ),
    w AS (
      SELECT source, n_tok, common_nano,
             (ext.cmax - common_nano) * 1000000
               // GREATEST(ext.cmax - ext.cmin, 1) AS w_ppm
      FROM per_doc, ext
    )
"""

_SOFTDEDUP_ORACLE = SOFTDEDUP_W_CTES + """
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tok) AS BIGINT) AS tok_total,
           CAST(SUM(common_nano) AS BIGINT) // CAST(COUNT(*) AS BIGINT)
             AS mean_common_nano,
           CAST(SUM(n_tok * w_ppm) AS BIGINT) // 1000000 AS eff_tok
    FROM w
    GROUP BY source
"""


def softdedup_doc_weights_df(docs):
    """Per-doc SoftDeDup frame (doc_id is implicit in the rows: source,
    n_tok, common_nano, w_ppm) — the substrate for the per-source rollup
    AND the importance_weight_ess diagnostic."""
    d = docs.select(
        "doc_id",
        "source",
        F.split("text", " ").alias("toks"),
        F.size(F.split("text", " ")).cast("long").alias("n_tok"),
    )
    grams = (
        d.where(F.col("n_tok") >= _SD_N)
        .select(
            "doc_id",
            "source",
            "n_tok",
            F.explode(
                F.expr(
                    f"transform(sequence(1, size(toks) - {_SD_N - 1}),"
                    f" i -> array_join(slice(toks, i, {_SD_N}), ' '))"
                )
            ).alias("gram"),
        )
        .select("doc_id", "source", "n_tok", hash60(F.col("gram")).alias("h"))
    )
    cnt = grams.groupBy("h").agg(F.count(F.lit(1)).cast("long").alias("c"))
    tot = cnt.agg(F.sum("c").cast("long").alias("t"))
    per_doc = (
        grams.join(cnt.hint("merge"), "h")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.any_value("source").alias("source"),
            F.any_value("n_tok").alias("n_tok"),
            F.expr(
                "CAST(SUM(CAST(FLOOR((LN(CAST(c AS DOUBLE))"
                " - LN(CAST(t AS DOUBLE))) * 1000000000) AS BIGINT))"
                " AS BIGINT)"
                f" div (ANY_VALUE(n_tok) - {_SD_N - 1})"
            ).alias("common_nano"),
        )
    )
    ext = per_doc.agg(
        F.min("common_nano").cast("long").alias("cmin"),
        F.max("common_nano").cast("long").alias("cmax"),
    )
    return per_doc.crossJoin(F.broadcast(ext)).select(
        "doc_id",
        "source",
        "n_tok",
        "common_nano",
        F.expr(
            "(cmax - common_nano) * 1000000 div GREATEST(cmax - cmin, 1)"
        ).alias("w_ppm"),
    )


def softdedup_commonness_df(docs):
    """DF-level SoftDeDup per-source rollup over a (doc_id, source, text)
    frame — the registered query's body; the round-9 1M-doc scale probe
    also ran it (COVERAGE.md round-9 scale notes)."""
    w = softdedup_doc_weights_df(docs)
    return w.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("tok_total"),
        F.expr(
            "CAST(SUM(common_nano) AS BIGINT) div CAST(COUNT(*) AS BIGINT)"
        ).alias("mean_common_nano"),
        F.expr("CAST(SUM(n_tok * w_ppm) AS BIGINT) div 1000000").alias(
            "eff_tok"
        ),
    )


@register("softdedup_commonness_weights", _SOFTDEDUP_ORACLE)
def softdedup_commonness_weights(spark, sf_dir):
    """SoftDeDup (He et al. 2024): instead of DROPPING near-duplicate text,
    downweight docs by "data commonness" — the mean log-probability of the
    doc's {N}-grams under the corpus {N}-gram distribution. Per-gram
    LN(c/T) is floored to integer nanos elementwise (libm-parity
    commitment), summed exactly, divided by the gram count (truncating div,
    negative-safe: Spark `div` ≡ DuckDB `//`). Sampling weight is the
    min-max-normalized UNcommonness in ppm; per-source effective tokens =
    sum(n_tok * w_ppm) / 1e6. Scale shape: one gram explode, one corpus
    gram-count agg joined back on the committed 60-bit gram hash, one
    per-doc agg, a 1-row min/max broadcast, one per-source rollup — every
    stage shuffles on hashes or bounded keys.""".replace("{N}", str(_SD_N))
    return softdedup_commonness_df(_t(spark, sf_dir, "documents"))
