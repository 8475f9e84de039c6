"""ML-prep batch 2 (round 4): the feature-engineering and evaluation
operators a training pipeline runs between raw corpus and model input —
leave-one-out target encoding, weight-of-evidence / information value,
the feature-hashing trick's collision audit, exact k-NN label-vote
evaluation of an embedding space, interpolated Kneser-Ney bigram scoring
(pure rational arithmetic — no floats anywhere), and largest-remainder
(Hamilton) apportionment of a token budget across languages.

Reference parity: these extend the engine's analytics surface beyond the
reference's kv kernel (/root/reference/src/hpmr.h:1-10) along the
LLM-data-pipeline axis the brief makes first-class; each query follows the
repo's exact-integer cross-engine disciplines (CLAUDE.md): integer cents,
cross-multiplied thresholds, sign-split divisions, DECIMAL(38,0)/HUGEINT
for products that pass int64, LN-parity only where a log is irreducible.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from hpmr_spark.catalog import _t, register
from hpmr_spark.engine import materialize
from hpmr_spark.functions.hashing import hash60, sql_hash60

# ---------------------------------------------------------------------------
# Leave-one-out target encoding of customer segment against spend.
# ---------------------------------------------------------------------------
_SPEND_SQL = """
    SELECT c.c_custkey, c.c_mktsegment AS segment,
           CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS cents
    FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey, c.c_mktsegment
"""


@register(
    "target_encoding_loo",
    f"""
    WITH w AS ({_SPEND_SQL}),
    s AS (SELECT segment, CAST(COUNT(*) AS BIGINT) AS n_cust,
                 CAST(SUM(cents) AS BIGINT) AS seg_cents
          FROM w GROUP BY segment),
    loo AS (
      SELECT w.segment,
             CAST((s.seg_cents - w.cents) // (s.n_cust - 1) AS BIGINT)
               AS loo_cents
      FROM w JOIN s ON w.segment = s.segment
      WHERE s.n_cust > 1
    )
    SELECT segment,
           CAST(COUNT(*) AS BIGINT) AS n_cust,
           CAST(SUM(loo_cents) AS BIGINT) AS sum_loo_cents,
           CAST(MIN(loo_cents) AS BIGINT) AS min_loo_cents,
           CAST(MAX(loo_cents) AS BIGINT) AS max_loo_cents
    FROM loo GROUP BY segment
    """,
)
def target_encoding_loo(spark, sf_dir):
    """Leave-one-out target encoding — the leakage-free form of mean
    encoding (each row's encoded value excludes its own target:
    (Σseg − x)/(n−1), exact positive integer floor division on cents).
    Verified through per-segment aggregates of the ROW-level encodings
    (sum/min/max), so every row's value participates in the hash. One
    fact join + two keyed aggs; the segment stats frame is broadcast."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    w = (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .groupBy("c_custkey", F.col("c_mktsegment").alias("segment"))
        .agg(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents")
        )
    )
    s = w.groupBy("segment").agg(
        F.count(F.lit(1)).cast("long").alias("n_cust"),
        F.sum("cents").cast("long").alias("seg_cents"),
    )
    loo = (
        w.join(F.broadcast(s), "segment")
        .where(F.col("n_cust") > 1)
        .select(
            "segment",
            F.expr("(seg_cents - cents) div (n_cust - 1)")
            .cast("long")
            .alias("loo_cents"),
        )
    )
    return loo.groupBy("segment").agg(
        F.count(F.lit(1)).cast("long").alias("n_cust"),
        F.sum("loo_cents").cast("long").alias("sum_loo_cents"),
        F.min("loo_cents").cast("long").alias("min_loo_cents"),
        F.max("loo_cents").cast("long").alias("max_loo_cents"),
    )


# ---------------------------------------------------------------------------
# Weight of evidence + information value per segment.
# ---------------------------------------------------------------------------
@register(
    "woe_iv_segments",
    """
    WITH lab AS (
      SELECT c.c_custkey, c.c_mktsegment AS segment,
             CAST(MAX(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                      THEN 1 ELSE 0 END) AS BIGINT) AS good
      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY c.c_custkey, c.c_mktsegment
    ),
    seg AS (SELECT segment,
                   CAST(SUM(good) AS BIGINT) AS g,
                   CAST(SUM(1 - good) AS BIGINT) AS b
            FROM lab GROUP BY segment),
    t AS (SELECT CAST(SUM(g) AS BIGINT) AS gt, CAST(SUM(b) AS BIGINT) AS bt
          FROM seg)
    SELECT seg.segment, seg.g, seg.b,
           CAST(CASE WHEN CAST(seg.g AS HUGEINT) * t.bt >= CAST(seg.b AS HUGEINT) * t.gt
                THEN CAST(FLOOR(LN(CAST(CAST(seg.g AS HUGEINT) * t.bt AS DOUBLE)
                     / CAST(CAST(seg.b AS HUGEINT) * t.gt AS DOUBLE))
                     * 1000000000) AS BIGINT)
                ELSE 0 - CAST(FLOOR(LN(CAST(CAST(seg.b AS HUGEINT) * t.gt AS DOUBLE)
                     / CAST(CAST(seg.g AS HUGEINT) * t.bt AS DOUBLE))
                     * 1000000000) AS BIGINT) END AS BIGINT) AS woe_nano,
           CAST(ABS(CAST(seg.g AS HUGEINT) * t.bt - CAST(seg.b AS HUGEINT) * t.gt)
                * CAST(FLOOR(LN(CAST(GREATEST(CAST(seg.g AS HUGEINT) * t.bt,
                                              CAST(seg.b AS HUGEINT) * t.gt) AS DOUBLE)
                     / CAST(LEAST(CAST(seg.g AS HUGEINT) * t.bt,
                                  CAST(seg.b AS HUGEINT) * t.gt) AS DOUBLE))
                     * 1000000000) AS BIGINT)
                // (CAST(t.gt AS HUGEINT) * t.bt) AS BIGINT) AS iv_term_nano
    FROM seg, t
    WHERE seg.g > 0 AND seg.b > 0
    """,
)
def woe_iv_segments(spark, sf_dir):
    """Weight of evidence WoE = ln((g/G)/(b/B)) per segment (signed,
    integer nanos, SIGN-SPLIT via ln(max/min) so the log argument is ≥ 1 —
    the LN-parity commitment) and the information-value contribution
    (g/G − b/B)·WoE, which is ALWAYS ≥ 0 (both factors share a sign — the
    same algebra as PSI) and therefore computed as
    |g·B − b·G|·⌊|ln ratio|·10⁹⌋ // (G·B) in exact positive integers.
    Cross-products in int128 (DECIMAL(38,0) ≡ HUGEINT). Target = customer
    ever placed an urgent-priority order. The standard risk-scoring /
    feature-screening encode; Σ iv_term_nano ≥ 0.02·10⁹ flags a
    predictive feature."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    lab = (
        c.join(o, c["c_custkey"] == o["o_custkey"])
        .groupBy("c_custkey", F.col("c_mktsegment").alias("segment"))
        .agg(
            F.max(
                F.when(
                    F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("good")
        )
    )
    seg = lab.groupBy("segment").agg(
        F.sum("good").cast("long").alias("g"),
        F.sum(F.lit(1) - F.col("good")).cast("long").alias("b"),
    )
    t = seg.agg(
        F.sum("g").cast("long").alias("gt"), F.sum("b").cast("long").alias("bt")
    )
    gb = "CAST(g AS DECIMAL(38,0)) * bt"
    bg = "CAST(b AS DECIMAL(38,0)) * gt"
    return (
        seg.crossJoin(F.broadcast(t))
        .where((F.col("g") > 0) & (F.col("b") > 0))
        .select(
            "segment",
            "g",
            "b",
            F.expr(
                f"CAST(CASE WHEN {gb} >= {bg}"
                f" THEN CAST(FLOOR(LN(CAST({gb} AS DOUBLE) / CAST({bg} AS DOUBLE))"
                f" * 1000000000) AS BIGINT)"
                f" ELSE 0 - CAST(FLOOR(LN(CAST({bg} AS DOUBLE) / CAST({gb} AS DOUBLE))"
                f" * 1000000000) AS BIGINT) END AS BIGINT)"
            ).alias("woe_nano"),
            F.expr(
                f"CAST(ABS({gb} - {bg})"
                f" * CAST(FLOOR(LN(CAST(GREATEST({gb}, {bg}) AS DOUBLE)"
                f" / CAST(LEAST({gb}, {bg}) AS DOUBLE)) * 1000000000) AS BIGINT)"
                f" div (CAST(gt AS DECIMAL(38,0)) * bt) AS BIGINT)"
            ).alias("iv_term_nano"),
        )
    )


# ---------------------------------------------------------------------------
# Feature-hashing trick: bucket collision audit.
# ---------------------------------------------------------------------------
_FH_EXPR = sql_hash60("c_mktsegment || ':' || CAST(c_nationkey AS VARCHAR)")


@register(
    "feature_hash_collisions",
    f"""
    WITH f AS (
      SELECT c_mktsegment || ':' || CAST(c_nationkey AS VARCHAR) AS feature,
             CAST({_FH_EXPR} % 256 AS BIGINT) AS bucket
      FROM customer
    ),
    per AS (SELECT bucket,
                   CAST(COUNT(DISTINCT feature) AS BIGINT) AS n_features,
                   CAST(COUNT(*) AS BIGINT) AS n_rows
            FROM f GROUP BY bucket)
    SELECT bucket, n_features, n_rows
    FROM per ORDER BY n_features DESC, bucket LIMIT 5
    """,
)
def feature_hash_collisions(spark, sf_dir):
    """The hashing trick's collision audit: every (segment × nation) cross
    feature hashes into 256 buckets via the committed md5-derived hash60
    (bit-identical both engines — even the collisions reproduce), and the
    top-5 most collided buckets are reported with their distinct-feature
    and row loads. This is the check run before fixing a hashed feature
    dimension for training: max load tells you the information loss.
    One scan, one keyed agg, TakeOrdered top-5 (full tie-break)."""
    c = _t(spark, sf_dir, "customer")
    f = c.select(
        F.concat(
            F.col("c_mktsegment"), F.lit(":"), F.col("c_nationkey").cast("string")
        ).alias("feature"),
        (
            hash60(
                F.concat(
                    F.col("c_mktsegment"),
                    F.lit(":"),
                    F.col("c_nationkey").cast("string"),
                )
            )
            % 256
        ).alias("bucket"),
    )
    per = f.groupBy("bucket").agg(
        F.countDistinct("feature").cast("long").alias("n_features"),
        F.count(F.lit(1)).cast("long").alias("n_rows"),
    )
    return per.orderBy(F.col("n_features").desc(), "bucket").limit(5)


# ---------------------------------------------------------------------------
# Exact k-NN label-vote evaluation of the embedding space.
# ---------------------------------------------------------------------------
@register(
    "knn_label_vote_eval",
    """
    WITH q AS (SELECT vec_id AS qid, embedding AS qe, CAST(label AS BIGINT) AS qlabel
               FROM embeddings WHERE vec_id % 50 = 0),
    c AS (SELECT vec_id AS cid, embedding AS ce, CAST(label AS BIGINT) AS clabel
          FROM embeddings),
    p AS (
      SELECT qid, qlabel, cid, clabel,
             CAST(list_sum(list_transform(range(1, len(qe) + 1),
                  _i -> CAST(FLOOR(CAST(qe[_i] AS DOUBLE) * 1000000) AS BIGINT)
                      * CAST(FLOOR(CAST(ce[_i] AS DOUBLE) * 1000000) AS BIGINT)))
                  AS BIGINT) AS dot
      FROM q, c WHERE cid <> qid
    ),
    r AS (SELECT qid, qlabel, clabel,
                 row_number() OVER (PARTITION BY qid ORDER BY dot DESC, cid) AS rn
          FROM p),
    k AS (SELECT qid, qlabel, clabel, CAST(COUNT(*) AS BIGINT) AS cnt
          FROM r WHERE rn <= 5 GROUP BY qid, qlabel, clabel),
    v AS (SELECT qid, qlabel, clabel,
                 row_number() OVER (PARTITION BY qid ORDER BY cnt DESC, clabel) AS vr
          FROM k)
    SELECT qid AS vec_id, qlabel AS label, clabel AS pred_label,
           (clabel = qlabel) AS correct
    FROM v WHERE vr = 1
    """,
)
def knn_label_vote_eval(spark, sf_dir):
    """Exact 5-NN majority-vote classification of every 50th vector against
    the full corpus — the standard intrinsic eval of an embedding space
    (does the neighborhood structure predict labels?). Dot products are
    exact integers (per-component floor to 1e-6 units BEFORE multiplying —
    the verified float32→float64 widening discipline, so even near-tie
    neighbor ORDER is cross-engine identical); neighbor selection is a
    per-query partitioned window (one partition per query — parallel
    across queries, never a global window); the majority vote tie-breaks
    to the smallest label via max_by over a (cnt, -label) struct (the
    DuckDB twin uses a row_number window — its arg_min cannot take struct
    orderings). The query side is bounded (N/50 rows) and broadcast; the
    corpus streams through one BroadcastNestedLoopJoin — at 100 TB this is
    the eval-sample pattern (probe set small by construction)."""
    e = _t(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        F.col("label").cast("long").alias("qlabel"),
    )
    c = e.select(
        F.col("vec_id").alias("cid"),
        F.col("embedding").alias("ce"),
        F.col("label").cast("long").alias("clabel"),
    )
    p = (
        c.crossJoin(F.broadcast(q))
        .where(F.col("cid") != F.col("qid"))
        .select(
            "qid",
            "qlabel",
            "cid",
            "clabel",
            F.expr(
                "CAST(aggregate(zip_with(qe, ce, (x, y) ->"
                " CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT)"
                " * CAST(FLOOR(CAST(y AS DOUBLE) * 1000000) AS BIGINT)),"
                " 0L, (acc, v) -> acc + v) AS BIGINT)"
            ).alias("dot"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("dot").desc(), F.col("cid"))
    r = p.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= 5)
    k = r.groupBy("qid", "qlabel", "clabel").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    )
    v = k.groupBy("qid", "qlabel").agg(
        F.expr("max_by(clabel, struct(cnt, 0 - clabel))").alias("pred_label")
    )
    return v.select(
        F.col("qid").alias("vec_id"),
        F.col("qlabel").alias("label"),
        F.col("pred_label").cast("long").alias("pred_label"),
        (F.col("pred_label") == F.col("qlabel")).alias("correct"),
    )


# ---------------------------------------------------------------------------
# Interpolated Kneser-Ney bigram probabilities — pure rational arithmetic.
# ---------------------------------------------------------------------------
@register(
    "kneser_ney_bigram_ppb",
    """
    WITH toks AS (
      SELECT doc_id,
             unnest(string_split(text, ' ')) AS w,
             generate_subscripts(string_split(text, ' '), 1) AS i
      FROM documents
    ),
    bi AS (
      SELECT a.w AS w1, b.w AS w2
      FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.i = a.i + 1
    ),
    c12 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS n12 FROM bi GROUP BY w1, w2),
    c1 AS (SELECT w1, CAST(SUM(n12) AS BIGINT) AS n1 FROM c12 GROUP BY w1),
    fo AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS n1w1 FROM c12 GROUP BY w1),
    co AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1w2 FROM c12 GROUP BY w2),
    tt AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM c12),
    probe AS (SELECT w1, w2, n12 FROM c12 ORDER BY n12 DESC, w1, w2 LIMIT 10)
    SELECT p.w1, p.w2, p.n12,
           CAST((GREATEST(4 * CAST(p.n12 AS HUGEINT) - 3, 0) * tt.t
                 + 3 * CAST(fo.n1w1 AS HUGEINT) * co.n1w2) * 1000000000
                // (4 * CAST(c1.n1 AS HUGEINT) * tt.t) AS BIGINT) AS pkn_ppb
    FROM probe p
    JOIN c1 ON c1.w1 = p.w1
    JOIN fo ON fo.w1 = p.w1
    JOIN co ON co.w2 = p.w2
    CROSS JOIN tt
    """,
)
def kneser_ney_bigram_ppb(spark, sf_dir):
    """Interpolated Kneser-Ney bigram probability of the corpus' 10 most
    frequent bigrams, with discount D = 3/4 — in PURE RATIONAL arithmetic:

      P(w2|w1) = max(c12 − ¾, 0)/c1 + ¾·N₁₊(w1·)/c1 · N₁₊(·w2)/T
               = [max(4c12 − 3, 0)·T + 3·N₁₊(w1·)·N₁₊(·w2)] / (4·c1·T)

    One common denominator → ppb by integer floor division, int128
    numerators (DECIMAL(38,0) ≡ HUGEINT: c12·T passes int64 on large
    vocabularies). No floats, no LN commitment — the strongest class of
    cross-engine agreement. The continuation counts N₁₊ (distinct
    left/right contexts) are what distinguish KN from plain interpolation
    — the standard n-gram LM smoothing used for corpus scoring. The
    bigram-type frame feeds five consumers (probe/top-10, c1, both
    continuation aggs, T) and is persisted; everything downstream is
    vocab²-bounded, probe joins broadcast 10 rows."""
    d = _t(spark, sf_dir, "documents").select(F.split("text", " ").alias("a"))
    pairs = d.select(
        F.explode(
            F.expr(
                "zip_with(slice(a, 1, size(a) - 1), slice(a, 2, size(a) - 1), "
                "(x, y) -> struct(x AS w1, y AS w2))"
            )
        ).alias("p")
    ).select("p.w1", "p.w2")
    c12 = pairs.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("long").alias("n12"))
    from pyspark import StorageLevel

    c12 = materialize(c12, StorageLevel.MEMORY_AND_DISK)
    c1 = c12.groupBy("w1").agg(F.sum("n12").cast("long").alias("n1"))
    fo = c12.groupBy("w1").agg(F.count(F.lit(1)).cast("long").alias("n1w1"))
    co = c12.groupBy("w2").agg(F.count(F.lit(1)).cast("long").alias("n1w2"))
    tt = c12.agg(F.count(F.lit(1)).cast("long").alias("t"))
    probe = c12.select("w1", "w2", "n12").orderBy(
        F.col("n12").desc(), "w1", "w2"
    ).limit(10)
    return (
        c1.join(F.broadcast(probe), "w1")
        .join(fo, "w1")
        .join(co, "w2")
        .crossJoin(F.broadcast(tt))
        .select(
            "w1",
            "w2",
            "n12",
            F.expr(
                "CAST((GREATEST(4 * CAST(n12 AS DECIMAL(38,0)) - 3, 0) * t"
                " + 3 * CAST(n1w1 AS DECIMAL(38,0)) * n1w2) * 1000000000"
                " div (4 * CAST(n1 AS DECIMAL(38,0)) * t) AS BIGINT)"
            ).alias("pkn_ppb"),
        )
    )


# ---------------------------------------------------------------------------
# Largest-remainder (Hamilton) apportionment of a token budget by language.
# ---------------------------------------------------------------------------
_MIX_BUDGET = 1_000_000


@register(
    "corpus_mix_apportionment",
    f"""
    WITH tok AS (
      SELECT lang, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS tokens
      FROM documents GROUP BY lang
    ),
    t AS (SELECT CAST(SUM(tokens) AS BIGINT) AS total FROM tok),
    base AS (
      SELECT lang, tokens,
             CAST(CAST(tokens AS HUGEINT) * {_MIX_BUDGET} // t.total AS BIGINT)
               AS base_quota,
             CAST(CAST(tokens AS HUGEINT) * {_MIX_BUDGET} % t.total AS BIGINT)
               AS rem
      FROM tok, t
    ),
    lo AS (SELECT CAST({_MIX_BUDGET} - SUM(base_quota) AS BIGINT) AS leftover
           FROM base),
    rk AS (
      SELECT a.lang, a.tokens, a.base_quota, a.rem,
             CAST(1 + COUNT(b.lang) AS BIGINT) AS r
      FROM base a LEFT JOIN base b
        ON b.rem > a.rem OR (b.rem = a.rem AND b.lang < a.lang)
      GROUP BY a.lang, a.tokens, a.base_quota, a.rem
    )
    SELECT rk.lang, rk.tokens, rk.base_quota,
           CAST(CASE WHEN rk.r <= lo.leftover THEN 1 ELSE 0 END AS BIGINT)
             AS extra,
           CAST(rk.base_quota
                + CASE WHEN rk.r <= lo.leftover THEN 1 ELSE 0 END AS BIGINT)
             AS quota
    FROM rk, lo
    """,
)
def corpus_mix_apportionment(spark, sf_dir):
    """Largest-remainder (Hamilton) apportionment of a 1M-token sampling
    budget across languages, proportional to corpus token mass — the exact
    integer answer to "how many tokens of each language go into the next
    training batch" (floats would leave the quotas summing off-budget).
    base = ⌊B·tok/T⌋ (int128 product), the B − Σbase leftover units go to
    the largest remainders (full (rem DESC, lang) tie-break ranked by a
    non-equi self-join over the tiny language frame — identical
    projections both sides, one reused exchange). Σ quota ≡ B exactly."""
    d = _t(spark, sf_dir, "documents")
    tok = d.groupBy("lang").agg(
        F.sum(F.size(F.split("text", " "))).cast("long").alias("tokens")
    )
    t = tok.agg(F.sum("tokens").cast("long").alias("total"))
    base = tok.crossJoin(F.broadcast(t)).select(
        "lang",
        "tokens",
        F.expr(
            f"CAST(CAST(tokens AS DECIMAL(38,0)) * {_MIX_BUDGET} div total AS BIGINT)"
        ).alias("base_quota"),
        F.expr(
            f"CAST(CAST(tokens AS DECIMAL(38,0)) * {_MIX_BUDGET} % total AS BIGINT)"
        ).alias("rem"),
    )
    lo = base.agg(
        (F.lit(_MIX_BUDGET) - F.sum("base_quota")).cast("long").alias("leftover")
    )
    a = base.select(
        F.col("lang").alias("_al"),
        F.col("tokens").alias("_at"),
        F.col("base_quota").alias("_ab"),
        F.col("rem").alias("_ar"),
    )
    b = base.select(
        F.col("lang").alias("_bl"),
        F.col("tokens").alias("_bt"),
        F.col("base_quota").alias("_bb"),
        F.col("rem").alias("_br"),
    )
    rk = (
        a.join(
            F.broadcast(b),
            (F.col("_br") > F.col("_ar"))
            | ((F.col("_br") == F.col("_ar")) & (F.col("_bl") < F.col("_al"))),
            "left",
        )
        .groupBy("_al", "_at", "_ab", "_ar")
        .agg((F.lit(1) + F.count("_bl")).cast("long").alias("r"))
    )
    return rk.crossJoin(F.broadcast(lo)).select(
        F.col("_al").alias("lang"),
        F.col("_at").alias("tokens"),
        F.col("_ab").alias("base_quota"),
        F.when(F.col("r") <= F.col("leftover"), F.lit(1))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("extra"),
        (
            F.col("_ab")
            + F.when(F.col("r") <= F.col("leftover"), F.lit(1)).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("quota"),
    )
