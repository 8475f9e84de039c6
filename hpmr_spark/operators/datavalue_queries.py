"""Embedding-quality and data-valuation operators (round 6, wave 6):

- triplet_violation_rate: metric-learning sanity check — for 64
  hash-selected anchors, the positive is the next SAME-label vector by
  vec_id and the negative the next DIFFERENT-label vector; a triplet
  is violated iff d(a,p) ≥ d(a,n) on milli-quantized integer distances
  (exact BIGINT sums — the established float-array discipline).
  Output: n_triplets, n_violations, violation_ppm.
- loso_source_contribution: leave-one-source-out data valuation — each
  source's contribution to the corpus mean document quality score
  (the committed integer score: 1000·n_chars div (n_tokens+1), a
  length-per-token proxy): contribution_ppm = mean_without_source −
  mean_full, both exact int128 floor divs over global-minus-source
  sums. One corpus pass; sources-sized output.

Scale notes (100 TB): triplets touch 3×64 sampled vectors; LOSO is one
pass into a 20-row rollup — the subtract-from-global trick makes the
k leave-one-out means free.

Reference parity: beyond the reference kv kernel
(/root/reference/src/hpmr.h:1-10) along the brief's similarity axis.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hpmr_spark.catalog import _t, register
from hpmr_spark.engine import materialize
from hpmr_spark.functions.hashing import hash60, sql_hash60

# ---------------------------------------------------------------------------
# Triplet violation rate over hash-selected anchors.
# ---------------------------------------------------------------------------

_TRIP_N = 64
_TRIP_Q = (
    "list_transform(generate_series(1, 64),"
    " _tq -> CAST(FLOOR(CAST(embedding[_tq] AS DOUBLE) * 1000) AS BIGINT))"
)

_TRIPLET_ORACLE = f"""
    WITH v AS MATERIALIZED (
      SELECT vec_id, label, {_TRIP_Q} AS q FROM embeddings
    ),
    anch AS MATERIALIZED (
      SELECT vec_id, label, q FROM (
        SELECT *, ROW_NUMBER() OVER (
          ORDER BY {sql_hash60("'tri|' || CAST(vec_id AS VARCHAR)")}, vec_id
        ) AS rn
        FROM v
      ) WHERE rn <= {_TRIP_N}
    ),
    pos AS (
      SELECT a.vec_id, MIN(p.vec_id) AS p_id
      FROM anch a JOIN v p
        ON p.label = a.label AND p.vec_id > a.vec_id
      GROUP BY a.vec_id
    ),
    neg AS (
      SELECT a.vec_id, MIN(n.vec_id) AS n_id
      FROM anch a JOIN v n
        ON n.label <> a.label AND n.vec_id > a.vec_id
      GROUP BY a.vec_id
    ),
    tri AS (
      SELECT a.vec_id,
             CAST(list_sum(list_transform(generate_series(1, 64),
               _td -> (a.q[_td] - vp.q[_td]) * (a.q[_td] - vp.q[_td])))
               AS BIGINT) AS dp,
             CAST(list_sum(list_transform(generate_series(1, 64),
               _te -> (a.q[_te] - vn.q[_te]) * (a.q[_te] - vn.q[_te])))
               AS BIGINT) AS dn
      FROM anch a
      JOIN pos ON pos.vec_id = a.vec_id
      JOIN neg ON neg.vec_id = a.vec_id
      JOIN v vp ON vp.vec_id = pos.p_id
      JOIN v vn ON vn.vec_id = neg.n_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_triplets,
           CAST(SUM(CASE WHEN dp >= dn THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violations,
           CAST(CAST(SUM(CASE WHEN dp >= dn THEN 1 ELSE 0 END) AS HUGEINT)
                * 1000000 // CAST(COUNT(*) AS HUGEINT) AS BIGINT)
             AS violation_ppm
    FROM tri
"""


@register("triplet_violation_rate", _TRIPLET_ORACLE)
def triplet_violation_rate(spark, sf_dir):
    """Triplet (anchor, next-same-label, next-other-label) violation
    rate on exact quantized distances — see module docstring. Output:
    one row (n_triplets, n_violations, violation_ppm)."""
    from pyspark import StorageLevel

    from hpmr_spark.functions.ranking import bounded_rank

    emb = _t(spark, sf_dir, "embeddings")
    v = materialize(emb.select(
        "vec_id",
        "label",
        F.expr(
            "transform(embedding,"
            " x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000) AS BIGINT))"
        ).alias("q"),
    ), StorageLevel.MEMORY_AND_DISK)  # anchors + pos + neg + lookups
    seeds = (
        v.withColumn(
            "h", hash60(F.concat(F.lit("tri|"), F.col("vec_id").cast("string")))
        )
        .orderBy("h", "vec_id")
        .limit(_TRIP_N)
    )
    anch = bounded_rank(seeds, "h", "vec_id", primary_desc=False, out="rn").select(
        "vec_id", "label", "q"
    )
    cand = v.select(
        F.col("vec_id").alias("cid"), F.col("label").alias("clab")
    )
    pos = (
        anch.select("vec_id", "label")
        .join(
            cand,
            (F.col("clab") == F.col("label")) & (F.col("cid") > F.col("vec_id")),
        )
        .groupBy("vec_id")
        .agg(F.min("cid").alias("p_id"))
    )
    neg = (
        anch.select("vec_id", "label")
        .join(
            cand,
            (F.col("clab") != F.col("label")) & (F.col("cid") > F.col("vec_id")),
        )
        .groupBy("vec_id")
        .agg(F.min("cid").alias("n_id"))
    )
    vp = v.select(F.col("vec_id").alias("p_id"), F.col("q").alias("qp"))
    vn = v.select(F.col("vec_id").alias("n_id"), F.col("q").alias("qn"))
    dist = "aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), CAST(0 AS BIGINT), (acc, t) -> acc + t)"
    tri = (
        anch.join(pos, "vec_id")
        .join(neg, "vec_id")
        .join(F.broadcast(vp), "p_id")
        .join(F.broadcast(vn), "n_id")
        .select(
            F.expr(dist.format(a="q", b="qp")).alias("dp"),
            F.expr(dist.format(a="q", b="qn")).alias("dn"),
        )
    )
    return tri.agg(
        F.count(F.lit(1)).cast("long").alias("n_triplets"),
        F.sum(F.when(F.col("dp") >= F.col("dn"), 1).otherwise(0))
        .cast("long")
        .alias("n_violations"),
        F.expr(
            "CAST(CAST(SUM(CASE WHEN dp >= dn THEN 1 ELSE 0 END)"
            " AS DECIMAL(38,0)) * 1000000"
            " div CAST(COUNT(*) AS DECIMAL(38,0)) AS BIGINT)"
        ).alias("violation_ppm"),
    )


# ---------------------------------------------------------------------------
# Leave-one-source-out contribution to the corpus quality mean.
# ---------------------------------------------------------------------------

_LOSO_SCORE = "1000 * n_chars div (size(split(text, ' ')) + 1)"
_LOSO_SCORE_SQL = "1000 * n_chars // (len(string_split(text, ' ')) + 1)"

_LOSO_ORACLE = f"""
    WITH s AS (
      SELECT source, CAST({_LOSO_SCORE_SQL} AS BIGINT) AS score
      FROM documents
    ),
    per AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_s,
             CAST(SUM(score) AS BIGINT) AS sum_s
      FROM s GROUP BY source
    ),
    g AS (
      SELECT CAST(SUM(n_s) AS BIGINT) AS n,
             CAST(SUM(sum_s) AS BIGINT) AS total
      FROM per
    )
    SELECT per.source, per.n_s,
           CAST(CAST(per.sum_s AS HUGEINT) * 1000 // per.n_s AS BIGINT)
             AS mean_source_milli,
           CAST(CAST(g.total AS HUGEINT) * 1000 // g.n AS BIGINT)
             AS mean_full_milli,
           CAST(CAST(g.total - per.sum_s AS HUGEINT) * 1000
                // (g.n - per.n_s) AS BIGINT) AS mean_without_milli,
           CAST(CAST(g.total - per.sum_s AS HUGEINT) * 1000
                // (g.n - per.n_s)
                - CAST(g.total AS HUGEINT) * 1000 // g.n AS BIGINT)
             AS contribution_milli
    FROM per, g
"""


@register("loso_source_contribution", _LOSO_ORACLE)
def loso_source_contribution(spark, sf_dir):
    """Leave-one-source-out contribution of each source to the corpus
    mean quality score — see module docstring. Output: one row per
    source."""
    docs = _t(spark, sf_dir, "documents")
    s = docs.select(
        "source", F.expr(f"CAST({_LOSO_SCORE} AS BIGINT)").alias("score")
    )
    per = s.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_s"),
        F.sum("score").cast("long").alias("sum_s"),
    )
    g = per.agg(
        F.sum("n_s").cast("long").alias("n"),
        F.sum("sum_s").cast("long").alias("total"),
    )
    return per.crossJoin(F.broadcast(g)).select(
        "source",
        "n_s",
        F.expr("CAST(CAST(sum_s AS DECIMAL(38,0)) * 1000 div n_s AS BIGINT)").alias(
            "mean_source_milli"
        ),
        F.expr("CAST(CAST(total AS DECIMAL(38,0)) * 1000 div n AS BIGINT)").alias(
            "mean_full_milli"
        ),
        F.expr(
            "CAST(CAST(total - sum_s AS DECIMAL(38,0)) * 1000"
            " div (n - n_s) AS BIGINT)"
        ).alias("mean_without_milli"),
        F.expr(
            "CAST(CAST(total - sum_s AS DECIMAL(38,0)) * 1000 div (n - n_s)"
            " - CAST(total AS DECIMAL(38,0)) * 1000 div n AS BIGINT)"
        ).alias("contribution_milli"),
    )
