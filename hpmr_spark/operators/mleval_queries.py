"""Model-evaluation batch: exact AUC (tie-corrected rank-sum), confusion
matrix + per-class metrics, calibration (reliability) bins.

These are the metrics a training-data pipeline computes after a quality
classifier or dedup-scoring model runs over a corpus shard — a first-class
LLM-pipeline family (the reference's keyed combine, src/dist_map.h:147-210,
applied to (threshold-cell / class-pair / score-bin) keys).

Determinism discipline:
- "scores" and "predictions" derive from committed md5-based hash60 over
  vec_id (cross-engine identical), correlated with the label so the metrics
  are non-degenerate.
- AUC uses the Mann-Whitney rank-sum with tie correction kept in integers:
  2*avg_rank = 2*rank + (n_ties - 1) is always an integer, so the positive
  rank sum R2 = sum(2*avg_rank) is exact; AUC_ppm = (R2 - n1*(n1+1)) * 1e6
  // (2*n1*n0) with all operands positive (div == //).
- precision/recall/F1/accuracy/pos-rate are integer ppm floor divisions.
No float ever decides an output value.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F
from pyspark import StorageLevel

from hpmr_spark.catalog import _t, register
from hpmr_spark.engine import materialize
from hpmr_spark.functions.hashing import hash60, sql_hash60
from hpmr_spark.functions.ranking import global_running

# Committed deterministic score: hash noise in [0, 700000) plus a 300000
# bump for positives -> overlapping but separable score distributions.
_H = "CAST(vec_id AS STRING)"
_H_SQL = sql_hash60("CAST(vec_id AS VARCHAR)")


def _scored(spark, sf_dir):
    e = _t(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        (F.col("label") % 2).cast("long").alias("y"),
        (
            hash60(F.expr(_H)) % F.lit(700000)
            + (F.col("label") % 2).cast("long") * F.lit(300000)
        ).alias("score_ppm"),
    )


_SCORED_SQL = f"""
    SELECT vec_id,
           CAST(label % 2 AS BIGINT) AS y,
           ({_H_SQL} % 700000) + CAST(label % 2 AS BIGINT) * 300000 AS score_ppm
    FROM embeddings
"""


# ---------------------------------------------------------------------------
# Exact AUC + thresholded confusion counts, one row.
# ---------------------------------------------------------------------------
@register(
    "binary_classifier_eval_auc",
    f"""
    WITH s AS ({_SCORED_SQL}),
    r AS (
      SELECT y, score_ppm,
             2 * RANK() OVER (ORDER BY score_ppm)
               + COUNT(*) OVER (PARTITION BY score_ppm) - 1 AS rank2
      FROM s
    ),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS BIGINT) AS n_pos,
             CAST(SUM(CASE WHEN y = 1 THEN rank2 ELSE 0 END) AS BIGINT) AS r2_pos,
             CAST(SUM(CASE WHEN y = 1 AND score_ppm >= 500000 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
             CAST(SUM(CASE WHEN y = 0 AND score_ppm >= 500000 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
             CAST(SUM(CASE WHEN y = 1 AND score_ppm < 500000 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
             CAST(SUM(CASE WHEN y = 0 AND score_ppm < 500000 THEN 1 ELSE 0 END) AS BIGINT) AS tn
      FROM r
    )
    SELECT n, n_pos, tp, fp, fn, tn,
           CAST((r2_pos - n_pos * (n_pos + 1)) * 1000000
                // (2 * n_pos * (n - n_pos)) AS BIGINT) AS auc_ppm,
           CAST(tp * 1000000 // (tp + fp) AS BIGINT) AS precision_ppm,
           CAST(tp * 1000000 // (tp + fn) AS BIGINT) AS recall_ppm,
           CAST(2 * tp * 1000000 // (2 * tp + fp + fn) AS BIGINT) AS f1_ppm,
           CAST((tp + tn) * 1000000 // n AS BIGINT) AS accuracy_ppm
    FROM agg
    """,
)
def binary_classifier_eval_auc(spark, sf_dir):
    """Exact AUC via the tie-corrected Mann-Whitney rank-sum plus a full
    thresholded confusion row (precision/recall/F1/accuracy in ppm).

    Plan shape (the 100 TB form — no global rank window): one scan -> a
    keyed histogram per score_ppm (cnt, pos) -> two-pass value-bucketed
    STRICT prefix sum of cnt (functions/ranking.global_running) over the
    bucketed frame -> one aggregate. For a row at score s with c ties,
    min-rank = prefix_lt + 1, so the tie-averaged doubled rank is
    rank2 = 2*prefix_lt + c + 1 and the positive rank-sum is
    Σ pos(s)·rank2(s) — identical integers to the window form the oracle
    keeps (RANK() + per-score COUNT). All divisions are positive-integer
    floor (Spark div ≡ DuckDB //)."""
    s = _scored(spark, sf_dir)
    g = s.groupBy("score_ppm").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum("y").cast("long").alias("pos"),
    )
    cum = global_running(
        g, ["score_ppm"], "cnt", kind="sum", strict=True, out="prefix_lt"
    ).withColumn("prefix_lt", F.coalesce(F.col("prefix_lt"), F.lit(0)))
    r = cum.withColumn(
        "rank2", (F.lit(2) * F.col("prefix_lt") + F.col("cnt") + 1).cast("long")
    )
    agg = r.agg(
        F.sum("cnt").cast("long").alias("n"),
        F.sum("pos").cast("long").alias("n_pos"),
        F.sum(F.col("pos") * F.col("rank2")).cast("long").alias("r2_pos"),
        F.sum(F.when(F.col("score_ppm") >= 500000, F.col("pos")).otherwise(0))
        .cast("long").alias("tp"),
        F.sum(
            F.when(F.col("score_ppm") >= 500000, F.col("cnt") - F.col("pos")).otherwise(0)
        ).cast("long").alias("fp"),
        F.sum(F.when(F.col("score_ppm") < 500000, F.col("pos")).otherwise(0))
        .cast("long").alias("fn"),
        F.sum(
            F.when(F.col("score_ppm") < 500000, F.col("cnt") - F.col("pos")).otherwise(0)
        ).cast("long").alias("tn"),
    )
    return agg.select(
        "n",
        "n_pos",
        "tp",
        "fp",
        "fn",
        "tn",
        F.expr(
            "(r2_pos - n_pos * (n_pos + 1)) * 1000000 div (2 * n_pos * (n - n_pos))"
        ).cast("long").alias("auc_ppm"),
        F.expr("tp * 1000000 div (tp + fp)").cast("long").alias("precision_ppm"),
        F.expr("tp * 1000000 div (tp + fn)").cast("long").alias("recall_ppm"),
        F.expr("2 * tp * 1000000 div (2 * tp + fp + fn)").cast("long").alias("f1_ppm"),
        F.expr("(tp + tn) * 1000000 div n").cast("long").alias("accuracy_ppm"),
    )


# ---------------------------------------------------------------------------
# Multiclass confusion matrix with per-true-class recall.
# ---------------------------------------------------------------------------
@register(
    "confusion_multiclass_ppm",
    f"""
    WITH p AS (
      SELECT CAST(label AS BIGINT) AS true_label,
             CAST((label + CASE WHEN {_H_SQL} % 10 < 3 THEN 1 ELSE 0 END) % 10
                  AS BIGINT) AS pred_label
      FROM embeddings
    ),
    c AS (
      SELECT true_label, pred_label, CAST(COUNT(*) AS BIGINT) AS n
      FROM p GROUP BY true_label, pred_label
    )
    SELECT true_label, pred_label, n,
           CAST(n * 1000000 // SUM(n) OVER (PARTITION BY true_label) AS BIGINT)
             AS share_of_true_ppm
    FROM c
    """,
)
def confusion_multiclass_ppm(spark, sf_dir):
    """Confusion matrix for a deterministic hash-perturbed predictor (30% of
    rows predict the next class mod 10): per (true, pred) counts plus each
    cell's share of its true-class row in ppm. One groupBy shuffle on the
    (true, pred) pair; the per-class total is a window over the already
    k²-bounded matrix, not the corpus."""
    e = _t(spark, sf_dir, "embeddings")
    p = e.select(
        F.col("label").cast("long").alias("true_label"),
        (
            (
                F.col("label")
                + F.when(hash60(F.expr(_H)) % 10 < 3, F.lit(1)).otherwise(F.lit(0))
            )
            % 10
        ).cast("long").alias("pred_label"),
    )
    c = p.groupBy("true_label", "pred_label").agg(F.count(F.lit(1)).cast("long").alias("n"))
    return c.withColumn(
        "share_of_true_ppm",
        F.expr("n * 1000000 div sum(n) over (partition by true_label)").cast("long"),
    )


# ---------------------------------------------------------------------------
# Calibration (reliability) bins: predicted-probability decile vs outcome.
# ---------------------------------------------------------------------------
@register(
    "calibration_bins_ppm",
    f"""
    WITH s AS ({_SCORED_SQL})
    SELECT CAST(score_ppm // 100000 AS BIGINT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(y) AS BIGINT) AS n_pos,
           CAST(SUM(score_ppm) // COUNT(*) AS BIGINT) AS mean_score_ppm,
           CAST(SUM(y) * 1000000 // COUNT(*) AS BIGINT) AS pos_rate_ppm,
           CAST(ABS(SUM(score_ppm) // COUNT(*) - SUM(y) * 1000000 // COUNT(*))
                AS BIGINT) AS gap_ppm
    FROM s
    GROUP BY bin
    """,
)
def calibration_bins_ppm(spark, sf_dir):
    """Reliability diagram: scores bucketed into deciles, each bin's mean
    predicted probability vs realized positive rate and the absolute gap —
    all integer ppm. One partial-aggregated groupBy on the 10-value bin key
    (map-side combine collapses the corpus before the shuffle)."""
    s = _scored(spark, sf_dir)
    return (
        s.groupBy(F.expr("score_ppm div 100000").cast("long").alias("bin"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("y").cast("long").alias("n_pos"),
            F.expr("sum(score_ppm) div count(1)").cast("long").alias("mean_score_ppm"),
            F.expr("sum(y) * 1000000 div count(1)").cast("long").alias("pos_rate_ppm"),
        )
        .withColumn(
            "gap_ppm", F.expr("abs(mean_score_ppm - pos_rate_ppm)").cast("long")
        )
    )


# ---------------------------------------------------------------------------
# Isotonic calibration via the minimax identity (round 5).
# ---------------------------------------------------------------------------
_ISO_BINS = 20

_ISO_ORACLE = f"""
    WITH s AS ({_SCORED_SQL}),
    bins AS (
      SELECT CAST(score_ppm // 50000 AS BIGINT) AS bin,
             CAST(COUNT(*) AS BIGINT) AS w,
             CAST(SUM(y) AS BIGINT) AS p
      FROM s GROUP BY bin
    ),
    grid AS (SELECT UNNEST(range(0, {_ISO_BINS} + 1)) AS j),
    pfx AS (
      SELECT g.j,
             CAST(COALESCE(SUM(b.w), 0) AS BIGINT) AS cw,
             CAST(COALESCE(SUM(b.p), 0) AS BIGINT) AS cp
      FROM grid g LEFT JOIN bins b ON b.bin < g.j
      GROUP BY g.j
    ),
    seg AS (
      SELECT a.j AS a, b.j AS b,
             CAST((b.cp - a.cp) * 1000000 // (b.cw - a.cw) AS BIGINT) AS c
      FROM pfx a JOIN pfx b ON b.j > a.j
      WHERE b.cw > a.cw
    ),
    inner_min AS (
      SELECT bins.bin, seg.a, CAST(MIN(seg.c) AS BIGINT) AS m
      FROM bins JOIN seg ON seg.a <= bins.bin AND seg.b >= bins.bin + 1
      GROUP BY bins.bin, seg.a
    ),
    iso AS (
      SELECT bin, CAST(MAX(m) AS BIGINT) AS iso_rate_ppm
      FROM inner_min GROUP BY bin
    )
    SELECT bins.bin, bins.w AS n,
           CAST(bins.p * 1000000 // bins.w AS BIGINT) AS raw_rate_ppm,
           iso.iso_rate_ppm
    FROM bins JOIN iso ON iso.bin = bins.bin
"""


@register("isotonic_calibration_minimax", _ISO_ORACLE)
def isotonic_calibration_minimax(spark, sf_dir):
    """Isotonic (monotone) calibration of the classifier's reliability
    curve — what sklearn's IsotonicRegression / PAVA fits — computed NOT
    by the sequential pool-adjacent-violators loop but by the closed-form
    MINIMAX identity: ŷ(i) = max_{j≤i} min_{k≥i} pooled_rate(j..k). The
    solution is unique, so the identity gives the same fit as PAVA with
    zero sequential state — on 20 score bins it is a triple-bounded
    join over the prefix frame (≤20³ combinations, broadcast-sized
    regardless of corpus scale; the corpus contributes ONE binned
    aggregation). Pooled rates are committed floor-ppm integers (the
    min/max ordering is exact unless two pooled rates tie within 1 ppm —
    a committed quantization like the LSH constants); the floored
    minimax stays monotone by construction (shrinking min-sets, growing
    max-sets). Output: per-bin raw vs isotonic rate — the calibration
    map a serving system applies at inference."""
    s = _scored(spark, sf_dir)
    bins = materialize(
        s.groupBy(F.expr("score_ppm div 50000").cast("long").alias("bin"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("w"),
            F.sum("y").cast("long").alias("p"),
        ),
        StorageLevel.MEMORY_AND_DISK,
    )
    grid = spark.range(0, _ISO_BINS + 1).select(F.col("id").cast("long").alias("j"))
    pfx = (
        grid.join(F.broadcast(bins), F.col("bin") < F.col("j"), "left")
        .groupBy("j")
        .agg(
            F.coalesce(F.sum("w"), F.lit(0)).cast("long").alias("cw"),
            F.coalesce(F.sum("p"), F.lit(0)).cast("long").alias("cp"),
        )
    )
    a = pfx.select(F.col("j").alias("a"), F.col("cw").alias("aw"), F.col("cp").alias("ap"))
    b = pfx.select(F.col("j").alias("b"), F.col("cw").alias("bw"), F.col("cp").alias("bp"))
    seg = (
        a.join(F.broadcast(b), F.col("b") > F.col("a"))
        .where(F.col("bw") > F.col("aw"))
        .select(
            "a",
            "b",
            F.expr("CAST((bp - ap) * 1000000 div (bw - aw) AS BIGINT)").alias("c"),
        )
    )
    inner_min = (
        bins.select("bin")
        .join(
            F.broadcast(seg),
            (F.col("a") <= F.col("bin")) & (F.col("b") >= F.col("bin") + 1),
        )
        .groupBy("bin", "a")
        .agg(F.min("c").alias("m"))
    )
    iso = inner_min.groupBy("bin").agg(F.max("m").cast("long").alias("iso_rate_ppm"))
    return (
        bins.join(F.broadcast(iso), "bin")
        .select(
            "bin",
            F.col("w").alias("n"),
            F.expr("CAST(p * 1000000 div w AS BIGINT)").alias("raw_rate_ppm"),
            "iso_rate_ppm",
        )
    )
