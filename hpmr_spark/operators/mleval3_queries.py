"""ML evaluation, third batch (round 6, wave 6):

- auc_cv_folds: exact tie-corrected Mann-Whitney AUC per CV fold
  (5 folds by hash60('fold|'||vec_id) % 5 over the committed
  binary_classifier_eval_auc score) plus the cross-fold mean and
  standard deviation. Per-fold rank2 uses the window form PARTITIONED
  by fold over the per-(fold, score) histogram — the partition key is
  real (5 folds) and each partition is bounded by the ppm score domain,
  not the fact; fold AUCs are exact integers, so mean/sd are
  one-final-double expressions over exact moments.
- pinball_loss_quantile_eval: train/test quantile-forecast evaluation —
  exact P50/P90 of order cents on the hash-split train half (value at
  rank ⌈q·n⌉ via the bucketed running count), then the pinball loss of
  each constant forecast on the test half in EXACT scaled integers
  (×2 for q=.5, ×10 for q=.9 — denominators cleared, no floats).
- udtf_analyze_split: the Spark 4 POLYMORPHIC Python UDTF surface —
  `analyze()` computes the output schema (tok_1..tok_K string columns)
  from a literal argument at plan time; the query fans each document's
  first 3 tokens into columns and aggregates counts on the first
  column. The oracle is string_split indexing.

Scale notes (100 TB): auc folds ride the score-histogram rollup and the
ppm cross-multiplication is int128-widened (DECIMAL(38,0)/HUGEINT — no
fold-size ceiling: r2_pos ~ 2n² stays exact to n ≈ 10^17);
pinball is two passes over a cents histogram; the UDTF streams rows
through Arrow once into a vocab-bounded aggregate.

Reference parity: beyond the reference kv kernel
(/root/reference/src/hpmr.h:1-10) along the brief's analytics axis.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hpmr_spark.catalog import _t, register
from hpmr_spark.engine import materialize
from hpmr_spark.functions.hashing import hash60, sql_hash60
from hpmr_spark.functions.ranking import global_order_multi
from hpmr_spark.operators.mleval_queries import _SCORED_SQL, _scored

# ---------------------------------------------------------------------------
# Per-fold exact AUC + cross-fold mean/sd.
# ---------------------------------------------------------------------------

_FOLD_SQL = sql_hash60("'fold|' || CAST(vec_id AS VARCHAR)") + " % 5"

_AUCCV_ORACLE = f"""
    WITH s AS ({_SCORED_SQL}),
    sf AS (
      SELECT y, score_ppm, {_FOLD_SQL} AS fold FROM s
    ),
    r AS (
      SELECT fold, y, score_ppm,
             2 * RANK() OVER (PARTITION BY fold ORDER BY score_ppm)
               + COUNT(*) OVER (PARTITION BY fold, score_ppm) - 1 AS rank2
      FROM sf
    ),
    f AS (
      SELECT fold,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS BIGINT) AS n_pos,
             CAST(SUM(CASE WHEN y = 1 THEN rank2 ELSE 0 END) AS BIGINT)
               AS r2_pos
      FROM r GROUP BY fold
    ),
    a AS (
      SELECT CAST(fold AS BIGINT) AS fold, n, n_pos,
             CAST((CAST(r2_pos AS HUGEINT) - CAST(n_pos AS HUGEINT) * (n_pos + 1))
                    * 1000000
                  // (2 * CAST(n_pos AS HUGEINT) * (n - n_pos)) AS BIGINT)
               AS auc_ppm
      FROM f
    ),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(auc_ppm) AS BIGINT) AS sa,
             CAST(SUM(auc_ppm * auc_ppm) AS BIGINT) AS saa
      FROM a
    )
    SELECT a.fold, a.n, a.n_pos, a.auc_ppm,
           CAST(m.sa // m.k AS BIGINT) AS mean_auc_ppm,
           SQRT(CAST(m.saa AS DOUBLE) / CAST(m.k AS DOUBLE)
                - (CAST(m.sa AS DOUBLE) / CAST(m.k AS DOUBLE))
                  * (CAST(m.sa AS DOUBLE) / CAST(m.k AS DOUBLE)))
             AS sd_auc_ppm
    FROM a, m
"""


@register("auc_cv_folds", _AUCCV_ORACLE)
def auc_cv_folds(spark, sf_dir):
    """Exact per-fold AUC with cross-fold mean/sd — see module
    docstring. Output: 5 rows (fold, n, n_pos, auc_ppm, mean_auc_ppm,
    sd_auc_ppm)."""
    s = _scored(spark, sf_dir).withColumn(
        "fold",
        hash60(F.concat(F.lit("fold|"), F.col("vec_id").cast("string"))) % 5,
    )
    g = s.groupBy("fold", "score_ppm").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum("y").cast("long").alias("pos"),
    )
    w = Window.partitionBy("fold").orderBy("score_ppm")
    cum = g.withColumn(
        "prefix_lt",
        F.coalesce(
            F.sum("cnt").over(w.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0),
        ),
    )
    r = cum.withColumn(
        "rank2", (F.lit(2) * F.col("prefix_lt") + F.col("cnt") + 1).cast("long")
    )
    f = r.groupBy("fold").agg(
        F.sum("cnt").cast("long").alias("n"),
        F.sum("pos").cast("long").alias("n_pos"),
        F.sum(F.col("pos") * F.col("rank2")).cast("long").alias("r2_pos"),
    )
    a = f.select(
        F.col("fold").cast("long").alias("fold"),
        "n",
        "n_pos",
        F.expr(
            "(CAST(r2_pos AS DECIMAL(38,0))"
            " - CAST(n_pos AS DECIMAL(38,0)) * (n_pos + 1)) * 1000000"
            " div (2 * CAST(n_pos AS DECIMAL(38,0)) * (n - n_pos))"
        )
        .cast("long")
        .alias("auc_ppm"),
    )
    m = a.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("auc_ppm").cast("long").alias("sa"),
        F.sum(F.expr("auc_ppm * auc_ppm")).cast("long").alias("saa"),
    )
    return a.crossJoin(F.broadcast(m)).select(
        "fold",
        "n",
        "n_pos",
        "auc_ppm",
        F.expr("CAST(sa div k AS BIGINT)").alias("mean_auc_ppm"),
        F.expr(
            "SQRT(CAST(saa AS DOUBLE) / CAST(k AS DOUBLE)"
            " - (CAST(sa AS DOUBLE) / CAST(k AS DOUBLE))"
            " * (CAST(sa AS DOUBLE) / CAST(k AS DOUBLE)))"
        ).alias("sd_auc_ppm"),
    )


# ---------------------------------------------------------------------------
# Pinball loss of train-split constant quantile forecasts on the test split.
# ---------------------------------------------------------------------------

_PB_SPLIT = sql_hash60("'pb|' || CAST(o_orderkey AS VARCHAR)") + " % 2"


def _pb_q_sql(q_num: int, q_den: int, out: str) -> str:
    """Exact train-quantile: smallest cents with running count ≥
    ceil(q·n) = (q_num·n + q_den − 1) // q_den."""
    return f"""
    {out} AS (
      SELECT CAST(MIN(cents) AS BIGINT) AS v FROM (
        SELECT h.cents,
               SUM(h.cnt) OVER (ORDER BY h.cents
                                ROWS UNBOUNDED PRECEDING) AS cum,
               t.n
        FROM hist h CROSS JOIN tn t
      ) WHERE cum >= ({q_num} * n + {q_den} - 1) // {q_den}
    )"""


_PINBALL_ORACLE = f"""
    WITH s AS (
      SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
             {_PB_SPLIT} AS split
      FROM orders
    ),
    hist AS (
      SELECT cents, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM s WHERE split = 0 GROUP BY cents
    ),
    tn AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM hist),
    {_pb_q_sql(1, 2, "q50").lstrip()},
    {_pb_q_sql(9, 10, "q90").lstrip()},
    test AS (SELECT cents FROM s WHERE split = 1),
    loss AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_test,
             CAST(SUM(ABS(test.cents - q50.v)) AS BIGINT) AS loss50_x2,
             CAST(SUM(CASE WHEN test.cents >= q90.v
                           THEN 9 * (test.cents - q90.v)
                           ELSE q90.v - test.cents END) AS BIGINT)
               AS loss90_x10
      FROM test, q50, q90
    )
    SELECT q50.v AS q50_cents, q90.v AS q90_cents,
           loss.n_test, loss.loss50_x2, loss.loss90_x10,
           CAST(CAST(loss.loss50_x2 AS HUGEINT) * 1000
                // (2 * loss.n_test) AS BIGINT) AS mean_loss50_milli,
           CAST(CAST(loss.loss90_x10 AS HUGEINT) * 1000
                // (10 * loss.n_test) AS BIGINT) AS mean_loss90_milli
    FROM q50, q90, loss
"""


@register("pinball_loss_quantile_eval", _PINBALL_ORACLE)
def pinball_loss_quantile_eval(spark, sf_dir):
    """Pinball loss of train-split P50/P90 constant forecasts on the
    test split — see module docstring. Output: one row."""
    from pyspark import StorageLevel

    o = _t(spark, sf_dir, "orders")
    s = o.select(
        F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        (
            hash60(F.concat(F.lit("pb|"), F.col("o_orderkey").cast("string"))) % 2
        ).alias("split"),
    )
    hist = (
        s.where(F.col("split") == 0)
        .groupBy("cents")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    cum = materialize(global_order_multi(
        hist, ["cents"], rn_out="rn", running=[("cnt", "sum", False, "cum")]
    ), StorageLevel.MEMORY_AND_DISK)  # two quantile consumers
    tn = hist.agg(F.sum("cnt").cast("long").alias("n"))

    def train_q(q_num: int, q_den: int, out: str):
        return (
            cum.crossJoin(F.broadcast(tn))
            .where(
                F.col("cum")
                >= F.expr(f"({q_num} * n + {q_den} - 1) div {q_den}")
            )
            .agg(F.min("cents").cast("long").alias(out))
        )

    q50 = train_q(1, 2, "q50_cents")
    q90 = train_q(9, 10, "q90_cents")
    test = s.where(F.col("split") == 1).select("cents")
    loss = (
        test.crossJoin(F.broadcast(q50))
        .crossJoin(F.broadcast(q90))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.sum(F.expr("ABS(cents - q50_cents)")).cast("long").alias("loss50_x2"),
            F.sum(
                F.expr(
                    "CASE WHEN cents >= q90_cents"
                    " THEN 9 * (cents - q90_cents)"
                    " ELSE q90_cents - cents END"
                )
            )
            .cast("long")
            .alias("loss90_x10"),
            F.max("q50_cents").alias("q50_cents"),
            F.max("q90_cents").alias("q90_cents"),
        )
    )
    return loss.select(
        "q50_cents",
        "q90_cents",
        "n_test",
        "loss50_x2",
        "loss90_x10",
        F.expr(
            "CAST(CAST(loss50_x2 AS DECIMAL(38,0)) * 1000"
            " div (2 * n_test) AS BIGINT)"
        ).alias("mean_loss50_milli"),
        F.expr(
            "CAST(CAST(loss90_x10 AS DECIMAL(38,0)) * 1000"
            " div (10 * n_test) AS BIGINT)"
        ).alias("mean_loss90_milli"),
    )


# ---------------------------------------------------------------------------
# Polymorphic Python UDTF (analyze() computes the schema at plan time).
# ---------------------------------------------------------------------------

_UDTF_K = 3

_UDTF_ORACLE = f"""
    WITH t AS (
      SELECT string_split(text, ' ') AS a FROM documents
    ),
    cols AS (
      SELECT COALESCE(a[1], '') AS tok_1 FROM t
    )
    SELECT tok_1, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM cols GROUP BY tok_1
"""


@register("udtf_analyze_split", _UDTF_ORACLE)
def udtf_analyze_split(spark, sf_dir):
    """Polymorphic UDTF: `analyze()` derives tok_1..tok_K string columns
    from the literal K at PLAN time (the Spark 4 dynamic-schema UDTF
    surface); rows fan out through Arrow once and the query aggregates
    doc counts per leading token. The oracle checks the first column's
    distribution (the schema itself is pinned by the UDTF running at
    all). Defined inside the query fn (session-less import rule)."""
    from pyspark.sql.functions import lit, udtf
    from pyspark.sql.types import StringType, StructField, StructType
    from pyspark.sql.udtf import AnalyzeArgument, AnalyzeResult

    class SplitCols:
        @staticmethod
        def analyze(text: AnalyzeArgument, k: AnalyzeArgument) -> AnalyzeResult:
            n = int(k.value)
            return AnalyzeResult(
                StructType(
                    [StructField(f"tok_{i + 1}", StringType()) for i in range(n)]
                )
            )

        def eval(self, text: str, k: int):
            toks = (text or "").split(" ")
            yield tuple(
                toks[i] if i < len(toks) else "" for i in range(int(k))
            )

    fn = udtf(SplitCols)
    spark.udtf.register("split_cols_poly", fn)
    docs = _t(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("docs_udtf_poly")
    out = spark.sql(
        f"SELECT s.* FROM docs_udtf_poly d,"
        f" LATERAL split_cols_poly(d.text, {_UDTF_K}) s"
    )
    return out.groupBy("tok_1").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs")
    )
