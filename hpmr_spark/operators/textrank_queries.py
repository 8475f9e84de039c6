"""TextRank keyword extraction (round 6, wave 6).

textrank_keywords: weighted PageRank over the word co-occurrence graph
(adjacent-token edges, undirected), restricted to the top-100 corpus
words of length ≥ 4 (count DESC, word ASC — a total order). Three
power iterations with the COMMITTED integer recurrence (damping 0.85
as the rational 85/100; everything in ppm units):

  pr_0(v)   = 1_000_000
  contrib   = (w_uv * pr_t(u)) div W_u        (floored PER EDGE, int128)
  pr_{t+1}(v) = 150_000 + (85 * sum contribs) div 100

Per-edge floors make the iteration order-invariant (each edge term is
an exact integer; the sum is exact), so three chained CTE steps in
DuckDB reproduce the Spark loop bit-for-bit — the same discipline as
the label-drift nano floors. Top-10 keywords by (pr_3 DESC, word).

Engine shape: one corpus pass builds token counts and adjacent pairs
(zip_with against the array tail — never a token self-join); the graph
(≤ 100 nodes / ≤ 4 950 undirected edges) is persisted and each
iteration is a bounded broadcast join, so fact
rows are touched exactly twice at ANY corpus scale. The oracle uses
the positional self-join and windowed top-k DuckDB-side.

Reference parity: beyond the reference kv kernel
(/root/reference/src/hpmr.h:1-10) along the brief's LLM-pipeline axis.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import functions as F

from hpmr_spark.catalog import _t, register
from hpmr_spark.engine import materialize

_N_NODES = 100
_N_ITER = 3
_TOP_OUT = 10


def _pr_step_sql(prev: str, out: str) -> str:
    """One committed TextRank iteration as a DuckDB CTE."""
    return f"""
    {out} AS MATERIALIZED (
      SELECT n.w,
             CAST(150000 + (85 * COALESCE(SUM(
               CAST(d.wgt AS HUGEINT) * p.pr // g.wu), 0)) // 100
               AS BIGINT) AS pr
      FROM top100 n
      LEFT JOIN dir d ON d.dst = n.w
      LEFT JOIN {prev} p ON p.w = d.src
      LEFT JOIN deg g ON g.src = d.src
      GROUP BY n.w
    )"""


_TEXTRANK_ORACLE = (
    f"""
    WITH toks AS MATERIALIZED (
      SELECT doc_id,
             unnest(string_split(text, ' ')) AS w,
             generate_subscripts(string_split(text, ' '), 1) AS i
      FROM documents
    ),
    ft AS MATERIALIZED (SELECT * FROM toks WHERE LENGTH(w) >= 4),
    cnt AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS n FROM ft GROUP BY w),
    top100 AS MATERIALIZED (
      SELECT w FROM cnt ORDER BY n DESC, w LIMIT {_N_NODES}
    ),
    pairsl AS (
      SELECT a.w AS w1, b.w AS w2
      FROM ft a JOIN ft b ON a.doc_id = b.doc_id AND b.i = a.i + 1
      WHERE a.w <> b.w
        AND a.w IN (SELECT w FROM top100)
        AND b.w IN (SELECT w FROM top100)
    ),
    edges AS MATERIALIZED (
      SELECT LEAST(w1, w2) AS u, GREATEST(w1, w2) AS v,
             CAST(COUNT(*) AS BIGINT) AS wgt
      FROM pairsl GROUP BY 1, 2
    ),
    dir AS MATERIALIZED (
      SELECT u AS src, v AS dst, wgt FROM edges
      UNION ALL
      SELECT v AS src, u AS dst, wgt FROM edges
    ),
    deg AS MATERIALIZED (
      SELECT src, CAST(SUM(wgt) AS BIGINT) AS wu FROM dir GROUP BY src
    ),
    pr0 AS MATERIALIZED (
      SELECT w, CAST(1000000 AS BIGINT) AS pr FROM top100
    ),"""
    + ",".join(_pr_step_sql(f"pr{t}", f"pr{t + 1}") for t in range(_N_ITER))
    + f"""
    SELECT w AS word, pr AS pr_ppm
    FROM pr{_N_ITER}
    ORDER BY pr DESC, w
    LIMIT {_TOP_OUT}
"""
)


@register("textrank_keywords", _TEXTRANK_ORACLE)
def textrank_keywords(spark, sf_dir):
    """TextRank keywords over the corpus co-occurrence graph — see
    module docstring. Output: 10 rows (word, pr_ppm)."""
    docs = _t(spark, sf_dir, "documents")
    t = docs.select(F.split("text", " ").alias("a"))
    ft_words = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .where(F.length("w") >= 4)
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    top100 = materialize(
        ft_words.orderBy(F.col("n").desc(), F.col("w"))
        .limit(_N_NODES)
        .select("w"),
        StorageLevel.MEMORY_AND_DISK,  # node set, 4 consumers
    )
    pairs = (
        t.select(
            F.explode(
                F.expr(
                    "zip_with(slice(a, 1, size(a) - 1), slice(a, 2, size(a) - 1), "
                    "(x, y) -> struct(x AS w1, y AS w2))"
                )
            ).alias("p")
        )
        .select("p.w1", "p.w2")
        .where(
            (F.col("w1") != F.col("w2"))
            & (F.length("w1") >= 4)
            & (F.length("w2") >= 4)
        )
    )
    n1 = top100.select(F.col("w").alias("w1"))
    n2 = top100.select(F.col("w").alias("w2"))
    edges = (
        pairs.join(F.broadcast(n1), "w1")
        .join(F.broadcast(n2), "w2")
        .select(
            F.least("w1", "w2").alias("u"), F.greatest("w1", "w2").alias("v")
        )
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).cast("long").alias("wgt"))
    )
    dir_ = materialize(
        edges.select(F.col("u").alias("src"), F.col("v").alias("dst"), "wgt")
        .unionAll(
            edges.select(F.col("v").alias("src"), F.col("u").alias("dst"), "wgt")
        ),
        StorageLevel.MEMORY_AND_DISK,  # consumed by deg + 3 iterations
    )
    deg = dir_.groupBy("src").agg(F.sum("wgt").cast("long").alias("wu"))
    full = materialize(
        dir_.join(deg, "src")
        .select("src", "dst", "wgt", "wu"),
        StorageLevel.MEMORY_AND_DISK,
    )

    pr = top100.select("w", F.lit(1000000).cast("long").alias("pr"))
    for _ in range(_N_ITER):
        contrib = (
            full.join(pr.select(F.col("w").alias("src"), "pr"), "src")
            .select(
                F.col("dst"),
                F.expr("CAST(CAST(wgt AS DECIMAL(38,0)) * pr div wu AS BIGINT)").alias(
                    "term"
                ),
            )
            .groupBy("dst")
            .agg(F.sum("term").cast("long").alias("s"))
        )
        pr = (
            top100.join(contrib, top100["w"] == contrib["dst"], "left")
            .select(
                "w",
                F.expr(
                    "CAST(150000 + (85 * COALESCE(s, 0)) div 100 AS BIGINT)"
                ).alias("pr"),
            )
        )
    return (
        pr.orderBy(F.col("pr").desc(), F.col("w"))
        .limit(_TOP_OUT)
        .select(F.col("w").alias("word"), F.col("pr").alias("pr_ppm"))
    )
