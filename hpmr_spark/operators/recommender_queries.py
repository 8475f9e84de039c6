"""Slope-one collaborative filtering (round 6, wave 6).

slope_one_recommend: the weighted slope-one recommender over implicit
ratings r_up = total quantity customer u ordered of part p, restricted
to the top-20 parts by total quantity (qty DESC, partkey ASC — a total
order). For every item pair (j, i): n_ji = # co-raters, S_ji =
sum over co-raters of (r_uj - r_ui). The prediction for a target user
u and an UNRATED part j is the weighted slope-one estimate

  score(u, j) = sum_i (S_ji + n_ji * r_ui) / sum_i n_ji

over u's rated items i with n_ji > 0 — kept as exact integer
numerator/denominator and emitted as score_ppm = num * 1e6 div den in
int128 (numerators can be negative; Spark DECIMAL div and DuckDB
HUGEINT // both truncate toward zero — CLAUDE.md round-5/6 facts).
Targets are the top-5 customers by total rating mass (tie: custkey).
Top-3 recommendations per target by (score_ppm DESC, partkey ASC) via
a per-user partitioned window (bounded: ≤ 20 candidates per user).

Scale notes (100 TB): ratings are one fact-scale agg; the item-pair
build is per-user quadratic with ≤ 20 items per user (≤ 380 pairs per
user row-local); everything downstream is bounded by |items|² and the
5-user target set. The persisted ratings rollup feeds four consumers.

Reference parity: beyond the reference kv kernel
(/root/reference/src/hpmr.h:1-10) along the brief's analytics axis.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hpmr_spark.catalog import _t, register
from hpmr_spark.engine import materialize

_N_ITEMS = 20
_N_USERS = 5
_TOP_K = 3

_SLOPE1_ORACLE = f"""
    WITH top20 AS MATERIALIZED (
      SELECT l_partkey AS part
      FROM lineitem
      GROUP BY l_partkey
      ORDER BY CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) DESC,
               l_partkey ASC
      LIMIT {_N_ITEMS}
    ),
    ratings AS MATERIALIZED (
      SELECT o.o_custkey AS cust, l.l_partkey AS part,
             CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS r
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE l.l_partkey IN (SELECT part FROM top20)
      GROUP BY 1, 2
    ),
    pairs AS MATERIALIZED (
      SELECT a.part AS pj, b.part AS pi,
             CAST(COUNT(*) AS BIGINT) AS n_ji,
             CAST(SUM(a.r - b.r) AS BIGINT) AS s_ji
      FROM ratings a JOIN ratings b
        ON a.cust = b.cust AND a.part <> b.part
      GROUP BY 1, 2
    ),
    targets AS MATERIALIZED (
      SELECT cust FROM ratings
      GROUP BY cust
      ORDER BY CAST(SUM(r) AS BIGINT) DESC, cust ASC
      LIMIT {_N_USERS}
    ),
    cand AS (
      SELECT t.cust, p.part
      FROM targets t CROSS JOIN top20 p
      WHERE NOT EXISTS (SELECT 1 FROM ratings x
                        WHERE x.cust = t.cust AND x.part = p.part)
    ),
    pred AS (
      SELECT c.cust, c.part,
             CAST(SUM(pr.s_ji + pr.n_ji * ru.r) AS BIGINT) AS num,
             CAST(SUM(pr.n_ji) AS BIGINT) AS den
      FROM cand c
      JOIN ratings ru ON ru.cust = c.cust
      JOIN pairs pr ON pr.pj = c.part AND pr.pi = ru.part
      GROUP BY c.cust, c.part
    ),
    scored AS (
      SELECT cust, part,
             CAST(CAST(num AS HUGEINT) * 1000000 // den AS BIGINT)
               AS score_ppm,
             num, den
      FROM pred WHERE den > 0
    )
    SELECT cust, part, score_ppm, num, den,
           CAST(rn AS BIGINT) AS rank
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY cust
                                   ORDER BY score_ppm DESC, part ASC) AS rn
      FROM scored
    ) WHERE rn <= {_TOP_K}
"""


@register("slope_one_recommend", _SLOPE1_ORACLE)
def slope_one_recommend(spark, sf_dir):
    """Weighted slope-one recommendations — see module docstring.
    Output: ≤ 15 rows (cust, part, score_ppm, num, den, rank)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    top20 = (
        li.groupBy(F.col("l_partkey").alias("part"))
        .agg(F.sum(F.col("l_quantity").cast("long")).cast("long").alias("tq"))
        .orderBy(F.col("tq").desc(), F.col("part"))
        .limit(_N_ITEMS)
        .select("part")
    )
    ratings = materialize(
        li.join(o, o["o_orderkey"] == li["l_orderkey"])
        .join(F.broadcast(top20), li["l_partkey"] == top20["part"])
        .groupBy(F.col("o_custkey").alias("cust"), F.col("part"))
        .agg(F.sum(F.col("l_quantity").cast("long")).cast("long").alias("r")),
        StorageLevel.MEMORY_AND_DISK,  # 4 consumers
    )
    a = ratings.select(
        F.col("cust").alias("ca"), F.col("part").alias("pj"), F.col("r").alias("ra")
    )
    b = ratings.select(
        F.col("cust").alias("cb"), F.col("part").alias("pi"), F.col("r").alias("rb")
    )
    pairs = (
        a.join(b, (F.col("ca") == F.col("cb")) & (F.col("pj") != F.col("pi")))
        .groupBy("pj", "pi")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_ji"),
            F.sum(F.col("ra") - F.col("rb")).cast("long").alias("s_ji"),
        )
    )
    targets = (
        ratings.groupBy("cust")
        .agg(F.sum("r").cast("long").alias("tr"))
        .orderBy(F.col("tr").desc(), F.col("cust"))
        .limit(_N_USERS)
        .select("cust")
    )
    cand = (
        targets.crossJoin(F.broadcast(top20))
        .join(ratings, ["cust", "part"], "left_anti")
    )
    ru = ratings.select(
        F.col("cust"), F.col("part").alias("pi"), F.col("r").alias("rui")
    )
    pairs2 = pairs.select(
        "pj", F.col("pi").alias("ppi"), "n_ji", "s_ji"
    )
    pred = (
        cand.join(ru, "cust")
        .join(
            F.broadcast(pairs2),
            (F.col("pj") == F.col("part")) & (F.col("ppi") == F.col("pi")),
        )
        .groupBy("cust", "part")
        .agg(
            F.sum(F.col("s_ji") + F.col("n_ji") * F.col("rui"))
            .cast("long")
            .alias("num"),
            F.sum("n_ji").cast("long").alias("den"),
        )
    )
    scored = pred.where(F.col("den") > 0).select(
        "cust",
        "part",
        F.expr("CAST(CAST(num AS DECIMAL(38,0)) * 1000000 div den AS BIGINT)").alias(
            "score_ppm"
        ),
        "num",
        "den",
    )
    w = Window.partitionBy("cust").orderBy(F.col("score_ppm").desc(), F.col("part"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= _TOP_K)
    )
