"""Graph link prediction + entity-resolution blocking (round 6):
Adamic-Adar scoring over the part co-purchase graph, and
sorted-neighborhood candidate generation over customers — the two
remaining classics next to the existing PageRank/LPA/triangle family and
the Fellegi-Sunter linkage scorer.

Scale shapes:
  * Adamic-Adar is the canonical 2-hop join (edges ⋈ edges on the shared
    node) with the standard HUB CAP — common neighbors with degree > 64
    are excluded, which simultaneously bounds the quadratic per-node
    blowup at any graph size AND drops only the near-zero 1/ln(deg)
    weights (the reason the cap is standard practice). The co-purchase
    edge list is bounded per order (TPC-H orders have ≤7 lines), so pair
    generation is linear in facts.
  * Sorted-neighborhood is the O(n·w) alternative to LSH blocking: rank
    within the (nation) block by account balance, pair each record with
    its next ≤4 neighbors — one partitioned window + one banded
    rn-equi-join, no quadratic term anywhere.

Disciplines (CLAUDE.md): LN is bit-identical across engines
(tests/test_libm_parity.py) → Adamic-Adar weights floor to integer nanos
ELEMENTWISE (per common neighbor) before the sum; money compares in
integer cents; top-k emits under a TOTAL order (score DESC, u, w).

Reference parity: beyond the reference kv kernel
(/root/reference/src/hpmr.h:1-10) along the brief's analytics axis.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import functions as F

from hpmr_spark.catalog import _t, register
from hpmr_spark.engine import materialize

_DEG_CAP = 64  # max degree for a COMMON neighbor (hub cap)
_AA_TOPK = 50

_AA_ORACLE = f"""
    WITH und AS MATERIALIZED (
      SELECT DISTINCT LEAST(a.l_partkey, b.l_partkey) AS u,
                      GREATEST(a.l_partkey, b.l_partkey) AS w
      FROM lineitem a JOIN lineitem b ON b.l_orderkey = a.l_orderkey
      WHERE a.l_partkey < b.l_partkey
    ),
    sym AS MATERIALIZED (
      SELECT u AS s, w AS t FROM und UNION ALL SELECT w, u FROM und
    ),
    deg AS MATERIALIZED (
      SELECT s AS node, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY s
    ),
    cand AS (
      SELECT e1.s AS u, e2.s AS w, e1.t AS z
      FROM sym e1 JOIN sym e2 ON e2.t = e1.t AND e1.s < e2.s
      JOIN deg dz ON dz.node = e1.t AND dz.d <= {_DEG_CAP}
      WHERE NOT EXISTS (SELECT 1 FROM und x
                        WHERE x.u = e1.s AND x.w = e2.s)
    ),
    scored AS (
      SELECT c.u, c.w,
             CAST(COUNT(*) AS BIGINT) AS n_common,
             CAST(SUM(CAST(FLOOR(1000000000.0
                  / LN(CAST(dz.d AS DOUBLE))) AS BIGINT)) AS BIGINT)
               AS aa_score_nano
      FROM cand c JOIN deg dz ON dz.node = c.z
      GROUP BY c.u, c.w
    )
    SELECT CAST(u AS BIGINT) AS u, CAST(w AS BIGINT) AS w,
           n_common, aa_score_nano
    FROM scored
    ORDER BY aa_score_nano DESC, u, w
    LIMIT {_AA_TOPK}
"""


@register("link_prediction_adamic_adar", _AA_ORACLE)
def link_prediction_adamic_adar(spark, sf_dir):
    """Adamic-Adar link prediction on the part co-purchase graph (parts
    sharing an order are adjacent): for each NON-adjacent pair with a
    common neighbor, score = Σ_z 1/ln(deg(z)) over common neighbors z
    with deg ≤ 64 (hub cap — see module docstring). Every z has deg ≥ 2
    by construction, so ln(deg) > 0 always. Weights floor to integer
    nanos per z (the elementwise-floor LN-parity discipline), sums are
    exact integers, and the top 50 emit under the total order
    (score DESC, u, w). The undirected edge list is persisted (pair join
    + anti-join + degree = 3 consumers of a post-agg frame)."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pa"))
    b = li.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pb"))
    und = materialize(
        a.join(b, "ok")
        .where(F.col("pa") < F.col("pb"))
        .select(F.col("pa").alias("u"), F.col("pb").alias("w"))
        .distinct(),
        StorageLevel.MEMORY_AND_DISK,
    )
    sym = und.select(F.col("u").alias("s"), F.col("w").alias("t")).unionAll(
        und.select(F.col("w").alias("s"), F.col("u").alias("t"))
    )
    deg = sym.groupBy(F.col("s").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    dz = deg.where(F.col("d") <= _DEG_CAP).select(
        F.col("node").alias("z"), F.col("d").alias("zd")
    )
    # cap BEFORE the 2-hop expansion: hub neighbors never enter the
    # quadratic join (the scale-critical ordering)
    e1 = sym.select(F.col("s").alias("cu"), F.col("t").alias("z")).join(dz, "z")
    e2 = sym.select(F.col("s").alias("cw"), F.col("t").alias("z"))
    cand = (
        e1.join(e2, "z")
        .where(F.col("cu") < F.col("cw"))
        .join(
            und.select(F.col("u").alias("cu"), F.col("w").alias("cw")),
            ["cu", "cw"],
            "left_anti",
        )
    )
    return (
        cand.groupBy(F.col("cu").alias("u"), F.col("cw").alias("w"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_common"),
            F.sum(
                F.expr(
                    "CAST(FLOOR(1000000000.0 / LN(CAST(zd AS DOUBLE)))"
                    " AS BIGINT)"
                )
            )
            .cast("long")
            .alias("aa_score_nano"),
        )
        .orderBy(F.desc("aa_score_nano"), "u", "w")
        .limit(_AA_TOPK)
    )


_SNM_WINDOW = 4  # each record pairs with its next <=4 sort neighbors
_SNM_ORACLE = f"""
    WITH ranked AS (
      SELECT c_custkey, c_nationkey, c_mktsegment,
             CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_cents,
             ROW_NUMBER() OVER (
               PARTITION BY c_nationkey
               ORDER BY CAST(ROUND(c_acctbal * 100) AS BIGINT), c_custkey
             ) AS rn
      FROM customer
    )
    SELECT a.c_custkey AS a_custkey, b.c_custkey AS b_custkey,
           CAST(a.c_nationkey AS BIGINT) AS nationkey,
           CAST(b.rn - a.rn AS BIGINT) AS rank_gap,
           CAST(CASE WHEN a.c_mktsegment = b.c_mktsegment
                THEN 1 ELSE 0 END AS BIGINT) AS seg_match,
           CAST(b.bal_cents - a.bal_cents AS BIGINT) AS bal_diff_cents,
           CAST(CASE WHEN a.c_mktsegment = b.c_mktsegment
                     THEN 40 ELSE 0 END
                + CASE WHEN b.bal_cents - a.bal_cents <= 10000
                       THEN 30 ELSE 0 END
                + ({_SNM_WINDOW} - (b.rn - a.rn)) * 10 AS BIGINT)
             AS agreement_score
    FROM ranked a JOIN ranked b
      ON b.c_nationkey = a.c_nationkey
     AND b.rn > a.rn AND b.rn <= a.rn + {_SNM_WINDOW}
    ORDER BY a_custkey, b_custkey
"""


@register("linkage_sorted_neighborhood", _SNM_ORACLE)
def linkage_sorted_neighborhood(spark, sf_dir):
    """Sorted-neighborhood entity-resolution blocking: within each nation
    block, rank customers by exact balance cents (custkey tie-break) and
    emit each record × its next ≤4 neighbors as candidate pairs with an
    integer agreement score (segment match + balance proximity + rank
    adjacency). O(n·w) candidates — the deterministic alternative to LSH
    blocking when a meaningful sort key exists; one partitioned window +
    one banded rn-join, dimension-sized here and shuffle-bounded at any
    scale."""
    from pyspark.sql import Window

    c = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        "c_mktsegment",
        F.round(F.col("c_acctbal") * 100).cast("long").alias("bal_cents"),
    )
    wn = Window.partitionBy("c_nationkey").orderBy("bal_cents", "c_custkey")
    ranked = c.withColumn("rn", F.row_number().over(wn))
    a = ranked.select(
        F.col("c_custkey").alias("a_custkey"),
        F.col("c_nationkey").alias("nationkey"),
        F.col("c_mktsegment").alias("a_seg"),
        F.col("bal_cents").alias("a_bal"),
        F.col("rn").alias("a_rn"),
    )
    b = ranked.select(
        F.col("c_custkey").alias("b_custkey"),
        F.col("c_nationkey").alias("nationkey"),
        F.col("c_mktsegment").alias("b_seg"),
        F.col("bal_cents").alias("b_bal"),
        F.col("rn").alias("b_rn"),
    )
    return (
        a.join(
            b,
            ["nationkey"],
        )
        .where(
            (F.col("b_rn") > F.col("a_rn"))
            & (F.col("b_rn") <= F.col("a_rn") + _SNM_WINDOW)
        )
        .select(
            "a_custkey",
            "b_custkey",
            F.col("nationkey").cast("long").alias("nationkey"),
            (F.col("b_rn") - F.col("a_rn")).cast("long").alias("rank_gap"),
            F.when(F.col("a_seg") == F.col("b_seg"), 1)
            .otherwise(0)
            .cast("long")
            .alias("seg_match"),
            (F.col("b_bal") - F.col("a_bal")).cast("long").alias("bal_diff_cents"),
            (
                F.when(F.col("a_seg") == F.col("b_seg"), 40).otherwise(0)
                + F.when(F.col("b_bal") - F.col("a_bal") <= 10000, 30).otherwise(0)
                + (F.lit(_SNM_WINDOW) - (F.col("b_rn") - F.col("a_rn"))) * 10
            )
            .cast("long")
            .alias("agreement_score"),
        )
        .orderBy("a_custkey", "b_custkey")
    )
