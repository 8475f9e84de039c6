"""Community-quality metric (round 6, wave 6).

graph_modularity_ppm: Newman modularity Q of the deterministic 3-round
LPA partition on the nation trade graph (the graph_lpa_communities
construction — same edge threshold v·625 > total, same synchronous
rounds with (count DESC, label ASC) tie-break). Q is computed EXACTLY:
with m undirected edges, within-community edge counts e_c and
community degree sums d_c,

  Q = Σ_c (e_c/m − (d_c/2m)²)  =  Σ_c (4·m·e_c − d_c²) / (4m²)

so q_ppm = (Σ_c (4·m·e_c − d_c²)) · 1e6 div (4m²) — pure integers,
possibly negative (both engines truncate toward zero). Output also
carries m, the community count, and the within-edge total so the
oracle pins the partition itself, not just the scalar.

Engine shape: the 4-table join builds the ≤ 25-node edge frame once
(persisted — the LPA pattern); the 3 LPA rounds and the modularity
aggregation are all bounded-frame joins.

Reference parity: beyond the reference kv kernel
(/root/reference/src/hpmr.h:1-10) along the brief's analytics axis.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from hpmr_spark.catalog import _t, register
from hpmr_spark.engine import materialize
from hpmr_spark.operators.graph_ml_queries import _LPA_EDGES, _lpa_round_sql

_MODULARITY_ORACLE = (
    "WITH "
    + _LPA_EDGES
    + """,
    lab0 AS (SELECT node, CAST(node AS BIGINT) AS lab FROM nodes)"""
    + _lpa_round_sql("lab0", "lab1")
    + _lpa_round_sql("lab1", "lab2")
    + _lpa_round_sql("lab2", "lab3")
    + """,
    labm AS MATERIALIZED (SELECT node, lab FROM lab3),
    undm AS MATERIALIZED (SELECT u, w FROM und),
    edm AS MATERIALIZED (SELECT src, dst FROM ed),
    mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM undm),
    wipairs AS MATERIALIZED (
      SELECT la.lab
      FROM undm
      JOIN labm la ON la.node = undm.u
      JOIN labm lb ON lb.node = undm.w
      WHERE la.lab = lb.lab
    ),
    wic AS (SELECT CAST(COUNT(*) AS BIGINT) AS e_within FROM wipairs),
    deg AS (
      SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS d FROM edm GROUP BY src
    ),
    cdeg AS (
      SELECT l.lab, CAST(SUM(deg.d) AS BIGINT) AS dc
      FROM deg JOIN labm l ON l.node = deg.node
      GROUP BY l.lab
    ),
    ec AS (
      SELECT lab, CAST(COUNT(*) AS BIGINT) AS e_c FROM wipairs GROUP BY lab
    ),
    terms AS (
      SELECT cdeg.lab,
             4 * mm.m * COALESCE(ec.e_c, 0) - cdeg.dc * cdeg.dc AS num
      FROM cdeg LEFT JOIN ec ON ec.lab = cdeg.lab
      CROSS JOIN mm
    )
    SELECT mm.m AS n_edges,
           (SELECT CAST(COUNT(DISTINCT lab) AS BIGINT) FROM labm)
             AS n_communities,
           wic.e_within,
           CAST(CAST((SELECT SUM(num) FROM terms) AS BIGINT) * 1000000
                // (4 * mm.m * mm.m) AS BIGINT) AS q_ppm
    FROM mm, wic
"""
)


@register("graph_modularity_ppm", _MODULARITY_ORACLE)
def graph_modularity_ppm(spark, sf_dir):
    """Exact modularity of the 3-round LPA partition — see module
    docstring. Output: one row (n_edges, n_communities, e_within, q_ppm)."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")

    pe = (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .groupBy(F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst"))
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
            .cast("long")
            .alias("v"),
        )
    )
    tot = pe.agg(F.sum("v").cast("long").alias("t"))
    und = materialize(
        pe.crossJoin(F.broadcast(tot))
        .where((F.col("v") * 625 > F.col("t")) & (F.col("src") != F.col("dst")))
        .select(
            F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("w")
        )
        .distinct(),
        StorageLevel.MEMORY_AND_DISK,  # ed/deg/wic/ec/m consumers
    )
    ed = materialize(und.select(F.col("u").alias("src"), F.col("w").alias("dst")).unionAll(
        und.select(F.col("w").alias("src"), F.col("u").alias("dst"))
    ), StorageLevel.MEMORY_AND_DISK)
    nodes = ed.select(F.col("src").alias("node")).distinct()
    lab = nodes.select("node", F.col("node").cast("long").alias("lab"))
    for _ in range(3):
        nbr = (
            ed.join(lab.select(F.col("node").alias("dst"), "lab"), "dst")
            .groupBy(F.col("src").alias("node"), "lab")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        wv = Window.partitionBy("node").orderBy(F.col("cnt").desc(), F.col("lab"))
        best = (
            nbr.withColumn("rk", F.row_number().over(wv))
            .where(F.col("rk") == 1)
            .select("node", F.col("lab").alias("newlab"))
        )
        lab = lab.join(best, "node", "left").select(
            "node", F.coalesce(F.col("newlab"), F.col("lab")).alias("lab")
        )
    lab = materialize(lab, StorageLevel.MEMORY_AND_DISK)
    mm = und.agg(F.count(F.lit(1)).cast("long").alias("m"))
    la = lab.select(F.col("node").alias("u"), F.col("lab").alias("lab_u"))
    lb = lab.select(F.col("node").alias("w"), F.col("lab").alias("lab_w"))
    within = und.join(F.broadcast(la), "u").join(F.broadcast(lb), "w").where(
        F.col("lab_u") == F.col("lab_w")
    )
    wic = within.agg(F.count(F.lit(1)).cast("long").alias("e_within"))
    ec = within.groupBy(F.col("lab_u").alias("lab")).agg(
        F.count(F.lit(1)).cast("long").alias("e_c")
    )
    deg = ed.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    cdeg = (
        deg.join(F.broadcast(lab), "node")
        .groupBy("lab")
        .agg(F.sum("d").cast("long").alias("dc"))
    )
    terms = (
        cdeg.join(F.broadcast(ec), "lab", "left")
        .crossJoin(F.broadcast(mm))
        .select(
            (
                4 * F.col("m") * F.coalesce(F.col("e_c"), F.lit(0))
                - F.col("dc") * F.col("dc")
            ).alias("num")
        )
    )
    tsum = terms.agg(F.sum("num").cast("long").alias("numsum"))
    ncomm = lab.agg(F.countDistinct("lab").cast("long").alias("n_communities"))
    return (
        mm.crossJoin(F.broadcast(wic))
        .crossJoin(F.broadcast(tsum))
        .crossJoin(F.broadcast(ncomm))
        .select(
            F.col("m").alias("n_edges"),
            "n_communities",
            "e_within",
            F.expr("CAST(numsum * 1000000 div (4 * m * m) AS BIGINT)").alias(
                "q_ppm"
            ),
        )
    )
