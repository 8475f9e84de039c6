"""Round-12 wave 6: brandes_betweenness_trade — exact shortest-path
betweenness centrality (Freeman 1977; the σ-counting decomposition that
powers Brandes 2001) on the committed 25-node trade graph (the
undirected edges of sources/derived.py).

Method, fully declarative (no per-source BFS loop): walk-count matrices
W_k = A^k for k = 1..K (K=6 committed hop cap, documented) give both
d(s,t) = min{{k : W_k(s,t) > 0}} and σ(s,t) = W_k(s,t) at that k (a
minimal-length walk is a path, so the count is exact). The pair
dependency of an interior node v for pair s<t is σ(s,v)·σ(v,t)/σ(s,t)
when d(s,v)+d(v,t) = d(s,t); each term floors to ppm (committed
elementwise-floor spec — Spark DECIMAL(38,0) div ≡ DuckDB HUGEINT //)
before the per-node sum.

Scale: every frame after the fact rollup is ≤ |V|² rows; the K hop
joins are broadcast message-passing rounds (at real graph scale, the
standard BSP shuffle per hop). The fact pass is the only scale term —
probed flat for katz (SCALE.md round-12).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hpmr_spark.catalog import register
from hpmr_spark.engine import materialize
from hpmr_spark.sources.derived import (
    SQL_UNDIRECTED_CTE,
    trade_edges,
    trade_pairs,
    undirected,
)

_BW_K = 6  # hop cap (committed): pairs beyond 6 hops count as disconnected


def _bw_oracle() -> str:
    wks = ["w1 AS (SELECT a AS s, b AS t, CAST(1 AS BIGINT) AS c FROM sym)"]
    for k in range(2, _BW_K + 1):
        wks.append(
            f"w{k} AS (SELECT a.s, b.b AS t, CAST(SUM(a.c) AS BIGINT) AS c"
            f" FROM w{k - 1} a JOIN sym b ON a.t = b.a GROUP BY a.s, b.b)"
        )
    uni = " UNION ALL ".join(
        f"SELECT s, t, {k} AS k, c FROM w{k}" for k in range(1, _BW_K + 1)
    )
    return f"""
    WITH {SQL_UNDIRECTED_CTE},
    sym AS MATERIALIZED (
      SELECT u AS a, w AS b FROM und UNION ALL SELECT w, u FROM und
    ),
    {", ".join(wks)},
    uni AS MATERIALIZED (SELECT * FROM ({uni}) WHERE s <> t),
    spd AS (SELECT s, t, CAST(MIN(k) AS BIGINT) AS d
            FROM uni GROUP BY s, t),
    sp AS MATERIALIZED (
      SELECT u.s, u.t, spd.d, u.c AS sigma
      FROM uni u JOIN spd ON u.s = spd.s AND u.t = spd.t AND u.k = spd.d
    )
    SELECT sv.t AS node,
           CAST(COUNT(*) AS BIGINT) AS n_pair_terms,
           CAST(SUM(CAST(CAST(sv.sigma * vt.sigma AS HUGEINT) * 1000000
                 // CAST(st.sigma AS HUGEINT) AS BIGINT)) AS BIGINT)
             AS betweenness_ppm
    FROM sp st
      JOIN sp sv ON sv.s = st.s
      JOIN sp vt ON vt.s = sv.t AND vt.t = st.t
    WHERE st.s < st.t AND sv.t <> st.s AND sv.t <> st.t
      AND sv.d + vt.d = st.d
    GROUP BY sv.t
"""


@register("brandes_betweenness_trade", _bw_oracle())
def brandes_betweenness_trade(spark, sf_dir):
    """Exact betweenness centrality (Freeman 1977 / Brandes 2001
    σ-decomposition) on the 25-node thresholded trade graph — see the
    module docstring for the walk-count method. Emits one row per node
    that sits INTERIOR to at least one shortest path (s < t pairs), with
    the elementwise-ppm-floored dependency sum. Complements the
    registry's pagerank/hits/katz/closeness family with the
    shortest-path-load centrality."""
    pe = materialize(trade_pairs(spark, sf_dir))
    und = undirected(trade_edges(pe))
    # bounded ≤2·|V|² rows: coalesce(1) + eager localCheckpoint cuts both
    # the 64-partition tiny-shuffle tax on every downstream hop and the
    # 6-hop lineage growth (the km_survival footer-dispatch diet)
    sym = (
        und.select(F.col("u").alias("a"), F.col("w").alias("b"))
        .unionAll(und.select(F.col("w").alias("a"), F.col("u").alias("b")))
        .coalesce(1)
        .localCheckpoint(eager=True)
    )
    wk = sym.select(
        F.col("a").alias("s"), F.col("b").alias("t"),
        F.lit(1).cast("long").alias("c"),
    )
    uni = wk.withColumn("k", F.lit(1).cast("long"))
    for k in range(2, _BW_K + 1):
        wk = (
            wk.join(
                F.broadcast(sym.select(F.col("a").alias("t"),
                                       F.col("b").alias("t2"))),
                "t",
            )
            .groupBy("s", F.col("t2").alias("t"))
            .agg(F.sum("c").cast("long").alias("c"))
            .select("s", "t", "c")
        )
        uni = uni.unionByName(wk.withColumn("k", F.lit(k).cast("long")))
    uni = (
        uni.where(F.col("s") != F.col("t"))
        .coalesce(1)
        .localCheckpoint(eager=True)
    )
    # rename the min-hop side: uni/spd share lineage (self-join ambiguity)
    spd = (
        uni.groupBy("s", "t")
        .agg(F.min("k").cast("long").alias("d"))
        .select(
            F.col("s").alias("s2"), F.col("t").alias("t2"), "d"
        )
    )
    sp = (
        uni.join(
            spd,
            (F.col("s") == F.col("s2"))
            & (F.col("t") == F.col("t2"))
            & (F.col("k") == F.col("d")),
        )
        .select("s", "t", "d", F.col("c").alias("sigma"))
        .coalesce(1)
        .localCheckpoint(eager=True)
    )
    st = sp.select(
        F.col("s").alias("ss"), F.col("t").alias("tt"),
        F.col("d").alias("d_st"), F.col("sigma").alias("sig_st"),
    )
    sv = sp.select(
        F.col("s").alias("ss"), F.col("t").alias("node"),
        F.col("d").alias("d_sv"), F.col("sigma").alias("sig_sv"),
    )
    vt = sp.select(
        F.col("s").alias("node"), F.col("t").alias("tt"),
        F.col("d").alias("d_vt"), F.col("sigma").alias("sig_vt"),
    )
    return (
        st.where(F.col("ss") < F.col("tt"))
        .join(F.broadcast(sv), "ss")
        .where((F.col("node") != F.col("ss")) & (F.col("node") != F.col("tt")))
        .join(F.broadcast(vt), ["node", "tt"])
        .where(F.col("d_sv") + F.col("d_vt") == F.col("d_st"))
        .groupBy("node")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pair_terms"),
            F.sum(
                F.expr(
                    "CAST(CAST(sig_sv * sig_vt AS DECIMAL(38,0)) * 1000000"
                    " div CAST(sig_st AS DECIMAL(38,0)) AS BIGINT)"
                )
            )
            .cast("long")
            .alias("betweenness_ppm"),
        )
    )
