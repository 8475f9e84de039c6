"""Graph + ML batch: triangle counting over the trade graph and one exact
k-means assignment step over the embeddings table.

Reference parity: both are chained keyed-mapreduce workloads (the
reference's epoch pattern, /root/reference/src/dist_map.h:256-279) —
triangles are two keyed joins over an edge list, k-means assignment is a
broadcast of small state (centroids) against a scan, exactly the shape of
`get`-side lookups against a built DistMap.

Determinism: trade edges use the committed integer cross-multiplied
threshold of sources/derived.py; centroids are integer-micros
floor-divided (a committed quantization, identical in both engines);
distances are exact integer L2² with a (dist, label) struct-min tie-break.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hpmr_spark.catalog import register, _t
from hpmr_spark.engine import materialize
from hpmr_spark.functions.littables import values_df
from hpmr_spark.sources.derived import (
    SQL_UNDIRECTED_CTE,
    trade_edges,
    trade_pairs,
    undirected,
)


# ---------------------------------------------------------------------------
# Triangle counting on the undirected trade graph.
# ---------------------------------------------------------------------------
_TRI_ORACLE = f"""
    WITH {SQL_UNDIRECTED_CTE},
    tri AS (
      SELECT e1.u AS a, e1.w AS b, e2.w AS c
      FROM und e1
      JOIN und e2 ON e2.u = e1.w
      JOIN und e3 ON e3.u = e1.u AND e3.w = e2.w
    ),
    x AS (
      SELECT a AS node FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri
    )
    SELECT CAST(node AS BIGINT) AS nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM x GROUP BY node
"""


@register("graph_triangle_count", _TRI_ORACLE)
def graph_triangle_count(spark, sf_dir):
    """Per-node triangle counts on the undirected trade graph of
    sources/derived.py. The (a<b<c) canonical ordering makes each
    triangle count exactly once with no division by 6: edge lists store
    u<w, the wedge join extends b to c>b, and the closing edge (a, c) is
    a semi-join.
    Scale: the classic two-join triangle plan; at real graph sizes the
    wedge explosion is bounded by degree — the high-degree mitigation
    (order by degree instead of id) is documented, not needed at 25
    nodes. Edges are tiny after aggregation → both joins broadcast."""
    # pe and und are tiny post-agg frames consumed by multiple subtrees
    # (tot+und; e1/e2/e3) — persist both or Catalyst re-derives the whole
    # 4-table join per consumer (was 37 shuffles; see CLAUDE.md CSE note)
    pe = materialize(trade_pairs(spark, sf_dir))
    und = materialize(undirected(trade_edges(pe)))
    e1 = und.select(F.col("u").alias("a"), F.col("w").alias("b"))
    e2 = und.select(F.col("u").alias("b"), F.col("w").alias("c"))
    e3 = und.select(F.col("u").alias("a"), F.col("w").alias("c"))
    tri = e1.join(F.broadcast(e2), "b").join(F.broadcast(e3), ["a", "c"])
    nodes = (
        tri.select(F.col("a").alias("node"))
        .unionAll(tri.select(F.col("b").alias("node")))
        .unionAll(tri.select(F.col("c").alias("node")))
    )
    return nodes.groupBy("node").agg(F.count(F.lit(1)).alias("n_triangles")).select(
        F.col("node").cast("long").alias("nationkey"), "n_triangles"
    )


# ---------------------------------------------------------------------------
# One exact k-means assignment step (centroid build + nearest-centroid).
# ---------------------------------------------------------------------------
_KMEANS_ORACLE = """
    WITH vi AS (
      SELECT vec_id, label,
             CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS v,
             generate_subscripts(embedding, 1) AS dim
      FROM embeddings
    ),
    cent AS (
      SELECT label AS clabel, dim,
             CAST(SUM(v) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS c
      FROM vi GROUP BY label, dim
    ),
    dist AS (
      SELECT vi.vec_id, vi.label, cent.clabel,
             CAST(SUM((vi.v - cent.c) * (vi.v - cent.c)) AS BIGINT) AS d2
      FROM vi JOIN cent ON vi.dim = cent.dim
      GROUP BY vi.vec_id, vi.label, cent.clabel
    ),
    ranked AS (
      SELECT vec_id, label, clabel,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY d2, clabel) AS rn
      FROM dist
    )
    SELECT CAST(label AS BIGINT) AS true_label,
           CAST(clabel AS BIGINT) AS assigned_label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs
    FROM ranked WHERE rn = 1
    GROUP BY label, clabel
"""


@register("kmeans_assign_step", _KMEANS_ORACLE)
def kmeans_assign_step(spark, sf_dir):
    """One full k-means iteration step, exact: per-label centroids in
    floor-divided integer micros (the committed quantization — both
    engines compute identical centroid integers), then every vector is
    assigned to the nearest centroid by exact integer squared-L2 with a
    (distance, label) struct-min tie-break, and the (true, assigned)
    confusion matrix comes back. Spark shape: centroids reduce to
    k×dims integers and broadcast; the assignment is one corpus scan with
    a zip_with fold per (vector, centroid) — no shuffle of embeddings.
    At 100 TB this is exactly Lloyd's-iteration-on-Spark: small state
    broadcast, scan-side argmin, one tiny confusion agg. µ-integer max
    |v|≈1e6 → per-dim delta² ≤ 4e12, ×64 dims ≤ 2.6e14 — safely in
    BIGINT."""
    e = _t(spark, sf_dir, "embeddings")
    vi = e.select(
        "vec_id",
        "label",
        F.expr(
            "transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000)"
            " AS BIGINT))"
        ).alias("v"),
    )
    ex = vi.select(
        "label", F.posexplode("v").alias("dim0", "val")
    ).groupBy("label", "dim0").agg(
        F.expr("CAST(SUM(val) AS BIGINT) div CAST(COUNT(1) AS BIGINT)").alias("c")
    )
    cents = ex.groupBy(F.col("label").alias("clabel")).agg(
        F.expr("transform(array_sort(collect_list(struct(dim0, c))), s -> s.c)")
        .alias("cv")
    )
    joined = vi.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "label",
        "clabel",
        F.expr(
            "aggregate(zip_with(v, cv, (a, b) -> (a - b) * (a - b)), "
            "CAST(0 AS BIGINT), (acc, x) -> acc + x)"
        ).alias("d2"),
    )
    best = joined.groupBy("vec_id", "label").agg(
        F.min(F.struct("d2", "clabel")).alias("m")
    )
    return best.groupBy(
        F.col("label").cast("long").alias("true_label"),
        F.col("m.clabel").cast("long").alias("assigned_label"),
    ).agg(F.count(F.lit(1)).alias("n_vecs"))


# ---------------------------------------------------------------------------
# Bounded BFS shortest paths on the trade graph.
# ---------------------------------------------------------------------------
_BFS_ORACLE = f"""
    WITH RECURSIVE {SQL_UNDIRECTED_CTE},
    sym AS (
      SELECT u AS src, w AS dst FROM und
      UNION ALL
      SELECT w, u FROM und
    ),
    walk(node, dist) AS (
      SELECT CAST(0 AS BIGINT), 0
      UNION ALL
      SELECT CAST(s.dst AS BIGINT), wk.dist + 1
      FROM walk wk JOIN sym s ON s.src = wk.node
      WHERE wk.dist < 3
    )
    SELECT node AS nationkey, CAST(MIN(dist) AS BIGINT) AS dist
    FROM walk GROUP BY node
"""


@register("graph_bfs_3hop", _BFS_ORACLE)
def graph_bfs_3hop(spark, sf_dir):
    """Bounded breadth-first shortest paths from nation 0 over the same
    committed trade graph as pagerank/triangles: 3 synchronous frontier
    expansions (the Pregel superstep pattern — each hop is one keyed join
    + one min-aggregation, the reference's epoch loop), keeping the
    running minimum distance per node. The oracle is the equivalent
    bounded recursive CTE reduced by MIN. At real graph scale the frontier
    join shuffles on node id and each superstep's state is one (node,
    dist) row per reached vertex; the hop bound caps work exactly like the
    CTE's dist predicate."""
    und = undirected(trade_edges(trade_pairs(spark, sf_dir)))
    sym = und.select(F.col("u").alias("src"), F.col("w").alias("dst")).unionAll(
        und.select(F.col("w").alias("src"), F.col("u").alias("dst"))
    )
    # persist the derived edge list: every superstep re-reads it, and without
    # this the 4-join derivation re-executes per hop (standard discipline for
    # iterative graph algorithms — pagerank does the same)
    sym = materialize(sym)
    spark_ = und.sparkSession
    dist = values_df(spark_, [(0, 0)], "node long, dist int")
    for _ in range(3):
        # nation-graph edges are dimension-sized → broadcast kills the join
        # shuffle; at vertex counts past broadcast range this becomes the
        # node-partitioned shuffle join the docstring describes
        frontier = (
            dist.join(F.broadcast(sym), dist.node == sym.src)
            .select(F.col("dst").alias("node"), (F.col("dist") + 1).alias("dist"))
        )
        dist = (
            dist.unionByName(frontier)
            .groupBy("node")
            .agg(F.min("dist").alias("dist"))
            .coalesce(1)  # vertex state is 25 rows — avoid 64 empty tasks/hop
            .localCheckpoint()  # cut lineage per superstep (pagerank discipline)
        )
    return dist.select(
        F.col("node").cast("long").alias("nationkey"),
        F.col("dist").cast("long").alias("dist"),
    )


_LPA_EDGES = f"""
    {SQL_UNDIRECTED_CTE},
    ed AS (SELECT u AS src, w AS dst FROM und
           UNION ALL SELECT w, u FROM und),
    nodes AS (SELECT DISTINCT src AS node FROM ed)
"""


# ---------------------------------------------------------------------------
# k-core decomposition (k=2) by iterative peeling.
# ---------------------------------------------------------------------------
# VERDICT r8 item 2: the peel IS recursive-CTE expressible — the alive set
# only shrinks, so one recursion row carries the whole alive LIST and each
# step list_filters it by in-alive degree (edge list cross-joined into the
# FROM so the lambda can reference it — DuckDB lambdas reject subqueries).
# Materialized twins (symm/el/nds) guard the CTE-inlining blowup.
_KCORE_ORACLE = (
    "WITH RECURSIVE "
    + _LPA_EDGES
    + """,
    symm AS MATERIALIZED (SELECT src AS a, dst AS b FROM ed),
    el AS MATERIALIZED (SELECT list({'a': a, 'b': b}) AS es FROM symm),
    nds AS MATERIALIZED (SELECT list_sort(list(DISTINCT a)) AS ns FROM symm),
    peel(it, alive) AS (
      SELECT 0, ns FROM nds
      UNION ALL
      SELECT it + 1,
             list_filter(alive, n -> len(list_filter(el.es,
               e -> e.a = n AND list_contains(alive, e.b))) >= 2)
      FROM peel, el
      WHERE it < 30
        AND len(list_filter(alive, n -> len(list_filter(el.es,
              e -> e.a = n AND list_contains(alive, e.b))) >= 2)) < len(alive)
    ),
    fin AS (SELECT alive FROM peel ORDER BY it DESC LIMIT 1)
    SELECT CAST(s.a AS BIGINT) AS nationkey,
           CAST(COUNT(*) AS BIGINT) AS core_degree
    FROM symm s, fin
    WHERE list_contains(fin.alive, s.a) AND list_contains(fin.alive, s.b)
    GROUP BY s.a
    """
)


@register("graph_kcore_2", _KCORE_ORACLE)
def graph_kcore_2(spark, sf_dir):
    """2-core of the committed trade graph: iteratively peel nodes whose
    degree drops below k until the fixpoint (degeneracy peel — the standard
    k-core algorithm). The fixpoint is order-independent (the maximal
    2-core is unique), so a recursive-CTE oracle carrying the monotone
    shrinking alive-list reproduces it exactly;
    tests/test_properties.py additionally pins it against an in-Python
    reference peel and the min-degree invariant. Per round: one degree agg + one semi-join
    filter over the (persisted) edge list, localCheckpoint caps lineage; at
    real scale each round shuffles O(|E|) by node id — same discipline as
    BFS/pagerank above."""
    und = undirected(trade_edges(trade_pairs(spark, sf_dir)))
    k = 2
    sym = (
        und.select(F.col("u").alias("a"), F.col("w").alias("b"))
        .unionAll(und.select(F.col("w").alias("a"), F.col("u").alias("b")))
        .coalesce(1)
        .localCheckpoint(eager=True)
    )
    for _ in range(25):
        deg = sym.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
        bad = deg.where(F.col("deg") < k).select("a")
        if bad.limit(1).count() == 0:
            break
        sym = (
            sym.join(bad, "a", "left_anti")
            .join(bad.select(F.col("a").alias("b")), "b", "left_anti")
            .coalesce(1)
            .localCheckpoint(eager=True)
        )
    return (
        sym.groupBy(F.col("a").alias("nationkey"))
        .agg(F.count(F.lit(1)).alias("core_degree"))
        .orderBy("nationkey")
    )


# ---------------------------------------------------------------------------
# Label-propagation communities (3 synchronous rounds, deterministic).
# ---------------------------------------------------------------------------


def _lpa_round_sql(prev: str, cur: str) -> str:
    return f""",
    n{cur} AS (
      SELECT e.src AS node, l.lab, CAST(COUNT(*) AS BIGINT) AS c
      FROM ed e JOIN {prev} l ON l.node = e.dst
      GROUP BY e.src, l.lab
    ),
    b{cur} AS (
      SELECT node, lab FROM (
        SELECT node, lab,
               row_number() OVER (PARTITION BY node ORDER BY c DESC, lab) AS rk
        FROM n{cur}
      ) WHERE rk = 1
    ),
    {cur} AS (
      SELECT p.node, COALESCE(b{cur}.lab, p.lab) AS lab
      FROM {prev} p LEFT JOIN b{cur} ON b{cur}.node = p.node
    )"""


@register(
    "graph_lpa_communities",
    "WITH "
    + _LPA_EDGES
    + """,
    lab0 AS (SELECT node, CAST(node AS BIGINT) AS lab FROM nodes)"""
    + _lpa_round_sql("lab0", "lab1")
    + _lpa_round_sql("lab1", "lab2")
    + _lpa_round_sql("lab2", "lab3")
    + """
    SELECT CAST(node AS BIGINT) AS nationkey, CAST(lab AS BIGINT) AS community
    FROM lab3
    """,
)
def graph_lpa_communities(spark, sf_dir):
    """Label-propagation community detection on the trade graph, made
    DETERMINISTIC: labels start as node ids; each of 3 SYNCHRONOUS rounds
    assigns every node the MODE of its neighbors' labels with a full
    (count DESC, label ASC) tie-break via a node-PARTITIONED window —
    asynchronous/random-order LPA (the textbook version) is
    nondeterministic, which is exactly what an oracle-checked engine cannot
    ship. Fixed rounds = unrolled CTEs in the oracle, a loop here; each
    round is one join + one grouped count + one partitioned top-1 — the
    chained keyed-mapreduce epoch shape at any graph size. Edge frames
    persist (multi-consumer)."""
    pe = materialize(trade_pairs(spark, sf_dir))
    und = undirected(trade_edges(pe))
    ed = materialize(
        und.select(F.col("u").alias("src"), F.col("w").alias("dst"))
        .unionAll(und.select(F.col("w").alias("src"), F.col("u").alias("dst")))
    )
    lab = ed.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").cast("long").alias("lab")
    )
    from pyspark.sql import Window

    for _ in range(3):
        n = (
            ed.join(lab.select(F.col("node").alias("dst"), "lab"), "dst")
            .groupBy(F.col("src").alias("node"), "lab")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        w = Window.partitionBy("node").orderBy(F.col("c").desc(), F.col("lab"))
        best = (
            n.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") == 1)
            .select("node", F.col("lab").alias("blab"))
        )
        lab = lab.join(best, "node", "left").select(
            "node", F.coalesce("blab", "lab").alias("lab")
        )
    return lab.select(
        F.col("node").cast("long").alias("nationkey"),
        F.col("lab").cast("long").alias("community"),
    )
