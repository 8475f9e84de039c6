"""Rank-fusion & link-analysis batch (round 5): reciprocal-rank fusion of
two retrievers (the standard hybrid-search combiner) and HITS
hub/authority scores on the trade graph — the IR and graph-analytics ops
a retrieval-augmented pipeline runs next to BM25 and PageRank.

Disciplines (CLAUDE.md): scores are integer ppm/nano by floor division on
non-negative operands (Spark `div` ≡ DuckDB `//`); every ranking carries
a full (score, doc_id) tie-break; post-LIMIT re-ranks use
functions/ranking.bounded_rank (broadcast non-equi join — zero
single-partition windows); HITS iterations are UNNORMALIZED exact
integers (values bounded by degree^k on a thresholded dimension-sized
graph), normalized once at the end by integer ppm.

Reference parity: extends the engine surface beyond the reference's kv
kernel (/root/reference/src/hpmr.h:1-10); each keyed aggregation is the
DistMap combine-on-insert ≡ map-side partial agg mapping
(/root/reference/src/bare_map.h:55-57).
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import functions as F

from hpmr_spark.catalog import _t, register
from hpmr_spark.engine import materialize

# ---------------------------------------------------------------------------
# Reciprocal-rank fusion of two term-density retrievers.
# ---------------------------------------------------------------------------
_RRF_K = 60
_TERM_A = "join"
_TERM_B = "customer"
_TOP_IN = 100
_TOP_OUT = 20


def _retriever_sql(term: str) -> str:
    return f"""
      SELECT doc_id, score, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id)
               AS rnk
      FROM (
        SELECT t.doc_id, t.tf * 1000000 // d.dl AS score
        FROM (
          SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS tf
          FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                FROM documents)
          WHERE w = '{term}' GROUP BY doc_id
        ) t JOIN (
          SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl
          FROM documents
        ) d USING (doc_id)
      )
      ORDER BY score DESC, doc_id LIMIT {_TOP_IN}
    """


_RRF_ORACLE = f"""
    WITH ra AS ({_retriever_sql(_TERM_A)}),
    rb AS ({_retriever_sql(_TERM_B)}),
    fused AS (
      SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
             CAST(a.rnk AS BIGINT) AS rank_a,
             CAST(b.rnk AS BIGINT) AS rank_b,
             CAST(COALESCE(1000000000 // ({_RRF_K} + a.rnk), 0)
                  + COALESCE(1000000000 // ({_RRF_K} + b.rnk), 0)
                  AS BIGINT) AS rrf_nano
      FROM ra a FULL OUTER JOIN rb b ON a.doc_id = b.doc_id
    ),
    top AS (
      SELECT doc_id, rank_a, rank_b, rrf_nano,
             ROW_NUMBER() OVER (ORDER BY rrf_nano DESC, doc_id) AS fused_rank
      FROM fused
    )
    SELECT doc_id, rank_a, rank_b, rrf_nano,
           CAST(fused_rank AS BIGINT) AS fused_rank
    FROM top WHERE fused_rank <= {_TOP_OUT}
"""


@register("rrf_fused_ranking", _RRF_ORACLE)
def rrf_fused_ranking(spark, sf_dir):
    """Reciprocal-rank fusion (k=60) of two retrievers — the standard
    hybrid-search combiner (lexical + semantic in production; here two
    term-density retrievers on committed terms, which exercises the
    identical plan shape). Each retriever ranks its matches by integer
    ppm density with a (score, doc_id) tie-break, keeps top-100 via
    sort+limit (TakeOrderedAndProject — per-partition partial top-k, no
    global sort), and gets exact 1-based ranks from bounded_rank on the
    ≤100-row frame (broadcast non-equi join, zero single-partition
    windows). RRF contribution floor(10⁹/(60+rank)) is exact integer
    division; docs missing from one list contribute 0 (full outer join,
    COALESCE). Fused top-20 re-ranks the bounded fusion frame the same
    way. At 100 TB only the retriever scans touch facts; every ranking
    structure is top-k-bounded."""
    from hpmr_spark.functions.ranking import bounded_rank

    docs = _t(spark, sf_dir, "documents")
    dl = docs.select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("dl")
    )

    def retriever(term: str, out: str):
        tf = (
            docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
            .where(F.col("w") == term)
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        )
        sa = tf.join(dl, "doc_id").select(
            "doc_id", F.expr("tf * 1000000 div dl").alias("score")
        )
        top = sa.orderBy(F.desc("score"), F.asc("doc_id")).limit(_TOP_IN)
        return bounded_rank(top, "score", "doc_id", primary_desc=True, out=out)

    ra = retriever(_TERM_A, "rank_a").select(
        F.col("doc_id").alias("a_doc"), F.col("rank_a").cast("long").alias("rank_a")
    )
    rb = retriever(_TERM_B, "rank_b").select(
        F.col("doc_id").alias("b_doc"), F.col("rank_b").cast("long").alias("rank_b")
    )
    fused = ra.join(rb, F.col("a_doc") == F.col("b_doc"), "full_outer").select(
        F.coalesce(F.col("a_doc"), F.col("b_doc")).alias("doc_id"),
        "rank_a",
        "rank_b",
        (
            F.coalesce(
                F.expr(f"1000000000 div ({_RRF_K} + rank_a)"), F.lit(0)
            )
            + F.coalesce(F.expr(f"1000000000 div ({_RRF_K} + rank_b)"), F.lit(0))
        )
        .cast("long")
        .alias("rrf_nano"),
    )
    top = fused.orderBy(F.desc("rrf_nano"), F.asc("doc_id")).limit(_TOP_OUT)
    return bounded_rank(top, "rrf_nano", "doc_id", primary_desc=True, out="fused_rank").select(
        "doc_id",
        "rank_a",
        "rank_b",
        "rrf_nano",
        F.col("fused_rank").cast("long").alias("fused_rank"),
    )


# ---------------------------------------------------------------------------
# HITS hub/authority on the thresholded trade graph.
# ---------------------------------------------------------------------------
_HITS_ORACLE = f"""
    WITH pe AS (
      SELECT c_nationkey AS src, s_nationkey AS dst,
             CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
                  AS BIGINT) AS v
      FROM customer
        JOIN orders   ON o_custkey = c_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN supplier ON s_suppkey = l_suppkey
      GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(SUM(v) AS BIGINT) AS t FROM pe),
    e AS (SELECT src, dst FROM pe, tot WHERE v * 625 > t AND src <> dst),
    a1 AS (SELECT dst AS node, CAST(COUNT(*) AS BIGINT) AS a FROM e GROUP BY dst),
    h1 AS (
      SELECT e.src AS node, CAST(SUM(a1.a) AS BIGINT) AS h
      FROM e JOIN a1 ON a1.node = e.dst GROUP BY e.src
    ),
    a2 AS (
      SELECT e.dst AS node, CAST(SUM(h1.h) AS BIGINT) AS a
      FROM e JOIN h1 ON h1.node = e.src GROUP BY e.dst
    ),
    h2 AS (
      SELECT e.src AS node, CAST(SUM(a2.a) AS BIGINT) AS h
      FROM e JOIN a2 ON a2.node = e.dst GROUP BY e.src
    ),
    nodes AS (
      SELECT COALESCE(a2.node, h2.node) AS node,
             CAST(COALESCE(a2.a, 0) AS BIGINT) AS auth,
             CAST(COALESCE(h2.h, 0) AS BIGINT) AS hub
      FROM a2 FULL OUTER JOIN h2 ON a2.node = h2.node
    ),
    mx AS (
      SELECT CAST(MAX(auth) AS BIGINT) AS ma, CAST(MAX(hub) AS BIGINT) AS mh
      FROM nodes
    )
    SELECT node, auth, hub,
           CAST(auth * 1000000 // ma AS BIGINT) AS auth_ppm,
           CAST(hub * 1000000 // mh AS BIGINT) AS hub_ppm
    FROM nodes, mx
"""


@register("graph_hits_scores", _HITS_ORACLE)
def graph_hits_scores(spark, sf_dir):
    """HITS hub/authority scores (2 full iterations, unrolled) on the
    thresholded nation trade graph (same committed edge rule as
    graph_pagerank_trade / graph_triangle_count: edge revenue·625 > total,
    src ≠ dst). Iterations run UNNORMALIZED in exact integers — on a
    dimension-sized graph the values are bounded by degree^k (≤ 25⁴ here)
    so no float normalization enters the fixpoint arithmetic; the final
    report normalizes once by integer ppm against the max (operands
    non-negative → div ≡ //). Nodes with only-in or only-out edges keep
    score 0 on the missing side (full outer join). At 100 TB: the edge
    build is the one fact-scale job (three joins + one agg, the same
    plan TPC-H q5 runs); everything after operates on a ≤|nations|² frame
    — persisted, broadcast-joined, constant-size."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    pe = materialize(
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .groupBy(F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst"))
        .agg(F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("v")),
        StorageLevel.MEMORY_AND_DISK,
    )
    tot = pe.agg(F.sum("v").alias("t"))
    e = materialize(
        pe.crossJoin(F.broadcast(tot))
        .where((F.col("v") * 625 > F.col("t")) & (F.col("src") != F.col("dst")))
        .select("src", "dst"),
        StorageLevel.MEMORY_AND_DISK,
    )
    a1 = e.groupBy(F.col("dst").alias("node")).agg(
        F.count(F.lit(1)).cast("long").alias("a")
    )
    h1 = (
        e.join(F.broadcast(a1), a1["node"] == e["dst"])
        .groupBy(F.col("src").alias("node"))
        .agg(F.sum("a").cast("long").alias("h"))
    )
    a2 = (
        e.join(F.broadcast(h1), h1["node"] == e["src"])
        .groupBy(F.col("dst").alias("node"))
        .agg(F.sum("h").cast("long").alias("a"))
    )
    h2 = (
        e.join(F.broadcast(a2), a2["node"] == e["dst"])
        .groupBy(F.col("src").alias("node"))
        .agg(F.sum("a").cast("long").alias("h"))
    )
    nodes = (
        a2.withColumnRenamed("node", "an")
        .join(h2.withColumnRenamed("node", "hn"), F.col("an") == F.col("hn"), "full_outer")
        .select(
            F.coalesce(F.col("an"), F.col("hn")).alias("node"),
            F.coalesce(F.col("a"), F.lit(0)).cast("long").alias("auth"),
            F.coalesce(F.col("h"), F.lit(0)).cast("long").alias("hub"),
        )
    )
    mx = nodes.agg(
        F.max("auth").cast("long").alias("ma"), F.max("hub").cast("long").alias("mh")
    )
    return nodes.crossJoin(F.broadcast(mx)).select(
        "node",
        "auth",
        "hub",
        F.expr("CAST(auth * 1000000 div ma AS BIGINT)").alias("auth_ppm"),
        F.expr("CAST(hub * 1000000 div mh AS BIGINT)").alias("hub_ppm"),
    )


# ---------------------------------------------------------------------------
# MMR diversified top-k re-ranking (round 6).
# ---------------------------------------------------------------------------
_MMR_NQ = 3  # query vectors: vec_id < 3
_MMR_CAND = 20  # bounded candidate pool per query (exact top-20 by rel)
_MMR_K = 8  # diversified selections per query

# exact integer-quantized dot product of two micro-int vectors (64-dim
# float·1e6 → |dot| ≤ 64·(1e6·4)² ≈ 1e15, well inside BIGINT)
_MMR_DOT_DUCK = (
    "CAST(list_sum(list_transform(range(1, 65),"
    " _mk -> {a}[_mk] * {b}[_mk])) AS BIGINT)"
)


def _mmr_oracle() -> str:
    head = f"""
    WITH vi AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
      FROM embeddings
    ),
    qs AS (SELECT vec_id AS q, v AS qv FROM vi WHERE vec_id < {_MMR_NQ}),
    scored AS (
      SELECT qs.q, vi.vec_id AS id, vi.v,
             {_MMR_DOT_DUCK.format(a="qs.qv", b="vi.v")} AS rel
      FROM qs JOIN vi ON vi.vec_id <> qs.q
    ),
    cand AS MATERIALIZED (
      SELECT q, id, v, rel FROM (
        SELECT q, id, v, rel,
               row_number() OVER (PARTITION BY q ORDER BY rel DESC, id) AS rn
        FROM scored
      ) WHERE rn <= {_MMR_CAND}
    ),
    pp AS MATERIALIZED (
      SELECT a.q, a.id AS a, b.id AS b,
             {_MMR_DOT_DUCK.format(a="a.v", b="b.v")} AS sim
      FROM cand a JOIN cand b ON b.q = a.q AND b.id <> a.id
    ),
    sel1 AS MATERIALIZED (
      SELECT q, id, CAST(rel AS BIGINT) AS score2, CAST(1 AS BIGINT) AS rnk
      FROM (SELECT q, id, rel,
                   row_number() OVER (PARTITION BY q ORDER BY rel DESC, id)
                     AS rn
            FROM cand) WHERE rn = 1
    ),
    all1 AS MATERIALIZED (SELECT q, id FROM sel1)"""
    parts = [head]
    for t in range(2, _MMR_K + 1):
        parts.append(f""",
    p{t} AS MATERIALIZED (
      SELECT c.q, c.id,
             c.rel - (SELECT MAX(p.sim) FROM pp p
                      JOIN all{t - 1} s ON s.q = p.q AND s.id = p.b
                      WHERE p.q = c.q AND p.a = c.id) AS s2
      FROM cand c
      WHERE NOT EXISTS (SELECT 1 FROM all{t - 1} s
                        WHERE s.q = c.q AND s.id = c.id)
    ),
    sel{t} AS MATERIALIZED (
      SELECT q, id, CAST(s2 AS BIGINT) AS score2, CAST({t} AS BIGINT) AS rnk
      FROM (SELECT q, id, s2,
                   row_number() OVER (PARTITION BY q ORDER BY s2 DESC, id)
                     AS rn
            FROM p{t}) WHERE rn = 1
    ),
    all{t} AS MATERIALIZED (SELECT q, id FROM all{t - 1}
               UNION ALL SELECT q, id FROM sel{t})""")
    selects = " UNION ALL ".join(
        f"SELECT * FROM sel{t}" for t in range(1, _MMR_K + 1)
    )
    return (
        "".join(parts)
        + f"\n    SELECT q AS query_id, rnk, id AS vec_id, score2 FROM ({selects})"
    )


@register("mmr_diversified_topk", _mmr_oracle())
def mmr_diversified_topk(spark, sf_dir):
    """Maximal Marginal Relevance re-ranking — the diversity-aware top-k a
    retrieval pipeline runs AFTER similarity search (and the sampling
    shape a dedup-aware data-mix curator uses): greedily pick
    argmax[λ·rel − (1−λ)·max sim-to-selected] with λ = 1/2, scores
    doubled into exact integers (score2 = rel − maxsim; rank 1 has no
    diversity term). rel and sim are integer-quantized dot products
    (floor(x·1e6) micros — the committed float parity rule), so even the
    greedy path is deterministic with a (score2, id) tie-break.

    Spark shape: candidates are the exact top-20 per query (broadcast
    queries × one corpus scan, qid-partitioned window), the 20×20 pair
    sims are a broadcast self-join of the 60-row candidate frame, and the
    inherently sequential greedy selection folds per query in grouped
    pandas over that bounded state (the token_bucket/holt pattern) —
    keyed parallelism across queries, candidate pools never leave their
    task. The oracle unrolls the same 8 selections as chained CTEs."""
    import pandas as pd

    e = _t(spark, sf_dir, "embeddings")
    vi = e.select(
        "vec_id",
        F.expr(
            "transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000)"
            " AS BIGINT))"
        ).alias("v"),
    )
    qs = vi.where(F.col("vec_id") < _MMR_NQ).select(
        F.col("vec_id").alias("q"), F.col("v").alias("qv")
    )
    dot = (
        "aggregate(zip_with({a}, {b}, (_x, _y) -> _x * _y),"
        " CAST(0 AS BIGINT), (_acc, _z) -> _acc + _z)"
    )
    scored = (
        vi.join(F.broadcast(qs), vi["vec_id"] != qs["q"])
        .select("q", F.col("vec_id").alias("id"), "v",
                F.expr(dot.format(a="qv", b="v")).alias("rel"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("q").orderBy(F.desc("rel"), F.asc("id"))
    cand = (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= _MMR_CAND)
        .drop("rn")
    )
    a = cand.select("q", F.col("id").alias("a"), F.col("rel").alias("rel_a"),
                    F.col("v").alias("va"))
    b = cand.select(F.col("q").alias("qb"), F.col("id").alias("b"),
                    F.col("v").alias("vb"))
    pp = (
        a.join(F.broadcast(b), (a["q"] == b["qb"]) & (a["a"] != b["b"]))
        .select("q", "a", "rel_a", "b",
                F.expr(dot.format(a="va", b="vb")).alias("sim"))
    )

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        q = int(pdf["q"].iloc[0])
        rel = {}
        sim = {}
        for r in pdf.itertuples(index=False):
            rel[int(r.a)] = int(r.rel_a)
            sim[(int(r.a), int(r.b))] = int(r.sim)
        selected, rows = [], []
        remaining = set(rel)
        for rnk in range(1, _MMR_K + 1):
            best = None
            for cid in remaining:
                ms = max(sim[(cid, s)] for s in selected) if selected else 0
                s2 = rel[cid] - ms if selected else rel[cid]
                key = (-s2, cid)
                if best is None or key < best[0]:
                    best = (key, cid, s2)
            _, cid, s2 = best
            selected.append(cid)
            remaining.discard(cid)
            rows.append((q, rnk, cid, s2))
        return pd.DataFrame(
            rows, columns=["query_id", "rnk", "vec_id", "score2"]
        )

    return pp.groupBy("q").applyInPandas(
        fold, "query_id long, rnk long, vec_id long, score2 long"
    )
