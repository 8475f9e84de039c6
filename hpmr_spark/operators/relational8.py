"""Relational batch 8: lateral joins, null-safe equality, Spark-4 VARIANT,
higher-order array functions, Python UDTF (LLM chunking), fuzzy (edit
distance) dedup, adapted TPC-H Q11/Q20, rows-frame moving averages, and an
integer-exact iterative PageRank over the nation trade graph.

Reference parity: these extend SURVEY.md §2.3's category checklist (joins /
UDF-UDTF surface / iterative algorithms). The reference engine composes such
shapes from DistMap::mapreduce chains (src/dist_map.h:256-279); here each is
a single declarative plan (or a short Python loop of plans for PageRank,
the analog of chained mapreduce epochs).

Determinism discipline (CLAUDE.md): money → integer cents; averages → one
final double division over exact (sum, count); thresholds → integer
cross-multiplication; PageRank → integer ppm with truncating division on
all-positive values (Spark `div` ≡ DuckDB `//` for positives).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from hpmr_spark.catalog import register, _t
from hpmr_spark.engine import materialize
from hpmr_spark.functions.exprs import cents


def _ts(s: str):
    return F.lit(s).cast("timestamp")


# ---------------------------------------------------------------------------
# Correlated LATERAL subquery with ORDER BY + LIMIT (top-3 per nation).
# ---------------------------------------------------------------------------
_LATERAL_SQL = """
    SELECT n_name, c_name, c_acctbal
    FROM nation,
    LATERAL (SELECT c_name, c_acctbal FROM customer
             WHERE c_nationkey = n_nationkey
             ORDER BY c_acctbal DESC, c_custkey LIMIT 3) t
"""


@register("lateral_top_customers_per_nation", _LATERAL_SQL)
def lateral_top_customers_per_nation(spark, sf_dir):
    """Correlated LATERAL with ORDER BY/LIMIT — the per-group top-k shape as
    a lateral join (same SQL text planned by both engines). Spark rewrites
    the lateral into a ranked window under the hood; the (acctbal, custkey)
    ordering is total so the 3 rows per nation are unique."""
    for t in ("nation", "customer"):
        _t(spark, sf_dir, t).createOrReplaceTempView(t)
    return spark.sql(_LATERAL_SQL)


# ---------------------------------------------------------------------------
# Q11 (adapted; no partsupp): parts whose lineitem value exceeds a fixed
# fraction of total value — scalar-subquery threshold, integer cross-mult.
# ---------------------------------------------------------------------------
@register(
    "q11_important_parts",
    """
    WITH pv AS (
      SELECT l_partkey,
             CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS val_cents
      FROM lineitem GROUP BY l_partkey
    ),
    tot AS (SELECT CAST(SUM(val_cents) AS BIGINT) AS total_cents FROM pv)
    SELECT l_partkey, val_cents
    FROM pv, tot
    WHERE val_cents * 1500 > total_cents
    """,
)
def q11_important_parts(spark, sf_dir):
    """TPC-H Q11 shape: grouped value vs a scalar-subquery fraction of the
    global total. The 1-row total broadcasts; share > 1/1500 is decided by
    exact integer cross-multiplication (no doubles anywhere)."""
    li = _t(spark, sf_dir, "lineitem")
    pv = li.groupBy("l_partkey").agg(
        F.sum(cents(F.col("l_extendedprice"))).alias("val_cents")
    )
    tot = pv.agg(F.sum("val_cents").cast("long").alias("total_cents"))
    return (
        pv.crossJoin(F.broadcast(tot))
        .where(F.col("val_cents") * 1500 > F.col("total_cents"))
        .select("l_partkey", "val_cents")
    )


# ---------------------------------------------------------------------------
# Q20 (adapted; no partsupp): suppliers who moved serious PROMO volume in
# 1996 — IN-subquery over a HAVING aggregate, decorrelated to a semi join.
# ---------------------------------------------------------------------------
@register(
    "q20_promo_suppliers",
    """
    SELECT s_suppkey, s_name
    FROM supplier
    WHERE s_suppkey IN (
      SELECT l_suppkey
      FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_type = 'PROMO'
        AND l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1997-01-01'
      GROUP BY l_suppkey
      HAVING CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) > 450
    )
    """,
)
def q20_promo_suppliers(spark, sf_dir):
    """TPC-H Q20 shape: IN (grouped HAVING subquery) → aggregate then
    left-semi join; the qualifying-supplier set is tiny and broadcasts."""
    s = _t(spark, sf_dir, "supplier")
    p = _t(spark, sf_dir, "part").where(F.col("p_type") == "PROMO")
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= _ts("1996-01-01"))
        & (F.col("l_shipdate") < _ts("1997-01-01"))
    )
    qual = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("long")).alias("q"))
        .where(F.col("q") > 450)
        .select("l_suppkey")
    )
    return s.join(
        F.broadcast(qual), s.s_suppkey == F.col("l_suppkey"), "left_semi"
    ).select("s_suppkey", "s_name")


# ---------------------------------------------------------------------------
# ROWS-frame moving average (7-row trailing) per supplier.
# ---------------------------------------------------------------------------
@register(
    "window_moving_avg_7row",
    """
    SELECT l_suppkey, l_orderkey, l_linenumber,
           CAST(SUM(cents) OVER w AS BIGINT) AS ma_sum_cents,
           CAST(COUNT(*) OVER w AS BIGINT) AS ma_n,
           CAST(SUM(cents) OVER w AS DOUBLE) / (COUNT(*) OVER w) AS ma_price
    FROM (SELECT l_suppkey, l_orderkey, l_linenumber, l_shipdate, l_extendedprice,
                 CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS cents
          FROM lineitem)
    WINDOW w AS (PARTITION BY l_suppkey
                 ORDER BY l_shipdate, l_orderkey, l_linenumber, l_extendedprice
                 ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
)
def window_moving_avg_7row(spark, sf_dir):
    """Trailing moving average over a ROWS frame. The ORDER BY includes
    (l_linenumber, l_extendedprice) — a unique compound in this data — so
    the frame contents are identical across engines; the average itself is
    one final double division over exact (sum_cents, count)."""
    li = _t(spark, sf_dir, "lineitem").withColumn(
        "cents", cents(F.col("l_extendedprice"))
    )
    w = (
        Window.partitionBy("l_suppkey")
        .orderBy("l_shipdate", "l_orderkey", "l_linenumber", "l_extendedprice")
        .rowsBetween(-6, 0)
    )
    return li.select(
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        F.sum("cents").over(w).cast("long").alias("ma_sum_cents"),
        F.count(F.lit(1)).over(w).cast("long").alias("ma_n"),
        (F.sum("cents").over(w).cast("double") / F.count(F.lit(1)).over(w)).alias(
            "ma_price"
        ),
    )


# ---------------------------------------------------------------------------
# Null-safe equality join (<=> / IS NOT DISTINCT FROM) on a derived nullable
# key — the NULL groups on both sides must pair up.
# ---------------------------------------------------------------------------
@register(
    "join_null_safe_groups",
    """
    WITH a AS (
      SELECT NULLIF(CAST(json_extract_string(props, '$.k') AS BIGINT) % 7, 0) AS grp,
             CAST(COUNT(*) AS BIGINT) AS cnt_a
      FROM events GROUP BY 1
    ),
    b AS (
      SELECT NULLIF(CAST(json_extract_string(props, '$.k') AS BIGINT) % 7, 3) AS grp,
             CAST(SUM(event_id) AS BIGINT) AS sum_ids
      FROM events GROUP BY 1
    )
    SELECT a.grp AS grp, cnt_a, sum_ids
    FROM a JOIN b ON a.grp IS NOT DISTINCT FROM b.grp
    """,
)
def join_null_safe_groups(spark, sf_dir):
    """eqNullSafe (<=>) ≡ IS NOT DISTINCT FROM: both sides derive a nullable
    group key (different NULLIF sentinels so each side has a real NULL
    group), and the null-safe join matches NULL with NULL — a plain equi
    join would silently drop those rows."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long") % 7
    a = (
        ev.groupBy(F.nullif(k, F.lit(0)).alias("grp"))
        .agg(F.count(F.lit(1)).alias("cnt_a"))
    )
    b = (
        ev.groupBy(F.nullif(k, F.lit(3)).alias("grp_b"))
        .agg(F.sum("event_id").cast("long").alias("sum_ids"))
    )
    return a.join(b, a.grp.eqNullSafe(b.grp_b)).select("grp", "cnt_a", "sum_ids")


# ---------------------------------------------------------------------------
# Spark 4 VARIANT: parse_json → variant_get typed extraction.
# ---------------------------------------------------------------------------
@register(
    "variant_events_extract",
    """
    SELECT CAST(CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS BIGINT) AS k_bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
    FROM events GROUP BY 1
    """,
)
def variant_events_extract(spark, sf_dir):
    """Semi-structured VARIANT path (Spark 4): parse_json once into a
    VariantType column, then typed variant_get extraction — the shredded
    binary encoding beats per-access JSON string re-parsing at scale.
    Oracle uses plain JSON extraction (DuckDB has no variant type)."""
    ev = _t(spark, sf_dir, "events")
    k = F.variant_get(F.parse_json("props"), "$.k", "bigint")
    return ev.groupBy((k % 10).cast("long").alias("k_bucket")).agg(
        F.count(F.lit(1)).alias("n"), F.sum(k).cast("long").alias("sum_k")
    )


# ---------------------------------------------------------------------------
# Higher-order array functions over embeddings (transform/filter/aggregate).
# ---------------------------------------------------------------------------
@register(
    "hof_embedding_stats",
    """
    SELECT label,
           CAST(SUM(CAST(list_sum(list_transform(embedding,
                  x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT))) AS BIGINT)) AS BIGINT)
             AS sum_micro,
           CAST(SUM(len(list_filter(embedding, x -> x > 0))) AS BIGINT) AS n_pos,
           CAST(COUNT(*) AS BIGINT) AS n_vecs
    FROM embeddings GROUP BY label
    """,
)
def hof_embedding_stats(spark, sf_dir):
    """Higher-order functions on array<float> without exploding: transform
    (per-element floor-scale to exact integer micros), aggregate (fold-sum),
    filter+size (positive-component count). All lambda evaluation stays
    JVM-side in codegen — no UDF, no shuffle beyond the final group-by."""
    emb = _t(spark, sf_dir, "embeddings")
    micros = F.aggregate(
        F.transform(
            F.col("embedding"),
            lambda x: F.floor(x.cast("double") * F.lit(1000000)).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    n_pos = F.size(F.filter(F.col("embedding"), lambda x: x > 0))
    return emb.groupBy("label").agg(
        F.sum(micros).cast("long").alias("sum_micro"),
        F.sum(n_pos).cast("long").alias("n_pos"),
        F.count(F.lit(1)).alias("n_vecs"),
    )


# ---------------------------------------------------------------------------
# Python UDTF: fixed-size word chunking (the LLM context-window splitter).
# ---------------------------------------------------------------------------
@register(
    "udtf_chunk_documents",
    """
    WITH words AS (
      SELECT doc_id,
             unnest(regexp_split_to_array(text, ' ')) AS w,
             generate_subscripts(regexp_split_to_array(text, ' '), 1) AS i
      FROM documents
    )
    SELECT doc_id,
           CAST((i - 1) // 8 AS BIGINT) AS chunk_idx,
           string_agg(w, ' ' ORDER BY i) AS chunk_text,
           CAST(COUNT(*) AS BIGINT) AS n_words
    FROM words
    GROUP BY doc_id, (i - 1) // 8
    """,
)
def udtf_chunk_documents(spark, sf_dir):
    """Python UDTF (Spark 3.5+ table function) via LATERAL: one document row
    → n 8-word chunks, the canonical LLM-pipeline context splitter. The UDTF
    surface is the point (ref's mapper-with-emit is exactly a UDTF,
    src/dist_map.h:48-50); for pure splitting at 100 TB prefer the native
    split+posexplode path (posexplode_tokens) which stays in codegen.
    Defined lazily inside the function — module import needs no session."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="chunk_idx bigint, chunk_text string, n_words bigint")
    class Chunk8:
        def eval(self, text: str):
            words = text.split(" ")
            for ci in range((len(words) + 7) // 8):
                w = words[ci * 8 : (ci + 1) * 8]
                yield ci, " ".join(w), len(w)

    spark.udtf.register("hpmr_chunk8", Chunk8)
    _t(spark, sf_dir, "documents").createOrReplaceTempView("_docs_chunk")
    return spark.sql(
        """
        SELECT doc_id, c.chunk_idx, c.chunk_text, c.n_words
        FROM _docs_chunk, LATERAL hpmr_chunk8(text) c
        """
    )


# ---------------------------------------------------------------------------
# Fuzzy dedup by edit distance with prefix blocking.
# ---------------------------------------------------------------------------
@register(
    "dedup_levenshtein_fuzzy",
    """
    SELECT a.doc_id AS left_id, b.doc_id AS right_id,
           CAST(levenshtein(substr(a.text, 1, 60), substr(b.text, 1, 60)) AS BIGINT)
             AS edit_dist
    FROM documents a
    JOIN documents b
      ON a.lang = b.lang
     AND substr(a.text, 1, 12) = substr(b.text, 1, 12)
     AND a.doc_id < b.doc_id
    WHERE levenshtein(substr(a.text, 1, 60), substr(b.text, 1, 60)) <= 10
    """,
)
def dedup_levenshtein_fuzzy(spark, sf_dir):
    """Edit-distance near-dup detection with blocking: candidate pairs come
    from an equi join on (lang, 12-char prefix) — a real shuffle key, never
    an O(n²) cross join — then exact levenshtein (bounded to a 60-char
    window, keeping the DP cost constant per pair) prunes to true fuzzy
    matches. At 100 TB the block key is what makes this tractable; the
    prefix can be swapped for any cheap canopy (simhash band, length
    bucket) without touching the join shape."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.substring("text", 1, 12).alias("blk"),
        F.substring("text", 1, 60).alias("head"),
    )
    a = docs.select(
        F.col("doc_id").alias("left_id"), F.col("lang").alias("lang_a"),
        F.col("blk").alias("blk_a"), F.col("head").alias("head_a"),
    )
    b = docs.select(
        F.col("doc_id").alias("right_id"), F.col("lang").alias("lang_b"),
        F.col("blk").alias("blk_b"), F.col("head").alias("head_b"),
    )
    dist = F.levenshtein("head_a", "head_b")
    return (
        a.join(
            b,
            (F.col("lang_a") == F.col("lang_b"))
            & (F.col("blk_a") == F.col("blk_b"))
            & (F.col("left_id") < F.col("right_id")),
        )
        .where(dist <= 10)
        .select("left_id", "right_id", dist.cast("long").alias("edit_dist"))
    )


# ---------------------------------------------------------------------------
# Iterative PageRank (3 rounds, integer ppm) over the nation trade graph.
# ---------------------------------------------------------------------------
_PR_EDGES_SQL = """
    WITH pe AS (
      SELECT c_nationkey AS src, s_nationkey AS dst,
             CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS v
      FROM customer
        JOIN orders   ON o_custkey = c_custkey
        JOIN lineitem ON l_orderkey = o_orderkey
        JOIN supplier ON s_suppkey = l_suppkey
      GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(SUM(v) AS BIGINT) AS t FROM pe),
    edges AS (SELECT src, dst FROM pe, tot WHERE v * 625 > t),
    outdeg AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY src),
    nodes AS (SELECT n_nationkey AS node FROM nation),
    pr0 AS (SELECT node, CAST(40000 AS BIGINT) AS pr FROM nodes),
    it1 AS (
      SELECT n.node,
             CAST(6000 + COALESCE(SUM((p.pr * 850 // 1000) // d.deg), 0) AS BIGINT) AS pr
      FROM nodes n
      LEFT JOIN edges e ON e.dst = n.node
      LEFT JOIN outdeg d ON d.src = e.src
      LEFT JOIN pr0 p ON p.node = e.src
      GROUP BY n.node
    ),
    it2 AS (
      SELECT n.node,
             CAST(6000 + COALESCE(SUM((p.pr * 850 // 1000) // d.deg), 0) AS BIGINT) AS pr
      FROM nodes n
      LEFT JOIN edges e ON e.dst = n.node
      LEFT JOIN outdeg d ON d.src = e.src
      LEFT JOIN it1 p ON p.node = e.src
      GROUP BY n.node
    ),
    it3 AS (
      SELECT n.node,
             CAST(6000 + COALESCE(SUM((p.pr * 850 // 1000) // d.deg), 0) AS BIGINT) AS pr
      FROM nodes n
      LEFT JOIN edges e ON e.dst = n.node
      LEFT JOIN outdeg d ON d.src = e.src
      LEFT JOIN it2 p ON p.node = e.src
      GROUP BY n.node
    )
    SELECT node AS nationkey, pr AS pr_ppm FROM it3
"""


@register("graph_pagerank_trade", _PR_EDGES_SQL)
def graph_pagerank_trade(spark, sf_dir):
    """PageRank (d=0.85, 3 iterations) over nation→nation trade edges kept
    when a pair's revenue share exceeds 1/625 of the total (integer
    cross-mult → varied out-degrees → non-uniform ranks). Ranks are integer
    parts-per-million with truncating division — every engine computes the
    identical integers, so a 3-level recursive oracle matches exactly.

    Spark shape: the edge list and out-degrees are tiny after the fact-join
    aggregation and get broadcast; each iteration is one broadcast join +
    re-aggregation — the chained-mapreduce epoch pattern of the reference
    (src/dist_map.h:256-279) with Catalyst planning each epoch."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")

    pe = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy(
            F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst")
        )
        .agg(F.sum(cents(F.col("l_extendedprice"))).alias("v"))
    )
    tot = pe.agg(F.sum("v").cast("long").alias("t"))
    edges = materialize(
        pe.crossJoin(F.broadcast(tot))
        .where(F.col("v") * 625 > F.col("t"))
        .select("src", "dst")
    )
    outdeg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    nodes = n.select(F.col("n_nationkey").alias("node"))
    pr = nodes.select("node", F.lit(40000).cast("long").alias("pr"))
    for _ in range(3):
        contrib = (
            edges.join(F.broadcast(outdeg), "src")
            .join(F.broadcast(pr.select(F.col("node").alias("src"), "pr")), "src")
            .select(
                F.col("dst").alias("node"),
                F.expr("((pr * 850) div 1000) div deg").alias("c"),
            )
        )
        pr = (
            nodes.join(contrib.groupBy("node").agg(F.sum("c").alias("s")), "node", "left")
            .select(
                "node",
                (F.lit(6000) + F.coalesce(F.col("s"), F.lit(0)))
                .cast("long")
                .alias("pr"),
            )
        )
    return pr.select(F.col("node").alias("nationkey"), F.col("pr").alias("pr_ppm"))
