"""Mining batch 2 (round 5): A-priori frequent triples, per-source
unique-coverage data valuation, and centroid silhouette — the pattern
mining, data-mix valuation, and clustering-quality operators that round
out the analytics surface.

Disciplines (CLAUDE.md): all supports/counts/distances are exact
integers; silhouette divides sign-split (numerator may be negative) with
ppm-sized quotients; every distance is integer-micro squared-L2 (the
committed float32→int64 elementwise quantization).

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
# A-priori frequent triples over order baskets.
# ---------------------------------------------------------------------------
_SUP = 2

_TRIPLES_ORACLE = f"""
    WITH b AS (
      SELECT DISTINCT l_orderkey AS oid, l_partkey AS item FROM lineitem
    ),
    f2 AS (
      SELECT a.item AS p1, c.item AS p2
      FROM b a JOIN b c ON a.oid = c.oid AND a.item < c.item
      GROUP BY 1, 2 HAVING COUNT(*) >= {_SUP}
    ),
    hot AS (
      SELECT DISTINCT item FROM (
        SELECT p1 AS item FROM f2 UNION ALL SELECT p2 FROM f2
      )
    ),
    pb AS (SELECT oid, item FROM b WHERE item IN (SELECT item FROM hot)),
    tri AS (
      SELECT a.item AS p1, c.item AS p2, d.item AS p3,
             CAST(COUNT(*) AS BIGINT) AS support
      FROM pb a
        JOIN pb c ON a.oid = c.oid AND a.item < c.item
        JOIN pb d ON a.oid = d.oid AND c.item < d.item
      GROUP BY 1, 2, 3 HAVING COUNT(*) >= {_SUP}
    )
    SELECT p1, p2, p3, support FROM tri
"""


@register("frequent_triples_support", _TRIPLES_ORACLE)
def frequent_triples_support(spark, sf_dir):
    """Frequent 3-itemsets over order baskets (support ≥ 2) with the
    A-priori downward-closure PRUNE: only items that participate in some
    frequent PAIR can appear in a frequent triple, so the cubic
    enumeration runs over the semi-join-pruned basket stream, not the raw
    one — on real skewed catalogs the prune removes the long tail of
    one-off items before the expensive stage (the classic market-basket
    scale trick; basket size bounds the per-order blowup at C(k,3)
    regardless of data scale). Canonical p1<p2<p3 ordering counts each
    triple once; supports are exact. Extends assoc_rules_support_ppm
    (2-itemsets) one lattice level up."""
    li = _t(spark, sf_dir, "lineitem")
    b = materialize(
        li.select(
            F.col("l_orderkey").alias("oid"), F.col("l_partkey").alias("item")
        ).distinct(),
        StorageLevel.MEMORY_AND_DISK,
    )
    a = b.select(F.col("oid").alias("o1"), F.col("item").alias("i1"))
    c = b.select(F.col("oid").alias("o2"), F.col("item").alias("i2"))
    f2 = (
        a.join(c, (F.col("o1") == F.col("o2")) & (F.col("i1") < F.col("i2")))
        .groupBy(F.col("i1").alias("p1"), F.col("i2").alias("p2"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") >= _SUP)
    )
    hot = (
        f2.select(F.col("p1").alias("item"))
        .unionAll(f2.select(F.col("p2").alias("item")))
        .distinct()
    )
    pb = materialize(
        b.join(F.broadcast(hot), "item").select("oid", "item"), StorageLevel.MEMORY_AND_DISK
    )
    pa = pb.select(F.col("oid").alias("oa"), F.col("item").alias("ia"))
    pc = pb.select(F.col("oid").alias("oc"), F.col("item").alias("ic"))
    pd = pb.select(F.col("oid").alias("od"), F.col("item").alias("id_"))
    tri = (
        pa.join(pc, (F.col("oc") == F.col("oa")) & (F.col("ia") < F.col("ic")))
        .join(pd, (F.col("od") == F.col("oa")) & (F.col("ic") < F.col("id_")))
        .groupBy(
            F.col("ia").alias("p1"),
            F.col("ic").alias("p2"),
            F.col("id_").alias("p3"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
        .where(F.col("support") >= _SUP)
    )
    return tri


# ---------------------------------------------------------------------------
# Per-source unique n-gram coverage (data-mix valuation).
# ---------------------------------------------------------------------------
_VAL_N = 5

_VALUATION_ORACLE = f"""
    WITH toks AS (
      SELECT doc_id, source, string_split(text, ' ') AS ts FROM documents
    ),
    grams AS (
      SELECT source,
             md5(array_to_string(ts[g.i : g.i + {_VAL_N} - 1], ' ')) AS gram
      FROM toks, LATERAL (
        SELECT UNNEST(range(1, len(ts) - {_VAL_N} + 2)) AS i
      ) g
      WHERE len(ts) >= {_VAL_N}
    ),
    sg AS (SELECT DISTINCT source, gram FROM grams),
    owners AS (
      SELECT gram, CAST(COUNT(*) AS BIGINT) AS n_sources FROM sg GROUP BY gram
    ),
    ps AS (
      SELECT sg.source,
             CAST(COUNT(*) AS BIGINT) AS n_grams,
             CAST(SUM(CASE WHEN o.n_sources = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_unique
      FROM sg JOIN owners o ON o.gram = sg.gram
      GROUP BY sg.source
    ),
    nd AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY source
    )
    SELECT ps.source, nd.n_docs, ps.n_grams, ps.n_unique,
           CAST(ps.n_unique * 1000000 // ps.n_grams AS BIGINT)
             AS unique_share_ppm
    FROM ps JOIN nd ON nd.source = ps.source
"""


@register("source_unique_coverage_value", _VALUATION_ORACLE)
def source_unique_coverage_value(spark, sf_dir):
    """Data-mix valuation by UNIQUE n-gram coverage: per document source,
    how many distinct 5-grams it contributes at all and how many it is
    the SOLE owner of — the novelty signal a pretraining-mix curator
    weighs sources by (a source whose grams all exist elsewhere adds
    volume, not coverage; cf. ngram_novelty_by_bucket, which measures
    novelty over TIME rather than across sources). Grams are md5
    fingerprints of the 5-token windows (the committed cross-engine
    hash); ownership counts come from one (source, gram)-distinct frame
    re-aggregated by gram — shuffles carry 16-byte fingerprints, never
    text. unique_share_ppm is exact integer floor division."""
    docs = _t(spark, sf_dir, "documents")
    grams = (
        docs.select(
            "source",
            # sequence(1, 0) DESCENDS ([1, 0]) and slice(arr, 0, n) throws —
            # short docs must hit the empty-array branch, never sequence().
            F.explode(
                F.expr(
                    f"CASE WHEN size(split(text, ' ')) >= {_VAL_N} THEN transform("
                    f"sequence(1, size(split(text, ' ')) - {_VAL_N} + 1),"
                    f" i -> md5(array_join(slice(split(text, ' '), i, {_VAL_N}), ' ')))"
                    " ELSE array() END"
                )
            ).alias("gram"),
        )
    )
    sg = materialize(grams.select("source", "gram").distinct(), StorageLevel.MEMORY_AND_DISK)
    owners = sg.groupBy("gram").agg(F.count(F.lit(1)).cast("long").alias("n_sources"))
    ps = (
        sg.join(owners, "gram")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_grams"),
            F.sum(F.when(F.col("n_sources") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_unique"),
        )
    )
    nd = docs.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    return (
        ps.join(F.broadcast(nd), "source")
        .select(
            "source",
            "n_docs",
            "n_grams",
            "n_unique",
            F.expr("CAST(n_unique * 1000000 div n_grams AS BIGINT)").alias(
                "unique_share_ppm"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Centroid silhouette (clustering-quality diagnostic).
# ---------------------------------------------------------------------------
_SIL_ORACLE = """
    WITH vi AS (
      SELECT vec_id, label,
             list_transform(embedding,
               x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
      FROM embeddings
    ),
    ex AS (
      SELECT label, g.i AS dim0, CAST(v[g.i] AS BIGINT) AS val
      FROM vi, LATERAL (SELECT UNNEST(range(1, len(v) + 1)) AS i) g
    ),
    cd AS (
      SELECT label, dim0,
             CAST(CAST(SUM(val) AS BIGINT) // CAST(COUNT(*) AS BIGINT)
                  AS BIGINT) AS c
      FROM ex GROUP BY label, dim0
    ),
    cents AS (
      SELECT label AS clabel,
             list_transform(list_sort(list({'d': dim0, 'c': c})),
                            s -> s.c) AS cv
      FROM cd GROUP BY label
    ),
    d2s AS (
      SELECT vi.vec_id, vi.label, cents.clabel,
             CAST(list_sum(list_transform(range(1, len(v) + 1),
                  k -> (v[k] - cv[k]) * (v[k] - cv[k]))) AS BIGINT) AS d2
      FROM vi, cents
    ),
    ab AS (
      SELECT vec_id, label,
             CAST(MIN(CASE WHEN clabel = label THEN d2 END) AS BIGINT) AS a,
             CAST(MIN(CASE WHEN clabel <> label THEN d2 END) AS BIGINT) AS b
      FROM d2s GROUP BY vec_id, label
    ),
    s AS (
      SELECT vec_id, label, a, b,
             CAST(CASE WHEN b >= a
               THEN (b - a) * 1000000 // GREATEST(a, b, 1)
               ELSE 0 - ((a - b) * 1000000 // GREATEST(a, b, 1))
             END AS BIGINT) AS s_ppm
      FROM ab
    )
    SELECT label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(CASE WHEN SUM(s_ppm) >= 0
             THEN CAST(SUM(s_ppm) AS BIGINT) // COUNT(*)
             ELSE 0 - (CAST(0 - SUM(s_ppm) AS BIGINT) // COUNT(*))
           END AS BIGINT) AS mean_s_ppm,
           CAST(SUM(CASE WHEN s_ppm < 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_misplaced
    FROM s GROUP BY label
"""


@register("silhouette_centroid_ppm", _SIL_ORACLE)
def silhouette_centroid_ppm(spark, sf_dir):
    """Centroid-based silhouette of the labeled embedding space: per
    vector, a = squared distance to OWN label centroid, b = min squared
    distance to any OTHER centroid, s = (b − a)/max(a, b) in sign-split
    integer ppm (b < a ⇒ negative ⇒ the vector sits closer to a foreign
    centroid — "misplaced"); per label the mean silhouette (sign-split
    floor again — means can be negative) and misplaced count. The
    centroid form is the O(n·k) silhouette every large-scale clustering
    monitor uses instead of the O(n²) pairwise original. Centroids are
    the committed floor-divided integer micros (identical integers both
    engines, the kmeans_assign_step discipline); k centroids broadcast;
    one corpus scan."""
    e = _t(spark, sf_dir, "embeddings")
    vi = e.select(
        "vec_id",
        "label",
        F.expr(
            "transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000)"
            " AS BIGINT))"
        ).alias("v"),
    )
    ex = vi.select("label", F.posexplode("v").alias("dim0", "val")).groupBy(
        "label", "dim0"
    ).agg(
        F.expr("CAST(SUM(val) AS BIGINT) div CAST(COUNT(1) AS BIGINT)").alias("c")
    )
    cents = ex.groupBy(F.col("label").alias("clabel")).agg(
        F.expr(
            "transform(array_sort(collect_list(struct(dim0, c))), s -> s.c)"
        ).alias("cv")
    )
    d2s = vi.crossJoin(F.broadcast(cents)).select(
        "vec_id",
        "label",
        "clabel",
        F.expr(
            "aggregate(zip_with(v, cv, (a, b) -> (a - b) * (a - b)),"
            " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
        ).alias("d2"),
    )
    ab = d2s.groupBy("vec_id", "label").agg(
        F.min(F.when(F.col("clabel") == F.col("label"), F.col("d2"))).alias("a"),
        F.min(F.when(F.col("clabel") != F.col("label"), F.col("d2"))).alias("b"),
    )
    s = ab.select(
        "vec_id",
        "label",
        F.expr(
            "CAST(CASE WHEN b >= a"
            " THEN (b - a) * 1000000 div GREATEST(a, b, 1)"
            " ELSE 0 - ((a - b) * 1000000 div GREATEST(a, b, 1))"
            " END AS BIGINT)"
        ).alias("s_ppm"),
    )
    return s.groupBy("label").agg(
        F.count(F.lit(1)).cast("long").alias("n_vecs"),
        F.expr(
            "CAST(CASE WHEN SUM(s_ppm) >= 0"
            " THEN CAST(SUM(s_ppm) AS BIGINT) div COUNT(1)"
            " ELSE 0 - (CAST(0 - SUM(s_ppm) AS BIGINT) div COUNT(1))"
            " END AS BIGINT)"
        ).alias("mean_s_ppm"),
        F.sum(F.when(F.col("s_ppm") < 0, 1).otherwise(0))
        .cast("long")
        .alias("n_misplaced"),
    )
