"""Product-quantization batch (round 5): PQ encode — the IVF-PQ
compression step every billion-vector ANN index runs (Faiss/ScaNN style):
split each embedding into M subvectors, assign each to its nearest
codebook centroid, store M small codes instead of the float vector.

Determinism (CLAUDE.md disciplines): vectors quantize to integer micros
elementwise (floor — the committed float32→int parity rule); the
codebook is derived from COMMITTED-HASH seed vectors (bottom-16 by
hash60, the ivf_topk_trained discipline — no RNG); distances are exact
integer squared-L2 with a (d2, code) tie-break; reconstruction SSE
accumulates in int128.

Reference parity: extends the engine surface beyond the reference's kv
kernel (/root/reference/src/hpmr.h:1-10) along the similarity-search
axis the brief makes first-class (ANN at 100 TB needs compressed
residency; PQ is that compression).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hpmr_spark.catalog import _t, register
from hpmr_spark.functions.hashing import hash60, sql_hash60

_M_SUB = 8  # subspaces
_D_SUB = 8  # dims per subspace (64-dim embeddings)
_K_CODES = 16  # centroids per subspace

_D2_DUCK = (
    "CAST(list_sum(list_transform(range(1, {d} + 1),"
    " k -> (sv[k] - cv[k]) * (sv[k] - cv[k]))) AS BIGINT)"
).format(d=_D_SUB)

_PQ_ORACLE = f"""
    WITH vi AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
      FROM embeddings
    ),
    seeds AS (
      SELECT vec_id AS seed_id, v,
             ROW_NUMBER() OVER (ORDER BY h) AS code
      FROM (
        SELECT vec_id, v,
               CAST({sql_hash60("'pq:' || CAST(vec_id AS VARCHAR)")} AS BIGINT)
                 AS h
        FROM vi ORDER BY h LIMIT {_K_CODES}
      )
    ),
    cents AS (
      SELECT s.s, code, v[s.s * {_D_SUB} + 1 : s.s * {_D_SUB} + {_D_SUB}] AS cv
      FROM seeds, range(0, {_M_SUB}) s(s)
    ),
    subs AS (
      SELECT vec_id, s.s,
             v[s.s * {_D_SUB} + 1 : s.s * {_D_SUB} + {_D_SUB}] AS sv
      FROM vi, range(0, {_M_SUB}) s(s)
    ),
    cand AS (
      SELECT subs.vec_id, subs.s, cents.code, {_D2_DUCK} AS d2
      FROM subs JOIN cents ON cents.s = subs.s
    ),
    best AS (
      SELECT vec_id, s, code, d2,
             ROW_NUMBER() OVER (PARTITION BY vec_id, s
                                ORDER BY d2, code) AS rn
      FROM cand
    )
    SELECT CAST(s AS BIGINT) AS subspace, CAST(code AS BIGINT) AS code,
           CAST(COUNT(*) AS BIGINT) AS n_assigned,
           CAST(CAST(SUM(CAST(d2 AS HUGEINT)) AS HUGEINT) AS BIGINT)
             AS total_d2
    FROM best WHERE rn = 1
    GROUP BY s, code
"""


@register("pq_encode_subvectors", _PQ_ORACLE)
def pq_encode_subvectors(spark, sf_dir):
    """PQ encoding of the embedding corpus: 8 subspaces × 8 dims, 16
    codes per subspace (64-dim float vector → 8 nibbles = 4 bytes, a 64×
    compression — the memory trick that keeps billion-vector ANN indexes
    RAM-resident). Codebook = subvectors of the 16 committed-hash seed
    vectors (bottom-16 by hash60; rank = code id via bounded_rank — the
    deterministic stand-in for k-means codebook training, same discipline
    as ivf_topk_trained's seeds); assignment is exact integer-micro
    squared-L2 with (d2, code) struct-min tie-break. The report is the
    per-(subspace, code) cell census + reconstruction SSE (int128
    accumulation) — the codebook-balance diagnostic a PQ training loop
    watches. Spark shape: the 128-subvector codebook broadcasts; the
    corpus is scanned ONCE, exploded ×8 subspaces, each probing 16
    candidates via a zip_with fold — no embedding shuffle; the only
    exchanges carry (vec_id, s, code, d2) and the final 128-row cells."""
    from hpmr_spark.functions.ranking import bounded_rank

    e = _t(spark, sf_dir, "embeddings")
    vi = e.select(
        "vec_id",
        F.expr(
            "transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000)"
            " AS BIGINT))"
        ).alias("v"),
    )
    seeded = vi.select(
        "vec_id",
        "v",
        hash60(F.concat(F.lit("pq:"), F.col("vec_id").cast("string"))).alias("h"),
    )
    seeds16 = seeded.orderBy("h").limit(_K_CODES)
    seeds = bounded_rank(seeds16, "h", "vec_id", primary_desc=False, out="code")
    sgrid = spark.range(0, _M_SUB).select(F.col("id").cast("int").alias("s"))
    cents = seeds.crossJoin(F.broadcast(sgrid)).select(
        "s",
        F.col("code").cast("int").alias("code"),
        F.expr(f"slice(v, s * {_D_SUB} + 1, {_D_SUB})").alias("cv"),
    )
    subs = vi.crossJoin(F.broadcast(sgrid)).select(
        "vec_id",
        "s",
        F.expr(f"slice(v, s * {_D_SUB} + 1, {_D_SUB})").alias("sv"),
    )
    cand = subs.join(F.broadcast(cents), "s").select(
        "vec_id",
        "s",
        "code",
        F.expr(
            "aggregate(zip_with(sv, cv, (a, b) -> (a - b) * (a - b)),"
            " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
        ).alias("d2"),
    )
    best = cand.groupBy("vec_id", "s").agg(
        F.min(F.struct("d2", "code")).alias("m")
    )
    return best.groupBy(
        F.col("s").cast("long").alias("subspace"),
        F.col("m.code").cast("long").alias("code"),
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_assigned"),
        F.expr("CAST(SUM(CAST(m.d2 AS DECIMAL(38,0))) AS BIGINT)").alias(
            "total_d2"
        ),
    )


# ---------------------------------------------------------------------------
# ADC (asymmetric distance computation) search over the PQ codes.
# ---------------------------------------------------------------------------
_N_QUERIES = 3
_TOPK = 10

_ADC_ORACLE = f"""
    WITH vi AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
      FROM embeddings
    ),
    seeds AS (
      SELECT vec_id AS seed_id, v,
             ROW_NUMBER() OVER (ORDER BY h) AS code
      FROM (
        SELECT vec_id, v,
               CAST({sql_hash60("'pq:' || CAST(vec_id AS VARCHAR)")} AS BIGINT)
                 AS h
        FROM vi ORDER BY h LIMIT {_K_CODES}
      )
    ),
    cents AS (
      SELECT s.s, code, v[s.s * {_D_SUB} + 1 : s.s * {_D_SUB} + {_D_SUB}] AS cv
      FROM seeds, range(0, {_M_SUB}) s(s)
    ),
    subs AS (
      SELECT vec_id, s.s,
             v[s.s * {_D_SUB} + 1 : s.s * {_D_SUB} + {_D_SUB}] AS sv
      FROM vi, range(0, {_M_SUB}) s(s)
    ),
    cand AS (
      SELECT subs.vec_id, subs.s, cents.code, {_D2_DUCK} AS d2
      FROM subs JOIN cents ON cents.s = subs.s
    ),
    codes AS (
      SELECT vec_id, s, code FROM (
        SELECT vec_id, s, code,
               ROW_NUMBER() OVER (PARTITION BY vec_id, s
                                  ORDER BY d2, code) AS rn
        FROM cand
      ) WHERE rn = 1
    ),
    qv AS (
      SELECT vec_id AS qid, v FROM (
        SELECT vec_id, v,
               CAST({sql_hash60("'pqq:' || CAST(vec_id AS VARCHAR)")}
                    AS BIGINT) AS h
        FROM vi ORDER BY h LIMIT {_N_QUERIES}
      )
    ),
    qsubs AS (
      SELECT qid, s.s,
             v[s.s * {_D_SUB} + 1 : s.s * {_D_SUB} + {_D_SUB}] AS sv
      FROM qv, range(0, {_M_SUB}) s(s)
    ),
    lut AS (
      SELECT qsubs.qid, qsubs.s, cents.code, {_D2_DUCK} AS d2
      FROM qsubs JOIN cents ON cents.s = qsubs.s
    ),
    adc AS (
      SELECT l.qid, c.vec_id, CAST(SUM(l.d2) AS BIGINT) AS adc_d2
      FROM codes c JOIN lut l ON l.s = c.s AND l.code = c.code
      GROUP BY l.qid, c.vec_id
    ),
    ranked AS (
      SELECT qid, vec_id, adc_d2,
             ROW_NUMBER() OVER (PARTITION BY qid
                                ORDER BY adc_d2, vec_id) AS rnk
      FROM adc
    )
    SELECT qid, CAST(rnk AS BIGINT) AS rnk, vec_id, adc_d2
    FROM ranked WHERE rnk <= {_TOPK}
"""


@register("pq_adc_topk_search", _ADC_ORACLE)
def pq_adc_topk_search(spark, sf_dir):
    """ADC (asymmetric distance) top-10 search over the PQ-encoded corpus
    — the query half of IVF-PQ: for each of 3 committed-hash query
    vectors, build the 8×16 per-subspace lookup table of exact
    integer-micro distances query-subvector → centroid, then score every
    corpus vector by SUMMING its 8 code lookups (the vector itself is
    never touched at query time — that's the point: 4-byte codes + a
    384-entry LUT replace 256-byte floats). The per-query ranking is a
    qid-PARTITIONED window (never partition-less); the LUT and codebook
    broadcast; the only fact-scale work is the one-time encode scan
    shared with pq_encode_subvectors. Distances, sums, and tie-breaks
    ((adc_d2, vec_id)) are exact integers — even the ANN's
    approximation error is deterministic and hash-checked."""
    from pyspark.sql import Window

    e = _t(spark, sf_dir, "embeddings")
    # NO persist here: the frame is a narrow projection of a small parquet
    # scan; the three consumers (corpus encode, seed bottom-k, query
    # bottom-k) each re-scan.
    vi = e.select(
        "vec_id",
        F.expr(
            "transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000)"
            " AS BIGINT))"
        ).alias("v"),
    )
    from hpmr_spark.functions.ranking import bounded_rank

    seeded = vi.select(
        "vec_id",
        "v",
        hash60(F.concat(F.lit("pq:"), F.col("vec_id").cast("string"))).alias("h"),
    )
    seeds = bounded_rank(
        seeded.orderBy("h").limit(_K_CODES), "h", "vec_id",
        primary_desc=False, out="code",
    )
    sgrid = spark.range(0, _M_SUB).select(F.col("id").cast("int").alias("s"))
    cents = seeds.crossJoin(F.broadcast(sgrid)).select(
        "s",
        F.col("code").cast("int").alias("code"),
        F.expr(f"slice(v, s * {_D_SUB} + 1, {_D_SUB})").alias("cv"),
    )
    subs = vi.crossJoin(F.broadcast(sgrid)).select(
        "vec_id",
        "s",
        F.expr(f"slice(v, s * {_D_SUB} + 1, {_D_SUB})").alias("sv"),
    )
    d2 = (
        "aggregate(zip_with(sv, cv, (a, b) -> (a - b) * (a - b)),"
        " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
    )
    codes = (
        subs.join(F.broadcast(cents), "s")
        .select("vec_id", "s", "code", F.expr(d2).alias("d2"))
        .groupBy("vec_id", "s")
        .agg(F.min(F.struct("d2", "code")).alias("m"))
        .select("vec_id", "s", F.col("m.code").alias("code"))
    )
    qv = vi.select(
        F.col("vec_id").alias("qid"),
        "v",
        hash60(F.concat(F.lit("pqq:"), F.col("vec_id").cast("string"))).alias("h"),
    )
    qtop = bounded_rank(
        qv.orderBy("h").limit(_N_QUERIES), "h", "qid",
        primary_desc=False, out="_qr",
    ).drop("_qr")
    qsubs = qtop.crossJoin(F.broadcast(sgrid)).select(
        "qid",
        "s",
        F.expr(f"slice(v, s * {_D_SUB} + 1, {_D_SUB})").alias("sv"),
    )
    lut = qsubs.join(F.broadcast(cents), "s").select(
        "qid", "s", "code", F.expr(d2).alias("d2")
    )
    adc = (
        codes.join(F.broadcast(lut), ["s", "code"])
        .groupBy("qid", "vec_id")
        .agg(F.sum("d2").cast("long").alias("adc_d2"))
    )
    w = Window.partitionBy("qid").orderBy(F.asc("adc_d2"), F.asc("vec_id"))
    return (
        adc.withColumn("rnk", F.row_number().over(w).cast("long"))
        .where(F.col("rnk") <= _TOPK)
        .select("qid", "rnk", "vec_id", "adc_d2")
    )
