"""Round-10 wave 6 (part 1): storage-layer dedup and weight
quantization (named published recipes absent from the registry):

- cdc_chunk_dedup: content-defined chunking (Muthitacharoen et al. 2001
  LBFS; the rolling-hash boundary family behind FastCDC) — boundaries
  where the committed 8-char window hash ≡ 0 (mod 64), then exact
  cross-document chunk dedup: the storage-dedup view of the corpus that
  survives insertions/shifts, unlike fixed-size blocks.
- nf4_quantize_error: 4-bit NormalFloat quantization (Dettmers et al.
  2023, QLoRA): per-vector absmax scaling, nearest-of-16 committed NF4
  levels — assignment by the pure-integer cross-multiplication
  argmin |x·10⁶ − l·s| (no division decides a verdict) — with the
  per-level usage histogram and dequantization SSE.

Integer discipline (CLAUDE.md): chunk boundaries and NF4 assignments are
exact integer comparisons with full tie-breaks; squared errors ride
int128 (DECIMAL(38,0)/HUGEINT) and are scaled down once.

Reference parity: beyond the reference kv kernel
(/root/reference/src/hpmr.h:1-10) along the brief's LLM-pipeline axis.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hpmr_spark.catalog import _t, register
from hpmr_spark.functions.hashing import sql_hash60, spark_sql_hash60
from hpmr_spark.operators.dedup_queries import _SEMC_MICROS

# ---------------------------------------------------------------------------
# Content-defined chunking dedup
# ---------------------------------------------------------------------------

_CDC_W = 8  # committed window (chars)
_CDC_MOD = 64  # committed boundary modulus (expected chunk ~64 chars)


def _cdc_chunks(engine_hash, el, arr, dist) -> str:
    """Chunk array for column `text`: boundary positions where the window
    hash ≡ 0 (mod _CDC_MOD); cut points 0, boundaries…, len; substrings
    between consecutive cuts. el(a, i) renders 1-based element access."""
    h = engine_hash(f"substr(text, _p - {_CDC_W - 1}, {_CDC_W})")
    bp = (
        f"filter({arr}(sequence(CAST({_CDC_W} AS BIGINT), CAST(length(text)"
        f" AS BIGINT)), _p -> _p), _p -> ({h}) % {_CDC_MOD} = 0)"
    )
    cp = (
        f"{dist}(concat(array(CAST(0 AS BIGINT)),"
        f" CASE WHEN length(text) >= {_CDC_W} THEN {bp}"
        f" ELSE array() END, array(CAST(length(text) AS BIGINT))))"
    )
    # Descending-sequence guard (CLAUDE.md): empty text collapses cp to
    # [0] and sequence(1, 0) DESCENDS to [1, 0] → element_at past-end
    # throws under ANSI. DuckDB's range is naturally empty, oracle agrees.
    return (
        f"CASE WHEN size({cp}) >= 2 THEN"
        f" transform(sequence(1, size({cp}) - 1), _i ->"
        f" substr(text, CAST({el(cp, '_i')} + 1 AS INT),"
        f" CAST({el(cp, '_i + 1')} - {el(cp, '_i')} AS INT)))"
        f" ELSE CAST(array() AS ARRAY<STRING>) END"
    )


def _cdc_spark() -> str:
    return _cdc_chunks(
        spark_sql_hash60,
        lambda a, i: f"element_at({a}, CAST({i} AS INT))",
        "transform",
        "array_distinct",
    )


_CDC_DUCK_CHUNKS = f"""
      list_transform(range(1, len(cp)), _i ->
        substr(text, CAST(cp[_i] + 1 AS INT), CAST(cp[_i + 1] - cp[_i] AS INT)))
"""

_CDC_ORACLE = f"""
    WITH cuts AS (
      SELECT text,
             list_distinct(flatten([
               [CAST(0 AS BIGINT)],
               CASE WHEN length(text) >= {_CDC_W} THEN
                 list_filter(range(CAST({_CDC_W} AS BIGINT),
                                   CAST(length(text) + 1 AS BIGINT)),
                   _p -> ({sql_hash60(f"substr(text, CAST(_p - {_CDC_W - 1} AS INT), {_CDC_W})")})
                     % {_CDC_MOD} = 0)
               ELSE [] END,
               [CAST(length(text) AS BIGINT)]])) AS cp0
      FROM documents
    ),
    chunked AS (
      SELECT unnest({_CDC_DUCK_CHUNKS}) AS chunk
      FROM (SELECT text, list_sort(cp0) AS cp FROM cuts)
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(COUNT(DISTINCT chunk) AS BIGINT) AS n_distinct_chunks,
           CAST((COUNT(*) - COUNT(DISTINCT chunk)) * 1000000
                // COUNT(*) AS BIGINT) AS dup_chunk_ppm,
           CAST(CAST(SUM(length(chunk)) AS HUGEINT) * 1000
                // COUNT(*) AS BIGINT) AS mean_chunk_len_milli
    FROM chunked
"""


@register("cdc_chunk_dedup", _CDC_ORACLE)
def cdc_chunk_dedup(spark, sf_dir):
    """Content-defined chunking (LBFS, Muthitacharoen et al. 2001; the
    boundary-gear family of FastCDC): a chunk boundary falls after every
    position whose committed 8-char window hash ≡ 0 (mod 64) — so the
    cut points survive insertions and shifts, the property fixed-size
    blocks lack — then exact cross-document chunk dedup. Emits the
    storage-dedup census: chunk count, distinct chunks, duplicate-chunk
    ppm, mean chunk length (millis). Read next to
    dedup_substring_ngram: the storage-layer vs content-layer views.

    Spark shape: boundary detection and chunk slicing are entirely
    in-row (array HOFs over the committed hash — one md5 per char
    position, the honest CDC cost at any scale), then ONE global
    aggregate with an exact distinct. Linear; one shuffle pair (the
    distinct rewrite), after a hash shuffle that spreads the documents
    over every core: the table is one small file, so the scan gives the
    per-character hashing a single task. A repartition by number is one
    AQE leaves as it is."""
    d = _t(spark, sf_dir, "documents").repartition(
        spark.sparkContext.defaultParallelism, "doc_id"
    )
    chunks = d.select(
        F.explode(F.expr(_cdc_spark())).alias("chunk")
    )
    return chunks.agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.countDistinct("chunk").cast("long").alias("n_distinct_chunks"),
        F.expr(
            "CAST((COUNT(*) - COUNT(DISTINCT chunk)) * 1000000"
            " div COUNT(*) AS BIGINT)"
        ).alias("dup_chunk_ppm"),
        F.expr(
            "CAST(CAST(SUM(length(chunk)) AS DECIMAL(38,0)) * 1000"
            " div COUNT(*) AS BIGINT)"
        ).alias("mean_chunk_len_milli"),
    )


# ---------------------------------------------------------------------------
# NF4 quantization error
# ---------------------------------------------------------------------------

# The 16 NF4 levels of Dettmers et al. 2023 (QLoRA, App. E), rounded to
# micros — a committed constant like the LSH planes.
_NF4_MICRO = (
    -1000000, -696193, -525073, -394917, -284441, -184773, -91050, 0,
    79580, 160930, 246112, 337915, 440710, 562617, 722957, 1000000,
)


def _nf4_assign(el) -> str:
    """Per-dim struct (err, idx, e_signed): nearest committed level under
    argmin (|x·10⁶ − l·s|, idx). el(a, i) renders 1-based access."""
    structs = ",".join(
        f"named_struct('err', abs({el('v', 'd')} * 1000000"
        f" - CAST({lv} AS BIGINT) * s),"
        f" 'idx', CAST({i} AS BIGINT),"
        f" 'e', {el('v', 'd')} * 1000000 - CAST({lv} AS BIGINT) * s)"
        for i, lv in enumerate(_NF4_MICRO)
    )
    return f"array_min(array({structs}))"


_NF4_DUCK_LEVELS = "[" + ", ".join(
    f"CAST({lv} AS BIGINT)" for lv in _NF4_MICRO
) + "]"

_NF4_ORACLE = f"""
    WITH vi AS (
      SELECT vec_id,
             list_transform(embedding,
               _x -> CAST(FLOOR(CAST(_x AS DOUBLE) * 1000000) AS BIGINT)) AS v
      FROM embeddings
    ),
    sc AS (
      SELECT vec_id, v,
             list_max(list_transform(v, _x -> abs(_x))) AS s
      FROM vi
    ),
    dims AS (
      SELECT a.best['idx'] AS lvl, a.best['e'] AS e
      FROM (
        SELECT list_aggregate(list_transform(range(0, 16), _l ->
                 {{'err': abs(v[d + 1] * 1000000 - {_NF4_DUCK_LEVELS}[_l + 1] * s),
                   'idx': _l,
                   'e': v[d + 1] * 1000000 - {_NF4_DUCK_LEVELS}[_l + 1] * s}}),
                 'min') AS best
        FROM sc, (SELECT unnest(range(0, 64)) AS d)) a
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM dims)
    SELECT CAST(dims.lvl AS BIGINT) AS level_idx,
           CAST({_NF4_DUCK_LEVELS}[dims.lvl + 1] AS BIGINT) AS level_micro,
           CAST(COUNT(*) AS BIGINT) AS n_assigned,
           CAST(COUNT(*) * 1000000 // tot.n AS BIGINT) AS share_ppm,
           CAST(SUM(CAST(dims.e AS HUGEINT) * dims.e)
                // 1000000000000 AS BIGINT) AS sse_micro2
    FROM dims, tot
    GROUP BY dims.lvl, tot.n
"""


@register("nf4_quantize_error", _NF4_ORACLE)
def nf4_quantize_error(spark, sf_dir):
    """4-bit NormalFloat quantization audit (Dettmers et al. 2023,
    QLoRA): each embedding is absmax-scaled and every dimension snapped
    to the nearest of the 16 committed NF4 levels — the assignment is
    the pure-integer cross-multiplication argmin |x·10⁶ − l·s| with the
    (err, idx) tie-break, so no float ratio ever decides a bucket. Emits
    the per-level usage histogram (NF4's information-theoretic claim:
    roughly equal occupancy under normal weights) and the per-level
    dequantization SSE (int128, scaled to micro² once) — the error audit
    next to embedding_quantize_int8 (uniform) and pq_encode_subvectors
    (codebook): the third quantizer family.

    Spark shape: scale + assignment fully in-row (16-struct array_min —
    the argmin idiom), one posexplode (×64) + level agg; the totals ride
    a trivial second scan. Linear at any scale."""
    e = _t(spark, sf_dir, "embeddings")
    sc = e.select(
        "vec_id", F.expr(_SEMC_MICROS).alias("v")
    ).select(
        "v",
        F.expr("array_max(transform(v, x -> abs(x)))").alias("s"),
    )

    def el(a, i):
        return f"element_at({a}, CAST({i} + 1 AS INT))"

    best = _nf4_assign(el)
    dims = sc.select(
        F.explode(
            F.expr(
                f"transform(sequence(0, 63), d -> {best})"
            )
        ).alias("b")
    ).select(
        F.col("b.idx").alias("lvl"),
        F.col("b.e").alias("e"),
    )
    tot = e.agg((F.count(F.lit(1)) * 64).cast("long").alias("n"))
    lvls = "array(" + ",".join(
        f"CAST({lv} AS BIGINT)" for lv in _NF4_MICRO
    ) + ")"
    return (
        dims.groupBy("lvl")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_assigned"),
            F.expr(
                "CAST(SUM(CAST(e AS DECIMAL(38,0)) * e)"
                " div 1000000000000 AS BIGINT)"
            ).alias("sse_micro2"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("lvl").cast("long").alias("level_idx"),
            F.expr(f"element_at({lvls}, CAST(lvl + 1 AS INT))").alias(
                "level_micro"
            ),
            "n_assigned",
            F.expr("CAST(n_assigned * 1000000 div n AS BIGINT)").alias(
                "share_ppm"
            ),
            "sse_micro2",
        )
    )
