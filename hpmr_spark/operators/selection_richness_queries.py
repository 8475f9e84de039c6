"""Round-10 wave 1: data-selection coresets, prototypicality pruning, and
classic corpus-statistics estimators (each a named published recipe absent
from the registry):

- kcenter_greedy_coreset: Gonzalez (1985) farthest-first traversal — THE
  k-center coreset selection used for active-learning / data-pruning
  subset selection (Sener & Savarese 2018). Exact integer squared-L2 on
  the micro-quantized embeddings; fully deterministic tie-breaks.
- ssl_prototype_prune: prototypicality pruning (Sorscher et al. 2022,
  "Beyond neural scaling laws"; the SSL-prototypes stage of D4, Tirumala
  et al. 2023): rank each trained cluster by distance-to-centroid and
  prune the most prototypical 25% — keep the hard examples. Shares the
  exact-integer Lloyd-step clustering commitment with
  semdedup_centroid_prune (same seeds, same centroids — D4 runs both
  stages on ONE clustering).
- good_turing_unseen_mass: Good-Turing frequency-of-frequencies estimates
  (Good 1953): adjusted counts r* = (r+1)·N_{r+1}/N_r for r = 1..5 and
  the singleton-mass estimate of unseen probability p0 = N_1/N — the
  classic smoothing/coverage diagnostic for corpus vocabularies.
- yule_k_richness: Yule's characteristic K (Yule 1944) per language —
  the length-invariant vocabulary-richness statistic
  K = 10^4·(Σ m²V_m − N)/N², int128 ppm.
- err_graded_ranking: Expected Reciprocal Rank (Chapelle et al. 2009)
  over per-nation customer-spend rankings with dyadic graded relevance
  R = (2^g − 1)/8 — the cascade-model ranking metric next to MRR/nDCG.

Integer discipline (CLAUDE.md): distances/grades/spectra are exact
integers; Yule's K rides the engine-split int128 idiom; ERR's per-rank
terms are exact dyadic doubles (≤ 3-bit mantissa factors, products ≤ 30
bits — exact) divided by the rank and left-folded in identical order both
engines, then floored to ppm once.

Reference parity: beyond the reference kv kernel
(/root/reference/src/hpmr.h:1-10) along the brief's LLM-pipeline axis.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from hpmr_spark.catalog import _t, register
from hpmr_spark.engine import materialize
from hpmr_spark.functions.littables import values_df
from hpmr_spark.operators.dedup_queries import (
    _DUCK_D2,
    _SEMC_K,
    _SEMC_MICROS,
    _SEMC_SALT,
    _semc_d2_text,
)
from hpmr_spark.functions.hashing import hash60, sql_hash60

# ---------------------------------------------------------------------------
# k-center greedy (farthest-first traversal, Gonzalez 1985)
# ---------------------------------------------------------------------------

_KC_K = 8  # committed number of centers

_DUCK_VI = (
    "SELECT vec_id, list_transform(embedding,"
    " _x -> CAST(FLOOR(CAST(_x AS DOUBLE) * 1000000) AS BIGINT)) AS v"
    " FROM embeddings"
)

# squared-L2 between the row vector v and a lambda-bound center list _c
_DUCK_D2_LAMBDA = (
    "list_sum(list_transform(range(1, 65),"
    " _k -> (v[_k] - _c[_k]) * (v[_k] - _c[_k])))"
)


def _kcenter_oracle() -> str:
    ctes = [
        "vi AS MATERIALIZED (" + _DUCK_VI + ")",
        # s0: seed = lowest vec_id, maxmin distance 0 by convention
        "s0 AS MATERIALIZED (SELECT [vec_id] AS ids, [v] AS vecs,"
        " vec_id AS nid, CAST(0 AS BIGINT) AS nd2 FROM vi"
        " WHERE vec_id = (SELECT MIN(vec_id) FROM vi))",
    ]
    for k in range(1, _KC_K):
        ctes.append(
            f"""s{k} AS MATERIALIZED (
      SELECT list_append(p.ids, c.vec_id) AS ids,
             list_append(p.vecs, c.v) AS vecs,
             c.vec_id AS nid, c.mind2 AS nd2
      FROM s{k - 1} p, (
        SELECT * FROM (
          SELECT vi.vec_id, vi.v,
                 CAST(list_min(list_transform(p2.vecs,
                   _c -> {_DUCK_D2_LAMBDA})) AS BIGINT) AS mind2
          FROM vi, s{k - 1} p2
          WHERE NOT list_contains(p2.ids, vi.vec_id))
        QUALIFY ROW_NUMBER() OVER (ORDER BY mind2 DESC, vec_id) = 1) c
    )"""
        )
    selects = "\n    UNION ALL ".join(
        f"SELECT CAST({k} AS BIGINT) AS step, nid AS vec_id,"
        f" nd2 AS maxmin_d2 FROM s{k}"
        for k in range(_KC_K)
    )
    return f"WITH {', '.join(ctes)}\n    {selects}"


@register("kcenter_greedy_coreset", _kcenter_oracle())
def kcenter_greedy_coreset(spark, sf_dir):
    """Farthest-first traversal (Gonzalez 1985), the greedy 2-approximation
    for k-center and the standard coreset selector for data-efficient
    training (Sener & Savarese 2018): seed with the lowest vec_id, then 7×
    add the point maximizing its min squared-L2 distance to the selected
    set (exact integer micros; tie-break (d² DESC, vec_id ASC)). Emits
    (step, chosen vec_id, the maxmin d² it achieved) — the d² column IS
    the classic k-center radius curve.

    Spark shape: each step is ONE distributed linear scan — the selected
    centers ride along as literal arrays (driver carries k·64 ints, the
    bounded-collect pattern of semdedup's seeds), and the argmax is a
    2-row TakeOrdered, so nothing quadratic and no lineage growth: at
    100 TB this is k sequential scans, each embarrassingly parallel.
    Collects at build ⟹ plan_snapshot SKIP."""
    e = _t(spark, sf_dir, "embeddings")
    vi = e.select("vec_id", F.expr(_SEMC_MICROS).alias("v"))

    seed = vi.orderBy("vec_id").limit(1).collect()[0]
    sel = [(0, int(seed["vec_id"]), 0)]
    sel_vecs = [[int(x) for x in seed["v"]]]
    for step in range(1, _KC_K):
        mind2 = (
            "array_min(array("
            + ",".join(_semc_d2_text("v", c) for c in sel_vecs)
            + "))"
        )
        ids = ",".join(str(i) for _, i, _d in sel)
        nxt = (
            vi.where(f"NOT array_contains(array({ids}), vec_id)")
            .select("vec_id", "v", F.expr(mind2).alias("mind2"))
            .orderBy(F.desc("mind2"), F.asc("vec_id"))
            .limit(1)
            .collect()[0]
        )
        sel.append((step, int(nxt["vec_id"]), int(nxt["mind2"])))
        sel_vecs.append([int(x) for x in nxt["v"]])
    return values_df(
        spark, sel, "step long, vec_id long, maxmin_d2 long"
    )


# ---------------------------------------------------------------------------
# SSL-prototypes / D4 prototypicality pruning
# ---------------------------------------------------------------------------

# Committed prune fraction: the most-prototypical 25% of each cluster
# (rank·4 ≤ n — integer cross-multiplication, no float threshold).

_SSL_ASSIGN_CTES = f"""
    vi AS MATERIALIZED (
      SELECT vec_id,
             list_transform(embedding,
               _x -> CAST(FLOOR(CAST(_x AS DOUBLE) * 1000000) AS BIGINT)) AS v
      FROM embeddings
    ),
    seeds AS MATERIALIZED (
      SELECT ROW_NUMBER() OVER (ORDER BY h, vec_id) - 1 AS cell, v
      FROM (SELECT vec_id, v,
                   {sql_hash60("'" + _SEMC_SALT + "' || CAST(vec_id AS STRING)")} AS h
            FROM vi)
      ORDER BY h, vec_id LIMIT {_SEMC_K}
    ),
    a1 AS MATERIALIZED (
      SELECT vec_id, v, cell FROM (
        SELECT vi.vec_id, vi.v, s.cell,
               ROW_NUMBER() OVER (
                 PARTITION BY vi.vec_id
                 ORDER BY {_DUCK_D2.format(a='vi.v', b='s.v')}, s.cell) AS rn
        FROM vi, seeds s) WHERE rn = 1
    ),
    cd AS (
      SELECT cell, dim,
             CAST(SUM(val) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT cell, unnest(v) AS val, generate_subscripts(v, 1) AS dim
            FROM a1)
      GROUP BY cell, dim
    ),
    cents AS MATERIALIZED (
      SELECT cell, list(c ORDER BY dim) AS cv FROM cd GROUP BY cell
    ),
    a2 AS MATERIALIZED (
      SELECT vec_id, cell, d2 AS d2c
      FROM (
        SELECT vi.vec_id, c.cell,
               {_DUCK_D2.format(a='vi.v', b='c.cv')} AS d2,
               ROW_NUMBER() OVER (
                 PARTITION BY vi.vec_id
                 ORDER BY {_DUCK_D2.format(a='vi.v', b='c.cv')}, c.cell) AS rn
        FROM vi, cents c) WHERE rn = 1
    )
"""

_SSL_ORACLE = f"""
    WITH {_SSL_ASSIGN_CTES},
    ranked AS (
      SELECT vec_id, cell, d2c,
             ROW_NUMBER() OVER (PARTITION BY cell ORDER BY d2c, vec_id) AS rn,
             COUNT(*) OVER (PARTITION BY cell) AS n
      FROM a2
    )
    SELECT CAST(cell AS BIGINT) AS cell,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(SUM(CASE WHEN rn * 4 <= n THEN 1 ELSE 0 END) AS BIGINT)
             AS n_pruned,
           CAST(SUM(CASE WHEN rn * 4 <= n THEN vec_id ELSE 0 END) AS BIGINT)
             AS pruned_id_sum,
           CAST(MAX(CASE WHEN rn * 4 > n THEN d2c ELSE 0 END) AS BIGINT)
             AS max_kept_d2
    FROM ranked GROUP BY cell
"""


@register("ssl_prototype_prune", _SSL_ORACLE)
def ssl_prototype_prune(spark, sf_dir):
    """Prototypicality pruning (Sorscher et al. 2022; the SSL-prototypes
    stage of D4, Tirumala et al. 2023): cluster the embedding corpus, rank
    each cluster by distance-to-centroid ascending, and prune the most
    prototypical (centroid-nearest) 25% — in the big-data regime, easy
    prototypical examples carry the least marginal signal, so the KEEP set
    is the hard tail. Uses the SAME committed exact-integer Lloyd step as
    semdedup_centroid_prune (same seeds, same truncating-mean centroids):
    D4 runs SemDeDup then SSL-prototypes on one clustering, and so do we.
    Emits the per-cell census (vectors, pruned count, pruned-id checksum,
    max kept d² = the pruning frontier).

    Spark shape: two bounded collects (8 seeds, 8×64 centroid ints)
    broadcast as literals; assignment is one map-only corpus scan; the
    rank/census is one cell-partitioned window + one same-key agg (the
    exchange elides). Nothing quadratic — at scale the cluster count grows
    with the corpus and this stays two linear passes.
    Collects at build ⟹ plan_snapshot SKIP."""
    e = _t(spark, sf_dir, "embeddings")
    vi = e.select("vec_id", F.expr(_SEMC_MICROS).alias("v"))

    seed_rows = sorted(
        vi.select(
            "vec_id",
            "v",
            hash60(
                F.concat(F.lit(_SEMC_SALT), F.col("vec_id").cast("string"))
            ).alias("h"),
        )
        .orderBy("h", "vec_id")
        .limit(_SEMC_K)
        .collect(),
        key=lambda r: (r["h"], r["vec_id"]),
    )
    seeds = [[int(x) for x in r["v"]] for r in seed_rows]

    def argmin_struct(cent_lists):
        structs = ",".join(
            f"named_struct('d2',{_semc_d2_text('v', cv)},'cell',{ci})"
            for ci, cv in enumerate(cent_lists)
        )
        return F.expr(f"array_min(array({structs}))")

    a1 = vi.select(
        "vec_id", "v", argmin_struct(seeds).getField("cell").alias("cell")
    )
    cd = (
        a1.select("cell", F.posexplode("v").alias("dim0", "val"))
        .groupBy("cell", "dim0")
        .agg(F.expr("CAST(SUM(val) AS BIGINT) div COUNT(*)").alias("c"))
        .groupBy("cell")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(dim0, c))), p -> p.c)"
            ).alias("cv")
        )
        .collect()
    )
    cents = [
        [int(x) for x in row["cv"]]
        for row in sorted(cd, key=lambda r: r["cell"])
    ]

    mn = argmin_struct(cents)
    a2 = vi.select(
        "vec_id",
        mn.getField("cell").cast("long").alias("cell"),
        mn.getField("d2").alias("d2c"),
    )
    w = Window.partitionBy("cell")
    ranked = a2.select(
        "vec_id",
        "cell",
        "d2c",
        F.row_number()
        .over(w.orderBy(F.asc("d2c"), F.asc("vec_id")))
        .alias("rn"),
        F.count(F.lit(1)).over(w).alias("n"),
    )
    pruned = F.col("rn") * 4 <= F.col("n")
    return ranked.groupBy("cell").agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        F.sum(F.when(pruned, 1).otherwise(0)).cast("long").alias("n_pruned"),
        F.sum(F.when(pruned, F.col("vec_id")).otherwise(0))
        .cast("long")
        .alias("pruned_id_sum"),
        F.max(F.when(~pruned, F.col("d2c")).otherwise(0))
        .cast("long")
        .alias("max_kept_d2"),
    )


# ---------------------------------------------------------------------------
# Good-Turing frequency-of-frequencies
# ---------------------------------------------------------------------------

# Good-Turing needs RARE events; this corpus's word vocabulary is tiny
# (every word appears ≥ 26 times at sf0.01), so the spectrum is built over
# word TRIGRAMS — the setting GT smoothing was invented for (n-gram LMs),
# with 19k+ singletons at sf0.01. The within-doc gram walk is naturally
# empty for docs under 3 words (Spark side carries the descending-sequence
# guard).

_GT_ORACLE = """
    WITH wc AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS c
      FROM (
        SELECT unnest(list_transform(range(1, len(t) - 1),
                 _i -> concat_ws(' ', t[_i], t[_i + 1], t[_i + 2]))) AS w
        FROM (SELECT string_split(text, ' ') AS t FROM documents))
      GROUP BY w
    ),
    spec AS MATERIALIZED (
      SELECT c AS r, CAST(COUNT(*) AS BIGINT) AS nr FROM wc GROUP BY c
    ),
    tot AS (SELECT CAST(SUM(r * nr) AS BIGINT) AS n FROM spec)
    SELECT CAST(0 AS BIGINT) AS r, CAST(0 AS BIGINT) AS n_types,
           s1.nr * 1000000 // tot.n AS est_micro
    FROM spec s1, tot WHERE s1.r = 1
    UNION ALL
    SELECT s.r AS r, s.nr AS n_types,
           (s.r + 1) * COALESCE(s2.nr, 0) * 1000000 // s.nr AS est_micro
    FROM spec s LEFT JOIN spec s2 ON s2.r = s.r + 1
    WHERE s.r <= 5
"""


@register("good_turing_unseen_mass", _GT_ORACLE)
def good_turing_unseen_mass(spark, sf_dir):
    """Good-Turing estimates (Good 1953) from the corpus word-TRIGRAM
    frequency spectrum: for r = 1..5 the adjusted count r* = (r+1)·N_{r+1}/N_r
    (emitted in micros — the count an r-times-seen word SHOULD get under
    GT smoothing), plus the r = 0 row carrying the singleton-mass estimate
    of unseen probability p0 = N_1/N in ppm — the standard coverage
    diagnostic for tokenizer/vocab planning. All-integer floor divisions.

    Spark shape: one token pass → word counts → the tiny spectrum
    (persisted — it feeds the self-join's both sides
    AND the totals row, and without the persist each consumer re-runs the
    corpus pass: the multi-consumer rule). The spectrum self-join is
    broadcast-sized at any corpus scale (≤ max word frequency rows)."""
    d = _t(spark, sf_dir, "documents")
    grams = (
        "CASE WHEN size(t) >= 3 THEN transform(sequence(1, size(t) - 2),"
        " i -> concat_ws(' ', element_at(t, i), element_at(t, i + 1),"
        " element_at(t, i + 2))) ELSE array() END"
    )
    wc = (
        d.select(F.split("text", " ").alias("t"))
        .select(F.explode(F.expr(grams)).alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    spec = materialize(
        wc.groupBy(F.col("c").alias("r"))
        .agg(F.count(F.lit(1)).cast("long").alias("nr"))
    )
    tot = spec.agg(F.sum(F.col("r") * F.col("nr")).cast("long").alias("n"))
    r0 = (
        spec.where(F.col("r") == 1)
        .crossJoin(F.broadcast(tot))
        .select(
            F.lit(0).cast("long").alias("r"),
            F.lit(0).cast("long").alias("n_types"),
            F.expr("nr * 1000000 div n").alias("est_micro"),
        )
    )
    s2 = spec.select(
        (F.col("r") - 1).alias("r_prev"), F.col("nr").alias("nnext")
    )
    r15 = (
        spec.where(F.col("r") <= 5)
        .join(F.broadcast(s2), F.col("r") == F.col("r_prev"), "left")
        .select(
            "r",
            F.col("nr").alias("n_types"),
            F.expr(
                "(r + 1) * COALESCE(nnext, CAST(0 AS BIGINT)) * 1000000 div nr"
            ).alias("est_micro"),
        )
    )
    return r0.unionByName(r15)


# ---------------------------------------------------------------------------
# Yule's K vocabulary richness
# ---------------------------------------------------------------------------

_YULE_ORACLE = """
    WITH wc AS (
      SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS c
      FROM (SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents)
      GROUP BY lang, w
    )
    SELECT lang,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(CAST(SUM(c * c) - SUM(c) AS HUGEINT) * 10000000000
                // (CAST(SUM(c) AS HUGEINT) * CAST(SUM(c) AS HUGEINT))
                AS BIGINT) AS yule_k_ppm
    FROM wc GROUP BY lang
"""


@register("yule_k_richness", _YULE_ORACLE)
def yule_k_richness(spark, sf_dir):
    """Yule's characteristic K (Yule 1944) per language: the classic
    length-invariant vocabulary-richness statistic
    K = 10^4·(Σ m²V_m − N)/N² over the word-frequency spectrum — high K =
    repetitive vocabulary, low K = rich. Emitted in ppm via the int128
    engine-split idiom (the 10^10-scaled numerator overflows int64).
    Read next to heaps_law_fit / word_burstiness_vmr: same family of
    corpus-health dashboards.

    Spark shape: two chained groupBys ((lang, word) then lang — the
    second is a strict key prefix so the exchange is one fact-keyed
    shuffle plus a near-free rollup); nothing quadratic at any scale."""
    d = _t(spark, sf_dir, "documents")
    wc = (
        d.select("lang", F.explode(F.split("text", " ")).alias("w"))
        .groupBy("lang", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    return wc.groupBy("lang").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.expr(
            "CAST(CAST(SUM(c * c) - SUM(c) AS DECIMAL(38,0)) * 10000000000"
            " div (CAST(SUM(c) AS DECIMAL(38,0)) * SUM(c)) AS BIGINT)"
        ).alias("yule_k_ppm"),
    )


# ---------------------------------------------------------------------------
# Expected Reciprocal Rank (cascade model)
# ---------------------------------------------------------------------------

# grade g = (4·cents) div (max_cents + 1) ∈ {0..3}; relevance numerator
# rel = 2^g − 1 ∈ {0,1,3,7} (CASE — no cross-engine shift/pow); continue
# numerator 8 − rel ∈ {8,7,5,1}. Each q = (8 − rel)/8 is an exact dyadic
# double (≤ 3 mantissa bits), so the ≤ 10-factor prefix products are
# EXACT; dividing by the rank is one correctly-rounded op and the left
# fold order is identical both engines ⟹ bit-equal ERR before the single
# ppm floor.

_ERR_TERMS_SPARK = (
    "aggregate(transform(sequence(1, size(ra)), r ->"
    " (CAST(element_at(ra, r) AS DOUBLE) / CAST(8 AS DOUBLE))"
    " * aggregate(slice(qa, 1, r - 1), CAST(1.0 AS DOUBLE), (a, x) -> a * x)"
    " / CAST(r AS DOUBLE)),"
    " CAST(0.0 AS DOUBLE), (a, x) -> a + x)"
)

_ERR_TERMS_DUCK = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE),"
    " list_transform(range(1, len(ra) + 1), _r ->"
    " (CAST(ra[_r] AS DOUBLE) / CAST(8 AS DOUBLE))"
    " * list_reduce(list_prepend(CAST(1.0 AS DOUBLE),"
    "               list_slice(qa, 1, _r - 1)), (_a, _b) -> _a * _b)"
    " / CAST(_r AS DOUBLE))), (_a, _b) -> _a + _b)"
)

_ERR_ORACLE = f"""
    WITH spend AS (
      SELECT c.c_nationkey,
             o.o_custkey,
             CAST(SUM(CAST(ROUND(o.o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY c.c_nationkey, o.o_custkey
    ),
    topk AS (
      SELECT c_nationkey, o_custkey, cents,
             ROW_NUMBER() OVER (PARTITION BY c_nationkey
                                ORDER BY cents DESC, o_custkey) AS rn,
             MAX(cents) OVER (PARTITION BY c_nationkey) AS maxc
      FROM spend QUALIFY rn <= 10
    ),
    graded AS (
      SELECT c_nationkey, rn,
             CASE (4 * cents) // (maxc + 1)
               WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 3 ELSE 7
             END AS rel
      FROM topk
    ),
    arrs AS (
      SELECT c_nationkey,
             list(CAST(rel AS BIGINT) ORDER BY rn) AS ra,
             list(CAST(8 - rel AS DOUBLE) / CAST(8 AS DOUBLE) ORDER BY rn)
               AS qa
      FROM graded GROUP BY c_nationkey
    )
    SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
           CAST(len(ra) AS BIGINT) AS n_ranked,
           CAST(FLOOR({_ERR_TERMS_DUCK} * 1000000) AS BIGINT) AS err_ppm
    FROM arrs
"""


@register("err_graded_ranking", _ERR_ORACLE)
def err_graded_ranking(spark, sf_dir):
    """Expected Reciprocal Rank (Chapelle et al. 2009) — the cascade-model
    graded ranking metric, next to retrieval_mrr_ndcg in the IR-eval
    family: per nation, the top-10 customers by exact spend-cents form the
    ranking; grades g ∈ {0..3} come from the integer spend quartile
    against the nation max; ERR = Σ_r (1/r)·R_r·Π_{i<r}(1−R_i) with
    R = (2^g−1)/8. Every relevance is an exact dyadic double, so the
    cascade products are exact and the single floor-to-ppm is
    engine-identical (the pass@k product discipline).

    Spark shape: one fact-keyed agg (partial map-side combine), one
    nation-partitioned window (never global), one nation agg. The per-row
    ERR fold is in-row HOF arithmetic — no Python, no extra shuffle."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    spend = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_nationkey", "o_custkey")
        .agg(
            F.sum(
                F.expr("CAST(ROUND(o_totalprice * 100) AS BIGINT)")
            )
            .cast("long")
            .alias("cents")
        )
    )
    w = Window.partitionBy("c_nationkey")
    topk = (
        spend.select(
            "c_nationkey",
            "o_custkey",
            "cents",
            F.row_number()
            .over(w.orderBy(F.desc("cents"), F.asc("o_custkey")))
            .alias("rn"),
            F.max("cents").over(w).alias("maxc"),
        )
        .where(F.col("rn") <= 10)
    )
    graded = topk.select(
        "c_nationkey",
        "rn",
        F.expr(
            "CASE (4 * cents) div (maxc + 1)"
            " WHEN 0 THEN 0 WHEN 1 THEN 1 WHEN 2 THEN 3 ELSE 7 END"
        ).alias("rel"),
    )
    arrs = graded.groupBy("c_nationkey").agg(
        F.expr(
            "transform(array_sort(collect_list(struct(rn, rel))),"
            " p -> CAST(p.rel AS BIGINT))"
        ).alias("ra"),
        F.expr(
            "transform(array_sort(collect_list(struct(rn, rel))),"
            " p -> CAST(8 - p.rel AS DOUBLE) / CAST(8 AS DOUBLE))"
        ).alias("qa"),
    )
    return arrs.select(
        F.col("c_nationkey").cast("long").alias("nationkey"),
        F.size("ra").cast("long").alias("n_ranked"),
        F.expr(
            f"CAST(FLOOR({_ERR_TERMS_SPARK} * 1000000) AS BIGINT)"
        ).alias("err_ppm"),
    )
