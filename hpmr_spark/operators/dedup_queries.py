"""Oracle-checked dedup + similarity queries (the LLM-pipeline centerpiece).

Oracle strategy: the DuckDB side computes ground truth BRUTE-FORCE (all-pairs
exact Jaccard / cosine / Hamming) — the engine side must reproduce it through
its scale path (inverted index, MinHash-LSH, SimHash bands, hyperplane LSH).
Thresholds use exact integer comparisons; where LSH is probabilistic the
parameters are chosen so the miss probability at the threshold is < 1e-9,
and the match is verified against the fixed test corpus.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hpmr_spark.catalog import register, _t
from hpmr_spark.engine import materialize
from hpmr_spark.functions.littables import values_df
from hpmr_spark.dedup.exact import dedup_exact
from hpmr_spark.dedup.minhash import minhash_dedup_pairs
from hpmr_spark.dedup.ngram import ngram_jaccard_pairs
from hpmr_spark.dedup.shingles import SQL_SHINGLE_CTE
from hpmr_spark.dedup.simhash import HAM_MAX, simhash_docs, simhash_near_pairs, sql_simhash_cte
from hpmr_spark.similarity.brute_force import cosine_topk, threshold_pairs
from hpmr_spark.similarity.lsh import ivf_topk, lsh_signature_pairs
from hpmr_spark.sources.tables import table_rows
from hpmr_spark.functions.hashing import sql_hash60
from hpmr_spark.functions.vectors import sql_cosine

# ---------------------------------------------------------------- exact dedup

@register(
    "dedup_exact_groups",
    """
    SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
           CAST(MIN(doc_id) AS BIGINT) AS keep_doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_copies
    FROM documents GROUP BY fp
    """,
)
def dedup_exact_groups(spark, sf_dir):
    """Exact dedup: hash-groupBy on normalized-text fingerprint."""
    return dedup_exact(_t(spark, sf_dir, "documents"))


# --------------------------------------------------------- n-gram Jaccard (exact)

_JACCARD_ORACLE = f"""
    WITH {SQL_SHINGLE_CTE}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS n_common,
           CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)) AS BIGINT) AS n_union
    FROM shingled a, shingled b
    WHERE a.doc_id < b.doc_id
      AND 100 * len(list_intersect(a.sh, b.sh))
          >= 90 * (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
"""


@register("dedup_ngram_jaccard", _JACCARD_ORACLE)
def dedup_ngram_jaccard(spark, sf_dir):
    """Exact 3-gram Jaccard ≥ 90% pairs via inverted-index join (no LSH)."""
    return ngram_jaccard_pairs(_t(spark, sf_dir, "documents"), threshold_pct=90)


@register("dedup_minhash_lsh", _JACCARD_ORACLE)
def dedup_minhash_lsh(spark, sf_dir):
    """MinHash(32 perms) + LSH(16 bands × 2 rows) + exact verify — must equal
    the brute-force oracle (miss prob ≈ 3e-12 per true pair at j=0.9).
    n_docs from footer metadata arms the size-aware join dispatch
    (VERDICT r7 item 2): ≤100k declared docs broadcast the bounded
    shingle/banded sides; unknown or larger stays merge-pinned."""
    return minhash_dedup_pairs(
        _t(spark, sf_dir, "documents"), threshold_pct=90, bands=16, rows=2,
        n_docs=table_rows(sf_dir, "documents"),
    )


# ------------------------------------------------------------------- simhash

@register(
    "dedup_simhash_docs",
    f"""
    WITH {SQL_SHINGLE_CTE},
    {sql_simhash_cte().strip()}
    SELECT doc_id, simhash FROM simhashed
    """,
)
def dedup_simhash_docs(spark, sf_dir):
    """Per-document 32-bit SimHash signature (unrolled majority vote)."""
    return simhash_docs(_t(spark, sf_dir, "documents"))


@register(
    "dedup_simhash_pairs",
    f"""
    WITH {SQL_SHINGLE_CTE},
    {sql_simhash_cte().strip().lstrip()}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM simhashed a, simhashed b
    WHERE a.doc_id < b.doc_id AND bit_count(xor(a.simhash, b.simhash)) <= {HAM_MAX}
    """,
)
def dedup_simhash_pairs(spark, sf_dir):
    """SimHash pairs with Hamming ≤ 3 via 4-byte banding (pigeonhole recall
    guarantee) + exact verification — equals brute force by construction."""
    return simhash_near_pairs(_t(spark, sf_dir, "documents"))


# ------------------------------------------------------ connected components

@register(
    "dedup_cluster_components",
    f"""
    WITH RECURSIVE {SQL_SHINGLE_CTE},
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM shingled a, shingled b
      WHERE a.doc_id < b.doc_id
        AND 100 * len(list_intersect(a.sh, b.sh))
            >= 90 * (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))),
    edges AS (
      SELECT doc_a AS s, doc_b AS d FROM pairs
      UNION SELECT doc_b AS s, doc_a AS d FROM pairs),
    reach AS (
      SELECT s, d FROM edges
      UNION
      SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s),
    comp AS (
      SELECT s AS node, least(s, MIN(d)) AS component
      FROM reach GROUP BY s)
    SELECT component AS representative,
           CAST(COUNT(*) AS BIGINT) AS cluster_size,
           array_to_string(list_sort(list(CAST(node AS VARCHAR))), ',') AS members
    FROM comp GROUP BY component
    """,
)
def dedup_cluster_components(spark, sf_dir):
    """True transitive dup clusters via iterative min-label propagation
    (driver-looped joins with convergence check) — the engine's iterative
    operator; oracle = DuckDB recursive-CTE transitive closure."""
    from hpmr_spark.dedup.components import dedup_clusters

    pairs = ngram_jaccard_pairs(_t(spark, sf_dir, "documents"), threshold_pct=90)
    return dedup_clusters(pairs)


# ------------------------------------------------- embedding cosine near-dup

_COS = sql_cosine("a.embedding", "b.embedding", 64)

@register(
    "dedup_embedding_cosine",
    f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b
    FROM embeddings a, embeddings b
    WHERE a.vec_id < b.vec_id AND {_COS} >= 0.45
    """,
)
def dedup_embedding_cosine(spark, sf_dir):
    """Embedding near-dup at a weak threshold (τ=0.45) — regime-aware
    dispatch: banding cannot prune at this τ (round-1 measured it DEGENERATE,
    40.8 s vs 6.8 s for minhash at sf0.01), so `cosine_pairs_auto` routes to
    the blocked-GEMM exact all-pairs path (cogrouped block pairs, one BLAS
    GEMM each). τ=0.45 fits this corpus (random vectors, max pairwise cosine
    ≈ 0.51; margin to the threshold ≈ 1e-3 ≫ float noise)."""
    from hpmr_spark.similarity.lsh import cosine_pairs_auto

    return cosine_pairs_auto(_t(spark, sf_dir, "embeddings"), threshold=0.45)


@register(
    "similarity_bruteforce_pairs",
    f"""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b
    FROM embeddings a, embeddings b
    WHERE a.vec_id < b.vec_id AND {_COS} >= 0.45
    """,
)
def similarity_bruteforce_pairs(spark, sf_dir):
    """Exact O(n²) threshold-pair baseline (the oracle's own algorithm,
    expressed in Spark) — correctness anchor for the LSH variant."""
    return threshold_pairs(_t(spark, sf_dir, "embeddings"), threshold=0.45)


_PERT = "((({h}) % 1000) - 500) * 0.00001"


def _sql_perturbed_cte() -> str:
    """Corpus ∪ perturbed copies: vec' = vec + tiny deterministic noise —
    near-dups at cosine ≈ 0.9999, engineered identically in both engines."""
    from hpmr_spark.functions.hashing import sql_hash60

    h = sql_hash60("CAST(vec_id AS VARCHAR) || '_' || CAST(i AS VARCHAR)")
    pert = _PERT.format(h=h)
    return f"""
  corpus AS (
    SELECT vec_id, list_transform(range(64), i -> CAST(embedding[i+1] AS DOUBLE)) AS v
    FROM embeddings
    UNION ALL
    SELECT vec_id + 10000 AS vec_id,
           list_transform(range(64), i -> CAST(embedding[i+1] AS DOUBLE) + {pert}) AS v
    FROM embeddings)
"""


@register(
    "similarity_planted_neardup_lsh",
    f"""
    WITH {_sql_perturbed_cte()}
    SELECT a.vec_id AS id_a, b.vec_id AS id_b
    FROM corpus a, corpus b
    WHERE a.vec_id < b.vec_id
      AND list_sum(list_transform(range(64), i -> a.v[i+1] * b.v[i+1]))
          >= 0.999 * sqrt(list_sum(list_transform(range(64), i -> a.v[i+1] * a.v[i+1])))
                   * sqrt(list_sum(list_transform(range(64), i -> b.v[i+1] * b.v[i+1])))
    """,
)
def similarity_planted_neardup_lsh(spark, sf_dir):
    """High-similarity ANN regime: each vector gets a perturbed twin
    (cos ≈ 0.9999); hyperplane LSH at rows=8 (sharp s-curve: P(candidate) at
    cos 0.9999 ≈ 1−(1−0.996⁸)⁸ ≈ 1−2e-12, while random pairs at cos ≤ 0.51
    almost never collide in 8 aligned bits) + exact verify at τ=0.999.
    This is where banded LSH beats brute force at scale — candidates ≈
    true pairs, not n²."""
    from hpmr_spark.functions.hashing import hash60
    from hpmr_spark.similarity.lsh import lsh_signature_pairs

    e = _t(spark, sf_dir, "embeddings")
    base = e.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )
    pert = e.select(
        (F.col("vec_id") + 10000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: x.cast("double")
            + (
                (
                    hash60(
                        F.concat(
                            F.col("vec_id").cast("string"), F.lit("_"), i.cast("string")
                        )
                    )
                    % 1000
                )
                - 500
            )
            * 0.00001,
        ).alias("v"),
    )
    corpus = base.unionByName(pert)
    return lsh_signature_pairs(
        corpus, threshold=0.999, rows=8, bands=8, id_col="vec_id", vec_col="v"
    )


# ------------------------------------------------------------ similarity topk

@register(
    "similarity_cosine_topk",
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings WHERE vec_id < 10),
         c AS (SELECT vec_id AS neighbor_id, embedding FROM embeddings)
    SELECT query_id, neighbor_id, rank FROM (
      SELECT q.query_id, c.neighbor_id,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY q.query_id
               ORDER BY {sql_cosine('q.embedding', 'c.embedding', 64)} DESC, c.neighbor_id
             ) AS BIGINT) AS rank
      FROM q, c WHERE q.query_id != c.neighbor_id)
    WHERE rank <= 10
    """,
)
def similarity_cosine_topk(spark, sf_dir):
    """Exact top-10 cosine neighbors for query vectors (vec_id < 10):
    broadcast queries × one corpus scan × per-query partial top-k."""
    e = _t(spark, sf_dir, "embeddings")
    return cosine_topk(e, e.where(F.col("vec_id") < 10), k=10)


# --- ANN recall gating (VERDICT r6 item 2: sketch-gating pattern) ---------
#
# An ANN shortlist is approximate by design, so its ids can never hash-match
# a SQL oracle. Instead each ANN query emits an oracle-REPRODUCIBLE result:
# the exact top-1 neighbor per query (SQL-expressible) plus a boolean recall
# gate -- 1000*|ANN intersect exact top-k| >= floor_permille*|exact top-k| in
# integer cross-multiplication. The oracle pins (query_id, exact_top1, TRUE);
# a recall regression flips the boolean and the value hash goes red.
#
# The committed floors are WEAK-REGIME floors for THIS corpus: the parquet
# embeddings are isotropic random vectors, where no bucketed ANN can achieve
# high recall (measured aggregates: IVF 360-520 permille, trained 510-580,
# IVF-PQ 300-520 across sf0.001/0.01/0.1). The STRONG >=900 contract is
# asserted on the clustered pytest fixture (tests/test_dedup.py recall >=
# 0.9), where ANN is actually supposed to work. Like the LSH constants, the
# floors are commitments: re-verify with selfcheck if the test data changes.

_ANN_GATE_ORACLE = f"""
    WITH q AS (SELECT vec_id AS query_id, embedding FROM embeddings
               WHERE vec_id < 10),
         c AS (SELECT vec_id AS neighbor_id, embedding FROM embeddings)
    SELECT query_id, neighbor_id AS exact_top1, TRUE AS recall_floor_ok
    FROM (
      SELECT q.query_id, c.neighbor_id,
             ROW_NUMBER() OVER (
               PARTITION BY q.query_id
               ORDER BY {sql_cosine('q.embedding', 'c.embedding', 64)} DESC,
                        c.neighbor_id
             ) AS rn
      FROM q, c WHERE q.query_id != c.neighbor_id)
    WHERE rn = 1
"""


def _ann_recall_gated(
    e, ann_df, k: int, floor_permille: int, queries=None,
    gate_col: str = "recall_floor_ok", materialize: bool = False,
):
    """Wrap an ANN shortlist into the gated-oracle shape: one row per query
    (query_id, exact_top1, <gate_col>). Declarative throughout --
    the hit count rides a 1-row broadcast, no driver collect.

    materialize=True (r9 stage diet): the default shape consumes the exact
    top-k frame THREE times (top1 + hits + tot -- no cross-tree CSE), so
    the ann+exact pipeline re-executes per consumer. The materialized path
    marks ANN hits on the exact frame once, folds everything to one
    |queries|-row frame, and eagerly localCheckpoints it -- ONE execution
    of the whole pipeline, bounded checkpoint (callers using it must sit in
    plan_snapshot SKIP: checkpoint at build)."""
    if queries is None:
        queries = e.where(F.col("vec_id") < 10)
    exact = cosine_topk(e, queries, k=k)
    if materialize:
        marked = exact.join(
            ann_df.select("query_id", "neighbor_id")
            .distinct()
            .withColumn("_hit", F.lit(1)),
            ["query_id", "neighbor_id"],
            "left",
        )
        pq = (
            marked.groupBy("query_id")
            .agg(
                # rank is a per-query row_number -> unique -> deterministic
                F.min_by("neighbor_id", "rank").alias("exact_top1"),
                F.sum(F.coalesce(F.col("_hit"), F.lit(0)))
                .cast("long")
                .alias("h"),
                F.count(F.lit(1)).cast("long").alias("t"),
            )
            .coalesce(1)
            .localCheckpoint(eager=True)
        )
        gate = pq.agg(
            (
                F.sum("h") * 1000 >= F.lit(floor_permille) * F.sum("t")
            ).alias(gate_col)
        )
        return pq.select("query_id", "exact_top1").crossJoin(F.broadcast(gate))
    top1 = exact.where(F.col("rank") == 1).select(
        "query_id", F.col("neighbor_id").alias("exact_top1")
    )
    hits = (
        ann_df.select("query_id", "neighbor_id")
        # .distinct() so a shortlist that ever emitted duplicate
        # (query_id, neighbor_id) rows cannot double-count hits and pass
        # the recall floor spuriously (ADVICE r7 — latent; current
        # implementations emit distinct ranked rows)
        .distinct()
        .join(exact.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"])
        .agg(F.count(F.lit(1)).cast("long").alias("h"))
    )
    tot = exact.agg(F.count(F.lit(1)).cast("long").alias("t"))
    gate = hits.crossJoin(tot).select(
        (F.col("h") * 1000 >= F.lit(floor_permille) * F.col("t")).alias(gate_col)
    )
    return top1.crossJoin(F.broadcast(gate))


@register("similarity_ivf_topk", _ANN_GATE_ORACLE)
def similarity_ivf_topk(spark, sf_dir):
    """IVF-style ANN top-k (coarse hyperplane cells, Hamming-1 probes),
    emitted in the gated-oracle shape: exact top-1 per query + committed
    aggregate recall floor (250 permille -- weak-regime isotropic corpus;
    the >=0.9 clustered contract lives in tests/test_dedup.py)."""
    e = _t(spark, sf_dir, "embeddings")
    ann = ivf_topk(e, e.where(F.col("vec_id") < 10), k=10)
    return _ann_recall_gated(e, ann, k=10, floor_permille=250)


@register("similarity_ivf_trained_topk", _ANN_GATE_ORACLE)
def similarity_ivf_trained_topk(spark, sf_dir):
    """TRAINED IVF ANN top-k: 2 deterministic k-means iterations build
    data-adaptive coarse cells (vs similarity_ivf_topk's data-blind
    hyperplane cells); queries probe their 2 nearest centroids only.
    Gated-oracle shape with a committed 400-permille aggregate recall
    floor (isotropic corpus; >=0.9 on the clustered fixture is asserted
    in tests/test_dedup.py::test_ivf_trained_recall_clustered)."""
    from hpmr_spark.similarity.lsh import ivf_topk_trained

    e = _t(spark, sf_dir, "embeddings")
    ann = ivf_topk_trained(e, e.where(F.col("vec_id") < 10), k=10, n_cells=8)
    return _ann_recall_gated(e, ann, k=10, floor_permille=400)


@register("ivfpq_topk_search", _ANN_GATE_ORACLE)
def ivfpq_topk_search(spark, sf_dir):
    """IVF-PQ composed end-to-end (similarity/ivfpq.py): trained coarse
    cells route queries to n_probe=2 of 8 cells; corpus residuals are
    PQ-encoded (8 subspaces x 16 codes = 4 bytes/vector); ADC scores the
    probed cells' CODES against per-query integer LUTs; the shortlist is
    re-ranked with exact cosine. Gated-oracle shape with a committed
    250-permille aggregate recall floor (isotropic corpus; >=0.9 on the
    clustered fixture is asserted in
    tests/test_dedup.py::test_ivfpq_recall_clustered)."""
    from hpmr_spark.similarity.ivfpq import ivfpq_topk

    e = _t(spark, sf_dir, "embeddings")
    ann = ivfpq_topk(e, e.where(F.col("vec_id") < 10), k=10, n_cells=8)
    return _ann_recall_gated(e, ann, k=10, floor_permille=250, materialize=True)


# ----------------- clustered-corpus STRONG recall gate (VERDICT r7 item 3)
#
# The three gated ANN rows above assert weak-regime floors (250-400
# permille) because the parquet embeddings are isotropic random vectors --
# the regime where NO bucketed ANN can achieve high recall. The >=0.9
# STRONG contract (the number a user actually cares about) lived only in
# pytest on the clustered fixture. This query promotes it to a
# driver-checkable oracle row: the clustered corpus is synthesized
# DETERMINISTICALLY AND IDENTICALLY in both engines from committed md5
# integer arithmetic (no parquet write, no RNG) -- 40 tight clusters x 50
# vectors x 64 dims; components are exact (center + noise)/1e6 doubles, so
# corpus parity is bit-exact (verified: 0/2000 mismatches) and the exact
# top-1 ordering agrees engine-to-engine. IVF-PQ (16 cells, 2 probes,
# trained centroids + residual PQ + ADC + exact refine) must reach recall
# >= 900 permille vs the exact top-10; measured 1000 permille on this
# corpus -- a 100-permille commitment margin (k-means float means are
# order-sensitive and only STEER the index, so the margin is what makes the
# boolean partition-invariant, same discipline as the LSH constants).

_GATE_N_CLUSTERS = 40
_GATE_PER_CLUSTER = 50
_GATE_DIM = 64
_GATE_N = _GATE_N_CLUSTERS * _GATE_PER_CLUSTER


from hpmr_spark.functions.hashing import spark_sql_hash60 as _spark_h60


def _gate_corpus_sql_spark() -> str:
    c = _spark_h60(
        "concat('ivfgate_c|', CAST(id DIV 50 AS STRING), '|', CAST(d AS STRING))"
    )
    n = _spark_h60("concat('ivfgate_n|', CAST(id AS STRING), '|', CAST(d AS STRING))")
    return f"""
    SELECT id AS vec_id,
      transform(sequence(0, {_GATE_DIM - 1}), d ->
        CAST(({c} % 2000001) - 1000000 + ({n} % 40001) - 20000 AS DOUBLE)
        / 1000000.0D
      ) AS embedding
    FROM range({_GATE_N})
    """


def _gate_corpus_cte_duckdb() -> str:
    c = sql_hash60(
        "'ivfgate_c|' || CAST(id // 50 AS VARCHAR) || '|' || CAST(d AS VARCHAR)"
    )
    n = sql_hash60("'ivfgate_n|' || CAST(id AS VARCHAR) || '|' || CAST(d AS VARCHAR)")
    return f"""
    ids AS (SELECT range AS id FROM range({_GATE_N})),
    gate_corpus AS MATERIALIZED (
      SELECT id AS vec_id,
        list_transform(range(0, {_GATE_DIM}), d ->
          CAST(({c} % 2000001) - 1000000 + ({n} % 40001) - 20000 AS DOUBLE)
          / 1000000.0
        ) AS embedding
      FROM ids)
    """


_GATE_ORACLE = f"""
    WITH {_gate_corpus_cte_duckdb()},
    q AS (SELECT vec_id AS query_id, embedding FROM gate_corpus
          WHERE vec_id % 100 = 0)
    SELECT query_id, neighbor_id AS exact_top1, TRUE AS strong_recall_ok
    FROM (
      SELECT q.query_id, c.neighbor_id,
             ROW_NUMBER() OVER (
               PARTITION BY q.query_id
               ORDER BY {sql_cosine('q.embedding', 'c.embedding', _GATE_DIM)} DESC,
                        c.neighbor_id
             ) AS rn
      FROM q, (SELECT vec_id AS neighbor_id, embedding FROM gate_corpus) c
      WHERE q.query_id != c.neighbor_id)
    WHERE rn = 1
"""


@register("ivfpq_recall_clustered_gate", _GATE_ORACLE)
def ivfpq_recall_clustered_gate(spark, sf_dir):
    """STRONG-regime ANN recall contract as an oracle-pinned row (VERDICT
    r7 item 3): on a deterministic committed-hash clustered corpus (the
    regime IVF-PQ is built for), the full IVF-PQ pipeline
    (similarity/ivfpq.py: trained coarse cells -> residual PQ -> ADC ->
    exact refine) must achieve recall@10 >= 900 permille vs the exact
    top-10 over 20 queries. The oracle pins each query's exact top-1 plus
    strong_recall_ok = TRUE -- a recall regression flips the boolean and
    the value hash goes red (reference analog: golden-value assertions,
    src/dist_map_test.cc:86-87). Corpus is persisted (feeds training,
    encode, and the exact baseline) => plan_snapshot SKIP."""
    from pyspark import StorageLevel

    from hpmr_spark.similarity.ivfpq import ivfpq_topk

    c = materialize(spark.sql(_gate_corpus_sql_spark()), StorageLevel.MEMORY_AND_DISK)
    q = c.where(F.col("vec_id") % 100 == 0)
    ann = ivfpq_topk(c, q, k=10, n_cells=16, n_probe=2)
    return _ann_recall_gated(
        c, ann, k=10, floor_permille=900, queries=q, gate_col="strong_recall_ok"
    )


_CONTAINMENT_ORACLE = f"""
    WITH {SQL_SHINGLE_CTE}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS n_common,
           CAST(LEAST(len(a.sh), len(b.sh)) AS BIGINT) AS n_min
    FROM shingled a, shingled b
    WHERE a.doc_id < b.doc_id
      AND 100 * len(list_intersect(a.sh, b.sh))
          >= 70 * LEAST(len(a.sh), len(b.sh))
"""


@register("dedup_containment_pairs", _CONTAINMENT_ORACLE)
def dedup_containment_pairs(spark, sf_dir):
    """Exact 3-gram CONTAINMENT ≥ 70% pairs (smaller-side overlap — the
    quote/subset duplication Jaccard misses) via one-sided prefix-filtered
    inverted index + full-array verify; oracle is the brute-force twin."""
    from hpmr_spark.dedup.ngram import containment_pairs

    return containment_pairs(_t(spark, sf_dir, "documents"), threshold_pct=70)


# ------------------------------------------------- threshold sweep (round 6)

_SWEEP_THRESHOLDS = (70, 80, 90)

# Exact-regime corpus ceiling. The round-6 scale probe measured the exact
# prefix-filtered sweep SUPER-LINEAR on repetitive corpora (17 s → 98 s for
# 3× docs at 60K docs; a doc-unique Zipf tail does not save it, because the
# prefix still admits common shingles whose df grows linearly with corpus
# size, making the candidate join Σ df² ~ n²). Past this ceiling the right
# tool is MinHash-LSH banding + exact verify (dedup_minhash_lsh), whose
# candidate volume is governed by the band-collision probability, not df² —
# same explicit-routing philosophy as GEMM_N_CEILING in
# similarity/vectorized.py (raise loudly, never silently run O(n²)).
SWEEP_N_CEILING = 1_000_000

_SWEEP_ORACLE = f"""
    WITH {SQL_SHINGLE_CTE},
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(len(list_intersect(a.sh, b.sh)) AS BIGINT) AS n_common,
             CAST(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))
                  AS BIGINT) AS n_union
      FROM shingled a, shingled b
      WHERE a.doc_id < b.doc_id
        AND 100 * len(list_intersect(a.sh, b.sh))
            >= 70 * (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)))
    ),
    th AS (SELECT unnest([{", ".join(str(t) for t in _SWEEP_THRESHOLDS)}]) AS t),
    hit AS (
      SELECT th.t, p.doc_a, p.doc_b
      FROM pairs p JOIN th ON 100 * p.n_common >= th.t * p.n_union
    ),
    docs_hit AS (
      SELECT t, doc_a AS d FROM hit UNION SELECT t, doc_b FROM hit
    )
    SELECT CAST(h.t AS BIGINT) AS threshold_pct,
           CAST(h.n_pairs AS BIGINT) AS n_pairs,
           CAST(d.n_docs AS BIGINT) AS n_docs
    FROM (SELECT t, COUNT(*) AS n_pairs FROM hit GROUP BY t) h
    JOIN (SELECT t, COUNT(*) AS n_docs FROM docs_hit GROUP BY t) d
      ON d.t = h.t
"""


@register("dedup_threshold_sweep", _SWEEP_ORACLE)
def dedup_threshold_sweep(spark, sf_dir):
    """Dedup threshold TUNING curve — the report a corpus curator reads
    before committing a Jaccard cutoff: exact pair and affected-document
    counts at θ ∈ {{70, 80, 90}}%, from ONE prefix-filtered pass at the
    loosest threshold (every θ ≥ 70 pair is a subset — candidates are
    generated once, each surviving pair is bucketed by integer
    cross-multiplication 100·inter ≥ θ·union, never a float ratio), so
    at 100 TB the sweep costs the same as a single θ=70 dedup run.

    The floor is DELIBERATELY 70: PPJoin prefix length is (1−θ)·|A|+1,
    so a θ=50 exact sweep indexes HALF of every doc's shingles and the
    candidate join volume (Σ df² over indexed shingles) grows
    quadratically — the round-6 scale probe measured 25 s → 171 s for
    3× docs on a repetitive-vocab corpus before this floor was raised.
    And because common-shingle df grows linearly with corpus size on ANY
    corpus, the exact path carries a hard SWEEP_N_CEILING (1M docs): past
    it the query raises with a routing message to dedup_minhash_lsh
    rather than silently running a quadratic join (the
    GEMM_N_CEILING/cosine_pairs_auto discipline). One bounded count() at
    build enforces it (⟹ plan_snapshot SKIP)."""
    docs = _t(spark, sf_dir, "documents")
    n_docs = docs.count()
    if n_docs > SWEEP_N_CEILING:
        raise ValueError(
            f"dedup_threshold_sweep: corpus has {n_docs} docs > "
            f"SWEEP_N_CEILING={SWEEP_N_CEILING}. Exact prefix-filtered "
            "pair enumeration is super-linear at this scale (candidate "
            "volume ~ sum df^2); run dedup_minhash_lsh per threshold "
            "(banded MinHash + exact verify) instead."
        )
    pairs = ngram_jaccard_pairs(docs, threshold_pct=70)
    th = values_df(
        spark, [(t,) for t in _SWEEP_THRESHOLDS], "t int"
    )
    hit = pairs.join(
        F.broadcast(th),
        F.lit(100) * F.col("n_common") >= F.col("t") * F.col("n_union"),
    )
    np_ = hit.groupBy("t").agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    docs_hit = hit.select("t", F.col("doc_a").alias("d")).unionAll(
        hit.select("t", F.col("doc_b").alias("d"))
    )
    nd = docs_hit.groupBy("t").agg(
        F.countDistinct("d").cast("long").alias("n_docs")
    )
    return (
        np_.join(nd, "t")
        .select(
            F.col("t").cast("long").alias("threshold_pct"), "n_pairs", "n_docs"
        )
    )


# -------------------- SemDeDup with TRAINED centroids (VERDICT r7 item 5)
#
# Abbas et al. 2023 (arXiv:2303.09540): k-means-cluster the embedding
# corpus, prune within-cluster pairs above a cosine threshold, KEEP the
# representative closest to the cluster centroid. semdedup_cell_prune
# (below) delivers the within-cell prune with data-BLIND hyperplane cells
# and a keep-lowest-id rule; this operator delivers the paper's actual
# recipe: data-ADAPTIVE trained centroids and the centroid-nearest keep
# rule. Training is one exact INTEGER Lloyd step (seeds = lowest committed
# hash60; assignment by exact integer squared-L2 on row-quantized micros;
# centroid update = per-dim SUM div COUNT — truncating integer division,
# identical in both engines) rather than similarity/lsh.train_centroids'
# float means: float centroid sums are order-sensitive, and here the
# centroids decide PRUNE VERDICTS (not just index routing), so they must be
# partition-invariant and oracle-expressible. Every number in the pipeline
# is an exact integer; the census is hash-checked end to end.
#
# Scale: the within-cell pair join costs Σ|cell|² — linear in corpus size
# when the cluster count grows with the corpus so occupancy stays bounded
# (the paper trains ~100k clusters for billions of vectors; assignment then
# routes through the IVF machinery instead of 8 literal centroids). The
# round-8 scale probe (SCALE.md round-8 probes, SemDeDup table) measures
# exactly that: within-cell candidate pairs track occupancy, not n².

_SEMC_K = 8
_SEMC_SALT = "semdedup:"
_SEMC_TAU_SQ_BP = 2025  # same τ = 0.45 commitment as semdedup_cell_prune below


def _semc_d2_text(v: str, arr: list[int]) -> str:
    a = "array(" + ",".join(str(int(x)) for x in arr) + ")"
    return (
        f"aggregate(zip_with({v},{a},(a,b)->(a-b)*(a-b)),"
        f"CAST(0 AS BIGINT),(acc,x)->acc+x)"
    )


_SEMC_MICROS = (
    "transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000)"
    " AS BIGINT))"
)

# DuckDB twins of the integer pipeline (lambda vars _k/_x to avoid outer
# shadowing). d2/dot folds over 1-based list indexes.
_DUCK_D2 = (
    "list_sum(list_transform(range(1, 65), _k -> ({a}[_k] - {b}[_k])"
    " * ({a}[_k] - {b}[_k])))"
)
_DUCK_DOT = "list_sum(list_transform(range(1, 65), _k -> {a}[_k] * {b}[_k]))"

_SEMC_ORACLE = f"""
    WITH vi AS MATERIALIZED (
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
      SELECT vec_id, v, cell, d2 AS d2c,
             {_DUCK_DOT.format(a='v', b='v')} AS n2
      FROM (
        SELECT vi.vec_id, vi.v, c.cell,
               {_DUCK_D2.format(a='vi.v', b='c.cv')} AS d2,
               ROW_NUMBER() OVER (
                 PARTITION BY vi.vec_id
                 ORDER BY {_DUCK_D2.format(a='vi.v', b='c.cv')}, c.cell) AS rn
        FROM vi, cents c) WHERE rn = 1
    ),
    pairs AS (
      SELECT b.vec_id AS idb,
             {_DUCK_DOT.format(a='a.v', b='b.v')} AS d,
             a.n2 AS na2, b.n2 AS nb2
      FROM a2 a JOIN a2 b
        ON a.cell = b.cell
       AND (a.d2c < b.d2c OR (a.d2c = b.d2c AND a.vec_id < b.vec_id))
    ),
    pruned AS (
      SELECT DISTINCT idb AS vec_id FROM pairs
      WHERE d > 0
        AND CAST(d AS HUGEINT) * d * 10000 >= {_SEMC_TAU_SQ_BP}
            * CAST(na2 AS HUGEINT) * nb2
    )
    SELECT CAST(c.cell AS BIGINT) AS cell,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(SUM(CASE WHEN p.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_pruned,
           CAST(SUM(CASE WHEN p.vec_id IS NULL THEN c.vec_id ELSE 0 END)
                AS BIGINT) AS kept_id_sum
    FROM a2 c LEFT JOIN pruned p ON p.vec_id = c.vec_id
    GROUP BY c.cell
"""


@register("semdedup_centroid_prune", _SEMC_ORACLE)
def semdedup_centroid_prune(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023) with TRAINED centroids: one exact
    integer Lloyd step (committed-hash seeds → integer-L2 assignment →
    per-dim truncating-mean update) clusters the corpus; within each
    cluster every vector with a MORE-centroid-near neighbor above the
    cosine threshold (int128 cross-multiplied, τ = 0.45) is pruned, so the
    survivor of each near-dup group is the centroid-nearest representative
    — the paper's keep rule, fully deterministic. Emits the per-cell
    census (vectors, pruned, kept-id checksum), hash-checked.

    Spark shape: two bounded collects (8 seed vectors; 8×64 centroid ints)
    broadcast as literals; assignment is one corpus scan with an
    array_min-over-structs argmin (no shuffle of embeddings); the pair
    join is within-cell and merge-hinted (corpus-scale frames never
    broadcast — the round-7 rule). Persisted assign frame feeds the pair
    join twice + the census ⟹ plan_snapshot SKIP."""
    from pyspark import StorageLevel

    from hpmr_spark.functions.hashing import hash60

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
    a2 = materialize(vi.select(
        "vec_id",
        "v",
        mn.getField("cell").cast("long").alias("cell"),
        mn.getField("d2").alias("d2c"),
        F.expr(
            "aggregate(zip_with(v,v,(a,b)->a*b),CAST(0 AS BIGINT),(acc,x)->acc+x)"
        ).alias("n2"),
    ), StorageLevel.MEMORY_AND_DISK)

    a = a2.select(
        F.col("cell").alias("cell"),
        F.col("vec_id").alias("ida"),
        F.col("v").alias("va"),
        F.col("d2c").alias("d2a"),
        F.col("n2").alias("na2"),
    )
    b = a2.select(
        F.col("cell").alias("cellb"),
        F.col("vec_id").alias("idb"),
        F.col("v").alias("vb"),
        F.col("d2c").alias("d2b"),
        F.col("n2").alias("nb2"),
    )
    dot = F.expr(
        "aggregate(zip_with(va,vb,(a,b)->a*b),CAST(0 AS BIGINT),(acc,x)->acc+x)"
    )
    pruned = (
        a.hint("merge")
        .join(
            b,
            (F.col("cell") == F.col("cellb"))
            & (
                (F.col("d2a") < F.col("d2b"))
                | ((F.col("d2a") == F.col("d2b")) & (F.col("ida") < F.col("idb")))
            ),
        )
        .select(F.col("idb").alias("vec_id"), dot.alias("d"), "na2", "nb2")
        .where(
            (F.col("d") > 0)
            & (
                F.col("d").cast("decimal(38,0)") * F.col("d") * 10000
                >= F.lit(_SEMC_TAU_SQ_BP)
                * F.col("na2").cast("decimal(38,0)")
                * F.col("nb2")
            )
        )
        .select("vec_id")
        .distinct()
        .withColumn("is_pruned", F.lit(1))
    )
    return (
        a2.join(pruned, "vec_id", "left_outer")
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vectors"),
            F.sum(F.coalesce(F.col("is_pruned"), F.lit(0)))
            .cast("long")
            .alias("n_pruned"),
            F.sum(
                F.when(F.col("is_pruned").isNull(), F.col("vec_id")).otherwise(0)
            )
            .cast("long")
            .alias("kept_id_sum"),
        )
    )


# ------------------------------------------- SemDeDup-style prune (round 6)

# 4 committed hyperplanes, INTEGER-quantized (round(p·1e6)) so the cell
# sign bits are exact integer dots — a float plane dot near zero could
# flip sign between engines; integers cannot.
_SEM_BITS = 4
_SEM_TAU_SQ_BP = 2025  # τ = 0.45 ⟹ τ² = 0.2025 = 2025 / 10^4 (basis points)


def _sem_planes_int():
    from hpmr_spark.similarity.lsh import PLANES

    return [
        [int(round(x * 1_000_000)) for x in PLANES[b]] for b in range(_SEM_BITS)
    ]


def _sem_oracle() -> str:
    planes = _sem_planes_int()
    bit_terms = []
    for b, plane in enumerate(planes):
        arr = "[" + ", ".join(str(x) for x in plane) + "]"
        bit_terms.append(
            f"(CASE WHEN list_sum(list_transform(range(1, 65),"
            f" _pk -> v[_pk] * ({arr})[_pk])) > 0 THEN {1 << b} ELSE 0 END)"
        )
    cell_expr = " + ".join(bit_terms)
    return f"""
    WITH vi AS MATERIALIZED (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS v
      FROM embeddings
    ),
    celled AS MATERIALIZED (
      SELECT vec_id, v, CAST({cell_expr} AS BIGINT) AS cell FROM vi
    ),
    pruned AS (
      SELECT DISTINCT b.vec_id
      FROM celled a JOIN celled b
        ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE list_sum(list_transform(range(1, 65), _pk -> a.v[_pk] * b.v[_pk])) > 0
        AND CAST(list_sum(list_transform(range(1, 65),
                 _pk -> a.v[_pk] * b.v[_pk])) AS HUGEINT)
            * list_sum(list_transform(range(1, 65), _pk -> a.v[_pk] * b.v[_pk]))
            * 10000
            >= {_SEM_TAU_SQ_BP}
               * CAST(list_sum(list_transform(range(1, 65),
                      _pk -> a.v[_pk] * a.v[_pk])) AS HUGEINT)
               * list_sum(list_transform(range(1, 65), _pk -> b.v[_pk] * b.v[_pk]))
    )
    SELECT c.cell,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(SUM(CASE WHEN p.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_pruned,
           CAST(SUM(CASE WHEN p.vec_id IS NULL THEN c.vec_id ELSE 0 END)
                AS BIGINT) AS kept_id_sum
    FROM celled c LEFT JOIN pruned p ON p.vec_id = c.vec_id
    GROUP BY c.cell
"""


@register("semdedup_cell_prune", _sem_oracle())
def semdedup_cell_prune(spark, sf_dir):
    """SemDeDup-style semantic dedup: coarse-cluster the embedding corpus,
    then inside each cluster greedily PRUNE every vector that has a
    lower-id neighbor above the cosine threshold (the paper's
    keep-one-per-near-dup-group rule, made deterministic by the id
    order). Cells are 4 committed INTEGER-quantized hyperplane sign bits
    (a float plane-dot near zero could flip sign between engines;
    integer dots cannot), and the threshold is decided by int128
    cross-multiplication dot²·10⁴ ≥ 2025·|a|²·|b|² with dot > 0
    (τ = 0.45; products ≤ ~10³⁴, inside DECIMAL(38,0)/HUGEINT) — even
    the prune decisions are exact and hash-checked.

    Scale: within-cell all-pairs costs Σ|cell|² — the paper's own shape,
    LINEAR in corpus size when the cluster count grows with the corpus so
    |cell| stays bounded (here: raise _SEM_BITS; each bit halves expected
    cell size). Report = per-cell census: vectors, pruned, kept-id
    checksum."""
    planes = _sem_planes_int()
    e = _t(spark, sf_dir, "embeddings")
    vi = e.select(
        "vec_id",
        F.expr(
            "transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000)"
            " AS BIGINT))"
        ).alias("v"),
    )
    dot = (
        "aggregate(zip_with({a}, {b}, (_x, _y) -> _x * _y),"
        " CAST(0 AS BIGINT), (_acc, _z) -> _acc + _z)"
    )
    cell = None
    for b, plane in enumerate(planes):
        arr = "array(" + ", ".join(str(x) for x in plane) + ")"
        bit = F.expr(
            f"CASE WHEN {dot.format(a='v', b=arr)} > 0 THEN {1 << b} ELSE 0 END"
        )
        cell = bit if cell is None else cell + bit
    celled = vi.select("vec_id", "v", cell.cast("long").alias("cell"))
    a = celled.select(
        F.col("cell").alias("cell"),
        F.col("vec_id").alias("ida"),
        F.col("v").alias("va"),
    )
    b_ = celled.select(
        F.col("cell").alias("cellb"),
        F.col("vec_id").alias("idb"),
        F.col("v").alias("vb"),
    )
    d_ab = F.expr(dot.format(a="va", b="vb"))
    na2 = F.expr(dot.format(a="va", b="va"))
    nb2 = F.expr(dot.format(a="vb", b="vb"))
    pruned = (
        a.join(b_, (a["cell"] == b_["cellb"]) & (a["ida"] < b_["idb"]))
        .where(
            (d_ab > 0)
            & (
                d_ab.cast("decimal(38,0)") * d_ab * 10000
                >= F.lit(_SEM_TAU_SQ_BP) * na2.cast("decimal(38,0)") * nb2
            )
        )
        .select(F.col("idb").alias("vec_id"))
        .distinct()
        .withColumn("is_pruned", F.lit(1))
    )
    return (
        celled.join(pruned, "vec_id", "left_outer")
        .groupBy("cell")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vectors"),
            F.sum(F.coalesce(F.col("is_pruned"), F.lit(0)))
            .cast("long")
            .alias("n_pruned"),
            F.sum(
                F.when(F.col("is_pruned").isNull(), F.col("vec_id")).otherwise(0)
            )
            .cast("long")
            .alias("kept_id_sum"),
        )
    )
