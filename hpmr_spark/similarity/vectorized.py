"""Arrow-vectorized similarity — the numpy/BLAS path for dense vector math.

The JVM higher-order-function path (brute_force.py) keeps everything in
Catalyst; for dense linear algebra at production scale the winning layout is
Arrow batches → numpy matmul (one BLAS GEMM per ~10K-row batch instead of
per-row expression folds). This module is that path: queries broadcast as a
numpy matrix, corpus streams through mapInPandas.

Approximation note: float32 BLAS accumulation differs from the JVM's double
fold in the last bits, so this path is registered rows-only; rank agreement
with the exact path is asserted in tests (identical on this corpus — gaps
between neighbors ≫ float32 noise).
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def _angular_block(vec_col, n_blocks: int):
    """Ordered angular block id from the cosine to a COMMITTED pivot (the
    normalized all-ones direction): alpha = Σvᵢ / (‖v‖·√d), bucket equi-width
    over [-1, 1]. A pure per-row function — deterministic under any
    partitioning (zero vectors pin to bucket 0)."""
    from hpmr_spark.functions.vectors import norm

    s = F.aggregate(
        F.transform(vec_col, lambda x: x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    nrm = norm(vec_col)
    alpha = F.when(nrm == 0.0, F.lit(0.0)).otherwise(
        s / (nrm * F.sqrt(F.size(vec_col).cast("double")))
    )
    blk = F.floor((alpha + 1.0) / 2.0 * n_blocks).cast("int")
    return alpha, F.least(F.lit(n_blocks - 1), F.greatest(F.lit(0), blk))


def allowed_block_pairs(
    v: DataFrame, threshold: float, n_blocks: int
) -> DataFrame:
    """Exact angular block-pair pruning (the spherical analogue of DIMSUM's
    magnitude bound — after normalization every ‖v‖ is 1, so norm products
    bound nothing; what does bound is the pivot triangle inequality):

        θ(a,b) ≥ |θ(a,p) − θ(b,p)|  ⟹  cos(a,b) ≤ cos(θa − θb)

    Per block keep the EXACT empirical [min α, max α] (order statistics —
    no float-sum order sensitivity); a block pair (i ≤ j, α ascending) is
    provably below τ iff its minimum angular gap acos(αmax_i) − acos(αmin_j)
    exceeds acos(τ). A 1e-9 slack absorbs float acos/cos rounding, so a true
    pair can never be skipped. Returns the (bi, bj) pairs that MUST be
    compared; the complement is skipped before any shuffle."""
    stats = v.groupBy("blk").agg(
        F.min("alpha").alias("amin"), F.max("alpha").alias("amax")
    )
    a = stats.select(
        F.col("blk").alias("bi"), F.col("amin").alias("amin_i"),
        F.col("amax").alias("amax_i"),
    )
    b = stats.select(
        F.col("blk").alias("bj"), F.col("amin").alias("amin_j"),
        F.col("amax").alias("amax_j"),
    )
    pairs = a.join(F.broadcast(b), F.col("bi") <= F.col("bj"))
    # bi ≤ bj ⟹ block i sits at lower α (higher θ). Angle ranges overlap
    # iff amax_i ≥ amin_j → bound 1 (never skipped); otherwise the minimum
    # gap is acos(amax_i) − acos(amin_j) and its cosine expands to the
    # acos/cos-free closed form
    #   cos(θ₁−θ₂) = amax_i·amin_j + √(1−amax_i²)·√(1−amin_j²)
    # — only *, + and IEEE-correctly-rounded sqrt, so the bound is
    # bit-identical in any engine (the oracle-checkable form;
    # gemm_block_prune_report pins it against DuckDB).
    bound = F.when(F.col("amax_i") >= F.col("amin_j"), F.lit(1.0)).otherwise(
        F.col("amax_i") * F.col("amin_j")
        + F.sqrt(1.0 - F.col("amax_i") * F.col("amax_i"))
        * F.sqrt(1.0 - F.col("amin_j") * F.col("amin_j"))
    )
    return pairs.where(bound >= F.lit(threshold) - F.lit(1e-9)).select("bi", "bj")


def threshold_pairs_gemm(
    corpus: DataFrame,
    threshold: float,
    n_blocks: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact all-pairs cosine ≥ threshold via angularly blocked GEMM with
    provable block-pair pruning — the correct weak-threshold path.

    Below τ ≈ 0.7 hyperplane banding cannot prune (per-bit agreement
    probability is too high — nearly every pair becomes an LSH candidate, so
    the "scale path" silently degenerates to a worse-than-brute-force cross
    join). Exact weak-τ similarity join is inherently O(n²·d) in the worst
    case; the engineering response here is two-fold:

    - make the n² term COMPUTE-bound (one BLAS GEMM per block pair) instead
      of shuffle/candidate-bound: each unordered block pair (i ≤ j) is one
      grouped-map task — no cross join, no candidate explosion; replication
      per row ≤ n_blocks+1, so shuffled bytes are ≤ n·(B+1)·d — linear in n;
    - SKIP provably-sub-threshold block pairs exactly (`allowed_block_pairs`):
      blocks are angular buckets around a committed pivot, and the pivot
      triangle inequality upper-bounds every cross-block cosine; skipped
      pairs never shuffle. On clustered corpora (the realistic production
      shape) this removes most of the grid; on an ISOTROPIC random corpus at
      weak τ no exact low-rank bound can fire — the residual Cauchy-Schwarz
      term of any few-pivot decomposition is ≈ √(1−k/d) ≈ 1, so every block
      pair is genuinely reachable. That is a property of the problem, not
      the plan (tests/test_dedup.py pins both regimes: skips > 0 and
      GEMM ≡ brute force on a clustered fixture; zero skips tolerated, with
      results still exact, on the random corpus).

    N ceiling: compute grows ~(n²/2)·d·(allowed/total) FLOPs. At ~64 GFLOP/s
    per core, n = 10⁷ 64-d vectors ≈ 3.2·10¹⁵ unpruned FLOPs ≈ 14 core-hours
    — the practical exact ceiling on a 1000-core cluster is n ≈ 10⁷–10⁸
    unless pruning bites; beyond that take `ivf_topk` (approximate, recall
    ≥ 0.9 on clustered data) or raise τ into the LSH regime.

    At 100 TB: pick n_blocks so one block (n/B rows × d) fits an executor;
    angular buckets can be skew-split by a secondary hash while keeping each
    sub-block's [min α, max α] for the same skip test.

    Float discipline: float32 → float64 widening before normalize/GEMM; the
    registered query's corpus has ≥1e-3 margin between any true pair and the
    threshold, so BLAS summation order cannot flip a decision (same argument
    as the rank-stability note on cosine_topk_numpy).

    Implementation note: this is a tagged-union grouped map, NOT
    cogroup+applyInPandas. A self-cogroup of this shape miscompiles under
    whole-plan column pruning in Spark 4.1 (an output-discarding action like
    count() prunes the Python UDF's right-side INPUT columns down to the
    grouping keys — KeyError in the worker), while the single grouped map is
    planned correctly under every action. Same shuffle shape either way.
    """
    alpha, blk = _angular_block(F.col("vec"), n_blocks)
    v = (
        corpus.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
        .withColumn("alpha", alpha)
        .withColumn("blk", blk)
    )
    allowed = allowed_block_pairs(v, threshold, n_blocks)
    # row in block k acts as LEFT of every allowed pair (k, j≥k) and RIGHT
    # of every allowed pair (i≤k, k); skipped pairs are dropped BEFORE the
    # shuffle by the broadcast joins
    left = v.join(F.broadcast(allowed), v["blk"] == F.col("bi")).select(
        "id", "vec", "bi", "bj", F.lit(0).alias("side")
    )
    right = v.join(F.broadcast(allowed), v["blk"] == F.col("bj")).select(
        "id", "vec", "bi", "bj", F.lit(1).alias("side")
    )

    def compare(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame({"id_a": pd.Series(dtype="int64"),
                              "id_b": pd.Series(dtype="int64")})
        l = pdf[pdf["side"] == 0]
        r = pdf[pdf["side"] == 1]
        if len(l) == 0 or len(r) == 0:
            return empty
        bi, bj = int(key[0]), int(key[1])
        A = np.stack(l["vec"].to_numpy()).astype(np.float64)
        B = np.stack(r["vec"].to_numpy()).astype(np.float64)
        An = np.linalg.norm(A, axis=1, keepdims=True)
        Bn = np.linalg.norm(B, axis=1, keepdims=True)
        A /= np.where(An == 0.0, 1.0, An)
        B /= np.where(Bn == 0.0, 1.0, Bn)
        S = A @ B.T
        ia, ib = np.nonzero(S >= threshold)
        id_a = l["id"].to_numpy()[ia]
        id_b = r["id"].to_numpy()[ib]
        if bi == bj:  # same set on both sides: keep strict upper triangle
            keep = id_a < id_b
            return pd.DataFrame({"id_a": id_a[keep], "id_b": id_b[keep]})
        lo = np.minimum(id_a, id_b)
        hi = np.maximum(id_a, id_b)
        return pd.DataFrame({"id_a": lo, "id_b": hi})

    return (
        left.unionByName(right)
        .groupBy("bi", "bj")
        .applyInPandas(compare, "id_a long, id_b long")
    )


def cosine_topk_numpy(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_query_rows: int = 100_000,
) -> DataFrame:
    """Top-k cosine via per-batch GEMM: sims = Q_norm @ C_norm.T.

    The QUERY side is collected to the driver and broadcast (the corpus is
    never collected) — guarded by max_query_rows, mirroring
    KeyedMap.to_dict: this path is for a bounded query set against an
    unbounded corpus; a huge query set should use the symmetric
    `threshold_pairs_gemm` instead."""
    n_q = queries.count()
    if n_q > max_query_rows:
        raise ValueError(
            f"query set has {n_q} rows; refusing driver collect > {max_query_rows} "
            "(raise max_query_rows, or use threshold_pairs_gemm for corpus-x-corpus)"
        )
    q_rows = queries.select(id_col, vec_col).collect()
    q_ids = np.array([r[0] for r in q_rows], dtype=np.int64)
    Q = np.array([r[1] for r in q_rows], dtype=np.float64)
    Q /= np.linalg.norm(Q, axis=1, keepdims=True)

    spark = corpus.sparkSession
    bq_ids = spark.sparkContext.broadcast(q_ids)
    bQ = spark.sparkContext.broadcast(Q)

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        Qm, ids = bQ.value, bq_ids.value
        for pdf in batches:
            C = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            C /= np.linalg.norm(C, axis=1, keepdims=True)
            sims = Qm @ C.T  # (n_queries, batch)
            n_q, n_c = sims.shape
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(ids, n_c),
                    "neighbor_id": np.tile(pdf[id_col].to_numpy(), n_q),
                    "sim": sims.ravel(),
                }
            )

    scored = (
        corpus.select(id_col, vec_col)
        .mapInPandas(score, "query_id long, neighbor_id long, sim double")
        .where(F.col("query_id") != F.col("neighbor_id"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank")
    )
