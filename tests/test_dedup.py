"""Dedup / similarity operator tests beyond the oracle gate (which already
covers exact equality to brute force at sf0.01 via tools/selfcheck.py)."""

import pytest
from pyspark.sql import functions as F

from hpmr_spark.dedup.minhash import lsh_candidate_pairs, minhash_signatures
from hpmr_spark.dedup.ngram import ngram_jaccard_pairs
from hpmr_spark.dedup.shingles import shingle_sets
from hpmr_spark.similarity.brute_force import cosine_topk
from hpmr_spark.similarity.lsh import ivf_topk
from hpmr_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


def test_shingles_shape(docs):
    sh = shingle_sets(docs)
    row = sh.where(F.size("sh") > 0).first()
    assert row is not None
    assert all(len(s.split(" ")) == 3 for s in row["sh"][:5])


def test_minhash_signature_bounds(docs):
    sig = minhash_signatures(docs, n_perm=8)
    mx = sig.select(F.greatest(*[F.max(f"sig_{j}") for j in range(8)])).first()[0]
    assert 0 <= mx < 4294967291


def test_lsh_candidates_superset_of_high_jaccard(docs):
    """Every true ≥90% pair must be an LSH candidate (recall check)."""
    truth = {
        (r["doc_a"], r["doc_b"])
        for r in ngram_jaccard_pairs(docs, threshold_pct=90).collect()
    }
    cands = {
        (r["doc_a"], r["doc_b"])
        for r in lsh_candidate_pairs(minhash_signatures(docs), bands=16, rows=2).collect()
    }
    assert truth <= cands


def test_minhash_size_aware_dispatch(docs):
    """The size-aware join dispatch (VERDICT r7 item 2) is a scale-safety
    contract: a DECLARED-small corpus broadcasts the bounded shingle/banded
    sides; unknown or above-bound n_docs must NEVER plan a broadcast (the
    1M-doc OOM class). Checked on the physical plan, and both paths must
    produce the identical pair set."""
    from hpmr_spark.dedup.minhash import BROADCAST_MAX_DOCS, minhash_dedup_pairs

    small = minhash_dedup_pairs(docs, threshold_pct=90, n_docs=100)
    unknown = minhash_dedup_pairs(docs, threshold_pct=90, n_docs=None)
    big = minhash_dedup_pairs(
        docs, threshold_pct=90, n_docs=BROADCAST_MAX_DOCS + 1
    )
    plan_small = small._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan_small
    for df in (unknown, big):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" not in plan, "corpus-scale broadcast leaked"
    rows = lambda df: {(r["doc_a"], r["doc_b"]) for r in df.collect()}  # noqa: E731
    assert rows(small) == rows(unknown)


def test_ivf_recall_vs_exact(emb):
    """IVF ANN with Hamming-1 probing should keep decent recall@10 on random
    vectors (weak-similarity regime — this bounds it, not perfection)."""
    queries = emb.where(F.col("vec_id") < 10)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(emb, queries, k=10).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk(emb, queries, k=10).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.3, f"IVF recall collapsed: {recall}"


def test_numpy_topk_matches_exact(emb):
    """The Arrow→numpy GEMM path must produce the same neighbor sets as the
    exact JVM fold path (gaps between neighbors ≫ float noise here)."""
    from hpmr_spark.similarity.vectorized import cosine_topk_numpy
    from pyspark.sql import functions as F

    queries = emb.where(F.col("vec_id") < 10)
    exact = {
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in cosine_topk(emb, queries, k=10).collect()
    }
    vec = {
        (r["query_id"], r["neighbor_id"], r["rank"])
        for r in cosine_topk_numpy(emb, queries, k=10).collect()
    }
    assert exact == vec


def test_threshold_pairs_gemm_survives_count(emb):
    """Regression: the blocked-GEMM pair join must produce identical results
    under count() and collect(). The original self-cogroup implementation
    miscompiled under count() (whole-plan column pruning stripped the Python
    UDF's right-side input columns → KeyError in the worker)."""
    from hpmr_spark.similarity.vectorized import threshold_pairs_gemm

    pairs = threshold_pairs_gemm(emb, threshold=0.45)
    assert pairs.count() == len(pairs.collect())


def test_numpy_topk_refuses_huge_query_collect(emb):
    """The driver-side collect of the query set is guarded (mirrors
    KeyedMap.to_dict): an oversized query frame must raise, not OOM."""
    from hpmr_spark.similarity.vectorized import cosine_topk_numpy

    with pytest.raises(ValueError, match="refusing driver collect"):
        cosine_topk_numpy(emb, emb, k=5, max_query_rows=10)


def _clustered_embeddings(spark, n_clusters=40, per_cluster=50, dim=64, sigma=0.02):
    """Deterministic Gaussian-cluster fixture: tight clusters (cosine to
    center ≈ 0.999) so true nearest neighbors are in-cluster — the regime
    IVF is built for, unlike the random-vector parquet corpus."""
    import math
    import random

    rng = random.Random(0xC1)
    rows = []
    vid = 0
    for _ in range(n_clusters):
        center = [rng.gauss(0.0, 1.0) for _ in range(dim)]
        nrm = math.sqrt(sum(x * x for x in center))
        center = [x / nrm for x in center]
        for _ in range(per_cluster):
            vec = [c + rng.gauss(0.0, sigma) for c in center]
            rows.append((vid, vec))
            vid += 1
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_ivf_recall_clustered(spark):
    """On clustered embeddings (the realistic ANN regime) IVF with Hamming-1
    probing must achieve recall@10 ≥ 0.9 vs the exact top-k — the hard
    assertion the random-vector corpus can't support (see
    test_ivf_recall_vs_exact's bound there)."""
    emb = _clustered_embeddings(spark).cache()
    queries = emb.where(F.col("vec_id") % 100 == 0)  # one probe per 2 clusters
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(emb, queries, k=10).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk(emb, queries, k=10).collect()
    }
    recall = len(exact & approx) / len(exact)
    emb.unpersist()
    assert recall >= 0.9, f"IVF recall on clustered embeddings: {recall}"


def test_ivf_trained_recall_clustered(spark):
    """Trained (k-means) IVF must reach recall@10 ≥ 0.9 on the clustered
    fixture — same bar as the hyperplane-cell variant, with data-adaptive
    cells."""
    from hpmr_spark.similarity.lsh import ivf_topk_trained

    emb = _clustered_embeddings(spark).cache()
    queries = emb.where(F.col("vec_id") % 100 == 0)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(emb, queries, k=10).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in ivf_topk_trained(emb, queries, k=10, n_cells=16, n_probe=2).collect()
    }
    recall = len(exact & approx) / len(exact)
    emb.unpersist()
    assert recall >= 0.9, f"trained-IVF recall on clustered embeddings: {recall}"


def test_ivfpq_recall_clustered(spark):
    """Composed IVF-PQ (coarse routing + residual PQ/ADC + exact refine)
    must reach recall@10 ≥ 0.9 on the clustered fixture — same bar as the
    IVF variants (VERDICT r5 item 6)."""
    from hpmr_spark.similarity.ivfpq import ivfpq_topk

    emb = _clustered_embeddings(spark).cache()
    queries = emb.where(F.col("vec_id") % 100 == 0)
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in cosine_topk(emb, queries, k=10).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in ivfpq_topk(emb, queries, k=10, n_cells=16, n_probe=2).collect()
    }
    recall = len(exact & approx) / len(exact)
    emb.unpersist()
    assert recall >= 0.9, f"IVF-PQ recall on clustered embeddings: {recall}"


def test_gemm_block_pruning_clustered(spark):
    """Angular block-pair pruning (the spherical DIMSUM analogue in
    threshold_pairs_gemm): on a corpus whose clusters spread ALONG the
    committed pivot direction, provably-sub-threshold block pairs must be
    SKIPPED (allowed < full grid) and the pruned GEMM must still equal the
    exact brute force. On the isotropic random parquet corpus no exact
    low-rank bound can fire (residual Cauchy-Schwarz ≈ 1) — that regime is
    covered by dedup_embedding_cosine's oracle equality with zero skips."""
    import math
    import random

    from hpmr_spark.similarity.vectorized import (
        _angular_block,
        allowed_block_pairs,
        threshold_pairs_gemm,
    )

    rng = random.Random(0xA7)
    dim = 16
    ones = [1.0 / math.sqrt(dim)] * dim
    rows = []
    vid = 0
    # three clusters at alpha ≈ +1, 0, −1 relative to the all-ones pivot
    for sign in (1.0, 0.0, -1.0):
        for _ in range(60):
            vec = [
                sign * c + rng.gauss(0.0, 0.03) + (0.5 if sign == 0.0 else 0.0) * (i == 0)
                for i, c in enumerate(ones)
            ]
            rows.append((vid, vec))
            vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    tau, n_blocks = 0.6, 8
    alpha, blk = _angular_block(F.col("vec"), n_blocks)
    v = (
        df.select(F.col("vec_id").alias("id"), F.col("embedding").alias("vec"))
        .withColumn("alpha", alpha)
        .withColumn("blk", blk)
    )
    nonempty = v.select("blk").distinct().count()
    full_grid = nonempty * (nonempty + 1) // 2
    allowed = allowed_block_pairs(v, tau, n_blocks).count()
    assert allowed < full_grid, (
        f"expected block-pair skips on the clustered corpus: {allowed}/{full_grid}"
    )

    got = {
        (r["id_a"], r["id_b"])
        for r in threshold_pairs_gemm(df, tau, n_blocks=n_blocks).collect()
    }
    # exact brute force in python doubles
    vecs = [r[1] for r in rows]
    norms = [math.sqrt(sum(x * x for x in w)) for w in vecs]
    exp = set()
    for i in range(len(vecs)):
        for j in range(i + 1, len(vecs)):
            d = sum(a * b for a, b in zip(vecs[i], vecs[j]))
            if d >= tau * norms[i] * norms[j]:
                exp.add((i, j))
    assert got == exp


def test_connected_components_chain(spark):
    """A 64-node path graph forces multi-round convergence (diameter 63 —
    plain label propagation would need ~63 rounds; large-star/small-star must
    resolve it within the max_iter=12 O(log n) budget) and every node must
    land in component 0."""
    from hpmr_spark.dedup.components import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(63)] + [(100, 101), (101, 102)],
        "doc_a long, doc_b long",
    )
    got = {
        (r["node"], r["component"]) for r in connected_components(pairs).collect()
    }
    want = {(i, 0) for i in range(64)} | {(i, 100) for i in (100, 101, 102)}
    assert got == want


def test_incremental_dedup_rejects_cross_epoch_dups(docs, spark):
    from hpmr_spark.dedup.incremental import incremental_dedup
    from pyspark.sql import functions as F

    b1 = docs.select("doc_id", "text").limit(100)
    acc1, state = incremental_dedup(None, b1)
    # resubmit the same texts under new ids — all must be rejected
    clones = b1.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    acc2, _ = incremental_dedup(state, clones)
    assert acc1.count() == 100
    assert acc2.count() == 0


def test_exact_dedup_idempotent(docs, spark):
    from hpmr_spark.dedup.exact import drop_exact_dups

    once = drop_exact_dups(docs)
    twice = drop_exact_dups(once)
    assert once.count() == twice.count()


def test_gemm_ceiling_refuses_weak_tau_at_scale(spark):
    """VERDICT r3 item 7: the weak-threshold exact GEMM regime has a hard N
    ceiling — past ~1e7 vectors cosine_pairs_auto must REFUSE (naming the
    ivf_topk_trained route) instead of silently planning an O(N²) sweep.
    Below the ceiling (or with N unknown) the exact branch still builds;
    the LSH branch ignores N entirely."""
    from hpmr_spark.similarity.lsh import GEMM_N_CEILING, cosine_pairs_auto

    emb = _clustered_embeddings(spark, n_clusters=4, per_cluster=5)
    # weak tau + N above the ceiling: refused with the routing message
    with pytest.raises(ValueError, match="ivf_topk_trained"):
        cosine_pairs_auto(emb, threshold=0.5, n_rows=GEMM_N_CEILING + 1)
    # weak tau below the ceiling: exact GEMM branch builds a plan
    assert cosine_pairs_auto(emb, threshold=0.5, n_rows=1000) is not None
    # strong tau: LSH branch, N is irrelevant even above the ceiling
    assert (
        cosine_pairs_auto(emb, threshold=0.9, n_rows=GEMM_N_CEILING + 1)
        is not None
    )


def test_pandas_udfs_are_declared_by_type_hints(spark, sf_dir):
    """Grouped-agg and grouped-map pandas UDFs take their eval type from
    type hints: neither the deprecated PandasUDFType form nor a half-typed
    function (which PySpark cannot infer from) is left."""
    import warnings

    from __spark_entry__ import queries
    from hpmr_spark.similarity.lsh import cosine_pairs_auto

    with warnings.catch_warnings():
        warnings.filterwarnings("error", message=".*preferred to specify type hints")
        warnings.filterwarnings("error", message="Cannot infer the eval type")
        assert queries()["pandas_udaf_median_qty"](spark, sf_dir).collect()
        emb = _clustered_embeddings(spark, n_clusters=4, per_cluster=5)
        # weak tau below the ceiling: the exact GEMM branch
        assert cosine_pairs_auto(emb, threshold=0.5, n_rows=1000).collect()


def test_threshold_sweep_ceiling_routes_to_lsh(spark, sf_dir, monkeypatch):
    """Past SWEEP_N_CEILING the exact sweep must refuse loudly with an LSH
    routing message, never silently run the quadratic candidate join."""
    import hpmr_spark.operators.dedup_queries as dq

    monkeypatch.setattr(dq, "SWEEP_N_CEILING", 10)
    with pytest.raises(ValueError, match="dedup_minhash_lsh"):
        dq.dedup_threshold_sweep(spark, sf_dir)


def test_ann_recall_gate_trips_on_bad_shortlist(spark):
    """The gated-oracle ANN rows (VERDICT r6 item 2) emit
    recall_floor_ok; this proves the boolean is NOT vacuous — a
    deliberately wrong shortlist (neighbors = the ids farthest by the
    exact ranking) must flip it to False, while the true exact top-k
    passes at the same floor."""
    from hpmr_spark.operators.dedup_queries import _ann_recall_gated

    emb = _clustered_embeddings(spark).cache()
    e = emb.withColumnRenamed("embedding", "embedding")
    exact = cosine_topk(e, e.where(F.col("vec_id") < 10), k=10)
    # perfect shortlist → gate TRUE
    good = _ann_recall_gated(e, exact, k=10, floor_permille=900)
    assert all(r["recall_floor_ok"] for r in good.collect())
    # adversarial shortlist: per query, the 10 WORST-ranked neighbors
    from pyspark.sql.window import Window as W

    allr = cosine_topk(e, e.where(F.col("vec_id") < 10), k=10**9)
    worst = (
        allr.withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy("query_id").orderBy(F.col("rank").desc())
            ),
        )
        .where(F.col("rk") <= 10)
        .select("query_id", "neighbor_id")
    )
    bad = _ann_recall_gated(e, worst, k=10, floor_permille=250)
    emb.unpersist()
    assert not any(r["recall_floor_ok"] for r in bad.collect())
