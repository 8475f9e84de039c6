"""MinHash + LSH near-dedup — the scale path for n-gram Jaccard.

Pipeline (single DataFrame plan, no Python in the hot path):
  1. shingle_sets → per-doc h32 array (md5-derived 32-bit shingle hashes)
  2. ALL N_PERM signature minima as per-row array_min(transform(...)) —
     a pure MAP stage: no explode, no aggregate, no shuffle, nothing to
     spill (round 8; the old explode+groupBy form fell back to sort-based
     aggregation at 10M docs — SCALE.md round-8)
  3. signatures → bands of r rows; band key = concat of the band's sig values
  4. explode bands → self-join on (band_idx, band_key) → candidate pairs
  5. verify candidates EXACTLY: join shingle sets, integer-compare
     100·|A∩B| ≥ pct·|A∪B|

Output = exactly the pairs whose true Jaccard clears the threshold *and*
whose signatures collide in ≥1 band. With b=16, r=2 the miss probability at
j=0.9 is (1−0.9²)¹⁶ ≈ 3e-12 per pair — the engine's oracle equivalence is
the exact brute-force pair set (see operators/dedup_queries.py).

Scale: candidates grow with bucket collisions, not corpus²; banding keys are
hashes, so the band join shuffles uniformly. At 100 TB: raise r (sharper
s-curve) and N_PERM; the verify step only touches candidate pairs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from hpmr_spark.dedup.shingles import shingle_sets
from hpmr_spark.engine import materialize
from hpmr_spark.functions.hashing import N_PERM

#: Committed bound for size-aware join dispatch (VERDICT r7 item 2). The
#: round-7 OOM happened because SPARK chose to broadcast a corpus-scale
#: frame off a bad size estimate; the fix is that WE decide, from declared
#: corpus size, never the estimator. Below the bound the shingle/banded
#: frames are genuinely small (≤100k docs × ~150 shingles ≈ 10⁷ ints ≈
#: tens of MB — comfortable on any executor) and broadcasting them removes
#: three sort exchanges from the hot path; above it — or when the caller
#: does not know n_docs — every corpus-frame join is pinned to shuffle
#: sort-merge (spill-safe, linear at any candidate count). Same explicit-
#: parameter discipline as GEMM_N_CEILING: n_docs comes from pipeline
#: metadata, never a build-time count().
BROADCAST_MAX_DOCS = 100_000


def _bounded(n_docs: int | None) -> bool:
    return n_docs is not None and n_docs <= BROADCAST_MAX_DOCS


def signatures_from_shingles(sh: DataFrame, n_perm: int = N_PERM) -> DataFrame:
    """(doc_id, sig_0..sig_{n-1}) from a (doc_id, sh array) frame — the
    AGGREGATION-FREE signature build: each permutation minimum is an
    array_min over a per-row transform, so the whole build is one map
    stage (no explode, no groupBy, no shuffle, nothing to spill). This is
    the structural answer to the 10M sort-agg fallback (SCALE.md round 8):
    the 600M-row explode + 32-min hash aggregate that fell back to
    sort-based agg simply does not exist in this form. md5 is computed
    ONCE per shingle (h32 array), then each permutation is integer
    arithmetic over it — values identical to the old grouped form."""
    from hpmr_spark.functions.hashing import MINHASH_A, MINHASH_B, P32

    h32 = (
        "transform(sh, _s -> CAST(conv(substring(md5(_s),1,15),16,10)"
        f" AS BIGINT) % {P32})"
    )
    sig_exprs = [
        f"array_min(transform(_h32, _h -> ({MINHASH_A[j]}L * _h"
        f" + {MINHASH_B[j]}L) % {P32})) AS sig_{j}"
        for j in range(n_perm)
    ]
    return sh.selectExpr("doc_id", f"{h32} AS _h32").selectExpr(
        "doc_id", *sig_exprs
    )


def minhash_signatures(docs: DataFrame, n_perm: int = N_PERM) -> DataFrame:
    """(doc_id, sig_0..sig_{n-1}): per-row minhash signature (map-only)."""
    return signatures_from_shingles(shingle_sets(docs), n_perm=n_perm)


def lsh_candidate_pairs(
    signatures: DataFrame, bands: int = 16, rows: int = 2,
    n_docs: int | None = None,
) -> DataFrame:
    """Distinct (doc_a < doc_b) pairs colliding in at least one band."""
    band_structs = [
        F.struct(
            F.lit(bi).alias("band_idx"),
            F.concat_ws(
                "_", *[F.col(f"sig_{bi * rows + ri}") for ri in range(rows)]
            ).alias("band_key"),
        )
        for bi in range(bands)
    ]
    banded = signatures.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("band")
    ).select("doc_id", "band.band_idx", "band.band_key")
    a, b = banded.alias("a"), banded.alias("b")
    cond = (
        (F.col("a.band_idx") == F.col("b.band_idx"))
        & (F.col("a.band_key") == F.col("b.band_key"))
        & (F.col("a.doc_id") < F.col("b.doc_id"))
    )
    # Size-aware dispatch: under the DECLARED bound the banded frame is
    # small by commitment and one side broadcasts (hash join, no sort
    # exchanges); otherwise — and always when n_docs is unknown — force
    # sort-merge, because a size mis-estimate must never broadcast a
    # corpus-scale signature table (driver OOM at >=1M docs, round-7 probe).
    if _bounded(n_docs):
        joined = a.join(F.broadcast(b), cond)
    else:
        joined = a.hint("merge").join(b, cond)
    return (
        joined
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def minhash_dedup_pairs(
    docs: DataFrame,
    threshold_pct: int = 90,
    n_perm: int = N_PERM,
    bands: int = 16,
    rows: int = 2,
    n_docs: int | None = None,
) -> DataFrame:
    """LSH candidates verified by exact Jaccard (integer threshold compare).

    The shingle frame feeds three subtrees (signatures, verify-left,
    verify-right); Catalyst has no cross-join common-subexpression reuse, so
    it is persisted once — at cluster scale this is the standard
    materialize-the-shingle-table step (MEMORY_AND_DISK spills gracefully)."""
    from pyspark import StorageLevel

    if _bounded(n_docs):
        # Declared-small corpora usually arrive as ONE parquet row group →
        # one task carries the whole shingle/signature/band pipeline while
        # the rest of the cluster idles. A doc_id-hash repartition of the
        # RAW docs (tiny — the corpus is bounded by declaration) spreads
        # the expensive expressions across every core. Never done in the
        # unbounded regime: corpus-scale input is already multi-file, and
        # a blanket full-corpus shuffle of raw text would be pure waste.
        par = docs.sparkSession.sparkContext.defaultParallelism
        docs = docs.repartition(par, "doc_id")
    sh = materialize(shingle_sets(docs), StorageLevel.MEMORY_AND_DISK)
    signatures = signatures_from_shingles(sh, n_perm=n_perm)
    cands = lsh_candidate_pairs(signatures, bands, rows, n_docs=n_docs)
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    # The candidate-pair frame is UNBOUNDED (it grows with band collisions),
    # so the verify joins broadcast only the SHINGLE side, and only when the
    # caller DECLARED the corpus small (n_docs ≤ BROADCAST_MAX_DOCS): the
    # candidate stream then hash-probes a bounded table with zero sort
    # exchanges. In every other case both joins are pinned to shuffle
    # sort-merge — a mis-estimated candidate table must never be planned as
    # a broadcast (driver OOM at 1M synthetic docs, round-7 probe):
    # doc-keyed, spill-safe, linear at any candidate count.
    if _bounded(n_docs):
        verified = cands.join(F.broadcast(sa), "doc_a").join(
            F.broadcast(sb), "doc_b"
        )
    else:
        verified = cands.hint("merge").join(sa.hint("merge"), "doc_a").join(
            sb.hint("merge"), "doc_b"
        )
    return (
        verified
        .withColumn("n_common", inter.cast("long"))
        .withColumn("n_union", union.cast("long"))
        .where(F.lit(100) * F.col("n_common") >= F.lit(threshold_pct) * F.col("n_union"))
        .select("doc_a", "doc_b", "n_common", "n_union")
    )
