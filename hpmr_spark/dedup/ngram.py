"""Exact n-gram Jaccard near-dedup via inverted-index pair join.

Algorithm (all DataFrame ops, one plan):
  1. shingle_sets → (doc_id, sh[])
  2. explode → inverted index (shingle → doc_id)
  3. self-join on shingle, count common shingles per (a, b) pair  = |A∩B|
  4. join per-doc set sizes, |A∪B| = |A|+|B|−|A∩B|
  5. threshold as EXACT INTEGER comparison: 100·inter ≥ pct·union
     (no float ratio → engine-invariant boundary behavior)

Scale notes: the naive inverted-index join is quadratic in per-shingle
document frequency (a shingle in d docs contributes d² pair rows). The
default path applies PREFIX FILTERING (SSJoin/PPJoin principle): with a
global shingle order (ascending df), any pair with J ≥ θ must share one of
each doc's first ⌊(1−θ)·|A|⌋+1 shingles, so only those rare prefix shingles
are indexed — recall stays exact, join volume collapses (3-10× measured at
sf0.1, asymptotically far more on common-vocabulary corpora). `df_cap`
remains as an additional lossy knob; the oracle-checked query runs exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from hpmr_spark.dedup.shingles import shingle_sets
from hpmr_spark.engine import materialize


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold_pct: int = 90,
    df_cap: int | None = None,
    prefix_filter: bool = True,
) -> DataFrame:
    """Exact thresholded Jaccard pairs.

    With prefix_filter (default): PPJoin-style candidate generation — each
    doc indexes only its ⌊(1−θ)·|A|⌋+1 globally-rarest shingles. Two docs
    with J ≥ θ MUST share a prefix shingle (if all shared shingles were
    outside both prefixes, the intersection would be too small), so recall
    is guaranteed; exact verification on full shingle arrays then decides.
    Join volume drops from Σ df² over all shingles to Σ df² over rare
    prefix shingles — the difference between quadratic blowup and linear
    behavior on common-vocabulary corpora."""
    from pyspark import StorageLevel

    sh = shingle_sets(docs)
    if prefix_filter:
        sh = materialize(sh, StorageLevel.MEMORY_AND_DISK)
    sizes = sh.select("doc_id", F.size("sh").alias("n_sh"))
    inv = sh.select("doc_id", F.explode("sh").alias("shingle"))
    if df_cap is not None:
        freq = inv.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
        inv = inv.join(freq.where(F.col("df") <= df_cap), on="shingle", how="left_semi")

    if prefix_filter:
        # rank each doc's shingles by global rarity; keep the prefix
        freq = inv.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
        ranked = inv.join(freq, "shingle")
        w = Window.partitionBy("doc_id").orderBy(F.asc("df"), F.asc("shingle"))
        pref = (
            ranked.withColumn("rn", F.row_number().over(w))
            .withColumn(
                "prefix_len",
                F.floor(
                    F.count(F.lit(1)).over(Window.partitionBy("doc_id"))
                    * (100 - threshold_pct)
                    / 100
                )
                + 1,
            )
            .where(F.col("rn") <= F.col("prefix_len"))
            .select("doc_id", "shingle")
        )
        a, b = pref.alias("a"), pref.alias("b")
        # corpus-scale self/verify joins: force sort-merge — a size
        # mis-estimate must never broadcast a shingle/candidate frame
        # (driver OOM class, round-7 probe; see dedup/minhash.py)
        cands = (
            a.hint("merge").join(
                b,
                (F.col("a.shingle") == F.col("b.shingle"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
            .distinct()
        )
        sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
        sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
        inter = F.size(F.array_intersect("sh_a", "sh_b"))
        union = F.size("sh_a") + F.size("sh_b") - inter
        return (
            cands.hint("merge").join(sa.hint("merge"), "doc_a")
            .join(sb.hint("merge"), "doc_b")
            .withColumn("n_common", inter.cast("long"))
            .withColumn("n_union", union.cast("long"))
            .where(
                F.lit(100) * F.col("n_common") >= F.lit(threshold_pct) * F.col("n_union")
            )
            .select("doc_a", "doc_b", "n_common", "n_union")
        )

    a = inv.alias("a")
    b = inv.alias("b")
    inter = (
        a.hint("merge").join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    return (
        inter.hint("merge").join(sa.hint("merge"), "doc_a")
        .join(sb.hint("merge"), "doc_b")
        .withColumn("n_union", F.col("na") + F.col("nb") - F.col("n_common"))
        .where(F.lit(100) * F.col("n_common") >= F.lit(threshold_pct) * F.col("n_union"))
        .select("doc_a", "doc_b", "n_common", F.col("n_union").cast("long").alias("n_union"))
    )


def containment_pairs(docs: DataFrame, threshold_pct: int = 70) -> DataFrame:
    """Exact thresholded CONTAINMENT pairs: 100·|A∩B| ≥ θ·min(|A|,|B|) —
    the asymmetric duplication Jaccard misses (a short document quoted
    wholesale inside a long one barely moves J = |∩|/|∪| but maxes the
    smaller side's containment; this is the dedup rule for quote/subset
    contamination).

    Candidate generation is one-sided prefix filtering: if the SMALLER
    side A clears θ, then A's ⌊(1−θ)·|A|⌋+1 globally-rarest shingles must
    intersect B's FULL set (were all shared shingles outside A's prefix,
    |A∩B| < θ·|A|) — so the prefix index joins against the full inverted
    index, recall stays exact, and the pair (min,max) dedup + full-array
    verification decide. Join volume: Σ over prefix shingles of
    df·prefix_df, linear-ish on common-vocabulary corpora."""
    from pyspark import StorageLevel

    sh = materialize(shingle_sets(docs), StorageLevel.MEMORY_AND_DISK)
    sizes = sh.select("doc_id", F.size("sh").alias("n_sh"))
    inv = sh.select("doc_id", F.explode("sh").alias("shingle"))
    freq = inv.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    ranked = inv.join(freq, "shingle")
    w = Window.partitionBy("doc_id").orderBy(F.asc("df"), F.asc("shingle"))
    pref = (
        ranked.withColumn("rn", F.row_number().over(w))
        .withColumn(
            "prefix_len",
            F.floor(
                F.count(F.lit(1)).over(Window.partitionBy("doc_id"))
                * (100 - threshold_pct)
                / 100
            )
            + 1,
        )
        .where(F.col("rn") <= F.col("prefix_len"))
        .select(F.col("doc_id").alias("p_doc"), "shingle")
    )
    cands = (
        pref.hint("merge").join(inv, "shingle")
        .where(F.col("p_doc") != F.col("doc_id"))
        .select(
            F.least("p_doc", "doc_id").alias("doc_a"),
            F.greatest("p_doc", "doc_id").alias("doc_b"),
        )
        .distinct()
    )
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    verified = (
        cands.hint("merge").join(sa.hint("merge"), "doc_a")
        .join(sb.hint("merge"), "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sh_a", "sh_b")).cast("long").alias("n_common"),
            F.least(F.size("sh_a"), F.size("sh_b")).cast("long").alias("n_min"),
        )
        .where(F.lit(100) * F.col("n_common") >= F.lit(threshold_pct) * F.col("n_min"))
    )
    return verified.select("doc_a", "doc_b", "n_common", "n_min")
