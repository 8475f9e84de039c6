"""Planted hot-fingerprint skew probe for dedup_boilerplate_segments
(VERDICT r11 item 1 done-criterion).

Synthesizes n docs (default 1M) where HOT_FRAC of them share one identical
5-token leading segment — the corpus-scale regime the operator targets
(boilerplate = the hottest fingerprints). Runs the committed query body
(footer declares n > BROADCAST_MAX_DOCS, so the scale merge path is
exercised) and, for comparison, the r11 `Window.partitionBy(h)` shape, each
to the noop sink through hpmr_spark.observe, and reports wall plus
per-stage task-duration max/median from Spark's status store. The corpus is
written under engine.scratch_dir and removed at exit.

AQE skew-join thresholds are lowered for the probe (the planted hot key is
~30 MB at 1M docs; production's default 256 MB threshold corresponds to the
same hot-key *fraction* at real corpus scale) — the point is to show the
SortMergeJoin path IS split-eligible while the window path structurally is
not.

Usage: python tools/skew_probe_boilerplate.py [n_docs] [window|join|both]
Never run while another Spark JVM is using the machine (BASELINE.md).
"""

from __future__ import annotations

import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HOT_FRAC = 0.3  # fraction of docs carrying the planted hot segment
_SEG = 5


def synth_hot_docs(spark, n: int, vocab_size: int = 4096):
    from pyspark.sql import functions as F

    # 30% of docs start with the same 5 tokens (one planted boilerplate
    # segment); all other tokens are drawn from a vocab_size vocab so the
    # remaining segments are near-unique.
    def word(i):
        return F.concat(F.lit("w"), F.pmod(F.xxhash64(F.col("id") * 1000 + i), F.lit(vocab_size)).cast("string"))

    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.when(
                F.col("id") % 10 < int(HOT_FRAC * 10),
                F.array(*[F.lit("hotnav") for _ in range(_SEG)]),
            ).otherwise(F.transform(F.sequence(F.lit(1), F.lit(_SEG)), word)),
            F.transform(F.sequence(F.lit(_SEG + 1), F.lit(60)), word),
        ).alias("text"),
    )


def body_join(spark, sf_dir):
    """The committed r12 shape (import the registered query)."""
    from hpmr_spark.operators.boilerplate_queries import dedup_boilerplate_segments

    return dedup_boilerplate_segments(spark, sf_dir)


def body_window(spark, sf_dir):
    """The r11 shape: min/max over Window.partitionBy(h) — for comparison."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    d = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", F.split(F.col("text"), " ").alias("toks"))
    )
    seg = (
        d.select(
            "doc_id",
            F.size("toks").cast("long").alias("n_tok"),
            F.expr(
                f"CASE WHEN size(toks) >= {_SEG} THEN"
                f" transform(sequence(CAST(0 AS BIGINT), size(toks) div {_SEG} - 1),"
                f" g -> struct(g AS g,"
                f" array_join(slice(toks, CAST(g * {_SEG} + 1 AS INT), {_SEG}), ' ') AS s))"
                f" ELSE array() END"
            ).alias("segs"),
        )
        .select("doc_id", "n_tok", F.explode_outer("segs").alias("e"))
        .select("doc_id", "n_tok", F.col("e.g").alias("g"), F.col("e.s").alias("s"))
    )
    fp = seg.withColumn(
        "h",
        F.coalesce(
            F.conv(F.substring(F.md5("s"), 1, 15), 16, 10).cast("long"),
            -F.col("doc_id") - F.lit(1),
        ),
    )
    wh = Window.partitionBy("h")
    flagged = fp.withColumn(
        "boiler",
        F.when(
            F.col("g").isNotNull(),
            (F.min("doc_id").over(wh) != F.max("doc_id").over(wh)).cast("int"),
        ),
    )
    per_doc = flagged.groupBy("doc_id").agg(
        F.count("g").cast("long").alias("n_seg"),
        F.coalesce(F.sum("boiler"), F.lit(0)).cast("long").alias("n_boiler"),
        F.max("n_tok").alias("n_tok"),
        F.array_join(
            F.transform(
                F.sort_array(
                    F.collect_list(
                        F.when(F.col("boiler") == 0, F.struct(F.col("g"), F.col("s")))
                    )
                ),
                lambda st: st["s"],
            ),
            " ",
        ).alias("kept_text"),
    )
    return per_doc.select(
        "doc_id",
        "n_seg",
        "n_boiler",
        (F.col("n_tok") - F.col("n_seg") * _SEG).cast("long").alias("trailing_tokens"),
        (
            (F.col("n_seg") - F.col("n_boiler")) * _SEG
            + F.col("n_tok")
            - F.col("n_seg") * _SEG
        )
        .cast("long")
        .alias("tokens_kept"),
        F.conv(F.substring(F.md5(F.col("kept_text")), 1, 15), 16, 10)
        .cast("long")
        .alias("cleaned_fp"),
    ).orderBy("doc_id")


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    which = sys.argv[2] if len(sys.argv) > 2 else "both"

    from hpmr_spark.engine import scratch_dir, session_builder
    from hpmr_spark.observe import observe

    spark = (
        session_builder("boiler-skew-probe")
        # probe-scale skew thresholds: the planted hot key is ~30 MB at 1M
        # docs; production defaults (256 MB) correspond to the same hot-key
        # fraction at corpus scale
        .config("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8m")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    corpus = scratch_dir("boiler_skew")
    synth_hot_docs(spark, n).write.mode("overwrite").parquet(f"{corpus}/documents.parquet")
    print(f"corpus: {n} docs ({HOT_FRAC:.0%} carry the hot segment)")

    bodies = {"join": body_join, "window": body_window}
    for name in [which] if which in bodies else ["join", "window"]:
        rec = observe(spark, lambda: bodies[name](spark, corpus))
        print(f"\n== {name}: wall {rec.wall_s:.1f}s")
        # per-stage task-duration spread of the heavy stages
        for sid, durs in sorted(rec.stage_task_s.items()):
            med = statistics.median(durs)
            if len(durs) > 1 and sum(durs) > 1:
                print({
                    "stage": sid,
                    "n_tasks": len(durs),
                    "sum_s": round(sum(durs), 2),
                    "median_s": round(med, 3),
                    "max_s": round(max(durs), 3),
                    "max_over_median": round(max(durs) / max(med, 1e-9), 1),
                })
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
