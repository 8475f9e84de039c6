"""Planted hot-fingerprint skew probe for dedup_boilerplate_segments
(VERDICT r11 item 1 done-criterion).

Synthesizes n docs (default 1M) where HOT_FRAC of them share one identical
5-token leading segment — the corpus-scale regime the operator targets
(boilerplate = the hottest fingerprints). Runs the committed query body
(footer declares n > BROADCAST_MAX_DOCS, so the scale merge path is
exercised) and, for comparison, the r11 `Window.partitionBy(h)` shape, each
to the noop sink, and reports wall plus per-stage task-duration max/median
parsed from the Spark event log.

AQE skew-join thresholds are lowered for the probe (the planted hot key is
~30 MB at 1M docs; production's default 256 MB threshold corresponds to the
same hot-key *fraction* at real corpus scale) — the point is to show the
SortMergeJoin path IS split-eligible while the window path structurally is
not.

Usage: python tools/skew_probe_boilerplate.py [n_docs] [window|join|both]
Never run while another Spark JVM is using the machine (BASELINE.md).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HOT_FRAC = 0.3  # fraction of docs carrying the planted hot segment
_SEG = 5


def synth_hot_docs(spark, n: int, vocab_size: int = 4096):
    from pyspark.sql import functions as F

    # 30% of docs start with the same 5 tokens (one planted boilerplate
    # segment); all other tokens are drawn from a vocab_size vocab so the
    # remaining segments are near-unique.
    return spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            F.when(
                F.col("id") % 10 < int(HOT_FRAC * 10),
                F.array(*[F.lit("hotnav") for _ in range(_SEG)]),
            ).otherwise(
                F.transform(
                    F.sequence(F.lit(1), F.lit(_SEG)),
                    lambda i: F.concat(
                        F.lit("w"),
                        (
                            (F.xxhash64(F.col("id") * 1000 + i) % vocab_size + vocab_size)
                            % vocab_size
                        ).cast("string"),
                    ),
                )
            ),
            F.transform(
                F.sequence(F.lit(_SEG + 1), F.lit(60)),
                lambda i: F.concat(
                    F.lit("w"),
                    (
                        (F.xxhash64(F.col("id") * 1000 + i) % vocab_size + vocab_size)
                        % vocab_size
                    ).cast("string"),
                ),
            ),
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


def _iter_event_lines(eventlog_dir: str):
    """Yield JSON lines from every event file (Spark 4 v2 layout: a
    directory per app holding zstd-compressed events_* files)."""
    for root, _dirs, files in os.walk(eventlog_dir):
        for fname in sorted(files):
            if not fname.startswith("events"):
                continue
            path = os.path.join(root, fname)
            if fname.endswith(".zstd"):
                import subprocess

                out = subprocess.run(
                    ["zstd", "-dc", path], capture_output=True, check=True
                )
                yield from out.stdout.decode("utf-8").splitlines()
            else:
                with open(path) as fh:
                    yield from fh


def stage_stats(eventlog_dir: str) -> list[dict]:
    """Per-stage task-duration stats from the event log(s)."""
    per_stage: dict[int, list[float]] = {}
    if True:
        for line in _iter_event_lines(eventlog_dir):
            try:
                ev = json.loads(line)
            except json.JSONDecodeError:
                continue
            if ev.get("Event") == "SparkListenerTaskEnd":
                ti = ev["Task Info"]
                dur = (ti["Finish Time"] - ti["Launch Time"]) / 1000.0
                per_stage.setdefault(ev["Stage ID"], []).append(dur)
    rows = []
    for sid, durs in sorted(per_stage.items()):
        durs.sort()
        rows.append(
            {
                "stage": sid,
                "n_tasks": len(durs),
                "sum_s": round(sum(durs), 2),
                "median_s": round(statistics.median(durs), 3),
                "max_s": round(max(durs), 3),
                "max_over_median": round(max(durs) / max(statistics.median(durs), 1e-9), 1),
            }
        )
    return rows


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    which = sys.argv[2] if len(sys.argv) > 2 else "both"

    tmp = tempfile.mkdtemp(prefix="boiler_skew_")
    evdir = os.path.join(tmp, "eventlog")
    os.makedirs(evdir, exist_ok=True)

    from hpmr_spark.engine import session_builder

    spark = (
        session_builder("boiler-skew-probe", event_log_dir=evdir)
        # probe-scale skew thresholds: the planted hot key is ~30 MB at 1M
        # docs; production defaults (256 MB) correspond to the same hot-key
        # fraction at corpus scale
        .config("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8m")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    docs = synth_hot_docs(spark, n)
    docs.write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
    print(f"corpus: {n} docs ({HOT_FRAC:.0%} carry the hot segment) at {tmp}")

    bodies = {"join": body_join, "window": body_window}
    names = [which] if which in bodies else ["join", "window"]
    for name in names:
        spark.sparkContext.setJobDescription(f"boiler-skew:{name}")
        t0 = time.time()
        bodies[name](spark, tmp).write.format("noop").mode("overwrite").save()
        wall = time.time() - t0
        print(f"\n== {name}: wall {wall:.1f}s")
    spark.stop()
    time.sleep(1)
    for row in stage_stats(evdir):
        if row["n_tasks"] > 1 and row["sum_s"] > 1:
            print(row)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
