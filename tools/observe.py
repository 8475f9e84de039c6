"""Observe registered queries: build each one, run it to the noop sink, and
print what Spark's status store recorded for it (``hpmr_spark.observe``).

Usage: python tools/observe.py [--reps N] [query_name ...]

With no names every registered query runs; pass ``bench.BENCH_QUERIES`` or
``bench.BENCH_EXTRA`` names for the bench sets. The data dir is
$SPARK_GRAFT_SF_DIR, defaulting to bench.py's. Each rep prints one JSON line
(rep 0 is cold, later reps are warm), then one totals line over rep 0:
queries that ran >=1 job at build, build jobs, and task seconds.
Never run while another Spark JVM is using the machine (BASELINE.md).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import SF_DIR  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--reps", type=int, default=1)
    args = ap.parse_args()

    from __spark_entry__ import queries

    from hpmr_spark.engine import session_builder
    from hpmr_spark.observe import observe

    spark = session_builder("hpmr-observe").config("spark.ui.showConsoleProgress", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    qs = queries()
    # one lineitem scan absorbs JVM startup before the first cold rep
    spark.read.parquet(f"{SF_DIR}/lineitem.parquet").count()

    names, cold = args.queries or list(qs), []
    for name in names:
        for rep in range(max(1, args.reps)):
            try:
                rec = observe(spark, lambda: qs[name](spark, SF_DIR))
            except Exception as e:  # noqa: BLE001 — one failure must not end the sweep
                print(f"ERROR {name}: {str(e)[:160]}", file=sys.stderr)
                break
            if rep == 0:
                cold.append(rec)
            print(json.dumps({"query": name, "rep": rep, **rec.totals()}), flush=True)
    print(json.dumps({
        "queries": len(cold),
        "failed": len(names) - len(cold),
        "with_build_jobs": sum(1 for r in cold if r.build_jobs),
        "build_jobs": sum(r.build_jobs for r in cold),
        "task_s": round(sum(r.task_s for r in cold), 1),
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
