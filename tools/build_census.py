"""Census of the Spark jobs each registered query runs while its DataFrame is
being built (before any action): schema inference, driver-side collects,
eager checkpoints and writes.

Usage: python tools/build_census.py [query_name ...]

Env:
  SPARK_GRAFT_SF_DIR_CHECK — data dir (default: the sf0.001 tier
                             tools/plan_snapshot.py pins plans at)

Prints one line per query that ran at least one job, then the totals.
Jobs Spark starts under their own group (streaming micro-batches) are not
counted; see engine.count_jobs.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from plan_snapshot import SF_DIR as PLAN_SF_DIR  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_CHECK", PLAN_SF_DIR)


def main(names=None) -> int:
    from __spark_entry__ import queries

    from hpmr_spark.engine import count_jobs, session_builder

    spark = session_builder("build-census").config("spark.ui.showConsoleProgress", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    qs = queries()
    census: dict[str, int | None] = {}
    for name in names or list(qs):
        try:
            census[name] = count_jobs(spark, lambda: qs[name](spark, SF_DIR))[1]
        except Exception as e:
            census[name] = None
            print(f"ERROR {name}: {str(e)[:160]}")
            continue
        if census[name]:
            print(f"{census[name]:4d}  {name}")
    ran = sum(1 for n in census.values() if n)
    print(f"\n{ran}/{len(census)} queries run >=1 job at build; "
          f"{sum(n or 0 for n in census.values())} build jobs in total")
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:] or None))
