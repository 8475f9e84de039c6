"""link_prediction_adamic_adar hot-z skew probe (VERDICT r11 item 3).

Synthesizes a co-purchase-shaped lineitem (7 lines/order) with a THREE-tier
part-popularity distribution — hub parts (deg ≫ cap, excluded from z by the
committed deg ≤ 64 cap), mid parts tuned to sit just under the cap (the
worst z-side class: every one expands to ~deg² candidate pairs), and a long
uniform tail — then runs the COMMITTED query body to the noop sink and
reports per-stage task-duration max/median from the event log. VERDICT's
done-bar: task-time histogram max/median < 3 at probe scale, warm wall ≤
current.

Usage: python tools/adamic_skew_probe.py [n_orders]   (default 50_000 ≈ 1M und edges)
Never run while another Spark JVM is using the machine (BASELINE.md).
"""

from __future__ import annotations

import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def synth_lineitem(spark, n_orders: int):
    from pyspark.sql import functions as F

    n_lines = n_orders * 7
    hub_pool = 100
    mid_pool = max(n_lines // 80, 100)  # ~8 orders per mid part -> deg ~48
    tail_pool = n_orders * 2
    li = spark.range(n_lines).select(
        (F.col("id") % n_orders).alias("l_orderkey"),
        F.when(
            (F.xxhash64("id") % 100 + 100) % 100 < 2,
            (F.xxhash64(F.col("id") + 1) % hub_pool + hub_pool) % hub_pool,
        )
        .when(
            (F.xxhash64("id") % 100 + 100) % 100 < 12,
            hub_pool
            + (F.xxhash64(F.col("id") + 2) % mid_pool + mid_pool) % mid_pool,
        )
        .otherwise(
            hub_pool
            + mid_pool
            + (F.xxhash64(F.col("id") + 3) % tail_pool + tail_pool) % tail_pool
        )
        .alias("l_partkey"),
    )
    return li


def main() -> int:
    n_orders = int(sys.argv[1]) if len(sys.argv) > 1 else 50_000

    from hpmr_spark.engine import session_builder
    from skew_probe_boilerplate import stage_stats  # shared event-log parser

    tmp = tempfile.mkdtemp(prefix="adamic_skew_")
    evdir = os.path.join(tmp, "eventlog")
    os.makedirs(evdir, exist_ok=True)
    spark = session_builder("adamic-skew-probe", event_log_dir=evdir).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    synth_lineitem(spark, n_orders).write.mode("overwrite").parquet(
        f"{tmp}/lineitem.parquet"
    )
    from __spark_entry__ import queries

    fn = queries()["link_prediction_adamic_adar"]
    for rep in range(2):
        spark.sparkContext.setJobDescription(f"adamic:{rep}")
        t0 = time.time()
        fn(spark, tmp).write.format("noop").mode("overwrite").save()
        print(f"rep{rep}: wall {time.time() - t0:.1f}s")
    spark.stop()
    time.sleep(1)
    for row in stage_stats(evdir):
        if row["n_tasks"] > 1 and row["sum_s"] > 2:
            print(row)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
