"""Bucketed tables: co-located joins with NO exchange.

The 100 TB pattern for repeated fact-fact joins: write both sides bucketed by
the join key (`bucketBy(n, key)` + saveAsTable); every subsequent join reads
co-partitioned buckets and Catalyst plans SortMergeJoin with zero Exchange on
either side — the shuffle happened once at write time, then never again.
This is the engine analog of the reference co-hashing two DistMaps with the
same hasher (join-readiness by construction, SURVEY.md §2.3 Joins /
/root/reference/src/dist_hasher.h:15).

tests/test_plans.py asserts the exchange-free plan; the oracle query proves
result identity with the plain join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hpmr_spark.sources.tables import load_table

N_BUCKETS = 8
_prepared: set = set()


def _writable_table_base(spark: SparkSession) -> str | None:
    """None when the session warehouse dir is writable (managed tables work);
    otherwise a fresh tmp dir to host EXTERNAL bucketed tables.
    `spark.sql.warehouse.dir` is a static conf — it cannot be repointed on a
    live session — but `.option("path", ...)` per table can, which is the
    read-only-cwd escape hatch."""
    import os
    import tempfile

    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    try:
        os.makedirs(warehouse, exist_ok=True)
        probe = os.path.join(warehouse, ".hpmr_write_probe")
        with open(probe, "w"):
            pass
        os.remove(probe)
        return None
    except OSError:
        return tempfile.mkdtemp(prefix="hpmr_warehouse_")


def prepare_bucketed(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Materialize lineitem+orders bucketed by orderkey (once per sf_dir)."""
    import shutil

    tag = sf_dir.rstrip("/").rsplit("sf", 1)[-1].replace(".", "_")
    li_name, o_name = f"li_bkt_{tag}", f"o_bkt_{tag}"
    if (sf_dir, "done") in _prepared:
        return li_name, o_name
    alt_base = _writable_table_base(spark)
    # idempotent across sessions: the in-memory catalog forgets tables but
    # their warehouse directories persist — clear both
    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for name in (li_name, o_name):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        if alt_base is None:
            shutil.rmtree(f"{warehouse}/{name}", ignore_errors=True)
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    for df, name, key in ((li, li_name, "l_orderkey"), (o, o_name, "o_orderkey")):
        writer = df.write.mode("overwrite").bucketBy(N_BUCKETS, key).sortBy(key)
        if alt_base is not None:
            writer = writer.option("path", f"{alt_base}/{name}")
        writer.saveAsTable(name)
    _prepared.add((sf_dir, "done"))
    return li_name, o_name


def _plain_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fallback when bucketed tables can't be materialized (read-only cwd /
    warehouse): same result via a plain shuffle join."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_extendedprice", "l_discount"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    return (
        li.join(o.hint("merge"), li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast(
                    "long"
                )
            ).alias("revenue_cents")
        )
    )


def bucketed_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    try:
        li_name, o_name = prepare_bucketed(spark, sf_dir)
    except Exception:  # pragma: no cover — read-only warehouse fallback
        return _plain_join_revenue(spark, sf_dir)
    li = spark.table(li_name)
    # merge hint: at test scale Catalyst would broadcast the small side and
    # hide the point — at 100 TB neither fact side broadcasts, SMJ is the
    # real plan, and bucketing removes both exchanges under it
    o = spark.table(o_name).hint("merge")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast(
                    "long"
                )
            ).alias("revenue_cents")
        )
    )
