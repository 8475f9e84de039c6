"""functions/ranking.py — the scale-safe two-pass bucketed global ordering
helpers that replace every partition-less Window.orderBy over fact-scale
frames (round-2 verdict lead item).

Covers: exact parity with the single-partition window forms (row_number,
NTILE, running sum/max/min, strict and suffix variants), plan shape (no
Exchange SinglePartition, no single-partition Window), partition-count
invariance, and the determinism regression that killed the first
(repartitionByRange + spark_partition_id) design: RangePartitioner samples
with an RDD-id-derived seed, so two evaluations of one logical plan could
disagree on boundaries and corrupt prefix offsets. Bucket-by-value cannot.
"""

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from hpmr_spark.functions.ranking import (
    exact_ntile,
    global_row_number,
    global_running,
)
from hpmr_spark.plans.explain import n_single_partition_windows

from conftest import assert_partition_invariant


@pytest.fixture(scope="module")
def orders(spark, sf_dir):
    return (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .select(
            "o_orderkey",
            "o_totalprice",
            F.round(F.col("o_totalprice") * 100).cast("long").alias("cents"),
        )
    )


def _n_diffs(a, b, key="o_orderkey", col="v"):
    return (
        a.alias("a")
        .join(b.alias("b"), key)
        .where(~F.col(f"a.{col}").eqNullSafe(F.col(f"b.{col}")))
        .count()
    )


def test_row_number_matches_window(orders):
    w = Window.orderBy("o_totalprice", "o_orderkey")
    ref = orders.select("o_orderkey", F.row_number().over(w).cast("long").alias("v"))
    got = global_row_number(
        orders, ["o_totalprice", "o_orderkey"], out="v"
    ).select("o_orderkey", "v")
    assert got.count() == orders.count()
    assert _n_diffs(ref, got) == 0


def test_row_number_descending(orders):
    w = Window.orderBy(F.col("cents").desc(), F.col("o_orderkey").desc())
    ref = orders.select("o_orderkey", F.row_number().over(w).cast("long").alias("v"))
    got = global_row_number(
        orders, ["cents", "o_orderkey"], out="v", descending=True
    ).select("o_orderkey", "v")
    assert _n_diffs(ref, got) == 0


@pytest.mark.parametrize("buckets", [1, 3, 7, 10])
def test_exact_ntile_matches_builtin(orders, buckets):
    w = Window.orderBy("cents", "o_orderkey")
    ref = orders.select(
        "o_orderkey", F.ntile(buckets).over(w).cast("long").alias("v")
    )
    r = global_row_number(orders, ["cents", "o_orderkey"], out="rn")
    t = orders.agg(F.count(F.lit(1)).alias("n"))
    got = r.crossJoin(F.broadcast(t)).select(
        "o_orderkey", exact_ntile(F.col("rn"), F.col("n"), buckets).alias("v")
    )
    assert _n_diffs(ref, got) == 0


@pytest.mark.parametrize(
    "kind,strict", [("sum", False), ("sum", True), ("max", False), ("min", True)]
)
def test_running_matches_window(orders, kind, strict):
    agg = {"sum": F.sum, "max": F.max, "min": F.min}[kind]
    end = -1 if strict else Window.currentRow
    w = (
        Window.orderBy("cents", "o_orderkey")
        .rowsBetween(Window.unboundedPreceding, end)
    )
    ref = orders.select("o_orderkey", agg("cents").over(w).alias("v"))
    got = global_running(
        orders, ["cents", "o_orderkey"], "cents", kind=kind, strict=strict, out="v"
    ).select("o_orderkey", "v")
    assert _n_diffs(ref, got) == 0


def test_suffix_min_descending(orders):
    """Strict suffix-min (the skyline shape): min over all strictly-later
    rows in cents-DESC order."""
    w = Window.orderBy(F.col("cents").desc(), F.col("o_orderkey").desc())
    ref = orders.select(
        "o_orderkey",
        F.min("cents").over(w.rowsBetween(Window.unboundedPreceding, -1)).alias("v"),
    )
    got = global_running(
        orders,
        ["cents", "o_orderkey"],
        "cents",
        kind="min",
        strict=True,
        descending=True,
        out="v",
    ).select("o_orderkey", "v")
    assert _n_diffs(ref, got) == 0


def test_deterministic_across_actions(spark, sf_dir):
    """Regression: the first design (repartitionByRange + spark_partition_id)
    produced DIFFERENT results on different actions over the same logical
    plan — RangePartitioner's sampling seed derives from the RDD id, so the
    local-window and per-partition-totals subtrees could disagree on
    boundaries. Bucket ids are now pure row-value functions; five actions
    must agree exactly (the events frontier is the query that caught it:
    arrival order == time order, so every lateness must be 0)."""
    from hpmr_spark.sources.tables import load_events

    ev = load_events(spark, sf_dir)
    base = ev.select("event_id", F.unix_micros("ts").alias("us"))
    results = set()
    for _ in range(5):
        a = global_running(base, ["event_id"], "us", kind="max", out="frontier")
        results.add(
            a.agg(F.max(F.col("frontier") - F.col("us")).alias("m")).collect()[0]["m"]
        )
    assert results == {0}


def test_plan_has_no_single_partition_window(orders):
    """The window itself is partitioned by bucket; the only SinglePartition
    exchanges left are 1-row global aggregates (partial+final min/max
    bounds) — the scale-safe shape."""
    df = global_row_number(orders, ["o_totalprice", "o_orderkey"])
    assert n_single_partition_windows(df) == 0
    df2 = global_running(orders, ["cents", "o_orderkey"], "cents", kind="sum")
    assert n_single_partition_windows(df2) == 0


def test_detector_sees_the_bad_shape(orders):
    bad = orders.select(
        "o_orderkey",
        F.row_number().over(Window.orderBy("o_totalprice", "o_orderkey")).alias("rn"),
    )
    assert n_single_partition_windows(bad) >= 1


def test_partition_count_invariance(spark, orders):
    ref = sorted(
        r["v"]
        for r in orders.select(
            F.row_number()
            .over(Window.orderBy("o_totalprice", "o_orderkey"))
            .cast("long")
            .alias("v")
        ).collect()
    )

    def build():
        return sorted(
            r["v"]
            for r in global_row_number(
                orders, ["o_totalprice", "o_orderkey"], out="v"
            ).select("v").collect()
        )

    assert_partition_invariant(spark, build, lambda got: got == ref)


def test_all_equal_keys_single_bucket(spark):
    """Degenerate leading key (span 0): everything lands in bucket 0 and the
    rank is still a correct total order over the tie-break column."""
    df = spark.range(100).select(
        F.lit(7).alias("k"), F.col("id").cast("long").alias("tb")
    )
    got = global_row_number(df, ["k", "tb"], out="rn").select("tb", "rn").collect()
    assert sorted((r["tb"], r["rn"]) for r in got) == [(i, i + 1) for i in range(100)]


def test_global_row_numbers_partition_invariant(spark):
    """The fused multi-ordering builder must assign the same ranks for any
    physical partitioning of the input, and each ordering's ranks must be
    the sorted enumeration."""
    from hpmr_spark.functions.ranking import global_row_numbers

    base = spark.range(0, 500).select(
        F.col("id").alias("k"),
        ((F.col("id") * 37) % 101).alias("a"),
        ((F.col("id") * 53) % 97).alias("b"),
    )
    specs = [(["a", "k"], "rn_a"), (["b", "k"], "rn_b", True)]
    outs = []
    for parts in (1, 7, 32):
        df = base.repartition(parts)
        r = global_row_numbers(df, specs)
        outs.append({x["k"]: (x["rn_a"], x["rn_b"]) for x in r.collect()})
    assert outs[0] == outs[1] == outs[2]
    rows = sorted(outs[0].items())
    by_a = sorted(rows, key=lambda kv: ((kv[0] * 37) % 101, kv[0]))
    for i, (k, (rn_a, _)) in enumerate(by_a, start=1):
        assert outs[0][k][0] == i
    # descending=True reverses EVERY order column (mixed direction is done
    # by negating the key, per pareto) — model is (b DESC, k DESC)
    by_b_desc = sorted(rows, key=lambda kv: (-((kv[0] * 53) % 97), -kv[0]))
    for i, (k, _) in enumerate(by_b_desc, start=1):
        assert outs[0][k][1] == i


def test_null_keys_not_dropped(spark):
    """ADVICE r4: NULL leading keys must NOT be silently dropped by the
    bucket equi-join — they route to the NULLS FIRST (asc) / NULLS LAST
    (desc) bucket, matching Spark's default window NULL ordering."""
    from hpmr_spark.functions.ranking import global_row_number, global_row_numbers

    base = spark.range(0, 200).select(
        F.col("id").alias("k"),
        F.when(F.col("id") % 7 == 0, F.lit(None).cast("long"))
        .otherwise((F.col("id") * 37) % 101)
        .alias("x"),
    )
    w_asc = Window.orderBy(F.col("x").asc(), F.col("k").asc())
    ref_asc = {
        r["k"]: r["rn"]
        for r in base.withColumn("rn", F.row_number().over(w_asc)).collect()
    }
    got_asc = {
        r["k"]: r["rn"]
        for r in global_row_number(base, ["x", "k"], out="rn").collect()
    }
    assert len(got_asc) == 200, "NULL-keyed rows were dropped"
    assert got_asc == ref_asc

    w_desc = Window.orderBy(F.col("x").desc(), F.col("k").desc())
    ref_desc = {
        r["k"]: r["rn"]
        for r in base.withColumn("rn", F.row_number().over(w_desc)).collect()
    }
    got_desc = {
        r["k"]: r["rn_d"]
        for r in global_row_numbers(base, [(["x", "k"], "rn_d", True)]).collect()
    }
    assert len(got_desc) == 200
    assert got_desc == ref_desc
