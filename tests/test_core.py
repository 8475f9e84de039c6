"""Core container parity tests, mirroring the reference's golden-value tests
(SURVEY.md §5): range_test.cc, dist_map_test.cc, concurrent_map_test.cc,
hash_set_test.cc workload shapes at reduced N.
"""

import warnings
from datetime import date

import pytest
from pyspark.sql import functions as F

from hpmr_spark import KeyedMap, KeyedSet, Reducer, prange
from tests.conftest import assert_partition_invariant

N = 10_000


def test_prange_distinct_count(spark):
    # range_test.cc:6-16 — emit each i as a key, expect N distinct keys.
    km = prange(spark, 0, N).map_reduce_expr(F.col("id"), F.lit(1), Reducer.sum)
    assert km.n_keys() == N


def test_prange_mapreduce_sum_golden(spark):
    # dist_map_test.cc:71-88 — map all to one key, sum == N(N-1)/2.
    km = prange(spark, 0, N).map_reduce_expr(F.lit(0), F.col("id"), Reducer.sum)
    assert km.get(0) == N * (N - 1) // 2


def test_prange_python_mapper_sum(spark):
    km = prange(spark, 0, 1000).map_reduce(lambda i: [(i % 10, i)], Reducer.sum)
    total = sum(v for _, v in km.items())
    assert total == 1000 * 999 // 2
    assert km.n_keys() == 10


def test_partition_invariance(spark):
    # Same assertions at different shuffle parallelism (ref: n_procs 1 vs 4).
    assert_partition_invariant(
        spark,
        lambda: prange(spark, 0, N).map_reduce_expr(
            F.col("id") % 97, F.col("id"), Reducer.sum
        ),
        lambda km: (km.n_keys() == 97, km.get(0) == sum(i for i in range(N) if i % 97 == 0)),
    )


def test_reducers_sum_min_max(spark):
    # concurrent_map_test.cc:47-58 reducer algebra; min/max use corrected
    # semantics (SURVEY.md §2.2 — reference bodies are transposed).
    pairs = [("a", 5), ("a", 3), ("a", 9), ("b", 1)]
    assert KeyedMap.from_pairs(spark, pairs, Reducer.sum).get("a") == 17
    assert KeyedMap.from_pairs(spark, pairs, Reducer.min).get("a") == 3
    assert KeyedMap.from_pairs(spark, pairs, Reducer.max).get("a") == 9
    assert KeyedMap.from_pairs(spark, pairs, Reducer.max).get("b") == 1


def test_reducers_keep_overwrite_deterministic(spark):
    # keep = first by arrival order, overwrite = last by arrival order.
    pairs = [("a", 5), ("a", 3), ("a", 9)]
    assert KeyedMap.from_pairs(spark, pairs, Reducer.keep).get("a") == 5
    assert KeyedMap.from_pairs(spark, pairs, Reducer.overwrite).get("a") == 9


def test_custom_reducer_rdd_path(spark):
    # user std::function reducer analog (src/dist_map.h:34) — product merge.
    pairs = [(1, 2), (1, 3), (1, 4), (2, 5)]
    km = KeyedMap.from_pairs(spark, pairs, Reducer.custom(lambda a, b: a * b, "prod"))
    assert km.get(1) == 24
    assert km.get(2) == 5


# The custom-reducer Arrow fold, checked against the JVM path of the same
# merge (the canned reducers) wherever one exists.
PYSUM = Reducer.custom(lambda a, b: a + b, "pysum")
PYMAX = Reducer.custom(lambda a, b: a if a >= b else b, "pymax")


def test_custom_reducer_empty_input(spark):
    empty = spark.createDataFrame([], "k long, v long")
    km = KeyedMap.from_df(empty, "k", "v", PYSUM)
    assert km.n_keys() == 0 and km.to_dict() == {}


def test_custom_reducer_keeps_decimal_type(spark):
    from decimal import Decimal

    from pyspark.sql.types import DecimalType

    df = spark.sql("SELECT id % 3 AS k, CAST(id / 100 AS DECIMAL(10,2)) AS v FROM range(30)")
    km = KeyedMap.from_df(df, "k", "v", PYSUM)
    assert km.df.schema["value"].dataType == DecimalType(10, 2)
    want = {k: sum(Decimal(i).scaleb(-2) for i in range(k, 30, 3)) for k in range(3)}
    assert km.to_dict() == want


def test_custom_reducer_null_keys_fold_to_one_entry(spark):
    df = spark.sql("SELECT IF(id % 2 = 0, NULL, id % 5) AS k, id AS v FROM range(100)")
    got = KeyedMap.from_df(df, "k", "v", PYSUM).to_dict()
    assert len(got) == 6 and got[None] == sum(range(0, 100, 2))
    assert got == KeyedMap.from_df(df, "k", "v", Reducer.sum).to_dict()


def test_custom_reducer_hot_key(spark):
    # 60% of the rows on key 0, spread over 4 input partitions
    df = spark.sql(
        "SELECT IF(id % 10 < 6, 0, id % 1000) AS k, (id * 7919) % 100003 AS v FROM range(20000)"
    ).repartition(4)
    got = KeyedMap.from_df(df, "k", "v", PYMAX)
    assert got.n_keys() == 1 + len({i % 1000 for i in range(20000) if i % 10 >= 6} - {0})
    assert got.to_dict() == KeyedMap.from_df(df, "k", "v", Reducer.max).to_dict()


def test_custom_reducer_set_batch(spark):
    km = KeyedMap.from_pairs(spark, [("a", 1), ("b", 2)])
    batch = spark.createDataFrame([("a", 10), ("c", 3), ("a", 5)], ["k", "v"])
    merged = km.set_batch(batch, "k", "v", PYSUM)
    assert merged.to_dict() == {"a": 16, "b": 2, "c": 3}
    again = merged.set_batch(batch, "k", "v", PYMAX)
    assert again.to_dict() == {"a": 16, "b": 2, "c": 3}


@pytest.mark.parametrize(
    "sql, fn, message",
    [
        # a double result for a bigint value
        ("SELECT 1 AS k, CAST(id + 2 AS BIGINT) AS v FROM range(2)", lambda a, b: a / b, "truncated"),
        # a third decimal digit for decimal(10,2)
        ("SELECT 1 AS k, CAST(1.25 AS DECIMAL(10,2)) AS v FROM range(2)", lambda a, b: a * b, "data loss"),
        # a numeric string for a bigint (a cast would parse it)
        ("SELECT 1 AS k, id AS v FROM range(2)", lambda a, b: str(a + b), "returned string"),
    ],
)
def test_custom_reducer_result_must_fit_value_type(spark, sql, fn, message):
    km = KeyedMap.from_df(spark.sql(sql), "k", "v", Reducer.custom(fn))
    with pytest.raises(Exception, match=message):
        km.df.collect()


def test_custom_reducer_partition_invariant(spark):
    src = spark.range(0, N).select((F.col("id") % 97).alias("k"), F.col("id").alias("v"))
    want = {k: sum(range(k, N, 97)) for k in range(97)}
    assert_partition_invariant(
        spark,
        lambda: KeyedMap.from_df(src, "k", "v", PYSUM),
        lambda km: km.to_dict() == want,
    )


def test_custom_reducer_plan_is_one_fold_after_one_shuffle(spark):
    # The fold runs once, after the key shuffle: no map-side Python pass.
    import re

    from hpmr_spark.plans.explain import formatted_plan, n_shuffles

    df = spark.range(1000).selectExpr("id % 7 AS k", "id AS v")
    folded = KeyedMap.from_df(df, "k", "v", PYSUM).df
    plan = formatted_plan(folded)
    assert len(re.findall(r"\(\d+\) MapInArrow\b", plan)) == 1, plan
    assert n_shuffles(folded) == 1, plan


def _canon(km):
    # repr-sorted items: NaN keys compare equal by spelling, not by ==
    return sorted(repr(kv) for kv in km.items())


@pytest.mark.parametrize(
    "key_sql",
    [
        "d",
        "named_struct('d', d, 'b', id % 2 = 0)",
        "array(d, CAST('-0.0' AS DOUBLE))",
        "array(named_struct('d', d))",
    ],
)
def test_custom_reducer_float_keys_group_as_canned(spark, key_sql):
    # 0.0, -0.0 and NaNs of two bit patterns, alone and inside structs and
    # arrays, over 4 input partitions: the key shuffle must co-locate what
    # grouping treats as one key.
    d = (
        "CASE id % 4 WHEN 0 THEN CAST('0.0' AS DOUBLE) WHEN 1 THEN CAST('-0.0' AS DOUBLE)"
        " WHEN 2 THEN CAST('NaN' AS DOUBLE) ELSE -CAST('NaN' AS DOUBLE) END"
    )
    df = (
        spark.range(4000)
        .selectExpr("id", f"{d} AS d")
        .selectExpr(f"{key_sql} AS k", "id AS v")
        .repartition(4)
    )
    assert df.rdd.getNumPartitions() >= 4
    # keep the key shuffle's 16 partitions apart: coalescing them would hide
    # a shuffle that split one grouping key
    confs = {"spark.sql.shuffle.partitions": "16",
             "spark.sql.adaptive.coalescePartitions.enabled": "false"}
    orig = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        got = KeyedMap.from_df(df, "k", "v", PYSUM)
        want = KeyedMap.from_df(df, "k", "v", Reducer.sum)
        assert got.n_keys() == want.n_keys()
        assert _canon(got) == _canon(want)
    finally:
        for k, v in orig.items():
            spark.conf.set(k, v)


def test_custom_reducer_hot_key_single_partition(spark):
    # every row in one input partition, 60% of them on key 0
    df = spark.sql(
        "SELECT IF(id % 10 < 6, 0, id % 1000) AS k, (id * 7919) % 100003 AS v FROM range(20000)"
    ).repartition(1)
    assert df.rdd.getNumPartitions() == 1
    got = KeyedMap.from_df(df, "k", "v", PYMAX).to_dict()
    assert got == KeyedMap.from_df(df, "k", "v", Reducer.max).to_dict()


def test_get_default_and_has_unset(spark):
    # dist_map_test.cc:26-31, hash_set_test.cc membership/delete.
    km = KeyedMap.from_pairs(spark, [("x", 1), ("y", 2)])
    assert km.get("z", default=-1) == -1
    assert km.has("x") and not km.has("z")
    km2 = km.unset("x")
    assert not km2.has("x") and km2.n_keys() == 1


def test_unset_keeps_null_key(spark):
    # `key != k` is NULL on the NULL key; unset(k) must not drop that row,
    # and unset(None) deletes nothing, as has(None) finds nothing.
    km = KeyedMap.from_pairs(spark, [(None, 1), ("a", 2), ("b", 3)])
    want = {None: 1, "b": 3}
    assert km.unset("a").to_dict() == want
    gone = spark.createDataFrame([("a",)], "k string")
    assert km.unset_many(gone, "k").to_dict() == want  # left-anti control
    assert km.unset(None).to_dict() == km.to_dict()
    s = KeyedSet.from_df(spark.createDataFrame([(None,), ("a",), ("b",)], "k string"), "k")
    assert {r[0] for r in s.unset("a").to_df().collect()} == {None, "b"}
    assert s.unset(None).n_keys() == 3


def test_get_many_batched(spark):
    km = KeyedMap.from_pairs(spark, [(i, i * i) for i in range(100)])
    got = km.get_many([3, 7, 200])
    assert got == {3: 9, 7: 49}


def _isin_lookup(km, keys):
    rows = km.df.where(F.col("key").isin(keys)).select("key", "value").collect()
    return {r[0]: r[1] for r in rows}


@pytest.mark.parametrize(
    "pairs, keys",
    [
        # quotes, backslashes and ${...} (which the SQL parser substitutes)
        # survive the SQL IN list
        (
            [("a'b", 1), ("c\\d", 2), ("e\\'f", 3), ('g"h', 4), ("x\\", 5), ("", 6),
             ("${spark.app.name}", 7), ("${nope}", 8)],
            ["a'b", "c\\d", "e\\'f", 'g"h', "x\\", "", "absent'", "\\",
             "${spark.app.name}", "${nope}"],
        ),
        # bigint bounds
        ([(2**63 - 1, 1), (-(2**63), 2), (0, 3)], [2**63 - 1, -(2**63), 5]),
        # NULL matches nothing, as in isin
        ([(None, 1), (1, 2)], [None, 1]),
        # NaN matches NaN (Spark SQL equality)
        ([(float("nan"), 1), (0.5, 2), (-0.0, 3)], [float("nan"), 0.5, 1e300]),
        # a type _sql_lit cannot render falls back to isin
        ([(date(2020, 1, d), d) for d in (1, 2, 3)], [date(2020, 1, 2)]),
    ],
    ids=["quotes", "bigint-bounds", "null", "nan", "date-fallback"],
)
def test_get_many_matches_isin(spark, pairs, keys):
    km = KeyedMap.from_pairs(spark, pairs)
    got, want = km.get_many(keys), _isin_lookup(km, keys)
    assert sorted(map(repr, got.items())) == sorted(map(repr, want.items()))
    assert got  # every case finds at least one key


def test_get_many_empty_runs_no_job(spark):
    from hpmr_spark.engine import count_jobs

    km = KeyedMap.from_pairs(spark, [(1, 2)])
    got, n_jobs = count_jobs(spark, lambda: km.get_many([]))
    assert got == {} and n_jobs == 0


def test_synced_state_is_key_value(spark):
    # the order column only decides keep/overwrite; synced state drops it
    src = spark.createDataFrame([("a", 1, 5), ("a", 2, 9), ("b", 7, 3)], ["k", "v", "ord"])
    for reducer in (Reducer.overwrite, Reducer.sum, PYSUM):
        km = KeyedMap.from_df(src, "k", "v", reducer, order_col="ord")
        assert km.df.columns == ["key", "value"]
    assert KeyedMap.from_pairs(spark, [("a", 1)]).df.columns == ["key", "value"]


def test_set_batch_epoch_merge(spark):
    # async_set → sync epochs: batch writes merge into state.
    km = KeyedMap.from_pairs(spark, [("a", 1), ("b", 2)])
    batch = km.df.sparkSession.createDataFrame([("a", 10), ("c", 3)], ["k", "v"])
    merged = km.set_batch(batch, "k", "v", Reducer.sum)
    assert merged.get("a") == 11 and merged.get("b") == 2 and merged.get("c") == 3
    overwritten = km.set_batch(batch, "k", "v", Reducer.overwrite)
    assert overwritten.get("a") == 10 and overwritten.get("b") == 2


def test_set_batch_beats_user_order_col(spark):
    # A map built via from_df with a real-world order column (epoch-micros
    # scale, ≫ 2^40) must still let set_batch's overwrite win: every epoch
    # stamps the state order 0 and the batch order 1.
    big = 1_700_000_000_000_000  # epoch-micros ballpark
    src = spark.createDataFrame(
        [("a", 1, big), ("a", 2, big + 5), ("b", 7, big)], ["k", "v", "ord"]
    )
    km = KeyedMap.from_df(src, "k", "v", Reducer.overwrite, order_col="ord")
    assert km.get("a") == 2
    batch = spark.createDataFrame([("a", 99)], ["k", "v"])
    assert km.set_batch(batch, "k", "v", Reducer.overwrite).get("a") == 99
    assert km.set_batch(batch, "k", "v", Reducer.keep).get("a") == 2


def test_set_batch_builds_without_a_job(spark):
    # Every epoch stamps the state order 0 and the batch order 1, so
    # building an epoch — even over a user order column — runs no job.
    from hpmr_spark.engine import count_jobs

    src = spark.createDataFrame([("a", 1, 10**15), ("b", 7, 3)], ["k", "v", "ord"])
    km = KeyedMap.from_df(src, "k", "v", Reducer.overwrite, order_col="ord")
    batch = spark.createDataFrame([("a", 99), ("c", 5)], ["k", "v"])
    for reducer in (Reducer.overwrite, Reducer.keep, Reducer.sum):
        merged, n_jobs = count_jobs(spark, lambda: km.set_batch(batch, "k", "v", reducer))
        assert n_jobs == 0
    assert dict(merged.items()) == {"a": 100, "b": 7, "c": 5}
    again, n_jobs = count_jobs(spark, lambda: merged.set_batch(batch, "k", "v", Reducer.overwrite))
    assert n_jobs == 0
    assert dict(again.items()) == {"a": 99, "b": 7, "c": 5}


def test_chained_map_reduce(spark):
    # DistMap::mapreduce chaining (src/dist_map.h:256-279 result is same type).
    km = prange(spark, 0, 1000).map_reduce_expr(F.col("id") % 100, F.lit(1), Reducer.sum)
    km2 = km.map_reduce_expr(F.col("value"), F.lit(1), Reducer.sum)
    # every one of the 100 keys has count 10 → histogram {10: 100}
    assert km2.get(10) == 100
    assert km2.n_keys() == 1


def test_clear_and_epochs(spark):
    km = KeyedMap.from_pairs(spark, [("a", 1)])
    assert km.clear().n_keys() == 0


def test_keyed_set_ops(spark):
    s1 = KeyedSet.from_keys(spark, [1, 2, 3, 4])
    s2 = KeyedSet.from_keys(spark, [3, 4, 5])
    assert s1.n_keys() == 4
    assert s1.has(2) and not s1.has(9)
    assert s1.union(s2).n_keys() == 5
    assert s1.intersect(s2).n_keys() == 2
    assert s1.difference(s2).n_keys() == 2
    assert s1.unset(1).n_keys() == 3


def test_keyed_set_dedup_on_ingest(spark):
    # hash_set_test.cc:57-71 pattern — duplicate inserts collapse.
    df = spark.range(1000).select((F.col("id") % 100).alias("k"))
    s = KeyedSet.from_df(df, "k")
    assert s.n_keys() == 100


# overwrite gets distinct keys: rows of one batch carry the same order
@pytest.mark.parametrize(
    "reducer, rows, want",
    [
        (Reducer.sum, [(1, 5), (2, 7), (1, 3)], {1: 8, 2: 7}),
        (Reducer.max, [(1, 5), (2, 7), (1, 3)], {1: 5, 2: 7}),
        (PYSUM, [(1, 5), (2, 7), (1, 3)], {1: 8, 2: 7}),
        (Reducer.overwrite, [(1, 5), (2, 7)], {1: 5, 2: 7}),
    ],
)
def test_empty_map_then_one_epoch(spark, reducer, rows, want):
    # no pairs: NULL-typed columns, widened by the first batch
    km = KeyedMap.from_pairs(spark, [], reducer)
    assert km.df.schema.simpleString() == "struct<key:void,value:void>"
    assert (km.n_keys(), km.to_dict(), km.get_many([1]), km.has(1)) == (0, {}, {}, False)
    batch = spark.createDataFrame(rows, "k long, v long")
    got = km.set_batch(batch, "k", "v", reducer)
    assert got.df.schema.simpleString() == "struct<key:bigint,value:bigint>"
    assert got.to_dict() == want


def test_empty_set_then_one_batch(spark):
    s = KeyedSet.from_keys(spark, [])
    assert s.df.schema.simpleString() == "struct<key:void>"
    assert (s.n_keys(), s.has(1)) == (0, False)
    got = s.add_batch(spark.createDataFrame([(1,), (2,), (1,)], "k long"), "k")
    assert got.df.schema.simpleString() == "struct<key:bigint>"
    assert got.n_keys() == 2 and got.has(1) and not got.has(3)


def test_lookup_join_literal_map(spark):
    # hot-lookup idiom: small map becomes a literal Catalyst map column
    km = KeyedMap.from_pairs(spark, [(1, "a"), (2, "b")])
    df = spark.createDataFrame([(1,), (2,), (3,)], ["k"])
    # a Column key to getItem is deprecated (FutureWarning); indexing is not
    with warnings.catch_warnings():
        warnings.simplefilter("error", FutureWarning)
        joined = km.lookup_join(df, "k")
    out = {r["k"]: r["value"] for r in joined.collect()}
    assert out == {1: "a", 2: "b", 3: None}
    assert km.to_dict() == {1: "a", 2: "b"}


def test_keyed_set_bulk_membership(spark):
    df = spark.createDataFrame([(i, f"r{i}") for i in range(10)], ["k", "payload"])
    s = KeyedSet.from_keys(spark, [2, 4, 6])
    assert s.filter_members(df, "k").count() == 3
    assert s.filter_non_members(df, "k").count() == 7


def test_custom_partitioner_placement(spark, sf_dir):
    """Every key lands in the partition its hash says — the DistHasher
    contract (placement, not just counts)."""
    from hpmr_spark.sources.tables import load_table

    n, mult = 8, 2654435761
    o = load_table(spark, sf_dir, "orders").select("o_custkey").limit(2000)
    rdd = o.rdd.map(lambda r: (r[0], 1)).partitionBy(
        n, lambda k: (k * mult % 4294967296) % n
    )

    def misplaced(idx, it):
        bad = sum(1 for k, _ in it if (k * mult % 4294967296) % n != idx)
        yield bad

    assert sum(rdd.mapPartitionsWithIndex(misplaced).collect()) == 0


def test_top_k_api(spark):
    """KeyedMap.top_k — the user-facing scale-safe replacement for
    Window.orderBy: TakeOrdered selection + rank over the k-row result, with
    the (value, key) total order making ties deterministic."""
    from hpmr_spark.plans.explain import simple_plan

    km = KeyedMap.from_pairs(
        spark, [(1, 50), (2, 90), (3, 90), (4, 10), (5, 70)]
    )
    got = [(r["key"], r["value"], r["rank"]) for r in km.top_k(3).collect()]
    assert got == [(2, 90, 1), (3, 90, 2), (5, 70, 3)]
    asc = [(r["key"], r["rank"]) for r in km.top_k(2, descending=False).collect()]
    assert asc == [(4, 1), (1, 2)]
    assert "TakeOrderedAndProject" in simple_plan(km.top_k(3))


def test_quantiles_api(spark):
    """KeyedMap.quantiles ≡ NTILE over (value, key) with no single-partition
    window in the plan."""
    from pyspark.sql import Window

    from hpmr_spark.plans.explain import n_single_partition_windows

    km = KeyedMap.from_pairs(spark, [(i, (i * 37) % 100) for i in range(200)])
    got = {r["key"]: r["bucket"] for r in km.quantiles(4).collect()}
    ref = {
        r["key"]: r["b"]
        for r in km.df.select(
            "key", F.ntile(4).over(Window.orderBy("value", "key")).cast("long").alias("b")
        ).collect()
    }
    assert got == ref
    assert n_single_partition_windows(km.quantiles(4)) == 0
