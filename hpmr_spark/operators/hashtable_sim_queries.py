"""Round-12 second sitting, wave 7: linear_probe_displacement_census —
an exact open-addressing (linear probing) table census, the analytical
companion of the reference's hash-map core (src/bare_map.h /
bare_concurrent_map.h open-addressing tables and the
get_load_factor/set_max_load_factor knobs, src/dist_map.h:25-29): given
the committed key set and table size M, compute the total probe
displacement, the worst cluster overflow, and the empty-slot count the
table WOULD have — the numbers a max_load_factor policy is chosen from.

Order-independence (why this is oracle-checkable at all): for linear
probing with first-come placement, the OCCUPIED SLOT SET and the TOTAL
displacement are insertion-order invariant (the parking-function
property) even though per-key displacements are not — so the census
emits exactly the order-free statistics. They come from the classic
carry recurrence over the home-slot histogram: carry(s) = max(0,
carry(s-1) + c(s) - 1); Σ carry = total displacement, carry(s) > 0 ⟺
slot s+1 gets pushed into, c(s)=0 ∧ carry(s-1)=0 ⟺ slot s empty.
Wraparound is handled by folding the histogram TWICE and reading stats
from the second pass (valid because load factor < 1 makes the carry
reach a fixed point within one wrap).

Shape: one hash map over the key set + a bounded-grid left join to the
M-slot histogram row + a 2M-step in-row fold (the Kalman class).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hpmr_spark.catalog import _t, register
from hpmr_spark.functions.exprs import el_duck, el_spark
from hpmr_spark.functions.hashing import spark_sql_hash60, sql_hash60

_LP_M = 2048  # committed table size (power of two, like the reference)
# committed key subset: c_custkey % 10 = 0. α < 1 holds for the SFs this
# repo exercises (sf0.001-sf0.1: ≤1500 keys vs 2048 slots); at sf1 the
# subset is ~15k keys (α ≈ 7.3) where the carry recurrence's fixed-point
# argument breaks — the query fn guards α < 1 from the parquet footer
# (ADVICE r10) and raises with a routing message instead of emitting a
# silently-invalid census.
_LP_KMOD = 10


def _lp_fold(el) -> str:
    """acc = [carry, sum2, max2, empty2, i]; element = [c] (home-slot
    count). Stats accumulate only on the second pass (i > M)."""
    carry, sm, mx = el("acc", "1"), el("acc", "2"), el("acc", "3")
    emp, i = el("acc", "4"), el("acc", "5")
    c = el("e", "1")
    nc = (
        f"CASE WHEN {carry} + {c} - 1.0e0 > 0.0e0"
        f" THEN {carry} + {c} - 1.0e0 ELSE 0.0e0 END"
    )
    second = f"{i} >= {_LP_M}.0e0"
    return (
        f"(acc, e) -> array("
        f"{nc},"
        f" CASE WHEN {second} THEN {sm} + {nc} ELSE {sm} END,"
        f" CASE WHEN {second} AND {nc} > {mx} THEN {nc} ELSE {mx} END,"
        f" CASE WHEN {second} AND {c} = 0.0e0 AND {carry} = 0.0e0"
        f" THEN {emp} + 1.0e0 ELSE {emp} END,"
        f" {i} + 1.0e0)"
    )


def _lp_oracle() -> str:
    h = sql_hash60("'lp:' || CAST(c_custkey AS VARCHAR)")
    fold = _lp_fold(el_duck).replace("array(", "list_value(")
    return f"""
    WITH keys AS (
      SELECT DISTINCT c_custkey, {h} % {_LP_M} AS home
      FROM customer WHERE c_custkey % {_LP_KMOD} = 0
    ),
    hist AS (
      SELECT g.s, CAST(COUNT(k.c_custkey) AS DOUBLE) AS c
      FROM (SELECT unnest(range(0, {_LP_M})) AS s) g
        LEFT JOIN keys k ON k.home = g.s
      GROUP BY g.s
    ),
    row1 AS (
      SELECT list([c] ORDER BY s) AS cs,
             CAST(SUM(c) AS BIGINT) AS n_keys
      FROM hist
    ),
    folded AS (
      SELECT n_keys,
             list_reduce(list_prepend([0.0, 0.0, 0.0, 0.0, 0.0],
                                      flatten([cs, cs])),
                         {fold}) AS st
      FROM row1
    )
    SELECT CAST({_LP_M} AS BIGINT) AS table_size, n_keys,
           CAST(n_keys * 1000000 // {_LP_M} AS BIGINT) AS load_factor_ppm,
           CAST(list_extract(st, 2) AS BIGINT) AS total_displacement,
           CAST(list_extract(st, 3) AS BIGINT) AS max_cluster_overflow,
           CAST(list_extract(st, 4) AS BIGINT) AS n_empty_slots
    FROM folded
"""


@register("linear_probe_displacement_census", _lp_oracle())
def linear_probe_displacement_census(spark, sf_dir):
    """Linear-probing table census for the committed key set — see the
    module docstring for the carry recurrence and the order-independence
    argument. Emits table size, key count, load factor (ppm), total
    probe displacement, worst cluster overflow, and empty slots — the
    exact numbers behind KeyedMap.set_max_load_factor policy
    (src/dist_map.h:25-29 / SURVEY §2 row 9).

    Guard: the carry recurrence's two-pass wraparound fold is valid only
    at load factor < 1. c_custkey is consecutive 1..n in this data, so
    the committed subset has exactly n div _LP_KMOD keys — declared from
    the parquet footer (driver-side metadata, no Spark job). Above the
    table size the query raises with a routing message (the
    EXACT_PAIRS_N_CEILING pattern)."""
    from hpmr_spark.sources.tables import table_rows

    n_cust = table_rows(sf_dir, "customer")
    if n_cust is not None and n_cust // _LP_KMOD >= _LP_M:
        raise ValueError(
            f"linear_probe_displacement_census: declared key count "
            f"{n_cust // _LP_KMOD} >= table size {_LP_M} (load factor "
            f">= 1) — the two-pass carry recurrence is only valid at "
            f"alpha < 1. Raise _LP_M to the next power of two above the "
            f"key count (and re-verify the oracle) before running at "
            f"this scale."
        )
    c = _t(spark, sf_dir, "customer")
    key_expr = spark_sql_hash60("CONCAT('lp:', CAST(c_custkey AS STRING))")
    keys = (
        c.where(F.col("c_custkey") % _LP_KMOD == 0)
        .select(
            "c_custkey",
            F.expr(f"{key_expr} % {_LP_M}").alias("home"),
        )
        .distinct()
    )
    grid = spark.range(_LP_M).select(F.col("id").alias("s"))
    hist = (
        grid.join(F.broadcast(keys), grid.s == keys.home, "left")
        .groupBy("s")
        .agg(F.count("c_custkey").cast("double").alias("c"))
    )
    row1 = hist.groupBy().agg(
        F.expr(
            "transform(array_sort(collect_list(struct(s, c))), p -> p.c)"
        ).alias("cs"),
        F.sum("c").cast("long").alias("n_keys"),
    )
    folded = row1.select(
        "n_keys",
        F.expr(
            "aggregate(transform(flatten(array(cs, cs)), x -> array(x)),"
            " array(0.0e0, 0.0e0, 0.0e0, 0.0e0, 0.0e0),"
            f" {_lp_fold(el_spark)})"
        ).alias("st"),
    )
    e = el_spark
    return folded.select(
        F.lit(_LP_M).cast("long").alias("table_size"),
        "n_keys",
        F.expr(f"CAST(n_keys * 1000000 div {_LP_M} AS BIGINT)").alias(
            "load_factor_ppm"
        ),
        F.expr(f"CAST({e('st', '2')} AS BIGINT)").alias("total_displacement"),
        F.expr(f"CAST({e('st', '3')} AS BIGINT)").alias(
            "max_cluster_overflow"
        ),
        F.expr(f"CAST({e('st', '4')} AS BIGINT)").alias("n_empty_slots"),
    )
