"""Round-13 wave A: two more open-addressing analytical companions of the
reference's hash-map core (src/bare_map.h / bare_concurrent_map.h, the
get_load_factor/set_max_load_factor policy surface, src/dist_map.h:25-29)
— extending round-12's linear_probe_displacement_census:

- robin_hood_displacement_fold: the CANONICAL Robin Hood linear-probing
  table over the committed key set. Robin Hood's invariant (keys within a
  cluster ordered by home slot; ties by the committed key order) makes
  the final arrangement INSERTION-ORDER INDEPENDENT, so per-arrangement
  statistics (Σd², max displacement) become oracle-checkable — unlike
  FCFS probing where only the order-free Σd/occupied-set are (the
  parking-function property, round-12). The canonical table is built by
  ONE in-row fold over keys sorted by (home, key): pos = max(frontier+1,
  home); wraparound handled by folding the sorted key list TWICE and
  reading stats from the second pass (the linear_probe two-pass fixed
  point — valid at load factor < 1, guarded from the parquet footer).
  Total displacement equals FCFS linear probing's (arrangement-invariant)
  while Σd² is MINIMIZED by Robin Hood — the variance-reduction the
  policy literature buys with the same memory.

- cuckoo_feasibility_census: static feasibility analysis of a d=2 cuckoo
  table (Pagh & Rodler 2004) over the committed key set: every key has
  two candidate slots h1/h2; the table is orientable iff every connected
  component of the (slots, key-edges) multigraph has #keys ≤ #slots (at
  most one cycle per component — the standard cuckoo condition). Uses
  the repo's exact-convergence connected-components machinery
  (dedup/components.py large-star/small-star with the star-forest test)
  over the ≤M-node slot graph; the census classifies components into
  tree / unicyclic / infeasible and reports whether a cuckoo build would
  succeed — valid at ANY load factor (no fixed-point argument needed;
  at sf0.1 the committed subset sits at α ≈ 0.73 > 0.5, the supercritical
  regime, so the census reports real infeasibility rather than
  rubber-stamping).

Scale: robin_hood is one key scan + a single-row sorted gather + a 2n-step
fold (probed to 1M keys in the linear_probe harness shape); cuckoo is one
key scan + O(log n) tiny label-propagation rounds on a ≤M-node graph.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from hpmr_spark.catalog import _t, register
from hpmr_spark.functions.hashing import spark_sql_hash60, sql_hash60

_RH_M = 2048  # committed table size (power of two, like the reference)
_RH_KMOD = 10  # committed key subset: c_custkey % 10 = 0
_CK_M = 2048  # cuckoo table size
_CK_KMOD = 10


def _el_spark(a: str, i: str) -> str:
    return f"element_at({a}, CAST({i} AS INT))"


def _el_duck(a: str, i: str) -> str:
    return f"list_extract({a}, CAST({i} AS INT))"


def _rh_fold(el) -> str:
    """acc = [frontier, sum_d, sum_d2, max_d, i]; element = [h] (home
    slot, +M on the second pass). pos = max(frontier+1, h); stats
    accumulate on the second pass only (i >= n_keys)."""
    fr, sm, s2 = el("acc", "1"), el("acc", "2"), el("acc", "3")
    mx, i = el("acc", "4"), el("acc", "5")
    h = el("e", "1")
    pos = f"CASE WHEN {fr} + 1.0e0 > {h} THEN {fr} + 1.0e0 ELSE {h} END"
    d = f"({pos} - {h})"
    second = f"{i} >= CAST(n_keys AS DOUBLE)"
    return (
        f"(acc, e) -> array("
        f"{pos},"
        f" CASE WHEN {second} THEN {sm} + {d} ELSE {sm} END,"
        f" CASE WHEN {second} THEN {s2} + {d} * {d} ELSE {s2} END,"
        f" CASE WHEN {second} AND {d} > {mx} THEN {d} ELSE {mx} END,"
        f" {i} + 1.0e0)"
    )


def _rh_oracle() -> str:
    h = sql_hash60("'rh:' || CAST(c_custkey AS VARCHAR)")
    fold = _rh_fold(_el_duck).replace("array(", "list_value(")
    return f"""
    WITH keys AS (
      SELECT DISTINCT c_custkey, {h} % {_RH_M} AS home
      FROM customer WHERE c_custkey % {_RH_KMOD} = 0
    ),
    row1 AS MATERIALIZED (
      SELECT list([CAST(home AS DOUBLE)] ORDER BY home, c_custkey) AS hs,
             list([CAST(home AS DOUBLE) + {_RH_M}]
                  ORDER BY home, c_custkey) AS hs2,
             CAST(COUNT(*) AS BIGINT) AS n_keys
      FROM keys
    ),
    folded AS (
      SELECT n_keys,
             list_reduce(
               list_prepend([-1.0, 0.0, 0.0, 0.0, 0.0],
                            list_concat(hs, hs2)),
               {fold}) AS st
      FROM row1
    )
    SELECT CAST({_RH_M} AS BIGINT) AS table_size, n_keys,
           CAST(list_extract(st, 2) AS BIGINT) AS total_displacement,
           CAST(list_extract(st, 3) AS BIGINT) AS sum_sq_displacement,
           CAST(list_extract(st, 4) AS BIGINT) AS max_displacement
    FROM folded
"""


@register("robin_hood_displacement_fold", _rh_oracle())
def robin_hood_displacement_fold(spark, sf_dir):
    """Canonical Robin Hood table census — see the module docstring for
    the order-independence argument. Emits table size, key count, total
    displacement (= FCFS linear probing's, arrangement-invariant), the
    RH-minimized Σd², and the max displacement — the numbers behind a
    max_load_factor/probe-policy choice (src/dist_map.h:25-29, SURVEY §2
    row 9). α < 1 guarded from the parquet footer (c_custkey is
    consecutive 1..n, so the committed subset has exactly n div 10
    keys)."""
    from hpmr_spark.sources.tables import table_rows

    n_cust = table_rows(sf_dir, "customer")
    if n_cust is not None and n_cust // _RH_KMOD >= _RH_M:
        raise ValueError(
            f"robin_hood_displacement_fold: declared key count "
            f"{n_cust // _RH_KMOD} >= table size {_RH_M} — the two-pass "
            f"fold is only valid at alpha < 1. Raise _RH_M to the next "
            f"power of two above the key count before running at this "
            f"scale."
        )
    c = _t(spark, sf_dir, "customer")
    key_expr = spark_sql_hash60("CONCAT('rh:', CAST(c_custkey AS STRING))")
    keys = (
        c.where(F.col("c_custkey") % _RH_KMOD == 0)
        .select(
            "c_custkey", F.expr(f"{key_expr} % {_RH_M}").alias("home")
        )
        .distinct()
    )
    row1 = keys.groupBy().agg(
        F.expr(
            "transform(array_sort(collect_list(struct(home, c_custkey))),"
            " p -> CAST(p.home AS DOUBLE))"
        ).alias("hs"),
        F.count(F.lit(1)).cast("long").alias("n_keys"),
    )
    folded = row1.select(
        "n_keys",
        F.expr(
            "aggregate(transform(concat(hs, transform(hs,"
            f" x -> x + {_RH_M})), x -> array(x)),"
            " array(-1.0e0, 0.0e0, 0.0e0, 0.0e0, 0.0e0),"
            f" {_rh_fold(_el_spark)})"
        ).alias("st"),
    )
    e = _el_spark
    return folded.select(
        F.lit(_RH_M).cast("long").alias("table_size"),
        "n_keys",
        F.expr(f"CAST({e('st', '2')} AS BIGINT)").alias("total_displacement"),
        F.expr(f"CAST({e('st', '3')} AS BIGINT)").alias("sum_sq_displacement"),
        F.expr(f"CAST({e('st', '4')} AS BIGINT)").alias("max_displacement"),
    )


def _ck_oracle() -> str:
    h1 = sql_hash60("'ck1:' || CAST(c_custkey AS VARCHAR)")
    h2 = sql_hash60("'ck2:' || CAST(c_custkey AS VARCHAR)")
    return f"""
    WITH RECURSIVE keys AS (
      SELECT DISTINCT c_custkey, {h1} % {_CK_M} AS h1, {h2} % {_CK_M} AS h2
      FROM customer WHERE c_custkey % {_CK_KMOD} = 0
    ),
    nodes AS MATERIALIZED (
      SELECT DISTINCT s FROM (
        SELECT h1 AS s FROM keys UNION ALL SELECT h2 FROM keys
      )
    ),
    edges AS MATERIALIZED (
      SELECT DISTINCT least(h1, h2) AS u, greatest(h1, h2) AS v
      FROM keys WHERE h1 <> h2
    ),
    sym AS MATERIALIZED (
      SELECT u, v FROM edges UNION SELECT v AS u, u AS v FROM edges
    ),
    reach AS (
      SELECT s AS node, s AS r FROM nodes
      UNION
      SELECT reach.node, sym.v AS r FROM reach JOIN sym ON sym.u = reach.r
    ),
    comp AS MATERIALIZED (
      SELECT node, MIN(r) AS component FROM reach GROUP BY node
    ),
    cn AS (
      SELECT component, CAST(COUNT(*) AS BIGINT) AS n_nodes
      FROM comp GROUP BY component
    ),
    ke AS (
      SELECT c.component, CAST(COUNT(*) AS BIGINT) AS n_edges
      FROM keys k JOIN comp c ON c.node = least(k.h1, k.h2)
      GROUP BY c.component
    ),
    cls AS (
      SELECT cn.component, cn.n_nodes, COALESCE(ke.n_edges, 0) AS n_edges
      FROM cn LEFT JOIN ke ON ke.component = cn.component
    )
    SELECT CAST({_CK_M} AS BIGINT) AS table_size,
           CAST((SELECT COUNT(*) FROM keys) AS BIGINT) AS n_keys,
           CAST((SELECT COUNT(*) FROM nodes) AS BIGINT) AS n_slots_touched,
           CAST(COUNT(*) AS BIGINT) AS n_components,
           CAST(SUM(CASE WHEN n_edges = n_nodes - 1 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_tree,
           CAST(SUM(CASE WHEN n_edges = n_nodes THEN 1 ELSE 0 END)
             AS BIGINT) AS n_unicyclic,
           CAST(SUM(CASE WHEN n_edges > n_nodes THEN 1 ELSE 0 END)
             AS BIGINT) AS n_infeasible,
           CAST(SUM(CASE WHEN n_edges > n_nodes THEN n_edges ELSE 0 END)
             AS BIGINT) AS keys_in_infeasible,
           CAST(MAX(n_nodes) AS BIGINT) AS max_component_nodes,
           CAST(SUM(CASE WHEN n_edges > n_nodes THEN 1 ELSE 0 END) = 0
             AS BOOLEAN) AS table_feasible
    FROM cls
"""


@register("cuckoo_feasibility_census", _ck_oracle())
def cuckoo_feasibility_census(spark, sf_dir):
    """d=2 cuckoo-table feasibility census — see the module docstring.
    Components via the exact-convergence large-star/small-star machinery
    (dedup/components.py); a key whose two hashes collide (h1 = h2) is a
    self-loop: its slot still enters the node set and the key counts
    toward the component's edge total (a self-loop alone makes a
    1-node/1-edge unicyclic component, which is feasible — one cycle
    per component is exactly what d=2 cuckoo can absorb)."""
    from hpmr_spark.dedup.components import connected_components

    c = _t(spark, sf_dir, "customer")
    h1x = spark_sql_hash60("CONCAT('ck1:', CAST(c_custkey AS STRING))")
    h2x = spark_sql_hash60("CONCAT('ck2:', CAST(c_custkey AS STRING))")
    keys = (
        c.where(F.col("c_custkey") % _CK_KMOD == 0)
        .select(
            "c_custkey",
            F.expr(f"{h1x} % {_CK_M}").alias("h1"),
            F.expr(f"{h2x} % {_CK_M}").alias("h2"),
        )
        .distinct()
    )
    comp = connected_components(keys, a_col="h1", b_col="h2")
    cn = comp.groupBy("component").agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes")
    )
    ke = (
        keys.select(F.least("h1", "h2").alias("node"))
        .join(comp, "node")
        .groupBy("component")
        .agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    )
    cls = cn.join(ke, "component", "left").select(
        "component",
        "n_nodes",
        F.coalesce("n_edges", F.lit(0)).cast("long").alias("n_edges"),
    )
    nk = keys.groupBy().agg(F.count(F.lit(1)).cast("long").alias("n_keys"))
    ns = comp.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n_slots_touched")
    )
    return (
        cls.groupBy()
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_components"),
            F.sum(F.expr("CASE WHEN n_edges = n_nodes - 1 THEN 1 ELSE 0 END"))
            .cast("long")
            .alias("n_tree"),
            F.sum(F.expr("CASE WHEN n_edges = n_nodes THEN 1 ELSE 0 END"))
            .cast("long")
            .alias("n_unicyclic"),
            F.sum(F.expr("CASE WHEN n_edges > n_nodes THEN 1 ELSE 0 END"))
            .cast("long")
            .alias("n_infeasible"),
            F.sum(
                F.expr("CASE WHEN n_edges > n_nodes THEN n_edges ELSE 0 END")
            )
            .cast("long")
            .alias("keys_in_infeasible"),
            F.max("n_nodes").cast("long").alias("max_component_nodes"),
        )
        .crossJoin(F.broadcast(nk))
        .crossJoin(F.broadcast(ns))
        .select(
            F.lit(_CK_M).cast("long").alias("table_size"),
            "n_keys",
            "n_slots_touched",
            "n_components",
            "n_tree",
            "n_unicyclic",
            "n_infeasible",
            "keys_in_infeasible",
            "max_component_nodes",
            (F.col("n_infeasible") == 0).alias("table_feasible"),
        )
    )
