"""The benchmark's workloads, as lists of operations.

An operation has three parts: `build` constructs what will run (a DataFrame
or a KeyedMap, including any Spark job the program launches while building
it), `execute` runs it to completion, and `check` verifies the result,
untimed, returning an error message or None.

headline      the 15 frozen `bench.BENCH_QUERIES` (names copied here, so the
              benchmark does not import bench.py), each built through
              `__spark_entry__.queries()`; collected and checked against its
              DuckDB oracle in the cold pass, written to the noop sink after
pipeline      2 registered LLM-pipeline operators, same pattern
keyed_kernel  the hpmr kernel through `hpmr_spark.core`: Zipf ingest with
              sum and overwrite reducers, checkpointed epochs, batched
              lookups, bulk deletes, KeyedSet membership and a prange
              map-reduce, checked against generator goldens
"""

from __future__ import annotations

import hashlib
import random
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np

from gen_tables import canon

HEADLINE = [
    "kv_1m_distinct_ingest", "kv_1m_mapreduce_sum", "range_mapreduce_sum",
    "mapreduce_revenue_by_order", "reducer_sum_min_max", "distmap_n_keys",
    "set_membership_semi_join", "q1_pricing_summary", "join_multiway_region_revenue",
    "window_running_order_count", "topk_global_orders", "text_token_stats",
    "dedup_minhash_lsh", "similarity_cosine_topk", "streaming_tumbling_counts",
]
# registered LLM-pipeline operators that cross into Python workers:
# Reducer.custom over an RDD, after a build-time schema-inference job
# (custom_reducer_max_qty), and grouped pandas (holt_linear_forecast_weekly)
PIPELINE = ["custom_reducer_max_qty", "holt_linear_forecast_weekly"]
REGISTRY = {"headline": HEADLINE, "pipeline": PIPELINE}


@dataclass
class Op:
    name: str
    kind: str
    build: Callable[[], Any]
    execute: Callable[[Any], Any]
    check: Callable[[Any], str | None] | None = None
    returned: Callable[[Any], int] | None = None   # keys a lookup returned


def noop_write(df) -> None:
    df.write.mode("overwrite").format("noop").save()


# ------------------------------------------------------------ registry
class RegistryWorkload:
    """Registered queries at a generated tier, checked against the DuckDB
    oracle digests cached with the tier."""

    def __init__(self, spark, names: list[str], sf_dir: str, digests: dict, seed: int):
        from __spark_entry__ import oracle_sql, queries

        self.spark, self.names, self.sf_dir = spark, names, sf_dir
        self.queries = queries()
        sqls = oracle_sql()
        self.digests = {n: d for n, d in digests.items()
                        if d["sql_md5"] == hashlib.md5(sqls[n].encode()).hexdigest()}
        self.rng = random.Random(seed)
        self.cold_done = False

    def ops(self) -> list[Op]:
        """The cold pass runs the queries in their listed order and collects
        each result for its check; warm passes write to the noop sink in an
        order drawn from the seed."""
        names = list(self.names)
        if not self.cold_done:
            self.cold_done = True
            return [Op(n, "query", self._builder(n), lambda df: df.toPandas(),
                       lambda pdf, n=n: self._check(n, pdf)) for n in names]
        self.rng.shuffle(names)
        return [Op(n, "query", self._builder(n), noop_write) for n in names]

    def _builder(self, name):
        return lambda: self.queries[name](self.spark, self.sf_dir)

    def _check(self, name, pdf) -> str | None:
        want = self.digests.get(name)
        if want is None:
            return "no oracle digest for the current oracle SQL"
        return _compare(pdf, want)


def _compare(got, want: dict) -> str | None:
    if len(got) != want["rows"]:
        return f"rows {len(got)} != {want['rows']}"
    if sorted(got.columns) != want["columns"]:
        return f"columns {sorted(got.columns)} != {want['columns']}"
    if canon(got) != want["hash"]:
        return "value-hash mismatch"
    return None


# --------------------------------------------------------- keyed kernel
class KeyedWorkload:
    """One pass = the op list of the keyed_kernel workload. State (the live
    KeyedMap) threads through the ops of a pass; every pass starts over from
    the bulk ingest."""

    def __init__(self, spark, data_dir: str, golden: dict, lookups: int):
        self.spark, self.dir, self.g = spark, data_dir, golden
        self.lookups = lookups

    def _read(self, name):
        return self.spark.read.parquet(f"{self.dir}/{name}.parquet")

    def ops(self) -> list[Op]:
        from pyspark.sql import functions as F

        from hpmr_spark.core import KeyedMap, KeyedSet, prange
        from hpmr_spark.reducers import Reducer

        from gen_keyed import PRANGE_MOD, PRANGE_N

        g, st = self.g, {}

        def keep(m):
            st["m"] = m.checkpoint()
            return st["m"]

        ops = [
            Op("from_df_sum", "ingest",
               lambda: KeyedMap.from_df(self._read("writes"), "k", "v", Reducer.sum),
               lambda m: (noop_write(m.to_df()), m)[1], self._check_sum),
            Op("from_df_overwrite", "ingest_overwrite",
               lambda: KeyedMap.from_df(self._read("writes"), "k", "v", Reducer.overwrite, "o"),
               keep, lambda m: self._check_values(m, g["sample_keys"], g["sample_vals"])),
        ]
        for e in range(3):
            ops.append(Op(
                f"epoch_{e}", "epoch",
                lambda e=e: st["m"].set_batch(self._read(f"batch{e}"), "k", "v", Reducer.overwrite),
                keep, lambda m, e=e: self._check_batch(m, e)))
        for i in range(self.lookups):
            keys = [int(k) for k in g["lookup_keys"][i]]
            ops.append(Op(f"get_many_{i}", "lookup", lambda keys=keys: keys,
                          lambda keys: (keys, st["m"].get_many(keys)), self._check_lookup,
                          lambda res: len(res[1])))
        ops += [
            Op("unset_many", "unset",
               lambda: st["m"].unset_many(self._read("deletes"), "k"),
               lambda m: m.n_keys(),
               lambda n: _expect("n_keys", n, g["n_keys_after_delete"])),
            Op("keyed_set", "set",
               lambda: KeyedSet.from_df(self._read("writes"), "k").filter_members(
                   self._read("batch0"), "k"),
               lambda df: df.count(),
               lambda n: _expect("members", n, g["batch0_members"])),
            Op("prange", "prange",
               lambda: prange(self.spark, PRANGE_N).map_reduce_expr(
                   F.col("id") % PRANGE_MOD, F.col("id"), Reducer.sum),
               lambda m: (noop_write(m.to_df()), m)[1], self._check_prange),
        ]
        return ops

    # ----------------------------------------------------------- checks
    def _check_sum(self, m) -> str | None:
        from gen_keyed import sum_digest

        pdf = m.to_df().toPandas()
        got = sum_digest(pdf["key"].to_numpy(np.int64), pdf["value"].to_numpy(np.int64))
        return None if got == str(self.g["sum_digest"]) else "per-key sum digest mismatch"

    def _check_values(self, m, keys, vals) -> str | None:
        got = m.get_many([int(k) for k in keys])
        want = {int(k): int(v) for k, v in zip(keys, vals)}
        return None if got == want else f"values differ on {len(set(got.items()) ^ set(want.items()))} keys"

    def _check_batch(self, m, e) -> str | None:
        return self._check_values(m, self.g["batch_sample_keys"][e],
                                  self.g["batch_sample_vals"][e])

    def _check_lookup(self, res) -> str | None:
        keys, got = res
        state = self.g["state"]
        want = {k: int(state[k // 2]) for k in keys if k % 2 == 0 and state[k // 2] >= 0}
        return None if got == want else "lookup hit/miss set or values differ"

    def _check_prange(self, m) -> str | None:
        pdf = m.to_df().toPandas().sort_values("key")
        ok = (pdf["key"].to_numpy() == np.arange(len(self.g["prange_sums"]))).all() and \
            (pdf["value"].to_numpy(np.int64) == self.g["prange_sums"]).all()
        return None if ok else "prange sums differ"


def _expect(what: str, got, want) -> str | None:
    return None if int(got) == int(want) else f"{what} {got} != {int(want)}"
