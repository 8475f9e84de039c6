"""Reducer registry — the engine's aggregate-merge surface.

Mirrors the reference's ``Reducer<T>`` (/root/reference/src/reducer.h:7-23),
which ships exactly five merge functions: keep, overwrite, sum, min, max.

Divergence (deliberate, documented in SURVEY.md §2.2): the reference's
``min``/``max`` bodies are transposed (min keeps the larger, max the smaller —
src/reducer.h:16-22, untested there). We implement the *intended* semantics.

``keep``/``overwrite`` are order-sensitive in the reference (arrival order over
threads/network — nondeterministic). Here they are made deterministic by an
explicit ordering column: ``keep`` = value at MIN(order_col), ``overwrite`` =
value at MAX(order_col), via Spark's ``min_by``/``max_by``. Without an order
column they degrade to ``first``/``last`` (any-value semantics), same as the
reference's true behavior.

Each reducer carries BOTH:
- ``agg(col, order_col)`` -> a Catalyst Column expression (JVM-side, the fast
  path — used by every DataFrame operator), and
- ``fn(a, b)`` -> a Python binary merge (run by ``Reducer.custom``'s Arrow
  fold and by the Python-mapper ``map_reduce`` RDD path, mirroring
  src/dist_map.h:34's std::function).
"""

from __future__ import annotations

import operator
from dataclasses import dataclass
from typing import Any, Callable

from pyspark.sql import Column
from pyspark.sql import functions as F


@dataclass(frozen=True)
class _Reducer:
    name: str
    agg_factory: Callable[..., Column]
    fn: Callable[[Any, Any], Any]
    needs_order: bool = False

    def agg(self, value_col: str | Column, order_col: str | Column | None = None) -> Column:
        if self.needs_order and order_col is not None:
            return self.agg_factory(value_col, order_col)
        return self.agg_factory(value_col)


def _keep_agg(v, o=None):
    return F.min_by(v, o) if o is not None else F.first(v)


def _overwrite_agg(v, o=None):
    return F.max_by(v, o) if o is not None else F.last(v)


class Reducer:
    """Namespace of canned reducers, mirroring src/reducer.h."""

    keep = _Reducer("keep", _keep_agg, lambda a, b: a, needs_order=True)
    overwrite = _Reducer("overwrite", _overwrite_agg, lambda a, b: b, needs_order=True)
    sum = _Reducer("sum", F.sum, operator.add)
    min = _Reducer("min", F.min, min)  # corrected semantics (ref body transposed)
    max = _Reducer("max", F.max, max)  # corrected semantics (ref body transposed)
    # Engine extensions beyond the reference's five (free on Spark):
    # count follows the pre-counted-values convention: ingest each row with
    # value 1 (or a partial count), and BOTH paths merge by addition — so the
    # state stays re-aggregable across sync/set_batch epochs. (F.count here
    # would count rows and silently reset accumulated counts on re-merge.)
    count = _Reducer("count", F.sum, lambda a, b: a + b)
    # avg is not a binary merge (needs sum+count state) — Catalyst path only;
    # the Python-mapper RDD path raises instead of silently mis-merging
    avg = _Reducer(
        "avg",
        F.avg,
        lambda a, b: (_ for _ in ()).throw(
            TypeError("Reducer.avg has no binary merge; use the DataFrame path")
        ),
    )

    _BY_NAME = None

    @classmethod
    def by_name(cls, name: str) -> _Reducer:
        if cls._BY_NAME is None:
            cls._BY_NAME = {
                r.name: r
                for r in (cls.keep, cls.overwrite, cls.sum, cls.min, cls.max, cls.count, cls.avg)
            }
        return cls._BY_NAME[name]

    @staticmethod
    def custom(fn: Callable[[Any, Any], Any], name: str = "custom") -> _Reducer:
        """Arbitrary user merge ``fn(a, b)`` — the analog of user
        std::function reducers (src/dist_map.h:34).

        ``KeyedMap.sync`` (so ``from_df``, ``from_pairs``, ``set_batch`` and
        ``map_reduce_expr``) runs it as a one-level Arrow fold: a hash
        shuffle on key, then one ``mapInArrow`` fold per shuffle partition,
        so ``fn`` runs once per duplicate key, after the shuffle. The
        contract is the reference's V×V→V: ``fn`` gets two values of the
        value type V (as Arrow's ``to_pylist`` gives them) and must return a
        V. The output schema is declared from the input's key and value
        types, so building the plan launches no job; a result V cannot hold
        (1.5 for a bigint, a third digit for decimal(10,2), an overflow)
        raises at execution instead of being cast. ``fn`` must be
        associative and commutative: merge order within a partition is
        unspecified."""
        return _Reducer(name, None, fn)
