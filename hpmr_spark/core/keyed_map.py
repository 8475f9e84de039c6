"""KeyedMap — the engine's analog of the reference's DistMap<K,V,H>
(/root/reference/src/dist_map.h:14-72): distributed keyed state with the
"≤ 1 live row per key" invariant, where duplicate writes merge via a reducer.

Spark-first design notes
------------------------
* State is a DataFrame ``(key, value)``; the invariant is maintained by
  ``groupBy(key).agg(reducer)`` at every mutation epoch. Catalyst plans this as
  partial (map-side) + final aggregation — exactly the reference's
  combine-on-insert + shuffle-merge pipeline (src/bare_map.h:55-57 +
  src/dist_map.h:147-210) — with zero custom code.
* ``async_set``/``sync`` (src/dist_map.h:118-130,147-210) collapse into the
  epoch model: writes accumulate in a pending batch; ``sync()`` unions pending
  into state and re-aggregates. Spark's lazy execution means the shuffle runs
  when an action fires; ``sync`` additionally persists to cap lineage.
* Point ops (``get``/``has``/``unset`` — src/dist_map.h:132-145,
  src/concurrent_map.h:46-52) are filters / semi / anti joins, so at cluster
  scale they stay distributed; ``get`` collects a single row to the driver,
  matching the reference's owner-broadcast semantics.
* Arbitrary Python reducers (``Reducer.custom``) run as a one-level Arrow
  fold: a hash ``repartition(key)`` is the shuffle, and one
  ``mapInArrow(fold)`` per shuffle partition merges every row of a key
  there. Spark's key hash already co-locates -0.0 with 0.0 and every NaN,
  also inside structs and arrays. The output schema is the input's own
  key/value types, so building the plan runs no Spark job. The canned
  reducers stay JVM-side as agg expressions, with partial aggregation before
  the shuffle (the reference's combine-on-insert).
"""

from __future__ import annotations

from typing import Any, Callable, Iterable, Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, FloatType, StructField, StructType

from hpmr_spark.engine import materialize
from hpmr_spark.functions.littables import _sql_lit
from hpmr_spark.reducers import Reducer, _Reducer

KEY = "key"
VALUE = "value"
ORDER = "_order"


def _normalize(df: DataFrame, key_col: str, value_col: str, order_col: str | None) -> DataFrame:
    cols = [F.col(key_col).alias(KEY), F.col(value_col).alias(VALUE)]
    if order_col is not None:
        cols.append(F.col(order_col).alias(ORDER))
    return df.select(*cols)


def _arrow_fold(fn: Callable[[Any, Any], Any], freeze: bool):
    """mapInArrow body: merge every (key, value) row of one partition into a
    dict, calling ``fn`` once per duplicate key, and emit one batch.

    Values reach ``fn`` as the objects Arrow's ``to_pylist`` gives. The
    result column is built by inference and a *safe* cast to the input's
    value type within the same family of Python objects, so a result V
    cannot hold (1.5 for a bigint, a lost decimal digit, an overflow, a
    string for a number) raises instead of being converted. Every helper is
    nested here, so the pickled fold imports nothing from this package and
    unpickles on the workers of any session."""
    names = [KEY, VALUE]
    nan = float("nan")

    def freeze_key(k):
        # hashable, grouping-equal key: structs/arrays become tuples (Arrow
        # rebuilds them from tuples), every NaN one object, -0.0 → 0.0 —
        # Spark's grouping normalization
        if isinstance(k, float):
            return nan if k != k else k + 0.0
        if isinstance(k, dict):
            return tuple(freeze_key(v) for v in k.values())
        if isinstance(k, list):
            return tuple(freeze_key(v) for v in k)
        return k

    def pylist(col) -> list:
        # to_pylist's objects; numpy's tolist builds the same ones ~10×
        # faster for string/binary and null-free int/float/bool columns
        from pyarrow import types as t

        typ = col.type
        if (
            t.is_string(typ)
            or t.is_large_string(typ)
            or t.is_binary(typ)
            or t.is_large_binary(typ)
            or (
                col.null_count == 0
                and (t.is_integer(typ) or t.is_floating(typ) or t.is_boolean(typ))
            )
        ):
            return col.to_numpy(zero_copy_only=False).tolist()
        return col.to_pylist()

    def family(typ):
        from pyarrow import types as t

        if t.is_integer(typ) or t.is_floating(typ) or t.is_decimal(typ):
            return "number"
        if t.is_string(typ) or t.is_large_string(typ):
            return "string"
        if t.is_binary(typ) or t.is_large_binary(typ):
            return "binary"
        if t.is_list(typ) or t.is_large_list(typ):
            return "list"
        return typ.id

    def fits(got, want) -> bool:
        # same family of Python objects, recursively (null fits any): a safe
        # cast within a family is exact or raises, while across families
        # Arrow converts silently ('1' → 1, 2 → True, 1 → '1')
        from pyarrow import types as t

        if t.is_null(got):
            return True
        if family(got) != family(want):
            return False
        if family(got) == "list":
            return fits(got.value_type, want.value_type)
        if t.is_struct(got):
            return got.num_fields == want.num_fields and all(
                fits(got.field(i).type, want.field(i).type) for i in range(got.num_fields)
            )
        return True

    def fold(batches):
        import pyarrow as pa

        acc: dict = {}
        schema = None
        for b in batches:
            schema = b.schema
            keys = pylist(b.column(0))
            if freeze:
                keys = [freeze_key(k) for k in keys]
            for k, v in zip(keys, pylist(b.column(1))):
                if k in acc:
                    acc[k] = fn(acc[k], v)
                else:
                    acc[k] = v
        if schema is not None:
            vtype = schema.field(1).type
            values = pa.array(list(acc.values()))
            if not fits(values.type, vtype):
                raise TypeError(f"reducer fn returned {values.type} for a {vtype} value")
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(list(acc), type=schema.field(0).type),
                    values.cast(vtype, safe=True),
                ],
                names=names,
            )

    return fold


def _custom_fold(df: DataFrame, fn: Callable[[Any, Any], Any]) -> DataFrame:
    """One-level fold of ``(KEY, VALUE)`` rows under a Python merge ``fn``:
    hash shuffle on key, then one Arrow fold per shuffle partition. The
    declared schema is the input's (value made nullable), so nothing is
    inferred."""
    kv = df.select(KEY, VALUE)
    key_f, val_f = kv.schema.fields
    freeze = isinstance(key_f.dataType, (FloatType, DoubleType, StructType, ArrayType))
    schema = StructType([key_f, StructField(VALUE, val_f.dataType, True)])
    return kv.repartition(KEY).mapInArrow(_arrow_fold(fn, freeze), schema)


class KeyedMap:
    """Distributed K→V map with reducer-merge write semantics."""

    def __init__(self, df: DataFrame, *, _has_order: bool = False, _unique: bool = True):
        self._df = df
        self._has_order = _has_order  # an unsynced frame carries ORDER for sync
        self._unique = _unique  # True once the ≤1-row-per-key invariant holds

    # ------------------------------------------------------------- construction
    @classmethod
    def from_df(
        cls,
        df: DataFrame,
        key_col: str,
        value_col: str,
        reducer: _Reducer = Reducer.overwrite,
        order_col: str | None = None,
    ) -> "KeyedMap":
        """Bulk ingest: merge duplicate keys with ``reducer`` (src/dist_map.h:31-34)."""
        norm = _normalize(df, key_col, value_col, order_col)
        return cls(norm, _has_order=order_col is not None, _unique=False).sync(reducer)

    @classmethod
    def from_pairs(
        cls,
        spark: SparkSession,
        pairs: Iterable[tuple],
        reducer: _Reducer = Reducer.overwrite,
    ) -> "KeyedMap":
        """Ingest (k, v) pairs with arrival-order determinism: the iteration
        index becomes the order column, so keep/overwrite are well-defined
        (unlike the reference, where arrival order is thread/network
        nondeterministic — SURVEY.md §2.2). No pairs give an empty map with
        NULL-typed columns, which the first ``set_batch`` widens."""
        rows = [(k, v, i) for i, (k, v) in enumerate(pairs)]
        if not rows:
            return cls(spark.createDataFrame([], f"{KEY} void, {VALUE} void"))
        df = spark.createDataFrame(rows, [KEY, VALUE, ORDER])
        return cls(df, _has_order=True, _unique=False).sync(reducer)

    # ------------------------------------------------------------------ epochs
    def sync(self, reducer: _Reducer = Reducer.keep) -> "KeyedMap":
        """Merge duplicate keys — THE shuffle (src/dist_map.h:147-210).

        Canned reducers run as JVM agg expressions (partial+final agg). A
        custom reducer's Python ``fn`` runs as the one-level Arrow fold (hash
        shuffle on key, then one fold per shuffle partition) with the input's
        key/value types as the declared schema. The order column only decides
        keep/overwrite here: the synced state is ``(key, value)``."""
        if self._unique:
            return self
        if reducer.agg_factory is None:
            return KeyedMap(_custom_fold(self._df, reducer.fn))
        merged = reducer.agg(VALUE, ORDER if self._has_order else None).alias(VALUE)
        return KeyedMap(self._df.groupBy(KEY).agg(merged))

    def set_batch(
        self, batch: DataFrame, key_col: str, value_col: str, reducer: _Reducer = Reducer.overwrite
    ) -> "KeyedMap":
        """async_set epoch: union a batch of writes, merge on key
        (src/dist_map.h:118-130). The state holds one row per key, so every
        epoch stamps it order 0 and the batch order 1: ``overwrite`` means
        "batch wins over existing state" whatever order column the state was
        built from, and building the epoch runs no Spark job."""
        cur = self._df.select(KEY, VALUE, F.lit(0).cast("long").alias(ORDER))
        nxt = batch.select(
            F.col(key_col).alias(KEY),
            F.col(value_col).alias(VALUE),
            F.lit(1).cast("long").alias(ORDER),
        )
        return KeyedMap(cur.unionByName(nxt), _has_order=True, _unique=False).sync(reducer)

    # ------------------------------------------------------------- point ops
    def get(self, key: Any, default: Any = None) -> Any:
        """Point lookup with default (src/dist_map.h:132-145)."""
        row = self._df.where(F.col(KEY) == F.lit(key)).select(VALUE).take(1)
        return row[0][0] if row else default

    def get_many(self, keys: list) -> dict:
        """Batched point lookup — one job for K keys instead of K jobs.
        At scale this is an IN-filter pushed to the scan, not K collects.
        The predicate is one SQL ``IN`` list, parsed JVM-side in one call;
        keys ``_sql_lit`` cannot render fall back to ``isin`` (one py4j
        literal per key)."""
        if not keys:
            return {}
        try:
            pred = F.expr(f"`{KEY}` IN ({', '.join(_sql_lit(k) for k in keys)})")
        except TypeError:
            pred = F.col(KEY).isin(keys)
        rows = self._df.where(pred).select(KEY, VALUE).collect()
        return {r[0]: r[1] for r in rows}

    def has(self, key: Any) -> bool:
        """Membership (src/bare_hash_container.h:181-196)."""
        return bool(self._df.where(F.col(KEY) == F.lit(key)).take(1))

    def unset(self, key: Any) -> "KeyedMap":
        """Delete one key (src/bare_hash_container.h:150-179). The NULL key
        is kept, so ``unset(None)`` deletes nothing, as ``has(None)`` finds
        nothing."""
        return KeyedMap(
            self._df.where(F.coalesce(F.col(KEY) != F.lit(key), F.lit(True))),
            _unique=self._unique,
        )

    def unset_many(self, keys_df: DataFrame, key_col: str) -> "KeyedMap":
        """Bulk delete = left-anti join (distributed, no driver loop)."""
        other = keys_df.select(F.col(key_col).alias(KEY))
        return KeyedMap(
            self._df.join(other, on=KEY, how="left_anti"),
            _unique=self._unique,
        )

    # ---------------------------------------------------------------- metadata
    def n_keys(self) -> int:
        """Global distinct-key count (src/dist_map.h:90-96). The unique-key
        invariant makes this a plain count."""
        return self._df.count()

    def n_partitions(self) -> int:
        """get_n_buckets analog (src/dist_map.h:98-104)."""
        return self._df.rdd.getNumPartitions()

    # ----------------------------------------------------- load-factor knobs
    # API-fidelity surface for the reference's hash-table sizing knobs
    # (src/dist_map.h:25-29, 106-116). Spark owns physical hash-table sizing
    # (Tungsten BytesToBytesMap + AQE coalescing — SURVEY §4 row 8), so the
    # "load factor" here is the planning-level analog: keys per shuffle
    # partition. NOTE the reference's get_load_factor body returns
    # n_buckets/n_keys (src/dist_map.h:106-109) — transposed vs
    # std::unordered_map semantics; like the Reducer::min/max transposition
    # (SURVEY §2.2) we implement the corrected keys-per-bucket ratio and
    # document the divergence.
    DEFAULT_MAX_LOAD_FACTOR = 1_000_000.0  # keys per partition before rebalance

    def get_load_factor(self) -> float:
        """Mean keys per partition (corrected src/dist_map.h:106-109).

        Runs one count job; n_partitions is metadata-only."""
        parts = self.n_partitions()
        return float(self.n_keys()) / float(max(parts, 1))

    def get_max_load_factor(self) -> float:
        """src/dist_map.h:26 analog — the rebalance threshold knob."""
        return getattr(self, "_max_load_factor", self.DEFAULT_MAX_LOAD_FACTOR)

    def set_max_load_factor(self, max_load_factor: float) -> "KeyedMap":
        """src/dist_map.h:110-116 analog. The reference rehashes its local +
        remote maps; here the knob is recorded and `rebalance()` applies it
        by hash-repartitioning so keys/partition <= max_load_factor.
        Execution-level sizing stays with Tungsten/AQE — this is the
        planning-surface no-op knob SURVEY §2 row 9 promises, made real
        enough to drive `reserve` with."""
        if max_load_factor <= 0:
            raise ValueError("max_load_factor must be positive")
        self._max_load_factor = float(max_load_factor)
        return self

    def rebalance(self) -> "KeyedMap":
        """Repartition to ceil(n_keys / max_load_factor) partitions (the
        reference's rehash-on-threshold, as an explicit call: Spark plans
        are immutable so the trigger is pull- not write-driven)."""
        import math

        target = max(1, math.ceil(self.n_keys() / self.get_max_load_factor()))
        out = self.reserve(target)
        out._max_load_factor = self.get_max_load_factor()
        return out

    def reserve(self, n_partitions: int) -> "KeyedMap":
        """Pre-size partitioning (src/dist_map.h:82-88): hash-repartition on key."""
        return KeyedMap(
            self._df.repartition(n_partitions, KEY),
            _unique=self._unique,
        )

    def clear(self) -> "KeyedMap":
        """Drop all entries (src/dist_map.h:243-253)."""
        return KeyedMap(self._df.limit(0))

    # ------------------------------------------------------------ full scans
    def for_each(self, handler: Callable[[Any, Any], None]) -> None:
        """Scan all entries (src/concurrent_map.h:58-62). Streams partitions to
        the driver; for distributed side effects use ``to_df().foreach``."""
        for row in self._df.select(KEY, VALUE).toLocalIterator():
            handler(row[0], row[1])

    def items(self) -> Iterator[tuple]:
        for row in self._df.select(KEY, VALUE).toLocalIterator():
            yield row[0], row[1]

    def map_reduce(
        self,
        mapper: Callable[[Any, Any], Iterable[tuple]],
        reducer: _Reducer,
    ) -> "KeyedMap":
        """flatMap entries → (k2, v2), merge by key (src/dist_map.h:256-279).

        The mapper is arbitrary Python (the reference's lambda-with-emit,
        src/dist_map.h:48-50), so this runs on the RDD path; reduceByKey gives
        map-side combine like the reference's combine-on-insert. Prefer
        :meth:`map_reduce_expr` when the mapper is expressible as columns —
        that path stays entirely in the JVM."""
        fn = reducer.fn
        rdd = (
            self._df.select(KEY, VALUE)
            .rdd.flatMap(lambda row: mapper(row[0], row[1]))
            .reduceByKey(fn)
        )
        return KeyedMap(rdd.toDF([KEY, VALUE]), _unique=True)

    def map_reduce_expr(
        self,
        key_expr,
        value_expr,
        reducer: _Reducer,
    ) -> "KeyedMap":
        """Declarative map_reduce: key/value are Column expressions, reducer is
        canned → whole pipeline is Catalyst-planned (fast path)."""
        projected = self._df.select(key_expr.alias(KEY), value_expr.alias(VALUE))
        return KeyedMap(projected, _unique=False).sync(reducer)

    # ------------------------------------------------------- ordered analytics
    def top_k(self, k: int, by_value: bool = True, descending: bool = True) -> DataFrame:
        """Top-k entries with a deterministic (value, key) total order and a
        1-based `rank` column. The scale-safe default a user should reach
        instead of `Window.orderBy(...)`: selection plans as
        TakeOrderedAndProject (per-partition heaps + a k-row merge — no
        global sort, no single-partition window); the rank comes from
        `functions/ranking.bounded_rank` — a broadcast non-equi self-join
        over the already-selected k-row frame (no window at all)."""
        order = (
            [F.col(VALUE).desc(), F.col(KEY)] if descending else [F.col(VALUE), F.col(KEY)]
        ) if by_value else (
            [F.col(KEY).desc()] if descending else [F.col(KEY)]
        )
        from hpmr_spark.functions.ranking import bounded_rank

        top = self._df.select(KEY, VALUE).orderBy(*order).limit(k)
        # k-row re-rank as a broadcast non-equi join — no window at all
        # (primary == tiebreak degenerates to a pure key rank for by_value=False)
        primary = VALUE if by_value else KEY
        return bounded_rank(top, primary, KEY, primary_desc=descending, out="rank")

    def quantiles(self, buckets: int) -> DataFrame:
        """Exact equi-depth bucketing of values: every entry tagged with its
        NTILE(buckets) over (value, key) — deterministic under the full
        tie-break — via the two-pass bucketed global row_number
        (functions/ranking.py), never a single-partition window. Returns
        (key, value, bucket); derive boundaries with a groupBy(bucket)
        min/max. The numeric leading key requirement is VALUE's type."""
        from hpmr_spark.functions.ranking import exact_ntile, global_row_number

        base = self._df.select(KEY, VALUE)
        r = global_row_number(base, [VALUE, KEY], out="_rn")
        t = base.agg(F.count(F.lit(1)).alias("_n"))
        return (
            r.crossJoin(F.broadcast(t))
            .select(
                KEY,
                VALUE,
                exact_ntile(F.col("_rn"), F.col("_n"), buckets).alias("bucket"),
            )
        )

    # ------------------------------------------------------------------ export
    def to_df(self, key_name: str = KEY, value_name: str = VALUE) -> DataFrame:
        return self._df.select(F.col(KEY).alias(key_name), F.col(VALUE).alias(value_name))

    @property
    def df(self) -> DataFrame:
        return self._df

    def to_dict(self, max_rows: int = 1_000_000) -> dict:
        """Collect the whole map to a driver dict — the reference's
        owner-broadcast get() generalized to all keys (src/dist_map.h:132-145).
        Guarded by max_rows: this is for genuinely small maps."""
        n = self._df.count()
        if n > max_rows:
            raise ValueError(f"KeyedMap has {n} keys; refusing driver collect > {max_rows}")
        return {r[0]: r[1] for r in self._df.select(KEY, VALUE).collect()}

    def as_map_column(self, max_rows: int = 10_000):
        """The hot-lookup pattern: the map as a literal Catalyst map column
        (create_map), so joins against it become JVM-side getItem lookups
        with no shuffle — the broadcast-dict idiom from SURVEY §2 row 6."""
        items = self.to_dict(max_rows)
        flat = []
        for k, v in items.items():
            flat.extend([F.lit(k), F.lit(v)])
        return F.create_map(*flat)

    def lookup_join(self, df: DataFrame, key_col: str, out_col: str = "value",
                    max_rows: int = 10_000) -> DataFrame:
        """Attach this map's values to df rows by key via a literal map
        lookup (no shuffle, no broadcast join machinery) — for small hot
        dimension maps; use a broadcast join beyond max_rows."""
        m = self.as_map_column(max_rows)
        return df.withColumn(out_col, m[F.col(key_col)])

    def persist(self) -> "KeyedMap":
        self._df = materialize(self._df)
        return self

    def checkpoint(self) -> "KeyedMap":
        """Cut lineage after many epochs (SURVEY.md §7.3 risk b)."""
        self._df = self._df.localCheckpoint(eager=True)
        return self
