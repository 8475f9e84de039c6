"""KeyedSet — distinct-key container, the analog of HashSet / ConcurrentSet /
BareSet (/root/reference/src/hash_set.h:7-18, src/concurrent_set.h:7-20).

A set is a map with V=void (reference models it exactly that way via the
HashEntry<K, void> specialization, src/hash_entry.h:26-42); here it is a
single-column DataFrame with a distinct invariant.
"""

from __future__ import annotations

from typing import Any, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

KEY = "key"


class KeyedSet:
    def __init__(self, df: DataFrame, *, _unique: bool = True):
        self._df = df
        self._unique = _unique

    @classmethod
    def from_df(cls, df: DataFrame, key_col: str) -> "KeyedSet":
        return cls(df.select(F.col(key_col).alias(KEY)).distinct())

    @classmethod
    def from_keys(cls, spark: SparkSession, keys: Iterable) -> "KeyedSet":
        """No keys give an empty set with a NULL-typed column, which the
        first ``add_batch`` widens."""
        rows = [(k,) for k in keys]
        if not rows:
            return cls(spark.createDataFrame([], f"{KEY} void"))
        df = spark.createDataFrame(rows, [KEY])
        return cls(df.distinct())

    def add_batch(self, df: DataFrame, key_col: str) -> "KeyedSet":
        """Insert-all ≡ union + distinct (src/hash_set.h:10)."""
        other = df.select(F.col(key_col).alias(KEY))
        return KeyedSet(self._df.unionByName(other).distinct())

    def has(self, key: Any) -> bool:
        return bool(self._df.where(F.col(KEY) == F.lit(key)).take(1))

    def unset(self, key: Any) -> "KeyedSet":
        # keep the NULL key, as KeyedMap.unset does
        return KeyedSet(self._df.where(F.coalesce(F.col(KEY) != F.lit(key), F.lit(True))))

    def n_keys(self) -> int:
        return self._df.count()

    # Set algebra (one-liners over sets in the reference model — SURVEY.md §2.3)
    def union(self, other: "KeyedSet") -> "KeyedSet":
        return KeyedSet(self._df.unionByName(other._df).distinct())

    def intersect(self, other: "KeyedSet") -> "KeyedSet":
        return KeyedSet(self._df.join(other._df, on=KEY, how="left_semi"))

    def difference(self, other: "KeyedSet") -> "KeyedSet":
        return KeyedSet(self._df.join(other._df, on=KEY, how="left_anti"))

    def filter_members(self, df: DataFrame, key_col: str) -> DataFrame:
        """Keep rows of ``df`` whose key is in this set (bulk ``has`` =
        left-semi join; broadcast when the set is small)."""
        keys = self._df.select(F.col(KEY).alias(key_col))
        return df.join(keys, on=key_col, how="left_semi")

    def filter_non_members(self, df: DataFrame, key_col: str) -> DataFrame:
        """Bulk ``unset``-style delete = left-anti join."""
        keys = self._df.select(F.col(KEY).alias(key_col))
        return df.join(keys, on=key_col, how="left_anti")

    def to_df(self, key_name: str = KEY) -> DataFrame:
        return self._df.select(F.col(KEY).alias(key_name))

    @property
    def df(self) -> DataFrame:
        return self._df
