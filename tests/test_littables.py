"""values_df edge cases: empty rows, parameterized/nested DDL types and
non-finite doubles."""

import math

import pytest

from hpmr_spark.functions.littables import _split_ddl, values_df


def test_empty_rows_raise(spark):
    with pytest.raises(ValueError, match="at least one row"):
        values_df(spark, [], "k int, v string")


def test_split_ddl_keeps_parameterized_types():
    assert _split_ddl("k int, p decimal(10,2), xs array<struct<a:int,b:string>>, m map<string, int>") == [
        ("k", "int"),
        ("p", "decimal(10,2)"),
        ("xs", "array<struct<a:int,b:string>>"),
        ("m", "map<string, int>"),
    ]


def test_decimal_and_array_columns(spark):
    from decimal import Decimal

    df = values_df(spark, [(1, 1.25, [1, 2]), (2, None, [])], "k int, p decimal(10,2), xs array<int>")
    assert df.schema.simpleString() == "struct<k:int,p:decimal(10,2),xs:array<int>>"
    assert [tuple(r) for r in df.orderBy("k").collect()] == [
        (1, Decimal("1.25"), [1, 2]),
        (2, None, []),
    ]


def test_non_finite_doubles_round_trip(spark):
    rows = values_df(spark, [(float("nan"),), (float("inf"),), (float("-inf"),), (0.5,)], "x double").collect()
    got = [r[0] for r in rows]
    assert math.isnan(got[0]) and got[1:] == [math.inf, -math.inf, 0.5]
