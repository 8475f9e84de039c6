"""values_df edge cases: empty rows, parameterized/nested DDL types,
non-finite doubles and strings the SQL parser would rewrite."""

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


def test_strings_round_trip_verbatim(spark):
    # quotes, backslashes and ${...} references (which spark.sql substitutes)
    texts = ["a'b", "c\\d", "e\\'f", "${spark.app.name}", "${nope}", "x${", "é☃"]
    rows = values_df(spark, [(i, t) for i, t in enumerate(texts)], "i int, t string")
    assert [r[1] for r in rows.orderBy("i").collect()] == texts
