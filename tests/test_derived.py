"""The registry's shared derived inputs (``sources/derived.py``): each Spark
builder hashes equal to its DuckDB twin, and no operator module keeps its
own copy of the trade-graph edge rule or of the daily revenue rollup."""

import re
from pathlib import Path

import duckdb
import pytest

from hpmr_spark.sources.derived import (
    SQL_DAILY_REVENUE,
    SQL_TRADE_EDGES_CTE,
    SQL_TRADE_PAIRS_CTE,
    SQL_UNDIRECTED_CTE,
    daily_revenue,
    trade_edges,
    trade_pairs,
    undirected,
)
from hpmr_spark.sources.tables import TABLES
from tools.selfcheck import canon

ROOT = Path(__file__).resolve().parents[1]
DERIVED = ROOT / "hpmr_spark" / "sources" / "derived.py"


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    yield con
    con.close()


def test_trade_graph_matches_its_sql_twin(spark, sf_dir, duck):
    pairs = trade_pairs(spark, sf_dir)
    edges = trade_edges(pairs)
    und = undirected(edges)
    for df, sql in (
        (pairs, f"WITH {SQL_TRADE_PAIRS_CTE} SELECT * FROM pe"),
        (edges, f"WITH {SQL_TRADE_EDGES_CTE} SELECT * FROM edges"),
        (und, f"WITH {SQL_UNDIRECTED_CTE} SELECT * FROM und"),
    ):
        assert canon(df.toPandas()) == canon(duck.execute(sql).df()), sql

    # the threshold keeps some pairs and drops others; pagerank's directed
    # edges keep self-loops, the undirected graph folds and drops them
    p = {(r.src, r.dst) for r in pairs.collect()}
    e = {(r.src, r.dst) for r in edges.collect()}
    assert e and e < p
    assert any(s == d for s, d in e)
    folded = {(min(s, d), max(s, d)) for s, d in e if s != d}
    assert {(r.u, r.w) for r in und.collect()} == folded


def test_daily_revenue_matches_its_sql_twin(spark, sf_dir, duck):
    day = daily_revenue(spark, sf_dir).toPandas()
    assert len(day) > 1 and day["d"].is_unique
    assert canon(day) == canon(duck.execute(SQL_DAILY_REVENUE).df())


# the edge rule, in Spark (`F.col("v") * 625`) and in SQL (`v * 625 > t`)
_EDGE_RULE = re.compile(r"\*\s*625\b")
# a per-day revenue rollup of orders, in SQL ...
_DAILY_SQL = re.compile(
    r"o_orderdate AS DATE\)[^;]{0,200}?ROUND\(o_totalprice \* 100\)"
    r"[^;]{0,120}?FROM orders\s+GROUP BY",
    re.S,
)
# ... and in Spark: orders grouped by their order date
_DAILY_SPARK = re.compile(
    r"groupBy\(\s*F\.(unix_date\(F\.col\(\"o_orderdate\"\)"
    r"|expr\(\"CAST\(o_orderdate AS DATE\)\"\)"
    r"|col\(\"o_orderdate\"\)\.cast\(\"date\"\))"
)


def test_only_derived_builds_the_shared_inputs():
    found = set()
    for path in (ROOT / "hpmr_spark").rglob("*.py"):
        text = path.read_text()
        for name, pat in (
            ("edge rule", _EDGE_RULE),
            ("daily SQL", _DAILY_SQL),
            ("daily Spark", _DAILY_SPARK),
        ):
            if pat.search(text):
                found.add((str(path.relative_to(ROOT)), name))
        if path.parent.name == "operators":
            assert "def _day_frame" not in text, path
            assert "_DAY_SQL =" not in text, path
    where = str(DERIVED.relative_to(ROOT))
    assert found == {(where, "edge rule"), (where, "daily SQL"), (where, "daily Spark")}
