"""Seeded generator for the registry tier: the ten tables the registered
queries read (region, nation, customer, supplier, part, orders, lineitem,
events, documents, embeddings), written as parquet with the column names,
types and value domains of the committed test tiers.

Row counts follow the test tiers: lineitem = 6M x sf, orders = 1.5M x sf,
customer = 150k x sf, part = 200k x sf, supplier = 10k x sf, events = 1M x sf,
documents = max(500, 50k x sf) capped at 1000 (the oracles of the dedup
queries compare all document pairs), embeddings = max(500, 20k x sf).

The same (seed, sf) always produces byte-identical files; `content_hash`
fingerprints them. With --oracle the generator also writes oracle.json: for
each named registry query, the row count, columns and `canon` hash of its
DuckDB oracle over the tier (the checks' goldens). The benchmark runs it as
its own process, so the benchmark's set-up still pays the registry import.

    python3 perfbench/gen_tables.py --seed 42 --sf 0.1 --out perfbench/.work/t \
        --oracle q1_pricing_summary topk_global_orders
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
P_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "widget", "nut"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
O_STATUS = ["F", "O", "P"]
O_PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
N_SOURCES = 20
MAX_DOCS = 1000


def _days(rng, n, start, end):
    """Midnight timestamps drawn uniformly from [start, end] (ISO dates)."""
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    days = rng.integers(lo, hi + 1, n)
    return pa.array(days * 86_400_000_000, pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def build(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * sf), 10)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 10)
    n_ord = max(int(1_500_000 * sf), 10)
    n_line = max(int(6_000_000 * sf), 10)
    n_evt = max(int(1_000_000 * sf), 10)
    n_user = max(int(15_000 * sf), 10)
    n_doc = min(max(int(50_000 * sf), 500), MAX_DOCS)
    n_emb = max(int(20_000 * sf), 500)
    i32 = pa.int32()
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), i32),
                            "r_name": pa.array(REGIONS)})
    t["nation"] = pa.table({"n_nationkey": pa.array(range(25), i32),
                            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                            "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    names = [f"{a} {b}" for a in P_ADJ for b in P_NOUN]
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": _pick(rng, names, n_part),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, P_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _pick(rng, O_STATUS, n_ord),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": _pick(rng, O_PRIORITY, n_ord),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900.0, 105_000.0),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04"),
    })
    # events arrive in time order over January 2024 (microsecond stamps)
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(rng.integers(0, 30 * 86_400_000_000, n_evt)) + t0
    t["events"] = pa.table({
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_user, n_evt),
        "event_type": _pick(rng, EVENT_TYPES, n_evt),
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]),
    })
    # documents: random words over a 31-word vocabulary; 5% carry a trailing
    # "dup" marker and a few are verbatim copies of an earlier document
    words = np.asarray(WORDS, dtype=object)
    lens = rng.integers(10, 101, n_doc)
    texts = [" ".join(words[rng.integers(0, len(WORDS), n)]) for n in lens]
    for i in np.flatnonzero(rng.random(n_doc) < 0.05):
        texts[i] += " dup"
    for i in rng.choice(np.arange(1, n_doc), max(n_doc // 600, 1), replace=False):
        texts[i] = texts[int(rng.integers(0, i))]
    t["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n_doc, p=LANG_P),
        "source": pa.array([f"src{i % N_SOURCES}" for i in range(n_doc)]),
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })
    # embeddings: unit vectors scattered around one centroid per label
    labels = rng.integers(0, 10, n_emb)
    centroids = rng.standard_normal((10, 64))
    vecs = centroids[labels] + 1.5 * rng.standard_normal((n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32),
    })
    return t


def write(tables: dict[str, pa.Table], out_dir: str) -> str:
    """Write every table to `out_dir/<name>.parquet`; return the content hash."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return content_hash(out_dir)


def content_hash(out_dir: str) -> str:
    h = hashlib.sha256()
    for name in TABLES:
        with open(os.path.join(out_dir, f"{name}.parquet"), "rb") as fh:
            h.update(name.encode())
            h.update(fh.read())
    return h.hexdigest()[:16]


def canon(pdf) -> str:
    """Order-insensitive hash of a result frame; the rule of
    tools/selfcheck.py `canon`: columns by name, floats rounded to 6 places,
    cells stringified, rows sorted, md5."""
    pdf = pdf[sorted(pdf.columns)].copy()
    for c in pdf.columns:
        if pdf[c].dtype.kind == "f":
            pdf[c] = pdf[c].round(6)
        pdf[c] = pdf[c].astype(str)
    rows = sorted("|".join(t) for t in pdf.itertuples(index=False, name=None))
    return hashlib.md5("\n".join(rows).encode()).hexdigest()


def oracle_digests(sf_dir: str, names: list[str]) -> dict[str, dict]:
    """Run each query's DuckDB oracle over the tier: rows, columns and
    `canon` hash, plus the md5 of the oracle SQL so a changed oracle is
    noticed."""
    import duckdb

    from __spark_entry__ import oracle_sql

    sqls = oracle_sql()
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        out = {}
        for n in names:
            df = con.execute(sqls[n]).df()
            out[n] = {"rows": len(df), "columns": sorted(df.columns), "hash": canon(df),
                      "sql_md5": hashlib.md5(sqls[n].encode()).hexdigest()}
        return out
    finally:
        con.close()


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--sf", type=float, default=0.1)
    ap.add_argument("--out", required=True)
    ap.add_argument("--oracle", nargs="+", metavar="QUERY", default=[],
                    help="registered queries whose oracle digests to write")
    a = ap.parse_args()
    digest = write(build(a.seed, a.sf), a.out)
    if a.oracle:
        sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
        with open(os.path.join(a.out, "oracle.json"), "w") as fh:
            json.dump(oracle_digests(a.out, a.oracle), fh)
    print(digest)


if __name__ == "__main__":
    main()
