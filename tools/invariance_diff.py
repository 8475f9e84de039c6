"""Diff two selfcheck JSON artifacts' per-query Spark result hashes.

The partition-invariance sweep (VERDICT r6 item 4; SURVEY §5's
n_procs=1/4 discipline, reference gtest_main_mpi.cc:47-61 +
Makefile:44-48): the full registry must produce BIT-IDENTICAL results
under any parallelism / partitioning. Usage:

    # baseline (engine-default local[32], shuffle=64):
    SPARK_GRAFT_SF_DIR_CHECK=/root/testdata/sf0.001 \
      SPARK_GRAFT_SELFCHECK_JSON=/tmp/base.json python tools/selfcheck.py
    # hostile partitioning:
    SPARK_GRAFT_SF_DIR_CHECK=/root/testdata/sf0.001 \
      SPARK_GRAFT_MASTER=local[4] SPARK_GRAFT_SHUFFLE_PARTITIONS=7 \
      SPARK_GRAFT_SELFCHECK_JSON=/tmp/inv.json python tools/selfcheck.py
    python tools/invariance_diff.py /tmp/base.json /tmp/inv.json \
      selfcheck_r15_invariance.json
"""

from __future__ import annotations

import json
import sys


def main(base_path: str, inv_path: str, out_path: str) -> int:
    base = json.load(open(base_path))
    inv = json.load(open(inv_path))
    bq, iq = base["queries"], inv["queries"]
    rows = {}
    n_same = 0
    for name in sorted(set(bq) | set(iq)):
        b, i = bq.get(name), iq.get(name)
        if b is None or i is None:
            rows[name] = {"identical": False, "err": "missing in one run"}
            continue
        bh, ih = b.get("spark_hash"), i.get("spark_hash")
        same = bh is not None and bh == ih and b["status"] != "fail"
        rows[name] = {
            "identical": bool(same),
            "status_base": b["status"],
            "status_invariance": i["status"],
        }
        if not same:
            rows[name]["hash_base"] = bh
            rows[name]["hash_invariance"] = ih
        n_same += int(same)
    out = {
        "baseline": base_path,
        "invariance": inv_path,
        "n_identical": n_same,
        "n_total": len(rows),
        "queries": rows,
    }
    with open(out_path, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
    print(f"{n_same}/{len(rows)} hash-identical -> {out_path}")
    bad = [n for n, r in rows.items() if not r["identical"]]
    if bad:
        print("NOT identical:", bad[:20])
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:4]))
