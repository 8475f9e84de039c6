"""Smoke test of the benchmark itself, at tiny size.

    python3 -m pytest perfbench/tests -q

Checks that the generators are deterministic, that a run emits every metric
BENCHMARK.json names (tracing off and on), and that a planted wrong result
raises failed_ratio. Each run launches its own Spark JVM (~30 s).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen_keyed  # noqa: E402
import gen_tables  # noqa: E402
from run import SIZES, WORK  # noqa: E402

TINY = SIZES["tiny"]
PLANT_SEED = 990_001


def _bench_names(kind: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def _run(tmp_path, seed: int, trace: int) -> tuple[dict, dict]:
    art = str(tmp_path / f"a{seed}-{trace}.json")
    res = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "keyed_kernel", "--seed", str(seed),
         "--seconds", "0.1", "--trace", str(trace), "--scale", "tiny", "--artifact", art],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert res.returncode == 0, res.stderr[-3000:]
    with open(art) as fh:
        return json.loads(res.stdout.strip().splitlines()[-1]), json.load(fh)


def test_generators_are_deterministic(tmp_path):
    args = (7, TINY["rows"], TINY["keys"], TINY["batch_rows"], TINY["lookups"])
    a = gen_keyed.generate(str(tmp_path / "k1"), *args)
    b = gen_keyed.generate(str(tmp_path / "k2"), *args)
    assert a == b
    assert gen_keyed.generate(str(tmp_path / "k3"), 8, *args[1:]) != a
    t1 = gen_tables.write(gen_tables.build(7, 0.001), str(tmp_path / "t1"))
    t2 = gen_tables.write(gen_tables.build(7, 0.001), str(tmp_path / "t2"))
    assert t1 == t2


def test_every_named_metric_is_emitted(tmp_path):
    for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
        out, art = _run(tmp_path, 1, trace)
        assert set(out) == {"correct", "attempted", "failed", "metrics"}
        assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
        names = _bench_names(kind)
        assert set(out["metrics"]) == set(names)
        for name, unit in names.items():
            assert out["metrics"][name]["unit"] == unit
            assert isinstance(out["metrics"][name]["value"], (int, float))
    # the keyed-only numbers live in the artifact
    assert {"ingest_rows_per_s", "epoch_s", "lookup_p50_ms", "lookup_tail_ms",
            "failed_ratio"} <= set(art["extra_metrics"])
    assert art["layers"]["python.tasks"] == 0
    assert {"core.combine_ratio", "core.get_many_ms"} <= set(art["layers"])


def test_planted_wrong_result_raises_failed_ratio(tmp_path):
    key = f"{TINY['rows']}-{TINY['keys']}-{TINY['batch_rows']}-{TINY['lookups']}-s{PLANT_SEED}"
    data = os.path.join(WORK, "data", f"keyed-{key}")
    shutil.rmtree(data, ignore_errors=True)
    gen_keyed.generate(data + ".plant", PLANT_SEED, TINY["rows"], TINY["keys"],
                       TINY["batch_rows"], TINY["lookups"])
    # plant: the golden says every live key holds a value one higher
    golden = os.path.join(data + ".plant", "golden.npz")
    with np.load(golden) as z:
        g = {k: z[k] for k in z.files}
    g["state"] = np.where(g["state"] >= 0, g["state"] + 1, g["state"])
    np.savez(golden, **g)
    with open(os.path.join(data + ".plant", "DONE"), "w") as fh:
        fh.write("planted")
    os.replace(data + ".plant", data)
    try:
        out, art = _run(tmp_path, PLANT_SEED, 0)
    finally:
        shutil.rmtree(data, ignore_errors=True)
    assert not out["correct"]
    assert out["failed"] >= TINY["lookups"]
    assert art["extra_metrics"]["failed_ratio"] > 0
