"""Run the benchmark several times and print every metric by name and unit.

    python3 perfbench/report.py --runs 5 --workloads keyed_kernel headline

For each workload (by default every one BENCHMARK.json lists), at its
run_seconds: `--runs` tracing-off runs (seeds 1..N) give every end-to-end
metric as median [q1, q3]; one traced run (seed 1) gives every per-layer
metric, the per-operation layer table (self times, and whether the time no
layer covers stays within 5% of the operation's wall time) and the tracing
overhead (traced pass_norm_s minus the untraced median). Artifacts are kept
under perfbench/.work/report/<time>/.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import (CORE_UNITS, E2E_UNITS, EXTRA_UNITS, KEYED_UNITS,  # noqa: E402
                 LAYER_EXTRA_UNITS, LAYER_UNITS, WORK)

COVERAGE_TOL = 0.05


def run_one(out_dir: str, workload: str, seed: int, seconds: float, trace: int) -> dict:
    path = os.path.join(out_dir, f"{workload}-s{seed}-t{trace}.json")
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
           "--artifact", path]
    res = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    if res.returncode != 0:
        sys.stderr.write(res.stderr[-3000:])
        raise SystemExit(f"run failed ({res.returncode}): {' '.join(cmd)}")
    with open(path) as fh:
        return json.load(fh)


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return med, q1, q3


def fmt(v: float) -> str:
    return f"{v:.4g}" if isinstance(v, float) else str(v)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--workloads", nargs="+", default=[w["name"] for w in bench["workloads"]])
    a = ap.parse_args()
    seconds = bench["run_seconds"]
    out_dir = os.path.join(WORK, "report", time.strftime("%Y%m%d-%H%M%S"))
    os.makedirs(out_dir, exist_ok=True)

    for w in a.workloads:
        plain = [run_one(out_dir, w, s, seconds, 0) for s in range(1, a.runs + 1)]
        traced = run_one(out_dir, w, 1, seconds, 1)
        print(f"\n=== {w}: {a.runs} runs, tracing off (median [q1, q3])")
        units = dict(E2E_UNITS, **EXTRA_UNITS)
        if w == "keyed_kernel":
            units.update(KEYED_UNITS)
        for name, unit in units.items():
            xs = [r["metrics"].get(name, r["extra_metrics"].get(name)) for r in plain]
            med, q1, q3 = quartiles(xs)
            print(f"  {name:<28} {fmt(med):>10} [{fmt(q1)}, {fmt(q3)}] {unit}")
        if w == "keyed_kernel":
            r = plain[0]["extra_metrics"]
            print(f"  (lookup_tail_ms is p{r['lookup_tail_pct']:.0f} of "
                  f"{r['lookup_samples']} lookups per run)")
        c = plain[0]["conditions"]
        print(f"  conditions: master {c['end']['master']}, defaultParallelism "
              f"{c['end']['default_parallelism']}, loadavg {c['start']['loadavg_1m']:.2f}"
              f"->{c['end']['loadavg_1m']:.2f}, SPARK_GRAFT_* {c['spark_graft_env']['md5']}, "
              f"plans_golden {c['plans_golden_md5']}, inputs {plain[0]['inputs']['content_hash']}")

        print(f"\n=== {w}: traced run (per timed pass, median)")
        units = dict(LAYER_UNITS, **LAYER_EXTRA_UNITS,
                     **(CORE_UNITS if w == "keyed_kernel" else {}))
        for name, unit in units.items():
            print(f"  {name:<36} {fmt(traced['layers'][name]):>12} {unit}")
        overhead = traced["metrics"]["pass_norm_s"] - statistics.median(
            r["metrics"]["pass_norm_s"] for r in plain)
        print(f"  tracing overhead (traced pass_norm_s - untraced median): {overhead:+.3f} s")

        layers = list(traced["layer_table"][0]["self"])
        print(f"\n  {'operation':<30} {'n':>4} {'wall_s':>8} "
              + " ".join(f"{x[:12]:>12}" for x in layers) + "  unattributed share")
        for row in traced["layer_table"]:
            ok = abs(row["unattributed_share"]) <= COVERAGE_TOL
            print(f"  {row['op']:<30} {row['n']:>4} {row['wall_s']:>8.3f} "
                  + " ".join(f"{row['self'][x]:>12.3f}" for x in layers)
                  + f"  {row['unattributed_share']:+.3f} {'ok' if ok else 'OFF'}")
    print(f"\nartifacts: {out_dir}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
