"""Rank bench-extra queries by EVENT-LOG TASK-TIME (VERDICT r11 item 4:
wall≠work at sf0.1 — re-rank the golden-audit tier by measured task-time,
not shuffle count).

One session with event logging on; each query runs labeled
(setJobDescription) to the noop sink. Afterwards the event log is parsed:
jobs are attributed to their label via SparkListenerJobStart properties,
stages to jobs via the job's Stage IDs, and per-query totals are
Σ task duration / max single task / n_tasks / wall.

Usage:
    python tools/tasktime_rank.py            # bench extras
    python tools/tasktime_rank.py q1 q2 ...  # explicit list
Never run while another Spark JVM is using the machine (BASELINE.md).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def iter_event_lines(eventlog_dir: str):
    for root, _dirs, files in os.walk(eventlog_dir):
        for fname in sorted(files):
            if not fname.startswith("events"):
                continue
            path = os.path.join(root, fname)
            if fname.endswith(".zstd"):
                out = subprocess.run(
                    ["zstd", "-dc", path], capture_output=True, check=True
                )
                yield from out.stdout.decode("utf-8").splitlines()
            else:
                with open(path) as fh:
                    yield from fh


def main() -> int:
    names = sys.argv[1:]
    if not names:
        import bench

        names = list(bench.BENCH_EXTRA)

    evdir = tempfile.mkdtemp(prefix="tasktime_ev_")

    from __spark_entry__ import queries
    from hpmr_spark.engine import session_builder

    spark = session_builder("tasktime-rank", event_log_dir=evdir).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.read.parquet(f"{SF_DIR}/lineitem.parquet").count()

    qs = queries()
    walls = {}
    for name in names:
        if name not in qs:
            print(f"-- skip unknown {name}", file=sys.stderr)
            continue
        spark.sparkContext.setJobDescription(f"Q:{name}")
        t0 = time.time()
        try:
            qs[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
            walls[name] = round(time.time() - t0, 2)
        except Exception as e:  # noqa: BLE001
            walls[name] = None
            print(f"-- {name} ERROR {str(e)[:80]}", file=sys.stderr)
        spark.sparkContext.setJobDescription(None)
    spark.stop()
    time.sleep(1)

    job_of_stage: dict[int, str] = {}
    per_q: dict[str, dict] = {}
    for line in iter_event_lines(evdir):
        try:
            ev = json.loads(line)
        except json.JSONDecodeError:
            continue
        et = ev.get("Event")
        if et == "SparkListenerJobStart":
            desc = (ev.get("Properties") or {}).get("spark.job.description", "")
            if not desc.startswith("Q:"):
                continue
            qname = desc[2:].split(":")[0]
            for sid in ev.get("Stage IDs", []):
                job_of_stage[sid] = qname
        elif et == "SparkListenerTaskEnd":
            qname = job_of_stage.get(ev["Stage ID"])
            if qname is None:
                continue
            ti = ev["Task Info"]
            dur = (ti["Finish Time"] - ti["Launch Time"]) / 1000.0
            d = per_q.setdefault(
                qname, {"task_s": 0.0, "max_task_s": 0.0, "n_tasks": 0}
            )
            d["task_s"] += dur
            d["max_task_s"] = max(d["max_task_s"], dur)
            d["n_tasks"] += 1

    rows = []
    for qname, d in per_q.items():
        rows.append(
            {
                "query": qname,
                "task_s": round(d["task_s"], 1),
                "max_task_s": round(d["max_task_s"], 2),
                "n_tasks": d["n_tasks"],
                "wall_s": walls.get(qname),
            }
        )
    rows.sort(key=lambda r: -r["task_s"])
    for r in rows:
        print(json.dumps(r))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
