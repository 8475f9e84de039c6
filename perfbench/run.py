"""Benchmark of the keyed engine, run from the root of a checkout:

    python3 perfbench/run.py --workload keyed_kernel --seed 1 --seconds 15 --trace 0

Workloads (see workloads.py): `keyed_kernel` and `pipeline`, which
BENCHMARK.json lists, and `headline`, which it does not: a headline run takes
about a minute at any run length, and pipeline's operators exercise the same
layers (sources, catalyst, operators).

One process, one client, closed loop: each call waits for the previous one,
no extra threads, Spark at local[nproc] through `engine.session_builder`.
A run is:

  1. generate the seeded inputs under perfbench/.work/data (reused when the
     same seed and size were generated before; timed on its own);
  2. set up: launch the JVM and build the session, import the registry, run
     a warm-up job. setup_s is the time from process start to the end of
     the warm-up, minus input generation and the wait for other JVMs;
  3. a cold pass, one warm-up pass, then timed passes until --seconds have
     been spent in them (at least three). Pass times still fall for several
     passes after the cold one as the JVM compiles the hot paths, so the
     warm-up pass is left out. pass_s is the median wall time of the timed
     passes; pass_norm_s, the gated figure, is the median of their wall times
     scaled to a fixed host speed by a probe run around every operation (see
     probe_ms), since a shared host's speed drifts by up to a half between runs.
     Registry queries collect their result in the cold pass and write to the
     noop sink in later passes;
  4. stop Spark and wait for its JVM to exit.

Every operation's result is checked untimed. The last stdout line is
{"correct", "attempted", "failed", "metrics"}: end-to-end metrics with
--trace 0, per-layer metrics from the traced run with --trace 1. The full
record (run conditions, data hashes, per-op times, spans, layer table) is
written to --artifact, by default perfbench/.work/artifacts/.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

SIZES = {
    # full: the registry tier at sf0.1 (the size of the frozen bench tier);
    # keyed_kernel 2M Zipf writes over 200k key ranks, 100k-row epochs, 10
    # lookups a pass. Sized so that a 15 s run takes about 50 s (pipeline) or
    # 60 s (keyed_kernel) on 4 cores.
    "full": dict(sf=0.1, rows=2_000_000, keys=200_000, batch_rows=100_000, lookups=10),
    # tiny: the smoke test's size
    "tiny": dict(sf=0.001, rows=20_000, keys=2_000, batch_rows=1_000, lookups=12),
}
# The registry tier is fixed, as the frozen bench tier is (seed 42); its
# oracle digests are computed once per checkout. --seed orders warm passes.
TIER_SEED = 42
KEEP_DATA_DIRS = 3          # cached generated inputs kept per workload family
DRIVER_MEMORY = "3g"        # this is a 4-core / 15 GB host class; not 48g
TAIL_MIN_BEYOND = 10
WARMUP_PASSES = 1
MIN_TIMED = 3
PROBE_LOOP = 40_000
PROBE_ROUNDS = 2
PROBE_IDLE_MS = 2.3         # the probe loop's time on an idle core of a 4-core host

E2E_UNITS = {"setup_s": "s", "pass_norm_s": "s"}
LAYER_UNITS = {
    "engine.session_s": "s", "engine.first_job_s": "s", "catalog.registry_import_s": "s",
    "operators.build_s": "s", "operators.build_jobs": "count",
    "sources.load_s": "s", "sources.load_jobs": "count",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms", "catalyst.planning_ms": "ms",
    "exec.wall_s": "s", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_time_s": "s", "exec.max_task_s": "s", "exec.gc_s": "s",
    "shuffle.write_bytes": "bytes", "shuffle.records_written": "count",
    "shuffle.spill_bytes": "bytes",
    "python.tasks": "count", "python.bytes_sent": "bytes", "python.bytes_returned": "bytes",
    "persist.calls": "count", "persist.cached_bytes": "bytes",
}
# per-layer times that read a constant 0 on a listed workload (no remote
# fetch in local mode; headline runs no eager checkpoint): reported, not listed
LAYER_EXTRA_UNITS = {"shuffle.fetch_wait_s": "s", "persist.checkpoint_s": "s"}
# recorded in the artifact and printed by report.py, not gated: the raw
# pass_s and the cold pass swing with the host's speed (the cold pass is also
# one sample per run), by up to a quarter of their median between runs on a
# shared host; peak RSS swings by up to a quarter between runs
# with the JVM's heap sizing; the keyed numbers exist on one workload only
EXTRA_UNITS = {"pass_s": "s", "cold_pass_s": "s", "peak_rss_mb": "MB", "failed_ratio": "ratio"}
KEYED_UNITS = {"ingest_rows_per_s": "1/s", "epoch_s": "s", "lookup_p50_ms": "ms",
               "lookup_tail_ms": "ms"}
CORE_UNITS = {"core.from_df_s": "s", "core.set_batch_s": "s", "core.get_many_ms": "ms",
              "core.unset_many_s": "s", "core.n_keys_s": "s", "core.checkpoint_s": "s",
              "core.combine_ratio": "ratio", "core.rows_scanned_per_key_returned": "ratio"}


class Refused(RuntimeError):
    """The run cannot be timed here; nothing is printed on stdout."""


# ------------------------------------------------------------ conditions
def spark_jvms() -> list[int]:
    """PIDs of live Spark driver JVMs visible to this process."""
    pids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/cmdline", "rb") as fh:
                cmd = fh.read()
        except OSError:
            continue
        if b"java" in cmd and b"org.apache.spark.deploy.SparkSubmit" in cmd:
            pids.append(int(d))
    return pids


def guard_no_spark(wait_s: float = 30.0) -> float:
    """BASELINE.md protocol: never time while another Spark JVM is alive.
    A JVM from a run that just ended gets `wait_s` to exit."""
    t0 = time.time()
    while spark_jvms():
        if time.time() - t0 > wait_s:
            raise Refused(f"another Spark JVM is alive (pids {spark_jvms()})")
        time.sleep(0.5)
    return time.time() - t0


def conditions(spark=None) -> dict:
    cond = {"loadavg_1m": os.getloadavg()[0], "machine_cpus": os.cpu_count(),
            "affinity_cpus": len(os.sched_getaffinity(0))}
    if spark is not None:
        sc = spark.sparkContext
        cond["master"] = sc.master
        cond["default_parallelism"] = sc.defaultParallelism
        cond["shuffle_partitions"] = spark.conf.get("spark.sql.shuffle.partitions")
        cond["driver_memory"] = sc.getConf().get("spark.driver.memory")
    return cond


def env_fingerprint() -> dict:
    knobs = {k: v for k, v in sorted(os.environ.items()) if k.startswith("SPARK_GRAFT_")}
    return {"knobs": knobs,
            "md5": hashlib.md5(json.dumps(knobs, sort_keys=True).encode()).hexdigest()[:12]}


def file_md5(path: str) -> str | None:
    try:
        with open(path, "rb") as fh:
            return hashlib.md5(fh.read()).hexdigest()[:12]
    except OSError:
        return None


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


# ------------------------------------------------------------------ data
def cached_dir(family: str, key: str, make) -> tuple[str, float, bool]:
    """Generate into .work/data/<family>-<key> once; later runs reuse it.
    Keeps the KEEP_DATA_DIRS most recently used directories per family."""
    base = os.path.join(WORK, "data")
    path = os.path.join(base, f"{family}-{key}")
    t0 = time.time()
    hit = os.path.exists(os.path.join(path, "DONE"))
    if not hit:
        shutil.rmtree(path, ignore_errors=True)
        tmp = path + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        digest = make(tmp)
        with open(os.path.join(tmp, "DONE"), "w") as fh:
            fh.write(digest)
        os.replace(tmp, path)
        # write the new files back now, as part of generation, not during the timed set-up
        os.sync()
    os.utime(os.path.join(path, "DONE"))
    olds = sorted((d for d in os.listdir(base) if d.startswith(family + "-") and ".tmp" not in d),
                  key=lambda d: os.path.getmtime(os.path.join(base, d, "DONE")), reverse=True)
    for d in olds[KEEP_DATA_DIRS:]:
        shutil.rmtree(os.path.join(base, d), ignore_errors=True)
    return path, time.time() - t0, hit


def make_inputs(workload: str, seed: int, size: dict) -> dict:
    import gen_keyed
    import workloads as wl

    if workload == "keyed_kernel":
        key = f"{size['rows']}-{size['keys']}-{size['batch_rows']}-{size['lookups']}-s{seed}"
        path, secs, hit = cached_dir("keyed", key, lambda d: gen_keyed.generate(
            d, seed, size["rows"], size["keys"], size["batch_rows"], size["lookups"]))
    else:
        # one tier, with the oracle digests of every registry workload's queries
        def make(d):
            out = subprocess.run(
                [sys.executable, os.path.join(HERE, "gen_tables.py"), "--seed", str(TIER_SEED),
                 "--sf", str(size["sf"]), "--out", d, "--oracle",
                 *(n for names in wl.REGISTRY.values() for n in names)],
                check=True, capture_output=True, text=True)
            return out.stdout.split()[-1]

        path, secs, hit = cached_dir("tier", f"sf{size['sf']}-s{TIER_SEED}", make)
    with open(os.path.join(path, "DONE")) as fh:
        digest = fh.read()
    return {"dir": path, "content_hash": digest, "generate_s": secs, "reused": hit}


# ---------------------------------------------------------------- session
def build_session(tmp: str, trace_dir: str | None):
    from hpmr_spark.engine import session_builder

    b = (session_builder("perfbench", master=f"local[{len(os.sched_getaffinity(0))}]")
         .config("spark.driver.memory", DRIVER_MEMORY)
         .config("spark.local.dir", os.path.join(tmp, "spark-local"))
         .config("spark.sql.warehouse.dir", os.path.join(tmp, "warehouse"))
         .config("spark.ui.showConsoleProgress", "false"))
    if trace_dir is not None:
        b = (b.config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", "file://" + trace_dir)
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false"))
    return b.getOrCreate()


def warm_up(spark) -> None:
    """Data-independent warm-up: first exchange, aggregate codegen, noop
    sink and broadcast join (no benchmark input is read or cached)."""
    from pyspark.sql import functions as F

    (spark.range(0, 1000).select((F.col("id") % 7).alias("k"), F.col("id").alias("v"))
     .groupBy("k").agg(F.count_distinct("v").alias("n"))
     .write.mode("overwrite").format("noop").save())
    dim = spark.range(0, 100).select(F.col("id").alias("k"))
    (spark.range(0, 1000).select((F.col("id") % 100).alias("k"))
     .join(F.broadcast(dim), "k").groupBy("k").agg(F.count(F.lit(1)).alias("n"))
     .write.mode("overwrite").format("noop").save())


def set_up(tmp: str, trace_dir: str | None, excluded_s: float):
    """Returns (spark, setup_s, its parts)."""
    t0 = time.time()
    spark = build_session(tmp, trace_dir)
    t1 = time.time()
    from __spark_entry__ import queries

    queries()
    t2 = time.time()
    warm_up(spark)
    t3 = time.time()
    parts = {"session_s": t1 - t0, "registry_import_s": t2 - t1, "first_job_s": t3 - t2,
             "imports_s": t0 - T_START - excluded_s}
    return spark, t3 - T_START - excluded_s, parts


def stop_spark(spark) -> None:
    """Stop the session, close the gateway and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    spark.stop()
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


# ----------------------------------------------------------------- passes
def probe_ms() -> float:
    """The host's current speed: the mean time of a fixed pure-Python loop,
    run PROBE_ROUNDS times on each CPU in turn. On a shared host a core runs
    up to 1.6x slower while its hyperthread sibling is busy, and how often
    that happens drifts over minutes; every operation slows alike, so a pass
    time divided by the probe time measured around it stays steady."""
    cpus = sorted(os.sched_getaffinity(0))
    times = []
    try:
        for _ in range(PROBE_ROUNDS):
            for c in cpus:
                os.sched_setaffinity(0, {c})
                t = time.perf_counter()
                s = 0
                for j in range(PROBE_LOOP):
                    s += j * j
                times.append(time.perf_counter() - t)
    finally:
        os.sched_setaffinity(0, cpus)
    return 1000.0 * statistics.mean(times)


def run_pass(ops, tracer, label: str) -> dict:
    """Run one pass; its wall_s is the sum of the operations' build and
    execute times, so the untimed checks, probes and tracer bookkeeping stay
    out. The host is probed before each operation and after the last; norm_s
    is wall_s at the host speed PROBE_IDLE_MS stands for."""
    recs, failures = [], []
    timed = 0.0
    probes = []
    with tracer.span("pass", label=label):
        for op in ops:
            probes.append(probe_ms())
            calls0 = getattr(tracer, "persist_calls", 0)
            with tracer.span(op.name, op=True, kind=op.kind) as sp:
                rec = {"name": op.name, "kind": op.kind, "span": sp.id if sp else None}
                try:
                    a = time.perf_counter()
                    with tracer.span("build"):
                        obj = op.build()
                    b = time.perf_counter()
                    tracer.note_build(obj)
                    tracer.after_action()
                    b2 = time.perf_counter()
                    with tracer.span("execute"):
                        res = op.execute(obj)
                    c = time.perf_counter()
                    tracer.after_action()
                    rec.update(build_s=b - a, execute_s=c - b2, wall_s=c - b2 + b - a)
                    timed += rec["wall_s"]
                except Exception as e:  # a failing op is counted, and the pass goes on
                    timed += time.perf_counter() - a
                    rec["error"] = f"{type(e).__name__}: {str(e)[:300]}"
                    failures.append(rec)
                    recs.append(rec)
                    continue
            rec["persist_calls"] = getattr(tracer, "persist_calls", 0) - calls0
            if op.returned is not None:
                rec["keys_returned"] = op.returned(res)
            if op.check is not None:
                try:
                    err = op.check(res)
                except Exception as e:  # a crashing check is a wrong result
                    err = f"check raised {type(e).__name__}: {str(e)[:200]}"
                if err:
                    rec["wrong"] = err
                    failures.append(rec)
            recs.append(rec)
    probes.append(probe_ms())
    probe = statistics.mean(probes)
    return {"label": label, "wall_s": timed, "norm_s": timed * PROBE_IDLE_MS / probe,
            "probe_ms": probe, "probes_ms": probes, "ops": recs, "failed": len(failures)}


def tail(values: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile with at least
    TAIL_MIN_BEYOND samples beyond it."""
    xs = sorted(values)
    n = len(xs)
    k = max(n - TAIL_MIN_BEYOND, 1)
    return xs[k - 1], 100.0 * k / n, n


def keyed_metrics(warm: list[dict], n_rows: int) -> dict:
    ops = [o for p in warm for o in p["ops"] if "wall_s" in o]
    by = lambda kind: [o["wall_s"] for o in ops if o["kind"] == kind]  # noqa: E731
    lk = [1000.0 * x for x in by("lookup")]
    if not (lk and by("ingest") and by("epoch")):
        return {}   # those operations failed; failed_ratio already says so
    tv, tp, tn = tail(lk)
    return {"ingest_rows_per_s": n_rows / statistics.median(by("ingest")),
            "epoch_s": statistics.median(by("epoch")),
            "lookup_p50_ms": statistics.median(lk),
            "lookup_tail_ms": tv, "lookup_tail_pct": tp, "lookup_samples": tn}


# ------------------------------------------------------------ per-layer
def layer_metrics(tracer, log, passes: list[dict], parts: dict, workload: str,
                  n_rows: int | None) -> tuple[dict, list[dict]]:
    import spans as tr

    per_pass, table = [], []
    for p in passes:
        tot: dict = {}
        rows = []
        for rec in p["ops"]:
            if rec.get("span") is None or "wall_s" not in rec:
                continue
            lay = tr.op_layers(tracer, log, tracer.spans[rec["span"]])
            lay.update(name=rec["name"], kind=rec["kind"], persist_calls=rec["persist_calls"],
                       keys_returned=rec.get("keys_returned", 0))
            rows.append(lay)
        for k in ("build_s", "build_jobs", "load_s", "load_jobs", "exec_wall_s", "jobs",
                  "stages", "tasks", "task_time_s", "gc_s", "write_bytes", "records_written",
                  "spill_bytes", "fetch_wait_s", "python_tasks", "py_sent", "py_returned",
                  "persist_calls", "checkpoint_s", "build_analysis_s", "analysis_s",
                  "optimization_s", "planning_s"):
            tot[k] = sum(r[k] for r in rows)
        tot["max_task_s"] = max((r["max_task_s"] for r in rows), default=0.0)
        tot["cached_bytes"] = max((r["cached_bytes"] for r in rows), default=0)
        m = {
            "operators.build_s": tot["build_s"], "operators.build_jobs": tot["build_jobs"],
            "sources.load_s": tot["load_s"], "sources.load_jobs": tot["load_jobs"],
            "catalyst.analysis_ms": 1000 * (tot["build_analysis_s"] + tot["analysis_s"]),
            "catalyst.optimization_ms": 1000 * tot["optimization_s"],
            "catalyst.planning_ms": 1000 * tot["planning_s"],
            "exec.wall_s": tot["exec_wall_s"], "exec.jobs": tot["jobs"],
            "exec.stages": tot["stages"], "exec.tasks": tot["tasks"],
            "exec.task_time_s": tot["task_time_s"], "exec.max_task_s": tot["max_task_s"],
            "exec.gc_s": tot["gc_s"], "shuffle.write_bytes": tot["write_bytes"],
            "shuffle.records_written": tot["records_written"],
            "shuffle.spill_bytes": tot["spill_bytes"], "shuffle.fetch_wait_s": tot["fetch_wait_s"],
            "python.tasks": tot["python_tasks"], "python.bytes_sent": tot["py_sent"],
            "python.bytes_returned": tot["py_returned"], "persist.calls": tot["persist_calls"],
            "persist.cached_bytes": tot["cached_bytes"],
            "persist.checkpoint_s": tot["checkpoint_s"],
        }
        if workload == "keyed_kernel":
            m.update(core_metrics(rows, n_rows))
        per_pass.append(m)
        table = rows
    metrics = {k: statistics.median(pp[k] for pp in per_pass) for k in per_pass[0]}
    metrics.update({"engine.session_s": parts["session_s"],
                    "engine.first_job_s": parts["first_job_s"],
                    "catalog.registry_import_s": parts["registry_import_s"]})
    return metrics, table


def core_metrics(rows: list[dict], n_rows: int) -> dict:
    kind = lambda k: [r for r in rows if r["kind"] == k]  # noqa: E731
    lookups = kind("lookup")
    returned = sum(r.get("keys_returned", 0) for r in lookups)
    unset = kind("unset")
    return {
        "core.from_df_s": sum(r["wall_s"] for r in kind("ingest") + kind("ingest_overwrite")),
        "core.set_batch_s": sum(r["wall_s"] for r in kind("epoch")),
        "core.get_many_ms": 1000 * statistics.median(r["wall_s"] for r in lookups),
        "core.unset_many_s": sum(r["build_s"] for r in unset),
        "core.n_keys_s": sum(r["execute_s"] for r in unset),
        "core.checkpoint_s": sum(r["checkpoint_s"] for r in rows),
        "core.combine_ratio": sum(r["records_written"] for r in kind("ingest")) / n_rows,
        "core.rows_scanned_per_key_returned":
            sum(r["records_read"] for r in lookups) / max(returned, 1),
    }


def layer_table(rows: list[dict]) -> list[dict]:
    """Group the last traced pass's operations by kind (queries by name)."""
    out: dict[str, dict] = {}
    for r in rows:
        key = r["name"] if r["kind"] == "query" else r["kind"]
        g = out.setdefault(key, {"op": key, "n": 0, "wall_s": 0.0, "self": {}})
        g["n"] += 1
        g["wall_s"] += r["wall_s"]
        for layer, v in r["self"].items():
            g["self"][layer] = g["self"].get(layer, 0.0) + v
    for g in out.values():
        g["unattributed_share"] = g["self"]["unattributed"] / g["wall_s"]
    return list(out.values())


# ------------------------------------------------------------------- main
def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="keyed-engine benchmark (see module docstring)")
    ap.add_argument("--workload", required=True, choices=["headline", "keyed_kernel", "pipeline"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--scale", choices=sorted(SIZES), default="full")
    ap.add_argument("--artifact", help="where to write the full record (JSON)")
    a = ap.parse_args(argv)

    if not (os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(ROOT, "hpmr_spark"))):
        raise Refused(f"{ROOT} is not a checkout of the engine (no __spark_entry__.py/hpmr_spark)")
    sys.path[:0] = [ROOT, HERE]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    size = SIZES[a.scale]
    tmp = os.path.join(WORK, "tmp", f"run-{os.getpid()}")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # every JVM (the launcher too) keeps its temp and perf-data files here
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    trace_dir = os.path.join(tmp, "eventlog") if a.trace else None
    if trace_dir:
        os.makedirs(trace_dir)
    spark = None
    try:
        cond_start = conditions()
        guard_s = guard_no_spark()
        t_gen = time.time()
        data = make_inputs(a.workload, a.seed, size)
        gen_wall = time.time() - t_gen
        spark, setup_s, parts = set_up(tmp, trace_dir, gen_wall + guard_s)
        return measure(a, spark, size, data, setup_s, parts, cond_start, trace_dir)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(tmp, ignore_errors=True)


def measure(a, spark, size, data, setup_s, parts, cond_start, trace_dir) -> int:
    import spans as tr
    import workloads as wl

    from pyspark import SparkContext

    tracer = tr.Tracer() if a.trace else tr.NullTracer()
    tracer.attach(spark)
    if a.workload == "keyed_kernel":
        import numpy as np

        with np.load(os.path.join(data["dir"], "golden.npz")) as z:
            golden = {k: z[k] for k in z.files}
        work = wl.KeyedWorkload(spark, data["dir"], golden, size["lookups"])
    else:
        names = wl.REGISTRY[a.workload]
        with open(os.path.join(data["dir"], "oracle.json")) as fh:
            digests = json.load(fh)
        work = wl.RegistryWorkload(spark, names, data["dir"], digests, a.seed)

    passes = []
    with tracer.span(a.workload):
        passes.append(run_pass(work.ops(), tracer, "cold"))
        for i in range(WARMUP_PASSES):
            passes.append(run_pass(work.ops(), tracer, f"warmup{i}"))
        timed, spent = [], 0.0
        while spent < a.seconds or len(timed) < MIN_TIMED:
            timed.append(run_pass(work.ops(), tracer, f"warm{len(timed)}"))
            spent += timed[-1]["wall_s"]
        passes += timed
    tracer.detach()

    jvm = SparkContext._gateway.proc.pid
    peak = vm_hwm_mb(jvm)
    cond = {"start": cond_start, "end": conditions(spark),
            "spark_graft_env": env_fingerprint(),
            "plans_golden_md5": file_md5(os.path.join(ROOT, "plans_golden.json"))}
    app_id = spark.sparkContext.applicationId
    stop_spark(spark)

    wrong = {o["name"]: o.get("wrong", o.get("error")) for p in passes for o in p["ops"]
             if "wrong" in o or "error" in o}
    attempted = sum(len(p["ops"]) for p in passes)
    failed = sum(p["failed"] for p in passes)
    e2e = {"setup_s": setup_s, "pass_norm_s": statistics.median(p["norm_s"] for p in timed)}
    extra = {"pass_s": statistics.median(p["wall_s"] for p in timed),
             "cold_pass_s": passes[0]["wall_s"], "peak_rss_mb": peak,
             "failed_ratio": failed / attempted}
    if a.workload == "keyed_kernel":
        extra.update(keyed_metrics(timed, size["rows"]))
    record = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "scale": a.scale, "conditions": cond,
        "inputs": {k: data[k] for k in ("content_hash", "generate_s", "reused")},
        "setup": {"setup_s": setup_s, "parts": parts},
        "metrics": e2e, "extra_metrics": extra, "wrong": wrong,
        "passes": passes, "attempted": attempted, "failed": failed,
    }
    if a.trace:
        log = tr.parse_event_log(tr.event_log_path(trace_dir, app_id))
        layers, rows = layer_metrics(tracer, log, timed, parts, a.workload, size.get("rows"))
        record["layers"] = layers
        record["layer_table"] = layer_table(rows)
        record["spans"] = [vars(s) for s in tracer.spans]
        record["qes"] = tracer.qes
    path = a.artifact or os.path.join(
        WORK, "artifacts", f"{a.workload}-s{a.seed}-t{a.trace}-{int(T_START)}-{os.getpid()}.json")
    os.makedirs(os.path.dirname(os.path.abspath(path)), exist_ok=True)
    with open(path, "w") as fh:
        json.dump(record, fh, default=str)
    print(f"artifact: {path}", file=sys.stderr)
    if wrong:
        print(f"wrong results: {wrong}", file=sys.stderr)

    if a.trace:
        out = {k: {"value": record["layers"][k], "unit": u} for k, u in LAYER_UNITS.items()}
    else:
        out = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": out}))
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Refused as e:
        print(f"perfbench: refused: {e}", file=sys.stderr)
        sys.exit(3)
