"""Tracing for the benchmark's traced run.

Spans are recorded from the benchmark's own code, around its calls into the
program: workload -> pass -> operation -> {build, execute}, with `load`
spans around parquet reads, `checkpoint` spans around eager checkpoints and
`action` spans around the Spark actions (collect, toPandas, count, save).
Every span sets a Spark job group named after the span, so the jobs, stages
and tasks in the event log join back to the span that launched them.
Catalyst phase times come from the QueryExecution that actually ran each
action, delivered by a QueryExecutionListener. The time the main thread
spends in py4j calls is summed per span.

Spans stay in memory; after the run `op_layers` joins them with the parsed
event log into per-layer self times per operation.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import threading
import time
from dataclasses import dataclass, field

PYTHON_SCOPE = re.compile(r"Python|InPandas|InArrow")
CONTAINERS = ("load", "checkpoint", "action")
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    py4j_s: float = 0.0     # main-thread py4j call time while this was the innermost span

    @property
    def dur(self) -> float:
        return self.end - self.start


class NullTracer:
    """Tracing off: every hook is a no-op, so timed runs carry no overhead."""

    enabled = False

    @contextlib.contextmanager
    def span(self, name, **attrs):
        yield None

    def attach(self, spark):
        pass

    def after_action(self):
        pass

    def note_build(self, obj):
        pass

    def detach(self):
        pass


class Tracer(NullTracer):
    enabled = True

    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.qes: list[dict] = []       # one per executed QueryExecution
        self.persist_calls = 0
        self.cached_bytes: dict[int, int] = {}   # op span id -> storage after it
        self._sc = None
        self._patches: list[tuple] = []
        # span the QueryExecution callbacks are charged to: the open leaf, or
        # the one that just closed until the next opens (see after_action)
        self._charge: int | None = None

    # ------------------------------------------------------------------ spans
    @contextlib.contextmanager
    def span(self, name, **attrs):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None, time.time(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        self._charge = s.id
        self._set_group(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            self._charge = s.id
            self._set_group(self._stack[-1] if self._stack else None)

    def _set_group(self, s):
        if self._sc is not None:
            if s is None:
                self._sc.setLocalProperty("spark.jobGroup.id", None)
            else:
                self._sc.setJobGroup(str(s.id), s.name)

    # -------------------------------------------------------- program hooks
    def attach(self, spark):
        """Register the QueryExecution listener and wrap the Spark calls the
        per-layer numbers need (parquet reads, persist, checkpoint, actions
        and every py4j command)."""
        from py4j.java_gateway import GatewayClient, JavaMember
        from pyspark import RDD
        from pyspark.java_gateway import ensure_callback_server_started

        df0 = spark.range(0)
        DataFrame, DataFrameReader, DataFrameWriter = type(df0), type(spark.read), type(df0.write)
        self._sc = spark.sparkContext
        ensure_callback_server_started(self._sc._gateway)
        self._listener = _QeListener(self)
        self._jlm = spark._jsparkSession.listenerManager()
        self._jlm.register(self._listener)
        tracer = self

        def wrap(cls, meth, span_name, count):
            orig = getattr(cls, meth)

            def wrapped(*a, **kw):
                if count:
                    tracer.persist_calls += 1
                # an action another action calls (toPandas -> collect) is not a new span
                if span_name is None or (span_name == "action" and tracer._inside("action")):
                    return orig(*a, **kw)
                with tracer.span(span_name):
                    return orig(*a, **kw)

            self._patches.append((cls, meth, orig))
            setattr(cls, meth, wrapped)

        wrap(DataFrameReader, "parquet", "load", False)
        wrap(DataFrame, "persist", None, True)
        wrap(DataFrame, "cache", None, True)
        wrap(DataFrame, "localCheckpoint", "checkpoint", True)
        wrap(DataFrame, "checkpoint", "checkpoint", True)
        for cls, meth in ((DataFrame, "collect"), (DataFrame, "toPandas"), (DataFrame, "count"),
                          (DataFrameWriter, "save"), (RDD, "collect")):
            wrap(cls, meth, "action", False)

        # py4j time: a Java method call (argument conversion, round trip,
        # answer parsing) or any other command, timed at the outermost level
        main, depth = threading.get_ident(), [0]

        def time_py4j(cls, meth):
            orig = getattr(cls, meth)

            def timed(*a, **kw):
                if threading.get_ident() != main or depth[0] or not tracer._stack:
                    return orig(*a, **kw)
                depth[0] += 1
                t0 = time.perf_counter()
                try:
                    return orig(*a, **kw)
                finally:
                    depth[0] -= 1
                    tracer._stack[-1].py4j_s += time.perf_counter() - t0

            self._patches.append((cls, meth, orig))
            setattr(cls, meth, timed)

        time_py4j(JavaMember, "__call__")
        time_py4j(GatewayClient, "send_command")

    def after_action(self):
        """Called between a closed build/execute span and the next span, out
        of the timed region: wait for the listener bus so the QueryExecution
        callbacks of the action just run are charged to the span that ran
        it, and sample cached storage."""
        jsc = self._sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        total = 0
        for info in jsc.getRDDStorageInfo():
            total += info.memSize() + info.diskSize()
        op = self._open_op()
        if op is not None:
            self.cached_bytes[op.id] = total

    def note_build(self, obj) -> None:
        """Record the analysis time in the built DataFrame's own tracker (a
        DataFrame is analysed when it is built, so the executed query's
        tracker holds almost none) on the innermost operation span."""
        df = obj if hasattr(obj, "_jdf") else getattr(obj, "df", None)
        op = self._open_op()
        if op is None or not hasattr(df, "_jdf"):
            return
        o = df._jdf.queryExecution().tracker().phases().get("analysis")
        op.attrs["build_analysis_ms"] = o.get().durationMs() if o.isDefined() else 0

    def detach(self):
        for cls, meth, orig in self._patches:
            setattr(cls, meth, orig)
        self._patches.clear()
        if self._sc is not None:
            self._jlm.unregister(self._listener)
            self._sc.setLocalProperty("spark.jobGroup.id", None)

    def charged_span(self) -> int | None:
        return self._charge

    def _open_op(self) -> Span | None:
        return next((s for s in reversed(self._stack) if s.attrs.get("op")), None)

    def _inside(self, name: str) -> bool:
        return any(s.name == name for s in self._stack)


class _QeListener:
    """py4j proxy for org.apache.spark.sql.util.QueryExecutionListener."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer

    def onSuccess(self, func, qe, duration_ns):
        self._record(func, qe)

    def onFailure(self, func, qe, exc):
        self._record(func, qe)

    def _record(self, func, qe):
        phases = qe.tracker().phases()
        rec = {"func": func, "span": self.tracer.charged_span()}
        for p in ("analysis", "optimization", "planning"):
            o = phases.get(p)
            rec[p] = o.get().durationMs() if o.isDefined() else 0
        self.tracer.qes.append(rec)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


# --------------------------------------------------------------- event log
def parse_event_log(path: str) -> dict:
    """Jobs (group, start, end, stages) and per-stage task aggregates from an
    uncompressed Spark event log."""
    jobs, stage_tasks, python_stages = {}, {}, set()
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jobs[ev["Job ID"]] = {
                    "group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                    "start": ev["Submission Time"] / 1000.0,
                    "end": None,
                    "stages": ev.get("Stage IDs", []),
                }
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                for rdd in info.get("RDD Info", []):
                    if PYTHON_SCOPE.search(rdd.get("Name", "") + (rdd.get("Scope") or "")):
                        python_stages.add(info["Stage ID"])
            elif kind == "SparkListenerTaskEnd":
                st = stage_tasks.setdefault(ev["Stage ID"], _zero_tasks())
                m = ev.get("Task Metrics") or {}
                info = ev.get("Task Info") or {}
                dur = (info.get("Finish Time", 0) - info.get("Launch Time", 0)) / 1000.0
                st["tasks"] += 1
                st["task_time_s"] += m.get("Executor Run Time", 0) / 1000.0
                st["max_task_s"] = max(st["max_task_s"], dur)
                st["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                sw = m.get("Shuffle Write Metrics") or {}
                st["write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                st["records_written"] += sw.get("Shuffle Records Written", 0)
                sr = m.get("Shuffle Read Metrics") or {}
                st["fetch_wait_s"] += sr.get("Fetch Wait Time", 0) / 1000.0
                st["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                st["records_read"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
                for acc in info.get("Accumulables", []):
                    if acc.get("Name") == PY_SENT:
                        st["py_sent"] += int(acc.get("Update") or 0)
                    elif acc.get("Name") == PY_RETURNED:
                        st["py_returned"] += int(acc.get("Update") or 0)
    # a stage belongs to the first job that lists it: later jobs list it as skipped
    owner = {}
    for jid in sorted(jobs):
        for sid in jobs[jid]["stages"]:
            owner.setdefault(sid, jid)
    for jid, job in jobs.items():
        job["ran"] = [sid for sid in job["stages"] if owner[sid] == jid and sid in stage_tasks]
    return {"jobs": jobs, "stages": stage_tasks, "python_stages": python_stages}


def _zero_tasks() -> dict:
    return dict(tasks=0, task_time_s=0.0, max_task_s=0.0, gc_s=0.0, write_bytes=0,
                records_written=0, fetch_wait_s=0.0, spill_bytes=0, records_read=0,
                py_sent=0, py_returned=0)


def _union_len(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ------------------------------------------------------------- attribution
def op_layers(tracer: Tracer, log: dict, op: Span) -> dict:
    """Per-layer numbers for one operation span and its descendants.

    Self times, each from a measured span or a JVM-side interval:
      operators  the build span minus the loads and checkpoints in it (the
                 jobs the program launches while building, and the analysis
                 of the built DataFrame, reported apart as
                 `build_analysis_s`, are part of it)
      sources    the parquet `load` spans (their schema-inference jobs too)
      exec       the union of the Spark job intervals launched by the
                 execute span, its actions and every checkpoint
      catalyst   analysis+optimization+planning of the executed queries
      persist    the checkpoint spans minus the jobs and Catalyst in them
      driver     the action spans minus the jobs and Catalyst in them (py4j,
                 scheduling, result conversion), plus the execute span's
                 own py4j call time outside jobs and Catalyst
    `unattributed` is the wall time none of these covers; the per-operation
    check bounds it."""
    kids = _descendants(tracer, op)
    place = {s.id: _place(tracer, s, op) for s in kids}
    phases = [s for s in kids if s.parent == op.id]
    build = sum(s.dur for s in phases if s.name == "build")
    execute = sum(s.dur for s in phases if s.name == "execute")
    containers = [s for s in kids if place[s.id][1] is s]
    groups = {str(s.id): s for s in kids}

    def bucket(span_id):
        """Where the JVM time a span launched goes: ('exec', container id or
        None for the bare execute span), ('load', _) or ('build', _)."""
        phase, c = place[span_id]
        if c is not None and c.name == "load":
            return "load", c.id
        if phase == "execute" or (c is not None and c.name == "checkpoint"):
            return "exec", c.id if c is not None else None
        return "build", None

    out = dict.fromkeys(
        ("build_jobs", "load_jobs", "jobs", "stages", "tasks", "task_time_s", "max_task_s",
         "gc_s", "write_bytes", "records_written", "spill_bytes", "fetch_wait_s",
         "records_read", "python_tasks", "py_sent", "py_returned"), 0)
    intervals: dict[int | None, list] = {}
    for job in log["jobs"].values():
        span = groups.get(job["group"])
        if span is None:
            continue
        where, key = bucket(span.id)
        if where == "exec" and job["end"] is not None:
            intervals.setdefault(key, []).append((job["start"], job["end"]))
        if place[span.id][0] == "build" and where != "exec":
            out["build_jobs"] += 1
        if where == "load":
            out["load_jobs"] += 1
        out["jobs"] += 1
        for sid in job["ran"]:
            st = log["stages"][sid]
            out["stages"] += 1
            for k in ("tasks", "task_time_s", "gc_s", "write_bytes", "records_written",
                      "spill_bytes", "fetch_wait_s", "records_read", "py_sent", "py_returned"):
                out[k] += st[k]
            out["max_task_s"] = max(out["max_task_s"], st["max_task_s"])
            if sid in log["python_stages"]:
                out["python_tasks"] += st["tasks"]
    cat = {p: 0.0 for p in ("analysis", "optimization", "planning")}
    cat_in: dict[int | None, float] = {}
    for q in tracer.qes:
        if q["span"] is None or str(q["span"]) not in groups:
            continue
        where, key = bucket(q["span"])
        if where == "exec":
            for p in cat:
                cat[p] += q[p] / 1000.0
            cat_in[key] = cat_in.get(key, 0.0) + (q["analysis"] + q["optimization"]
                                                   + q["planning"]) / 1000.0
    # each bucket's JVM time is capped to the bucket's wall time, jobs first,
    # then Catalyst; the rest of a checkpoint is persist, the rest of an
    # action driver, and of the bare execute span its own py4j time
    walls = {c.id: c.dur for c in containers
             if c.name != "load" and (place[c.id][0] == "execute" or c.name == "checkpoint")}
    walls[None] = execute - sum(c.dur for c in containers if place[c.id][0] == "execute")
    py4j_bare = sum(s.py4j_s for s in phases if s.name == "execute")
    def total(name, phase=None):
        return sum(c.dur for c in containers
                   if c.name == name and phase in (None, place[c.id][0]))

    self_t = {"operators": build - total("load", "build") - total("checkpoint", "build"),
              "sources": total("load"), "catalyst": 0.0, "exec": 0.0, "persist": 0.0,
              "driver": 0.0}
    for k, w in walls.items():
        e = min(_union_len(intervals.get(k, [])), max(w, 0.0))
        q = min(cat_in.get(k, 0.0), max(w - e, 0.0))
        rest = max(w - e - q, 0.0)
        self_t["exec"] += e
        self_t["catalyst"] += q
        if k is None:
            self_t["driver"] += min(max(py4j_bare - e - q, 0.0), rest)
        elif tracer.spans[k].name == "checkpoint":
            self_t["persist"] += rest
        else:
            self_t["driver"] += rest
    wall = build + execute
    self_t["unattributed"] = wall - sum(self_t.values())
    out.update(
        wall_s=wall, build_s=build, execute_s=execute, load_s=self_t["sources"],
        checkpoint_s=total("checkpoint"),
        exec_wall_s=self_t["exec"],
        build_analysis_s=op.attrs.get("build_analysis_ms", 0) / 1000.0,
        analysis_s=cat["analysis"], optimization_s=cat["optimization"],
        planning_s=cat["planning"], self=self_t,
        cached_bytes=tracer.cached_bytes.get(op.id, 0),
    )
    return out


def _descendants(tracer: Tracer, root: Span) -> list[Span]:
    out, frontier = [], {root.id}
    for s in tracer.spans[root.id + 1:]:
        if s.parent in frontier:
            out.append(s)
            frontier.add(s.id)
    return out


def _place(tracer: Tracer, span: Span, op: Span) -> tuple[str | None, Span | None]:
    """(phase, container) of a span below `op`: the name of the child of
    `op` it sits under ('build' or 'execute'), and the outermost load,
    checkpoint or action span on the way up (None if there is none)."""
    phase, container, s = None, None, span
    while s is not None and s.id != op.id:
        if s.name in CONTAINERS:
            container = s
        if s.parent == op.id:
            phase = s.name if s.name in ("build", "execute") else None
            break
        s = tracer.spans[s.parent] if s.parent is not None else None
    return phase, container


def event_log_path(log_dir: str, app_id: str) -> str:
    for name in os.listdir(log_dir):
        if name.startswith(app_id) and not name.endswith(".inprogress"):
            return os.path.join(log_dir, name)
    raise FileNotFoundError(f"no completed event log for {app_id} in {log_dir}")
