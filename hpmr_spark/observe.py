"""One measurement loop, read from Spark's own accounting.

``observe(spark, build)`` builds a frame under a fresh job group, runs it to
the noop sink under a second one, and returns a ``Record``: the build and
wall seconds, the jobs each half launched, and every task's duration per
stage. Jobs and tasks come from the driver's status store once the listener
bus is drained, so no event log is written or parsed; the store is kept with
``spark.ui.enabled=false`` too.

``count_jobs(spark, fn)`` is the same job-group count for any callable.

Jobs Spark starts under its own group (streaming micro-batches) are not
counted by either.
"""

from __future__ import annotations

import contextlib
import time
import uuid
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession


@dataclass
class Record:
    build_s: float  # building the frame
    wall_s: float  # building it and running it to the noop sink
    build_jobs: int  # how many of job_ids ran while the frame was built
    job_ids: list[int]  # every job of build and run, build's first
    stage_task_s: dict[int, list[float]]  # stage id -> its task durations

    @property
    def tasks(self) -> int:
        return sum(len(durs) for durs in self.stage_task_s.values())

    @property
    def task_s(self) -> float:
        return sum(sum(durs) for durs in self.stage_task_s.values())

    @property
    def max_task_s(self) -> float:
        return max((max(durs) for durs in self.stage_task_s.values()), default=0.0)

    def totals(self) -> dict:
        """The record without the per-stage task lists, rounded for print."""
        return {
            "build_s": round(self.build_s, 3),
            "wall_s": round(self.wall_s, 3),
            "build_jobs": self.build_jobs,
            "jobs": len(self.job_ids),
            "tasks": self.tasks,
            "task_s": round(self.task_s, 2),
            "max_task_s": round(self.max_task_s, 3),
        }


@contextlib.contextmanager
def _job_group(sc):
    group, prev = f"observe-{uuid.uuid4().hex}", sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        yield group
    finally:
        sc.setLocalProperty("spark.jobGroup.id", prev)


def _group_jobs(sc, group: str) -> list[int]:
    # the status store is fed by the listener bus; drain it before reading
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getJobIdsForGroup(group))


def count_jobs(spark: SparkSession, fn):
    """Run ``fn()`` under a fresh job group and return ``(fn(), n)``, where n
    is the number of Spark jobs it launched on this thread — e.g. the jobs a
    query runs while its DataFrame is being built."""
    sc = spark.sparkContext
    with _job_group(sc) as group:
        out = fn()
    return out, len(_group_jobs(sc, group))


def _stage_task_s(sc, jobs: list[int]) -> dict[int, list[float]]:
    """Task durations of every stage the jobs ran, in seconds. A stage the
    jobs skipped (its output was already there) ran no tasks."""
    tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()
    stages = {s for j in jobs if (info := tracker.getJobInfo(j)) for s in info.stageIds}
    out = {}
    for s in sorted(stages):
        info = tracker.getStageInfo(s)
        durs = []
        for attempt in range(info.currentAttemptId + 1 if info else 0):
            tasks = store.taskList(s, attempt, 2**31 - 1)
            for i in range(tasks.size()):
                d = tasks.apply(i).duration()
                if d.isDefined():
                    durs.append(d.get() / 1000.0)
        if durs:
            out[s] = durs
    return out


def observe(spark: SparkSession, build: Callable[[], DataFrame]) -> Record:
    """Build the frame ``build()`` returns and run it to the noop sink."""
    sc = spark.sparkContext
    t0 = time.time()
    with _job_group(sc) as build_group:
        df = build()
    t1 = time.time()
    with _job_group(sc) as run_group:
        df.write.mode("overwrite").format("noop").save()
    t2 = time.time()
    build_jobs = _group_jobs(sc, build_group)
    jobs = build_jobs + _group_jobs(sc, run_group)
    return Record(t1 - t0, t2 - t0, len(build_jobs), jobs, _stage_task_s(sc, jobs))
