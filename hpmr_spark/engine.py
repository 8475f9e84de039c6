"""SparkSession construction tuned for the engine.

The reference's performance envelope is compile-time constants (trunk size,
load factors — /root/reference/src/bare_hash_container.h:14-18); ours is Spark
conf. Every knob here is chosen for scale-out first, then works locally:

- AQE on: runtime coalescing of shuffle partitions + skew-join splitting is the
  analog of the reference's probe-length skew watchdog
  (/root/reference/src/bare_hash_container.h:135-148).
- Arrow on: all Pandas-UDF paths (dedup/similarity/multimodal) batch via Arrow.
- shuffle.partitions defaults to 2× cores locally; on a real cluster AQE
  coalesces from a deliberately-high initial number, so oversizing is safe.
- Python workers get the package root on PYTHONPATH: functions pickled by
  reference (Python data sources, streaming state functions) import
  ``hpmr_spark`` on the worker, whatever directory the application runs from.
- Python workers fork from ``hpmr_spark.pydaemon``: pyspark's daemon, except
  that the per-task ``importlib.invalidate_caches()`` re-reads a zip on the
  worker path (``pyspark.zip``) only when it has changed. That re-read was
  170-250 ms of every Python task.

Scratch storage has one owner too: ``scratch_dir`` hands out subdirectories
of one per-process root that is removed when the process exits, as hpmr's
containers free their storage when destroyed (src/dist_map.h). Cached frames
have one as well: ``materialize`` persists a frame under the registered query
being built, so one query's cache entry is never read by another.

Measurement lives in ``hpmr_spark.observe``: the jobs, tasks and task times of
a build or a run are read from the status store this session keeps, with no
event log.
"""

from __future__ import annotations

import atexit
import contextlib
import contextvars
import os
import shutil
import tempfile

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def session_builder(
    app_name: str = "hpmr-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession.Builder:
    """Builder with engine defaults; caller may override before getOrCreate."""
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if master is None:
        # SPARK_GRAFT_MASTER exists for the partition-invariance sweep
        # (tools/selfcheck.py under local[4]/shuffle=7 — SURVEY §5's
        # n_procs=1/4 discipline, gtest_main_mpi.cc:47-61): results must be
        # bit-identical under ANY parallelism.
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", max(2 * cpus, 8))
        )
    return (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Let AQE choose the output partitioning of plans that materialize
        # a persisted frame (default false pins every .persist() at the raw
        # shuffle-partition count — the InMemoryRelation then feeds each
        # consumer 64 tiny partitions locally and AQE cannot coalesce below
        # it; observed as the 4x MAD-persist regression, OPTIMIZATION_r11.md).
        # Scale-adaptive by definition: AQE sizes by bytes. Results are
        # partition-count invariant repo-wide under THIS conf
        # (selfcheck_r15_invariance.json).
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # merged by Spark with pyspark's own path and the launching
        # process's PYTHONPATH when it starts a Python worker
        .config("spark.executorEnv.PYTHONPATH", PACKAGE_ROOT)
        # imported from that PYTHONPATH, so it works from any cwd too
        .config("spark.python.daemon.module", "hpmr_spark.pydaemon")
    )


_scratch_root: str | None = None
_scratch_keyed: dict = {}


def _remove_scratch_root(root: str, pid: int) -> None:
    # a forked child inherits this handler; only the creating process owns
    # the root
    if os.getpid() == pid:
        shutil.rmtree(root, ignore_errors=True)


def scratch_dir(prefix: str, key=None) -> str:
    """A directory under this process's scratch root (``hpmr_<pid>_*`` in
    the system temp dir, made on first use and removed at exit).

    ``key=None`` makes a fresh directory on every call: checkpoints and
    outputs a rebuild must not see are written there. With a key the same
    directory comes back for the whole process, for outputs that a rebuild
    overwrites with the same content."""
    global _scratch_root
    if _scratch_root is None:
        _scratch_root = tempfile.mkdtemp(prefix=f"hpmr_{os.getpid()}_")
        atexit.register(_remove_scratch_root, _scratch_root, os.getpid())
    if key is None:
        return tempfile.mkdtemp(prefix=f"{prefix}_", dir=_scratch_root)
    if (prefix, key) not in _scratch_keyed:
        _scratch_keyed[prefix, key] = tempfile.mkdtemp(prefix=f"{prefix}_", dir=_scratch_root)
    return _scratch_keyed[prefix, key]


_owner: contextvars.ContextVar[str | None] = contextvars.ContextVar("hpmr_owner", default=None)
_OWNER_COL = "_hpmr_owner"


@contextlib.contextmanager
def owned_by(name: str):
    """Make ``name`` the owner of the frames ``materialize`` persists inside
    the block; a nested block keeps the outermost owner."""
    token = _owner.set(_owner.get() or name)
    try:
        yield
    finally:
        _owner.reset(token)


def materialize(
    df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK_DESER
) -> DataFrame:
    """``df.persist(level)``, keyed to the owner set by ``owned_by``.

    The CacheManager hands a cached entry to every later plan that is
    canonically equal to it. Inside an owned block the owner's name is added
    as a literal column and dropped again before the persist, so frames that
    different queries build never share an entry, while a rebuild of the
    same query reads its own. The optimizer prunes the column: the executed
    plan is the unmarked one. Outside an owned block this is a plain
    persist."""
    owner = _owner.get()
    if owner is not None:
        df = df.withColumn(_OWNER_COL, F.lit(owner)).drop(_OWNER_COL)
    return df.persist(level)


def get_spark(app_name: str = "hpmr-spark", **kwargs) -> SparkSession:
    return session_builder(app_name, **kwargs).getOrCreate()
