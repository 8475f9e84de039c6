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
- The driver JVM starts from a class-data-sharing archive of the classes a
  Spark session loads (``-XX:SharedArchiveFile``), dumped at exit by the
  first session that finds none: JVM start-up and the first jobs spend about
  half their time loading and verifying Spark's classes.

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
import glob
import hashlib
import os
import re
import shlex
import shutil
import struct
import subprocess
import tempfile

from pyspark import SparkContext, StorageLevel
from pyspark.find_spark_home import _find_spark_home
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
        _Builder()
        .appName(app_name)
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


class _Builder(SparkSession.Builder):
    """The builder ``session_builder`` returns: the first JVM a process
    launches through it starts from the engine's class-data archive."""

    def getOrCreate(self) -> SparkSession:
        launch = _archive_launch(self._options) if SparkContext._gateway is None else None
        if launch is None:
            return super().getOrCreate()
        java_options, conf_dir, archive, part = launch
        self.config("spark.driver.extraJavaOptions", java_options)
        caller_conf_dir = os.environ.get("SPARK_CONF_DIR")
        os.environ["SPARK_CONF_DIR"] = conf_dir
        try:
            session = super().getOrCreate()
        finally:
            if caller_conf_dir is None:
                del os.environ["SPARK_CONF_DIR"]
            else:
                os.environ["SPARK_CONF_DIR"] = caller_conf_dir
        # None when spark-submit launched the JVM before this process started
        proc = SparkContext._gateway.proc
        if part is not None:
            atexit.register(_publish_archive, proc, part, archive, os.getpid())
        elif proc is not None and not _maps(proc.pid, archive):
            # the JVM declined the archive (a check the key does not cover):
            # drop it, so that the next session dumps one this JVM accepts
            with contextlib.suppress(OSError):
                os.remove(archive)
        return session


# JVM output goes to stderr: stdout belongs to the application. The ~700
# per-class [cds] warnings a dump prints (signed jars, unlinked classes)
# are dropped; cds errors stay.
_JVM_OUTPUT = "-XX:+DisplayVMOutputToStderr -Xlog:disable -Xlog:all=warning,cds*=error:stderr"
_DUMP_WAIT_S = 300


def _cache_root() -> str:
    return os.path.join(os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache"), "hpmr_spark")


def _compressed_oops(heap: str) -> bool | None:
    """Whether a JVM with ``-Xmx<heap>`` uses compressed oops; None if
    ``heap`` is not a JVM size. JDK 17 turns them off above a 32 GiB - 32 MiB
    heap (``-XX:+PrintFlagsFinal``: on at 32736m, off at 32737m). Spark's
    launcher passes ``spark.driver.memory`` to ``-Xmx`` as written, so a size
    without a unit is bytes, as the JVM reads it."""
    m = re.fullmatch(r"(\d+)([kmgt]?)b?", heap.strip().lower())
    return m and int(m[1]) * 1024 ** " kmgt".index(m[2] or " ") <= 32 * 1024**3 - 32 * 1024**2


def _libjvm() -> str | None:
    """The ``libjvm.so`` of the JVM Spark's launcher starts: ``bin/spark-class``
    runs ``$JAVA_HOME/bin/java`` when ``JAVA_HOME`` is set, else ``java`` from
    ``PATH``."""
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    if java is None:
        return None
    return os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(java))), "lib", "server", "libjvm.so")


def archive_key(libjvm: str, class_path: list[str], compressed_oops: bool) -> str:
    """Key of a dynamic archive, from what the JVM checks before it maps one:
    its own build, each class-path entry's path, size and mtime, and the
    compressed-oops mode."""
    h = hashlib.sha256(b"coops" if compressed_oops else b"nocoops")
    for path in (libjvm, *class_path):
        st = os.stat(path)
        h.update(f"\0{path}\0{st.st_size}\0{st.st_mtime_ns}".encode())
    return h.hexdigest()[:16]


def _archive_is_whole(path: str) -> bool:
    """True if ``path`` holds a dynamic archive none of whose regions runs past
    the end of the file. JDK 17 maps the regions without checking the file's
    length, so a truncated archive kills the JVM with SIGBUS. The region table
    read here is JDK 17's (archive version 11, ``CDSFileMapHeaderBase`` in
    include/cds.h); archives of other versions are left to the JVM."""
    try:
        with open(path, "rb") as fh:
            head = fh.read(16 + 3 * 72)
            size = os.fstat(fh.fileno()).st_size
    except OSError:
        return False
    if len(head) < 16 + 3 * 72:
        return False
    magic, _crc, version = struct.unpack_from("<IiI", head)
    if magic != 0xF00BABA8:
        return False
    if version != 11:
        return True
    # rw, ro and bitmap regions: 72 bytes each, _file_offset at +24, _used at +40
    return all(sum(struct.unpack_from("<Q8xQ", head, 16 + 72 * i + 24)) <= size for i in range(3))


def _maps(pid: int, archive: str) -> bool:
    """Whether process ``pid`` has ``archive`` mapped; True where ``/proc``
    cannot tell."""
    try:
        with open(f"/proc/{pid}/maps") as fh:
            maps = fh.read()
    except OSError:
        return True
    return os.path.realpath(archive) in maps


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _archive_launch(options: dict) -> tuple[str, str, str, str | None] | None:
    """How to launch a driver JVM for a builder with ``options``: (driver Java
    options, Spark conf dir, archive, file the JVM dumps to at exit or None
    when it maps the archive), or None for a launch without the archive.

    JDK 17 refuses to dump an archive when a non-empty directory is on the
    class path, and Spark puts its conf dir there. Spark reads no
    ``*.template`` file, so a conf dir that holds only those is swapped for an
    empty one under the cache root. A conf dir with a real file, a caller's
    own driver Java options or class path, or a cache that cannot be made
    leave the launch as it was."""
    if "spark.driver.extraJavaOptions" in options or "spark.driver.extraClassPath" in options:
        return None
    spark_home = _find_spark_home()
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    libjvm = _libjvm()
    oops = _compressed_oops(str(options.get("spark.driver.memory", "1g")))
    root = _cache_root()
    empty = os.path.join(root, "conf")
    try:
        if os.path.isdir(conf_dir) and not all(n.endswith(".template") for n in os.listdir(conf_dir)):
            return None
        os.makedirs(empty, exist_ok=True)
        if libjvm is None or oops is None or os.listdir(empty):
            return None
        jars = sorted(glob.glob(os.path.join(spark_home, "jars", "*.jar")))
        archive = os.path.join(root, f"driver-{archive_key(libjvm, [empty, *jars], oops)}.jsa")
    except OSError:
        return None
    if _archive_is_whole(archive):
        return f"{shlex.quote('-XX:SharedArchiveFile=' + archive)} {_JVM_OUTPUT}", empty, archive, None
    if not os.access(root, os.W_OK):
        return None
    # the dump files of processes that died before publishing
    for stale in glob.glob(os.path.join(root, "driver-*.jsa.*.tmp")):
        pid = stale.rsplit(".", 2)[1].split("-")[0]
        if pid.isdigit() and not _alive(int(pid)):
            with contextlib.suppress(OSError):
                os.remove(stale)
    part = f"{archive}.{os.getpid()}-{os.urandom(4).hex()}.tmp"
    return f"{shlex.quote('-XX:ArchiveClassesAtExit=' + part)} {_JVM_OUTPUT}", empty, archive, part


def _publish_archive(proc, part: str, archive: str, pid: int) -> None:
    """At exit: let the dumping JVM finish, then publish its archive with one
    rename, only if the JVM exited with code 0. The archives of other keys
    (an older JDK or Spark) go then: one archive is all a host uses."""
    if os.getpid() != pid:
        return
    if proc is not None and proc.poll() is None:
        # the gateway JVM exits when its stdin closes, and dumps on the way out
        with contextlib.suppress(OSError):
            proc.stdin.close()
        try:
            proc.wait(_DUMP_WAIT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    try:
        if proc is not None and proc.returncode == 0 and _archive_is_whole(part):
            os.replace(part, archive)
            for old in glob.glob(os.path.join(os.path.dirname(archive), "driver-*.jsa")):
                if old != archive:
                    os.remove(old)
    except OSError:
        pass
    with contextlib.suppress(OSError):
        os.remove(part)


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
