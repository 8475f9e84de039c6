"""The driver JVM's class-data archive, owned by ``engine.session_builder``.

Each session runs in its own process with a fresh ``XDG_CACHE_HOME``, as
every engine process starts its own JVM. The child prints one JSON line
(the result of a count, the archive flags on the JVM's command line, the
archives it mapped and its ``SPARK_CONF_DIR``), so that line must be all of
its stdout: JVM output belongs on stderr."""

import json
import os
import shutil
import struct
import subprocess
import sys
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

import pytest

from hpmr_spark import engine

ROOT = Path(__file__).resolve().parents[1]

_SESSION = """
import json, os
from pyspark import SparkContext
from hpmr_spark.engine import session_builder
conf_dir = os.environ.get("SPARK_CONF_DIR")
spark = session_builder("class-archive", master="local[1]").getOrCreate()
pid = SparkContext._gateway.proc.pid
with open(f"/proc/{pid}/cmdline") as fh:
    cmd = fh.read().split("\\0")
with open(f"/proc/{pid}/maps") as fh:
    mapped = sorted({line.split()[-1] for line in fh if line.rstrip().endswith(".jsa")})
with open(f"/proc/{pid}/environ") as fh:
    jvm_env = dict(v.split("=", 1) for v in fh.read().split("\\0") if "=" in v)
print(json.dumps({
    "count": spark.range(10).count(),
    "flags": [a for a in cmd if a.startswith("-XX:") and "Archive" in a],
    "mapped": mapped,
    "jvm_conf_dir": jvm_env.get("SPARK_CONF_DIR"),
    "conf_dir_kept": os.environ.get("SPARK_CONF_DIR") == conf_dir,
}))
"""


def _session(cache, **env):
    """Run one engine session in a child process; its stdout's one line."""
    env = {**os.environ, "XDG_CACHE_HOME": str(cache), "SPARK_DRIVER_MEMORY": "1g", **env}
    out = subprocess.run(
        [sys.executable, "-c", _SESSION], cwd=ROOT, env=env, capture_output=True, text=True, timeout=600
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lines = out.stdout.splitlines()
    assert len(lines) == 1, out.stdout[:3000]
    return json.loads(lines[0])


def _files(cache):
    return sorted(p.name for p in (Path(cache) / "hpmr_spark").iterdir())


@pytest.fixture
def cache(tmp_path):
    # archives are ~150 MB each: none outlives its test
    yield tmp_path / "xdg"
    shutil.rmtree(tmp_path / "xdg", ignore_errors=True)


@pytest.fixture(scope="module")
def published(tmp_path_factory):
    cache = tmp_path_factory.mktemp("xdg")
    first = _session(cache)
    yield cache, first
    shutil.rmtree(cache, ignore_errors=True)


def test_first_session_publishes_one_archive(published):
    cache, first = published
    assert first["count"] == 10
    assert [f.split("=")[0] for f in first["flags"]] == ["-XX:ArchiveClassesAtExit"]
    archives = [f for f in _files(cache) if f.startswith("driver-")]
    assert len(archives) == 1 and archives[0].endswith(".jsa")
    assert _files(cache) == ["conf", archives[0]]  # no dump file left behind
    assert engine._archive_is_whole(str(Path(cache) / "hpmr_spark" / archives[0]))


def test_next_session_maps_the_archive(published):
    cache, _ = published
    archive = str(next((Path(cache) / "hpmr_spark").glob("driver-*.jsa")))
    second = _session(cache)
    assert second["count"] == 10
    assert second["flags"] == [f"-XX:SharedArchiveFile={archive}"]
    assert archive in second["mapped"]
    assert second["jvm_conf_dir"] == str(Path(cache) / "hpmr_spark" / "conf")
    assert second["conf_dir_kept"]


def test_truncated_archive_is_replaced(published, cache, monkeypatch):
    # name the file the way the child will look for it under this cache root
    monkeypatch.setenv("XDG_CACHE_HOME", str(cache))
    _, _, target, _ = engine._archive_launch({"spark.driver.memory": "1g"})
    source = next((Path(published[0]) / "hpmr_spark").glob("driver-*.jsa"))
    with open(source, "rb") as src, open(target, "wb") as dst:
        dst.write(src.read(source.stat().st_size // 3))
    assert not engine._archive_is_whole(target)
    # an archive of another key (an older JDK or Spark) goes when one is published
    shutil.copy(source, Path(target).with_name("driver-0123456789abcdef.jsa"))
    result = _session(cache)
    assert result["count"] == 10
    assert [f.split("=")[0] for f in result["flags"]] == ["-XX:ArchiveClassesAtExit"]
    assert engine._archive_is_whole(target)
    assert _files(cache) == ["conf", os.path.basename(target)]


def test_declined_archive_is_dropped(cache, monkeypatch):
    # JDK 17 declines an archive of another version without a word; the
    # session works, and the next one dumps an archive this JVM maps
    monkeypatch.setenv("XDG_CACHE_HOME", str(cache))
    _, _, target, _ = engine._archive_launch({"spark.driver.memory": "1g"})
    with open(target, "wb") as fh:
        fh.write(struct.pack("<IiI", 0xF00BABA8, 0, 12) + bytes(4096))
    assert engine._archive_is_whole(target)
    result = _session(cache)
    assert result["count"] == 10
    assert result["flags"] == [f"-XX:SharedArchiveFile={target}"]
    assert target not in result["mapped"]
    assert _files(cache) == ["conf"]


def test_concurrent_first_sessions_leave_one_archive(cache):
    with ThreadPoolExecutor(2) as pool:
        results = list(pool.map(lambda _: _session(cache), range(2)))
    assert [r["count"] for r in results] == [10, 10]
    files = _files(cache)
    assert len(files) == 2 and files[0] == "conf" and files[1].endswith(".jsa")


def test_real_conf_file_keeps_the_plain_launch(cache, tmp_path):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("# read by Spark, so the dir stays on the class path\n")
    result = _session(cache, SPARK_CONF_DIR=str(conf))
    assert result["count"] == 10
    assert result["flags"] == []
    assert not any(str(cache) in m for m in result["mapped"])  # the JDK's own archive may map
    assert result["jvm_conf_dir"] == str(conf)
    assert result["conf_dir_kept"]
    assert not (cache / "hpmr_spark").exists()


def test_key_follows_a_class_path_jar(tmp_path):
    libjvm, jars = tmp_path / "libjvm.so", [tmp_path / "a.jar", tmp_path / "b.jar"]
    for p in (libjvm, *jars):
        p.write_bytes(b"x")
    key = engine.archive_key(str(libjvm), [str(j) for j in jars], True)
    st = jars[1].stat()
    os.utime(jars[1], ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    assert engine.archive_key(str(libjvm), [str(j) for j in jars], True) != key


def test_key_follows_the_jvm_spark_class_starts(tmp_path, monkeypatch):
    # bin/spark-class runs $JAVA_HOME/bin/java when JAVA_HOME is set, else
    # java from PATH: the key must name the libjvm.so of that one
    for name in ("home", "path"):
        (tmp_path / name / "bin").mkdir(parents=True)
        (tmp_path / name / "bin" / "java").write_text("")
        (tmp_path / name / "bin" / "java").chmod(0o755)
        (tmp_path / name / "lib" / "server").mkdir(parents=True)
        (tmp_path / name / "lib" / "server" / "libjvm.so").write_bytes(b"x")
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "xdg"))
    monkeypatch.setenv("PATH", str(tmp_path / "path" / "bin"))
    monkeypatch.setenv("JAVA_HOME", str(tmp_path / "home"))
    assert engine._libjvm() == str((tmp_path / "home" / "lib" / "server" / "libjvm.so").resolve())
    with_java_home = engine._archive_launch({"spark.driver.memory": "1g"})[2]
    monkeypatch.delenv("JAVA_HOME")
    assert engine._libjvm() == str((tmp_path / "path" / "lib" / "server" / "libjvm.so").resolve())
    assert engine._archive_launch({"spark.driver.memory": "1g"})[2] != with_java_home


def test_driver_memory_is_read_as_the_jvm_reads_it():
    # Spark's launcher passes spark.driver.memory to -Xmx as written, so a
    # size without a unit is bytes; compressed oops end just below 32 GiB
    assert engine._compressed_oops("3g") is True
    assert engine._compressed_oops("32736M") is True
    assert engine._compressed_oops("32737m") is False
    assert engine._compressed_oops("32g") is False
    assert engine._compressed_oops(str(32 * 1024**3)) is False
    assert engine._compressed_oops(str(4 * 1024**3)) is True
    assert engine._compressed_oops("lots") is None
