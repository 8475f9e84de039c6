"""hpmr_spark.pydaemon: Python workers forked from the engine daemon re-read a
zip on their path only when it has changed, not on every task."""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from hpmr_spark import pydaemon


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(name, src)


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip holding a package (two zipimporters on one archive) on sys.path,
    the stock invalidate_caches restored afterwards, and the list of archives
    zipimport._read_directory was called on."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"hpmr_zpkg/__init__.py": "", "hpmr_zpkg/a.py": "X = 1\n"})
    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.syspath_prepend(archive)
    yield archive, reads
    for name in [m for m in sys.modules if m.startswith("hpmr_zpkg")]:
        del sys.modules[name]
    for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
        del sys.path_importer_cache[key]
    zipimport._zip_directory_cache.pop(archive, None)


def _importers(archive):
    return [f for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter) and f.archive == archive]


def test_unchanged_archive_is_not_reread(zip_on_path):
    archive, reads = zip_on_path
    from hpmr_zpkg import a

    assert a.X == 1 and len(_importers(archive)) == 2
    # control: the stock method re-reads the archive once per importer
    del reads[:]
    importlib.invalidate_caches()
    assert reads.count(archive) == 2

    stamps = pydaemon.ArchiveStamps()
    pydaemon.install(stamps)
    assert pydaemon.installed() is stamps
    del reads[:]
    for _ in range(5):
        importlib.invalidate_caches()
    # one stamped read, shared by both importers; the other nine skipped
    assert reads.count(archive) == 1 and stamps.reads[archive] == 1


def test_changed_archive_is_reread(zip_on_path):
    archive, reads = zip_on_path
    import hpmr_zpkg  # noqa: F401

    stamps = pydaemon.ArchiveStamps()
    pydaemon.install(stamps)
    importlib.invalidate_caches()
    _write_zip(archive, {"hpmr_zpkg/__init__.py": "", "hpmr_zpkg/a.py": "X = 1\n",
                         "hpmr_zpkg/b.py": "Y = 2\n"})
    del reads[:]
    importlib.invalidate_caches()
    assert reads.count(archive) == 1 and stamps.reads[archive] == 2
    from hpmr_zpkg import b

    assert b.Y == 2


def test_removed_archive_empties_its_importers(zip_on_path):
    archive, _ = zip_on_path
    import hpmr_zpkg  # noqa: F401

    pydaemon.install(pydaemon.ArchiveStamps())
    importlib.invalidate_caches()
    os.remove(archive)
    importlib.invalidate_caches()
    assert all(f._files == {} for f in _importers(archive))
    assert archive not in zipimport._zip_directory_cache


def test_engine_workers_run_under_the_daemon(spark):
    """Several tasks per reused worker: every task sees the shim installed,
    and each zip on the worker path was read once, in the daemon."""

    def probe(batches):
        import os
        import sys
        import zipimport

        import pyarrow as pa

        from hpmr_spark.pydaemon import installed

        for _ in batches:
            pass
        stamps = installed()
        zips = {f.archive for f in sys.path_importer_cache.values()
                if isinstance(f, zipimport.zipimporter)}
        reads = dict(stamps.reads) if stamps is not None else {}
        yield pa.RecordBatch.from_pydict({
            "pid": [os.getpid()],
            "installed": [stamps is not None],
            "n_zips": [len(zips)],
            "reread": [sorted(z for z in zips if reads.get(z) != 1)],
        })

    rows = (spark.range(0, 64, numPartitions=16)
            .mapInArrow(probe, "pid long, installed boolean, n_zips long, reread array<string>")
            .collect())
    assert len(rows) == 16 and len({r["pid"] for r in rows}) < 16, rows
    assert all(r["installed"] for r in rows), rows
    assert all(r["reread"] == [] for r in rows), rows
    if os.environ.get("SPARK_HOME"):
        assert all(r["n_zips"] > 0 for r in rows), rows
