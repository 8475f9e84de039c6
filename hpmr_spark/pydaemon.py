"""Python worker daemon for engine sessions: ``pyspark.daemon`` with one change,
``zipimporter.invalidate_caches`` re-reads an archive only when it has changed.

Before every task pyspark's worker calls ``importlib.invalidate_caches()``
(``setup_spark_files`` in ``pyspark/worker_util.py``). Since Python 3.10 that
calls ``invalidate_caches()`` on every ``zipimporter`` in
``sys.path_importer_cache``, and each one re-parses its archive's central
directory in pure Python. Workers import pyspark from
``$SPARK_HOME/python/lib/pyspark.zip`` (3.5 MB, 1,328 entries), which leaves 16
zipimporters on that one archive: 170-250 ms of every Python task, reused
workers included (PySpark 4.1.2, Python 3.11, 4-core x86 host).

Here an archive is re-read only when its ``(st_mtime_ns, st_size, st_ino)``
differs from the stamp taken just before its last read, and all importers of
one archive share that read. A changed or newly added archive
(``SparkContext.addPyFile``) is still re-read; path-entry finders for
directories are untouched. With no zip on the workers' path (a pip-only
install) nothing calls the shim.

``engine.session_builder`` sets ``spark.python.daemon.module`` to this module;
Spark starts it as ``python -m hpmr_spark.pydaemon <worker module>``, and every
Python worker is forked from it.
"""

from __future__ import annotations

import collections
import importlib
import os
import zipimport


class ArchiveStamps:
    """The central directory of each zip archive read through the shim, with
    the stat stamp taken just before that read. ``reads`` counts the reads per
    archive."""

    def __init__(self) -> None:
        self.seen: dict[str, tuple[tuple[int, int, int], dict]] = {}
        self.reads: collections.Counter[str] = collections.Counter()

    def invalidate(self, importer: zipimport.zipimporter) -> None:
        archive = importer.archive
        try:
            st = os.stat(archive)
        except OSError:
            files = None
        else:
            stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
            seen = self.seen.get(archive)
            if seen is not None and seen[0] == stamp:
                files = seen[1]
            else:
                self.reads[archive] += 1
                try:
                    files = zipimport._read_directory(archive)
                except zipimport.ZipImportError:
                    files = None
                else:
                    self.seen[archive] = (stamp, files)
        if files is None:
            # what the stock method does for a missing or unreadable archive
            self.seen.pop(archive, None)
            zipimport._zip_directory_cache.pop(archive, None)
            importer._files = {}
        else:
            zipimport._zip_directory_cache[archive] = files
            importer._files = files


def install(stamps: ArchiveStamps) -> None:
    """Route every ``zipimporter.invalidate_caches`` in this process (and the
    processes it forks) through ``stamps``."""

    def invalidate_caches(importer):
        stamps.invalidate(importer)

    invalidate_caches.stamps = stamps
    zipimport.zipimporter.invalidate_caches = invalidate_caches


def installed() -> ArchiveStamps | None:
    """The stamps the shim in this process reads through, or None."""
    return getattr(zipimport.zipimporter.invalidate_caches, "stamps", None)


def main() -> None:
    install(ArchiveStamps())
    # not at the top: importing it imports pyspark.worker and reads
    # sys.argv[1], the worker module Spark passes
    from pyspark import daemon

    # stamp every archive the daemon imported from, once, before any fork:
    # workers then re-read nothing until an archive changes
    importlib.invalidate_caches()
    daemon.manager()


if __name__ == "__main__":
    main()
