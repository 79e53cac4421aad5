"""The engine's Python worker daemon: PySpark's daemon, with zip
importers that re-read an archive only when it has changed on disk.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark.worker_util.setup_spark_files``).  On CPython 3.11
a ``zipimporter`` answers that by re-reading its archive's whole central
directory, and a worker's ``sys.path`` holds ``pyspark.zip`` (one
importer per imported package), py4j's zip and the spark-core jar: about
16 directory reads over ~27k entries per task, none of it the task's
work.  Every pandas-UDF task in the engine paid that.

:func:`invalidate_caches` replaces ``zipimporter.invalidate_caches``: it
stats the archive and calls the original only when ``(st_ino, st_size,
st_mtime_ns)`` differs from the signature saved on that importer, so a
rewritten archive is still re-read.

:func:`gemmsql.session.get_spark` runs the workers under this module
(``spark.python.daemon.module``).  Run as ``python -m gemmsql._pydaemon
[worker module]``, it installs the guard, primes every importer's
signature once, and hands over to ``pyspark.daemon.manager``; forked
workers inherit the primed importers.  Importing the module patches
nothing.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_read_archive = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips the directory read
    while ``self.archive`` is unchanged since this importer last read it.
    The stat comes before the read, so a write racing the read leaves a
    stale signature and the next call reads again."""
    try:
        st = os.stat(self.archive)
        sig = (st.st_ino, st.st_size, st.st_mtime_ns)
    except OSError:
        sig = None  # gone: the original drops its entries
    if sig is None or sig != getattr(self, "_gemmsql_sig", None):
        _read_archive(self)
        self._gemmsql_sig = sig


def main() -> None:
    """Install the guard, prime the importers, serve workers."""
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    # imported before priming, so the importers its imports add are
    # primed too; it picks the worker module from sys.argv[1]
    from pyspark import daemon

    importlib.invalidate_caches()
    daemon.manager()


if __name__ == "__main__":
    # run the importable module's main, so the installed guard's
    # ``__module__`` is ``gemmsql._pydaemon``, not ``__main__``
    from gemmsql._pydaemon import main as _main

    _main()
