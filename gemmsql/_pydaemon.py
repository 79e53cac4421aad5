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

Before NumPy loads, :func:`main` also picks the BLAS kernels for this
host (:func:`blas_coretype`).  The OpenBLAS that NumPy 1.26 bundles
(0.3.23) does not recognise newer x86 models and falls back to its
SSE3 ``Prescott`` kernels, about 4x slower on a 2048x64 · 64x2048
float64 GEMM than the AVX-512 ones the CPU runs.  When the host's
``/proc/cpuinfo`` flags carry a newer core's instructions and OpenBLAS
would otherwise pick a pre-AVX core, the daemon sets
``OPENBLAS_CORETYPE`` for itself and the workers it forks.  A value
already in the environment always wins.
"""

from __future__ import annotations

import ctypes
import glob
import importlib
import importlib.util
import os
import zipimport

#: OpenBLAS x86 cores without AVX (``openblas_get_corename`` names,
#: lower case): a pick among these on an AVX host is a fallback
PRE_AVX_CORES = frozenset({
    "katmai", "coppermine", "northwood", "prescott", "banias", "core2",
    "penryn", "dunnington", "nehalem", "atom", "athlon", "opteron",
    "opteron_sse3", "barcelona", "bobcat", "nano", "unknown",
})

#: cores :func:`blas_coretype` may name, best first, with the cpuinfo
#: flags each one's kernels need
CORE_FLAGS = (
    ("SkylakeX", frozenset({"avx512f", "avx512cd", "avx512bw", "avx512dq", "avx512vl"})),
    ("Haswell", frozenset({"avx2", "fma"})),
)

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


def blas_coretype(flags, picked: str | None, environ) -> str | None:
    """The ``OPENBLAS_CORETYPE`` to set, or None to leave OpenBLAS's own
    pick: the best of :data:`CORE_FLAGS` whose flags ``flags`` all
    carry, only when ``environ`` has no ``OPENBLAS_CORETYPE`` and
    ``picked`` (OpenBLAS's pick without it) is a pre-AVX core."""
    if "OPENBLAS_CORETYPE" in environ or picked is None:
        return None
    if picked.strip().lower() not in PRE_AVX_CORES:
        return None
    have = set(flags)
    return next((core for core, need in CORE_FLAGS if need <= have), None)


def cpu_flags(path: str = "/proc/cpuinfo") -> frozenset[str]:
    """The instruction flags of this host's first CPU (empty when the
    file is missing or lists none)."""
    try:
        with open(path) as f:
            for line in f:
                if line.startswith("flags"):
                    return frozenset(line.split(":", 1)[1].split())
    except OSError:
        pass
    return frozenset()


def _load_deps(paths: list[str]) -> None:
    """Load the libraries NumPy bundles beside OpenBLAS (its Fortran
    runtime), each once its own dependencies are loaded: they carry no
    search path to each other, NumPy's extension module does."""
    while paths:
        left = []
        for p in paths:
            try:
                ctypes.CDLL(p, mode=ctypes.RTLD_GLOBAL)
            except OSError:
                left.append(p)
        if len(left) == len(paths):
            return
        paths = left


def openblas_core() -> str | None:
    """The core the OpenBLAS bundled with NumPy picks on this host, or
    None (no bundled OpenBLAS, or the probe failed).  A forked child
    loads the library and reports its pick, so this process loads no
    BLAS and can still set ``OPENBLAS_CORETYPE`` before NumPy does.
    Call it before this process starts a thread: it forks."""
    spec = importlib.util.find_spec("numpy")
    if spec is None or not spec.submodule_search_locations:
        return None
    site = os.path.dirname(list(spec.submodule_search_locations)[0])
    libs = sorted(glob.glob(os.path.join(site, "numpy.libs", "*.so*")))
    blas = [p for p in libs if os.path.basename(p).startswith("libopenblas")]
    if not blas:
        return None
    r, w = os.pipe()
    try:
        pid = os.fork()
    except OSError:  # no process to spare: keep OpenBLAS's own pick
        os.close(r)
        os.close(w)
        return None
    if pid == 0:  # child: report the pick, never return
        try:
            os.close(r)
            _load_deps([p for p in libs if p not in blas])
            lib = ctypes.CDLL(blas[0])
            name = getattr(lib, "openblas_get_corename64_", None) or lib.openblas_get_corename
            name.argtypes, name.restype = [], ctypes.c_char_p
            os.write(w, name() or b"")
        finally:
            os._exit(0)
    os.close(w)
    with os.fdopen(r, "rb") as f:
        out = f.read()
    os.waitpid(pid, 0)
    return out.decode(errors="replace") or None


def main() -> None:
    """Pick the BLAS kernels, install the guard, prime the importers,
    serve workers."""
    core = blas_coretype(cpu_flags(), openblas_core(), os.environ)
    if core is not None:
        os.environ["OPENBLAS_CORETYPE"] = core
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
