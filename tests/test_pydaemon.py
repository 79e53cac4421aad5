"""gemmsql._pydaemon: zip importers re-read an archive only when it
changes, and the engine's Python workers run under that daemon."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from gemmsql import _pydaemon


@pytest.fixture
def reads(monkeypatch):
    """Archives ``zipimport._read_directory`` reads, in call order."""
    seen: list[str] = []
    real = zipimport._read_directory

    def counting(archive):
        seen.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return seen


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, source in modules.items():
            zf.writestr(f"{name}.py", source)


def test_guard_reads_once_and_rereads_a_rewritten_archive(tmp_path, reads, monkeypatch):
    archive = tmp_path / "lib.zip"
    _write_zip(archive, {"gz_first": "X = 1\n"})
    importer = zipimport.zipimporter(str(archive))
    reads.clear()

    for _ in range(3):
        _pydaemon.invalidate_caches(importer)
    assert reads == [str(archive)]  # first call reads, the rest skip

    # a new module in a rewritten archive: re-read, and it imports
    _write_zip(archive, {"gz_first": "X = 1\n", "gz_second": "Y = 2\n"})
    _pydaemon.invalidate_caches(importer)
    assert reads == [str(archive)] * 2
    _pydaemon.invalidate_caches(importer)
    assert len(reads) == 2

    monkeypatch.syspath_prepend(str(archive))
    monkeypatch.setitem(sys.path_importer_cache, str(archive), importer)
    monkeypatch.delitem(sys.modules, "gz_second", raising=False)
    assert importlib.import_module("gz_second").Y == 2
    sys.modules.pop("gz_second", None)


def test_guard_on_a_removed_archive_drops_its_entries(tmp_path, reads):
    archive = tmp_path / "gone.zip"
    _write_zip(archive, {"gz_gone": "Z = 3\n"})
    importer = zipimport.zipimporter(str(archive))
    archive.unlink()
    _pydaemon.invalidate_caches(importer)
    assert importer.find_spec("gz_gone") is None


def test_import_patches_nothing():
    importlib.reload(_pydaemon)
    assert zipimport.zipimporter.invalidate_caches is not _pydaemon.invalidate_caches
    assert zipimport.zipimporter.invalidate_caches.__module__ != "gemmsql._pydaemon"


def test_workers_run_under_the_daemon(spark):
    """Every worker of a 4-partition ``mapInPandas`` has the guard."""

    def where(batches):
        import os
        import zipimport as zi

        for _ in batches:
            yield pd.DataFrame({"pid": [os.getpid()],
                                "mod": [zi.zipimporter.invalidate_caches.__module__]})

    df = spark.range(0, 400, numPartitions=4).mapInPandas(where, "pid long, mod string")
    rows = df.collect()
    assert len(rows) == 4
    assert {r["mod"] for r in rows} == {"gemmsql._pydaemon"}


SKYLAKEX = {"avx512f", "avx512cd", "avx512bw", "avx512dq", "avx512vl", "avx2", "fma"}


@pytest.mark.parametrize(
    "flags, picked, environ, want",
    [
        (SKYLAKEX, "Prescott", {}, "SkylakeX"),
        ({"avx2", "fma", "avx512f"}, "Prescott", {}, "Haswell"),
        ({"avx2", "fma"}, "Core2", {}, "Haswell"),
        ({"avx2"}, "Prescott", {}, None),                 # no fma
        ({"sse3", "ssse3"}, "Prescott", {}, None),        # a real pre-AVX host
        (SKYLAKEX, "Haswell", {}, None),                  # OpenBLAS picked an AVX core
        (SKYLAKEX, "SkylakeX", {}, None),
        (SKYLAKEX, "Prescott", {"OPENBLAS_CORETYPE": "Prescott"}, None),  # the user's wins
        (SKYLAKEX, None, {}, None),                       # no bundled OpenBLAS
    ],
)
def test_blas_coretype_decision(flags, picked, environ, want):
    assert _pydaemon.blas_coretype(flags, picked, environ) == want


def test_cpu_flags_reads_the_first_flags_line(tmp_path):
    info = tmp_path / "cpuinfo"
    info.write_text("processor\t: 0\nflags\t\t: fpu sse3 avx2 fma\n\n"
                    "processor\t: 1\nflags\t\t: fpu\n")
    assert _pydaemon.cpu_flags(str(info)) == {"fpu", "sse3", "avx2", "fma"}
    assert _pydaemon.cpu_flags(str(tmp_path / "missing")) == frozenset()


@pytest.mark.skipif("avx2" not in _pydaemon.cpu_flags(), reason="host without AVX2")
def test_workers_run_the_hosts_blas_kernels(spark):
    """Workers see the ``OPENBLAS_CORETYPE`` the daemon chose for this
    host (or the one the environment already set), and their loaded
    OpenBLAS reports that core."""
    import os

    want = _pydaemon.blas_coretype(
        _pydaemon.cpu_flags(), _pydaemon.openblas_core(), os.environ
    )
    env = os.environ.get("OPENBLAS_CORETYPE", want)

    def probe(batches):
        import ctypes
        import glob
        import os

        import numpy as np

        lib = glob.glob(os.path.join(os.path.dirname(np.__path__[0]),
                                     "numpy.libs", "libopenblas*.so*"))
        core = None
        if lib:
            name = ctypes.CDLL(lib[0]).openblas_get_corename64_
            name.argtypes, name.restype = [], ctypes.c_char_p
            core = name().decode()
        for _ in batches:
            yield pd.DataFrame({"env": [os.environ.get("OPENBLAS_CORETYPE")],
                                "core": [core]})

    rows = spark.range(0, 40, numPartitions=2).mapInPandas(
        probe, "env string, core string").collect()
    assert {r["env"] for r in rows} == {env}
    if want is not None:
        assert {r["core"].lower() for r in rows} == {want.lower()}


def test_workers_import_gemmsql_when_the_driver_only_has_it_on_sys_path(tmp_path):
    """A driver that puts the repo on ``sys.path`` only, run from another
    directory with no ``PYTHONPATH``, still runs Python tasks: the
    session puts the package's root on the workers' path."""
    import os
    import subprocess
    import textwrap

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = tmp_path / "driver.py"
    script.write_text(textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {root!r})
        from gemmsql import get_spark

        spark = get_spark("sys-path-driver", master="local[1]")
        df = spark.range(0, 8, numPartitions=2).mapInPandas(
            lambda batches: batches, "id long")
        print("ROWS", df.count())
        spark.stop()
    """))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["GEMMSQL_DRIVER_MEM"] = "512m"
    out = subprocess.run(
        [sys.executable, str(script)], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0 and "ROWS 8" in out.stdout, out.stderr[-3000:]
