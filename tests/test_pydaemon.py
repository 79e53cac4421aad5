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
