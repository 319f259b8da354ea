"""The stat-gated ``zipimporter.invalidate_caches`` installed by the engine.

Spark Python workers import pyspark from ``pyspark.zip`` and call
``importlib.invalidate_caches()`` before every task; the shim must skip the
zip directory re-read when the archive is unchanged, still pick up a zip
rewritten on disk, and be in force inside the worker processes.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pyarrow as pa

from bossarrowstorageengine_spark import _pyworker

PKG = "zipshimpkg"


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{PKG}/{name}.py", src)


def test_unchanged_zip_is_not_reread_and_rewritten_zip_is(tmp_path, monkeypatch):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"__init__": "", "a": "X = 1\n"})
    reads: list[str] = []
    read_directory = zipimport._read_directory

    def counting_read_directory(path):
        if path == archive:
            reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read_directory)
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module(f"{PKG}.a").X == 1
        importlib.invalidate_caches()
        assert reads, "the first invalidation must re-read the archive"
        reads.clear()
        importlib.invalidate_caches()
        assert reads == []

        _write_zip(archive, {"__init__": "", "a": "X = 1\n", "b": "Y = 2\n"})
        importlib.invalidate_caches()
        assert reads
        assert importlib.import_module(f"{PKG}.b").Y == 2

        # A vanished archive falls through to the original, which empties
        # the importer instead of raising.
        os.remove(archive)
        reads.clear()
        importlib.invalidate_caches()
        assert reads
    finally:
        for name in [m for m in sys.modules if m.split(".")[0] == PKG]:
            del sys.modules[name]
        for key in [k for k in sys.path_importer_cache if k.startswith(archive)]:
            del sys.path_importer_cache[key]
        zipimport._zip_directory_cache.pop(archive, None)


def test_install_is_idempotent():
    installed = zipimport.zipimporter.invalidate_caches
    _pyworker._install()
    assert zipimport.zipimporter.invalidate_caches is installed


def test_shim_is_in_force_in_spark_python_workers(spark):
    # Nested so cloudpickle ships it by value: workers cannot import tests.
    def probe(batches):
        import zipimport as zi

        import bossarrowstorageengine_spark  # noqa: F401

        for _ in batches:
            yield pa.RecordBatch.from_pylist([{
                "pid": os.getpid(),
                "code": zi.zipimporter.invalidate_caches.__code__.co_filename,
            }])

    rows = (spark.range(0, 1, 1, 1)
            .mapInArrow(probe, "pid long, code string").collect())
    assert len(rows) == 1
    assert rows[0].pid != os.getpid()
    assert rows[0].code == _pyworker.__file__
