"""The stat-guarded ``zipimporter.invalidate_caches`` (pyworker.py).

pyspark's worker calls ``importlib.invalidate_caches()`` before every
task; unguarded, CPython 3.11/3.12 re-reads every zip archive's
directory on that call. The guard must make the call a no-op on an
unchanged archive, still re-read an archive rewritten on disk, install
once, and be live inside the Python workers that run engine code.
"""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from mapreduceframework_spark import pyworker

needs_guard = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="CPython >= 3.13 re-reads zip directories lazily"
)


@pytest.fixture()
def zip_importer(tmp_path, monkeypatch):
    """(archive path, its zipimporter, module-name prefix) for a temp zip
    holding one module, on sys.path for the duration of the test."""
    prefix = f"mrf_zipguard_{tmp_path.name}"
    archive = tmp_path / "mods.zip"
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr(f"{prefix}_a.py", "VALUE = 'a'\n")
    monkeypatch.syspath_prepend(str(archive))
    assert importlib.import_module(f"{prefix}_a").VALUE == "a"
    importer = sys.path_importer_cache[str(archive)]
    assert isinstance(importer, zipimport.zipimporter)
    yield archive, importer, prefix
    for name in [m for m in sys.modules if m.startswith(prefix)]:
        del sys.modules[name]
    sys.path_importer_cache.pop(str(archive), None)


@needs_guard
def test_unchanged_archive_keeps_its_directory(zip_importer):
    _, importer, _ = zip_importer
    importlib.invalidate_caches()  # the first guarded call reads once
    files = importer._files
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert importer._files is files
    assert zipimport._zip_directory_cache[importer.archive] is files


@needs_guard
def test_rewritten_archive_is_reread(zip_importer):
    archive, importer, prefix = zip_importer
    importlib.invalidate_caches()
    files = importer._files
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr(f"{prefix}_a.py", "VALUE = 'a'\n")
        zf.writestr(f"{prefix}_b.py", "VALUE = 'b'\n")
    importlib.invalidate_caches()
    assert importer._files is not files
    assert importlib.import_module(f"{prefix}_b").VALUE == "b"


@needs_guard
def test_missing_archive_falls_through_to_the_original(zip_importer):
    archive, importer, _ = zip_importer
    archive.unlink()
    importlib.invalidate_caches()
    assert importer._files == {}
    assert importer.archive not in zipimport._zip_directory_cache


@needs_guard
def test_install_is_idempotent():
    guarded = zipimport.zipimporter.invalidate_caches
    assert guarded.stat_guarded
    pyworker.install_zipimport_guard()
    pyworker.install_zipimport_guard()
    assert zipimport.zipimporter.invalidate_caches is guarded


def test_not_installed_on_lazy_cpython(monkeypatch):
    """CPython >= 3.13 re-reads lazily, so the stdlib method stays."""
    original = getattr(
        zipimport.zipimporter.invalidate_caches, "__wrapped__",
        zipimport.zipimporter.invalidate_caches,
    )
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", original)
    monkeypatch.setattr(sys, "version_info", (3, 13, 0, "final", 0))
    pyworker.install_zipimport_guard()
    assert zipimport.zipimporter.invalidate_caches is original


@needs_guard
def test_guard_is_live_in_python_workers(spark):
    """A worker task that imports the engine and invalidates twice keeps
    every pyspark.zip importer's directory object: the first call
    settles the guard's record, the second must not re-read."""
    import pyarrow as pa

    def probe(batches):
        import pyspark

        import mapreduceframework_spark  # noqa: F401

        for _ in batches:
            pass
        importers = [
            f for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter) and f.archive.endswith("pyspark.zip")
        ]
        importlib.invalidate_caches()
        before = [f._files for f in importers]
        importlib.invalidate_caches()
        kept = sum(f._files is b for f, b in zip(importers, before))
        yield pa.RecordBatch.from_pydict({
            "pyspark_file": [pyspark.__file__],
            "importers": [len(importers)],
            "kept": [kept],
        })

    row = (
        spark.range(1, numPartitions=1)
        .mapInArrow(probe, "pyspark_file string, importers long, kept long")
        .collect()[0]
    )
    if ".zip" not in row["pyspark_file"]:
        pytest.skip(f"workers import pyspark from {row['pyspark_file']}, not a zip")
    assert row["importers"] > 0
    assert row["kept"] == row["importers"]
