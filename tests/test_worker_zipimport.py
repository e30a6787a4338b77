"""The worker-only zipimport invalidation hook in ``postrack_spark``.

Spark Python workers import pyspark from ``pyspark.zip`` and run
``importlib.invalidate_caches()`` before every task; importing
``postrack_spark`` in a worker makes that re-read a zip archive's
directory only when the archive changed on disk. Driver processes and
plain ``import postrack_spark`` are left as they were.
"""

from __future__ import annotations

import importlib
import json
import os
import subprocess
import sys
import types
import zipfile
import zipimport

import pytest

import postrack_spark

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MARKER = "_postrack_stat_checked"

needs_eager_zip_invalidation = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="zipimport invalidates lazily from Python 3.13; the hook is off there")


def _write_zip(path, modules: dict[str, str]) -> None:
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)
    os.replace(tmp, path)


@pytest.fixture
def worker_zip(tmp_path, monkeypatch):
    """A zip on sys.path with one imported module, the hook installed as
    in a worker, and a log of the archives ``_read_directory`` reads."""
    archive = str(tmp_path / "probe.zip")
    _write_zip(archive, {"zprobe_a": "VALUE = 'a'\n"})
    monkeypatch.syspath_prepend(archive)
    for name in ("zprobe_a", "zprobe_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    import zprobe_a  # noqa: F401

    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    files = types.ModuleType("pyspark.core.files")
    files.SparkFiles = type("SparkFiles", (), {"_is_running_on_worker": True})
    monkeypatch.setitem(sys.modules, "pyspark.core.files", files)
    reads: list[str] = []
    read_directory = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    postrack_spark._skip_unchanged_zip_rereads()
    importer = sys.path_importer_cache[archive]
    assert isinstance(importer, zipimport.zipimporter)
    importlib.invalidate_caches()  # the first call after install stamps
    yield archive, importer, lambda: reads.count(archive)
    for name in ("zprobe_a", "zprobe_b"):
        sys.modules.pop(name, None)


@needs_eager_zip_invalidation
def test_unchanged_archive_is_not_reread(worker_zip):
    archive, importer, reads = worker_zip
    before = reads()
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads() == before
    assert "zprobe_a.py" in importer._files


@needs_eager_zip_invalidation
def test_rewritten_archive_is_reread(worker_zip):
    archive, importer, reads = worker_zip
    _write_zip(archive, {"zprobe_a": "VALUE = 'a'\n", "zprobe_b": "VALUE = 'b'\n"})
    before = reads()
    importlib.invalidate_caches()
    assert reads() == before + 1
    import zprobe_b

    assert zprobe_b.VALUE == "b"
    importlib.invalidate_caches()
    assert reads() == before + 1


@needs_eager_zip_invalidation
def test_deleted_archive_behaves_as_stock(worker_zip):
    archive, importer, reads = worker_zip
    os.remove(archive)
    importlib.invalidate_caches()
    assert importer._files == {}
    assert archive not in zipimport._zip_directory_cache


@needs_eager_zip_invalidation
def test_installing_twice_wraps_once(worker_zip):
    wrapper = zipimport.zipimporter.invalidate_caches
    assert getattr(wrapper, MARKER, False)
    postrack_spark._skip_unchanged_zip_rereads()
    assert zipimport.zipimporter.invalidate_caches is wrapper
    archive, importer, reads = worker_zip
    before = reads()
    importlib.invalidate_caches()
    assert reads() == before


def test_import_loads_no_pyspark_and_keeps_zipimport():
    probe = (
        "import json, sys, zipimport\n"
        "import postrack_spark\n"
        "f = zipimport.zipimporter.invalidate_caches\n"
        "print(json.dumps({'pyspark': sorted(m for m in sys.modules"
        " if m == 'pyspark' or m.startswith('pyspark.')),"
        " 'module': f.__module__, 'marked': hasattr(f, '" + MARKER + "')}))\n")
    out = subprocess.run([sys.executable, "-c", probe], cwd=REPO, check=True,
                         capture_output=True, text=True).stdout
    assert json.loads(out) == {"pyspark": [], "module": "zipimport", "marked": False}


@needs_eager_zip_invalidation
def test_hook_installed_in_worker_not_driver(spark):
    # defined here so cloudpickle ships it by value to the worker
    def _worker_report(batches):
        import importlib
        import sys
        import zipimport

        import pyarrow as pa

        import postrack_spark  # noqa: F401

        for _ in batches:
            pass
        importlib.invalidate_caches()
        reads = []
        read_directory = zipimport._read_directory
        zipimport._read_directory = lambda path: reads.append(path) or read_directory(path)
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        zips = sum(isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values())
        marked = getattr(zipimport.zipimporter.invalidate_caches, "_postrack_stat_checked", False)
        yield pa.RecordBatch.from_pydict(
            {"marked": [marked], "rereads": [len(reads)], "zip_importers": [zips]})

    row = spark.range(1).mapInArrow(
        _worker_report, "marked boolean, rereads bigint, zip_importers bigint").collect()[0]
    assert row.marked, row
    assert row.rereads == 0, row
    f = zipimport.zipimporter.invalidate_caches
    assert f.__module__ == "zipimport" and not hasattr(f, MARKER)
