"""Lazy zip-archive invalidation in the PySpark worker daemon
(``ocr_spark.pyworker``): an unchanged archive is not re-read, a
rewritten one is, and reused Spark workers run with the swapped method."""

import importlib
import sys
import zipfile
import zipimport

import pytest

from ocr_spark import pyworker


def _write_zip(path, modules: dict) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


@pytest.fixture
def lazy(monkeypatch):
    """Install the lazy method for one test; the original comes back
    at teardown."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.setattr(pyworker, "_stamps", {})
    if not pyworker.install():
        pytest.skip("zipimport invalidation is lazy in this CPython already")


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    path = str(tmp_path / "mods.zip")
    monkeypatch.syspath_prepend(path)
    yield path
    for name in [m for m in sys.modules if m.startswith("pyworker_probe_")]:
        del sys.modules[name]
    sys.path_importer_cache.pop(path, None)
    zipimport._zip_directory_cache.pop(path, None)


def _count_reads(monkeypatch) -> list:
    reads = []
    real = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_unchanged_archive_is_not_reread(lazy, tmp_path, monkeypatch):
    path = str(tmp_path / "a.zip")
    _write_zip(path, {"pyworker_probe_a": "X = 1\n"})
    imp = zipimport.zipimporter(path)
    reads = _count_reads(monkeypatch)
    imp.invalidate_caches()          # first invalidation: one read
    assert reads == [path]
    for _ in range(5):
        imp.invalidate_caches()
    assert reads == [path]
    # a second importer of the same archive shares the read
    zipimport.zipimporter(path).invalidate_caches()
    assert reads == [path]
    zipimport._zip_directory_cache.pop(path, None)


def test_rewritten_archive_is_reread(lazy, zip_on_path, monkeypatch):
    _write_zip(zip_on_path, {"pyworker_probe_old": "X = 1\n"})
    assert importlib.import_module("pyworker_probe_old").X == 1
    importlib.invalidate_caches()
    reads = _count_reads(monkeypatch)
    _write_zip(zip_on_path, {"pyworker_probe_old": "X = 1\n",
                             "pyworker_probe_new": "Y = 2\n"})
    importlib.invalidate_caches()
    assert [r for r in reads if r == zip_on_path] == [zip_on_path]
    assert importlib.import_module("pyworker_probe_new").Y == 2


def test_reused_spark_worker_runs_lazy_invalidation(spark):
    """Tasks run in workers forked from the ocr_spark.pyworker daemon:
    a worker's second task sees the swapped method, and the
    ``importlib.invalidate_caches()`` every task makes is cheap."""
    if sys.version_info >= (3, 13):
        pytest.skip("zipimport invalidation is lazy in this CPython already")

    def probe(_):
        import importlib
        import time
        import zipimport

        # counts this probe's tasks in the worker process: module state
        # outlives a task on a reused worker
        n = zipimport.__dict__.get("_ocr_probe_tasks", 0) + 1
        zipimport._ocr_probe_tasks = n
        t0 = time.perf_counter()
        importlib.invalidate_caches()
        dt = time.perf_counter() - t0
        yield n, zipimport.zipimporter.invalidate_caches.__name__, dt

    # idle workers are handed out oldest first, so a worker's second
    # task can come several jobs later
    out = [r for _ in range(6)
           for r in spark.sparkContext.parallelize(range(4), 4).mapPartitions(probe).collect()]
    assert {fn for _, fn, _ in out} == {"_lazy_invalidate_caches"}
    reused = sorted(dt for n, _, dt in out if n >= 2)
    assert reused, "no Python worker was reused"
    assert reused[len(reused) // 2] < 0.010, reused
