"""The engine's PySpark daemon: stat-keyed zip-import invalidation and a
heap freeze after a worker's first task.

Without Spark, the patched ``invalidate_caches`` re-reads an archive's
directory only when the archive changed.  In the shared session, a warm
Python worker's ``importlib.invalidate_caches()`` (which pyspark calls at the
start of every task) reads no archive directory at all, and a warm worker's
heap is frozen out of pyspark's per-task ``gc.collect()``.
"""

from __future__ import annotations

import gc
import importlib
import importlib.util
import sys
import zipfile
import zipimport

import pytest

from tests.conftest import REPO_ROOT


@pytest.fixture()
def daemon_mod(monkeypatch):
    from minimizer_jaccard_estimator_spark.plans import worker_daemon

    # isolate the module's stamps and zipimport's shared directory cache
    monkeypatch.setattr(worker_daemon, "_stamps", {})
    monkeypatch.setattr(zipimport, "_zip_directory_cache", dict(zipimport._zip_directory_cache))
    return worker_daemon


@pytest.fixture()
def read_count(monkeypatch):
    """Counts ``zipimport._read_directory`` calls (one per archive read)."""
    reads = [0]
    original = zipimport._read_directory

    def counting(archive):
        reads[0] += 1
        return original(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)


def _load(importer: zipimport.zipimporter, name: str):
    spec = importer.find_spec(name)
    assert spec is not None, f"{name} not found in {importer.archive}"
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_import_patches_nothing(daemon_mod):
    from pyspark import daemon

    assert zipimport.zipimporter.invalidate_caches is daemon_mod._original_invalidate_caches
    assert not hasattr(daemon.worker, "__wrapped__")


def test_worker_freezes_heap_once_after_first_task(daemon_mod, monkeypatch):
    events = []
    monkeypatch.setattr(gc, "collect", lambda: events.append("collect"))
    monkeypatch.setattr(gc, "freeze", lambda: events.append("freeze"))
    codes = iter([0, 0, 1])
    run = daemon_mod.freeze_after_first_task(lambda sock, auth: next(codes))
    assert run(None, False) == 0
    assert events == ["collect", "freeze"]
    assert run(None, True) == 0
    assert run(None, True) == 1
    assert events == ["collect", "freeze"]
    # a worker whose first task failed freezes nothing
    events.clear()
    assert daemon_mod.freeze_after_first_task(lambda sock, auth: 1)(None, False) == 1
    assert events == []


@pytest.mark.skipif(sys.version_info >= (3, 13),
                    reason="Python 3.13 re-reads zip directories lazily; the patch targets the eager re-read")
def test_stat_keyed_invalidate_rereads_only_changed_archives(daemon_mod, read_count, tmp_path):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, {"m1": "VALUE = 1\n"})
    imp = zipimport.zipimporter(str(archive))
    assert _load(imp, "m1").VALUE == 1
    invalidate = daemon_mod.stat_keyed_invalidate_caches

    invalidate(imp)  # no stamp yet: one read, stamped
    assert read_count[0] == 2  # the importer's own read plus this one
    read_count[0] = 0
    invalidate(imp)
    second = zipimport.zipimporter(str(archive))  # shares the cached directory
    invalidate(second)
    assert read_count[0] == 0
    assert second._files is imp._files

    _write_zip(archive, {"m1": "VALUE = 1\n", "m2": "VALUE = 2\n"})
    invalidate(imp)
    assert read_count[0] == 1
    assert _load(imp, "m2").VALUE == 2
    invalidate(second)  # same archive, already re-read for `imp`
    assert read_count[0] == 1
    assert _load(second, "m2").VALUE == 2

    archive.unlink()  # stat fails: the original method runs and finds nothing
    invalidate(imp)
    assert imp._files == {}
    assert str(archive) not in zipimport._zip_directory_cache


def test_patch_installed_only_before_python_3_13(daemon_mod, monkeypatch):
    from pyspark import daemon

    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        daemon_mod._original_invalidate_caches)
    started = []
    monkeypatch.setattr(daemon, "manager", lambda: started.append(True))
    stock_worker = daemon.worker
    monkeypatch.setattr(daemon, "worker", stock_worker)

    monkeypatch.setattr(sys, "version_info", (3, 13, 0))
    daemon_mod.main()
    assert zipimport.zipimporter.invalidate_caches is daemon_mod._original_invalidate_caches

    monkeypatch.setattr(sys, "version_info", (3, 11, 7))
    daemon_mod.main()
    assert zipimport.zipimporter.invalidate_caches is daemon_mod.stat_keyed_invalidate_caches
    assert started == [True, True]
    # the heap freeze is installed on every version (main ran twice)
    assert daemon.worker.__wrapped__.__wrapped__ is stock_worker


def test_daemon_module_only_where_the_jvm_sees_the_package(spark, monkeypatch, tmp_path):
    """get_spark names the engine's daemon only when the JVM that starts it
    has the package on its PYTHONPATH; a JVM started by spark-submit (whose
    environment is unknown here) keeps the stock daemon."""
    from pyspark import SparkContext

    from minimizer_jaccard_estimator_spark.plans.session import _jvm_pythonpath_has

    # the running JVM's own environment decides for a later session
    assert _jvm_pythonpath_has(REPO_ROOT)
    assert not _jvm_pythonpath_has(str(tmp_path))

    root = str(tmp_path)
    monkeypatch.setattr(SparkContext, "_jvm", None)
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    monkeypatch.setenv("PYTHONPATH", f"/elsewhere:{root}")
    assert _jvm_pythonpath_has(root)
    monkeypatch.setenv("PYTHONPATH", "/elsewhere")
    assert not _jvm_pythonpath_has(root)
    monkeypatch.setenv("PYTHONPATH", root)
    monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "12345")
    assert not _jvm_pythonpath_has(root)


def test_warm_worker_reads_no_archive_directory(spark):
    """pyspark calls importlib.invalidate_caches() at the start of every
    Python task; under the stock daemon that re-reads all 16 zip importers'
    archives (pyspark.zip, py4j, the spark-core jar) every time."""
    def probe(_):
        import importlib
        import zipimport

        reads = [0]
        original = zipimport._read_directory

        def counting(archive):
            reads[0] += 1
            return original(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = original
        yield reads[0]

    rdd = spark.sparkContext.parallelize(range(4), 4)
    rdd.mapPartitions(probe).collect()  # warm the workers
    assert rdd.mapPartitions(probe).collect() == [0, 0, 0, 0]


def test_warm_worker_heap_is_frozen(spark):
    """After its first task a worker of the engine's daemon has frozen its
    long-lived objects out of the collection pyspark runs after every task."""
    def probe(_):
        import gc
        import os

        yield os.getpid(), gc.get_freeze_count()

    rdd = spark.sparkContext.parallelize(range(4), 4)
    seen = set()
    warm = []
    for _ in range(3):
        for pid, frozen in rdd.mapPartitions(probe).collect():
            if pid in seen:
                warm.append(frozen)
            seen.add(pid)
    assert warm, "no Python worker ran a second task"
    assert min(warm) > 0
