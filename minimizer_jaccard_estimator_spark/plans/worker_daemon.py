"""PySpark worker daemon that keeps zip-import directories across tasks
and freezes a warm worker's heap out of the per-task garbage collection.

Every Python task starts in pyspark's ``worker_util.setup_spark_files``,
which calls ``importlib.invalidate_caches()``.  Before CPython 3.13 each
``zipimport.zipimporter`` then re-reads its archive's whole central
directory, whether or not the archive changed.  A worker's path holds
pyspark.zip, py4j's zip and the spark-core jar (5,359 entries), behind 16
importers, so every task re-parsed them: 0.14-0.23 CPU-s per task measured
inside a probe UDF at local[4], ~1.8 of the 4.1 Python CPU-s of one
transcripts_dedup pass.  CPython 3.13 only drops the cached entry and
re-reads lazily.

pyspark's forked worker also runs a full ``gc.collect()`` after every task,
over the ~73k long-lived objects a warm worker holds (pandas, pyarrow,
numpy, the engine's kernels): 0.037-0.053 CPU-s per task in a probe UDF at
local[4], and 0.0001 CPU-s once those objects are frozen.

Run as ``__main__`` (Spark starts it with ``python -m`` when
``spark.python.daemon.module`` names it, as ``plans/session.get_spark`` does
in local mode), this module makes the invalidation stat-keyed on Python <
3.13, wraps ``pyspark.daemon.worker`` so that a forked worker collects once
after its first task and then calls ``gc.freeze()`` (later collections skip
the frozen objects), and then runs pyspark's own daemon.  Forked workers
inherit the patch and the stamps.  The daemon imports nothing ahead of the
first task, so it stays small.  Importing the module changes nothing.

On a cluster, pass ``--conf spark.python.daemon.module=`` this module's
name where the package is installed on the executors; a ``--py-files`` zip
is added per task, too late for the daemon to import it.
"""

from __future__ import annotations

import functools
import gc
import importlib
import os
import sys
import zipimport

_original_invalidate_caches = zipimport.zipimporter.invalidate_caches
# archive path -> (st_mtime_ns, st_size, st_ino) taken just before the
# directory now in zipimport._zip_directory_cache was read
_stamps: dict[str, tuple[int, int, int]] = {}


def stat_keyed_invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive's
    directory only when its stat differs from the last read (or nothing is
    cached); otherwise the importer shares the cached directory."""
    archive = self.archive
    try:
        st = os.stat(archive)
    except OSError:
        _stamps.pop(archive, None)
        _original_invalidate_caches(self)
        return
    stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
    files = zipimport._zip_directory_cache.get(archive)
    if files is not None and _stamps.get(archive) == stamp:
        self._files = files
        return
    # stat before the read: a change racing the read leaves an older stamp,
    # so the next call reads again
    _original_invalidate_caches(self)
    if archive in zipimport._zip_directory_cache:
        _stamps[archive] = stamp
    else:
        _stamps.pop(archive, None)


def install() -> None:
    """Patch ``zipimporter`` and stamp every archive imported so far, so that
    workers forked after this call start with nothing to re-read."""
    zipimport.zipimporter.invalidate_caches = stat_keyed_invalidate_caches
    importlib.invalidate_caches()


def freeze_after_first_task(worker):
    """Wrap pyspark's per-connection ``worker`` function: after the forked
    worker's first successful task, collect once and freeze the survivors
    (the modules and objects the task imported) out of later collections."""
    frozen = False

    @functools.wraps(worker)
    def run(sock, authenticated):
        nonlocal frozen
        code = worker(sock, authenticated)
        if not frozen and code == 0:
            frozen = True
            gc.collect()
            gc.freeze()
        return code

    return run


def main() -> None:
    """Patch zip imports on Python < 3.13, freeze each worker's heap after
    its first task, then run pyspark's daemon."""
    from pyspark import daemon

    if sys.version_info < (3, 13):
        install()
    daemon.worker = freeze_after_first_task(daemon.worker)
    daemon.manager()


if __name__ == "__main__":
    main()
