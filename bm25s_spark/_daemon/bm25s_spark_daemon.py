"""PySpark's worker daemon, without the per-task re-read of zip archives.

``bm25s_spark.session.get_spark`` names this module in
``spark.python.daemon.module``, so Spark starts the Python worker daemon
as ``python -m bm25s_spark_daemon pyspark.worker``.  It runs
``pyspark.daemon`` after two patches.

PySpark's worker calls ``importlib.invalidate_caches()`` before every
task, so that files shipped with ``addPyFile`` since the last task can
be imported.  Before CPython 3.13 that makes every ``zipimporter`` re-read
its archive's whole central directory at once, and there is one
zipimporter per package directory imported from an archive:
``pyspark.zip`` is read about a dozen times per task and the spark-core
jar twice, 0.1-0.3 s before the task's function runs.  The patched
``invalidate_caches`` re-reads an archive only when its size or
modification time differs from when it was last read.

Over the Unix sockets ``get_spark`` enables, a worker whose output the
JVM stopped reading (a ``limit`` met before the end of a partition)
fails its last flush with ``BrokenPipeError``, where over TCP the flush
lands in the socket buffer; the JVM has what it needs, so the worker
exits without the traceback ``pyspark.daemon`` would print.

The module imports only the standard library and ``pyspark``, never
``bm25s_spark``: ``python -m`` puts the working directory first on
``sys.path``, where a different ``bm25s_spark`` may sit.  It lives in a
directory of its own, which ``get_spark`` puts on the workers'
``PYTHONPATH``.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

# 3.13 made zipimporter.invalidate_caches drop the shared directory
# cache for a lazy re-read; earlier versions re-read into ``_files``
_EAGER = sys.version_info < (3, 13)
_reread = zipimport.zipimporter.invalidate_caches
# archive path -> (size, mtime_ns) taken just before its last read
_stamps: dict = {}


def _stamp(path: str):
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_size, st.st_mtime_ns


def invalidate_caches(self) -> None:
    """Re-read this importer's archive only if it changed since the
    last read.  The stamp is taken before the read, so a write racing
    the read leaves a stale stamp and the next call reads again."""
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None \
            and _stamps.get(self.archive) == stamp:
        if _EAGER:
            self._files = files
        return
    _stamps[self.archive] = stamp
    _reread(self)


def install() -> None:
    """Patch ``zipimporter`` and stamp every archive imported so far, so
    the workers forked from this process start with current stamps."""
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    importlib.invalidate_caches()


def quiet_broken_pipe(worker):
    """``worker`` returning 1 instead of raising when the JVM closed its
    end of the worker's socket."""
    def run(sock, authenticated):
        try:
            return worker(sock, authenticated)
        except BrokenPipeError:
            return 1

    return run


if __name__ == "__main__":
    from pyspark import daemon

    install()
    daemon.worker = quiet_broken_pipe(daemon.worker)
    daemon.manager()
