"""Python-worker daemon: ``pyspark.daemon`` without the per-task
re-parse of every zip archive on the workers' import path.

Spark starts one daemon per Python executable and worker module
(``spark.python.daemon.module``) and forks every Python worker from
it. Before each task a worker runs ``pyspark.worker_util.
setup_spark_files``, which calls ``importlib.invalidate_caches()``. On
Python 3.11 that makes every ``zipimport.zipimporter`` in
``sys.path_importer_cache`` eagerly re-read its archive's central
directory. ``$SPARK_HOME/python/lib/pyspark.zip`` (1,328 entries) is
first on the workers' PYTHONPATH and every pyspark subpackage a worker
has imported holds its own importer, so one task re-parsed the same
zip about 16 times: ~0.3 CPU-s per task before the UDF ran, even in a
reused worker.

This module guards ``zipimporter.invalidate_caches``: an importer
re-reads its archive only when the archive's ``(st_mtime_ns,
st_size)`` changed since that importer last read it, so a rewritten
zip is still picked up. It primes the guard once, before the first
fork, so every forked worker inherits the stamps, then hands over to
``pyspark.daemon.manager()`` unchanged.
"""

from __future__ import annotations

import importlib
import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
_STAMP_ATTR = "_dataflowtemplates_stamp"


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def _invalidate_if_changed(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged
    archive. The stamp is taken BEFORE the read, so a rewrite racing
    the read shows up as a changed stamp on the next call; an archive
    that cannot be stat'ed is always re-read."""
    stamp = _stamp(self.archive)
    if stamp is not None and stamp == getattr(self, _STAMP_ATTR, None):
        return
    _reread(self)
    setattr(self, _STAMP_ATTR, stamp)


def main() -> None:
    zipimport.zipimporter.invalidate_caches = _invalidate_if_changed
    # importing pyspark.daemon imports the worker module named in
    # argv[1], so every importer a worker starts with exists by now
    from pyspark import daemon
    importlib.invalidate_caches()  # prime: one read and stamp each
    daemon.manager()


if __name__ == "__main__":
    main()
