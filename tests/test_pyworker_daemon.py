"""The engine's Python-worker daemon (dataflowtemplates_spark/pyspark/
daemon.py): every task's ``importlib.invalidate_caches()`` re-reads a
zip archive's directory only when the archive changed.

Unguarded, Python 3.11's ``zipimporter.invalidate_caches`` re-parses
its archive eagerly, so each task re-read pyspark.zip once per imported
pyspark subpackage (~16 x 1,328 entries, ~0.3 CPU-s per task). The
guard must still never serve a stale directory: a rewritten archive is
re-read and a module added to it imports.
"""

import importlib
import os
import sys
import zipfile
import zipimport

import pytest

from dataflowtemplates_spark.pyspark import daemon
from dataflowtemplates_spark.session import _DAEMON_MODULE


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, body in modules.items():
            zf.writestr(f"{name}.py", body)


@pytest.fixture()
def zip_on_path(tmp_path, monkeypatch):
    """A zip archive on sys.path with one imported module, the guard
    installed, and a counter of directory reads of that archive."""
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"graft_zmod_a": "VALUE = 'a'\n"})
    monkeypatch.syspath_prepend(archive)
    importlib.import_module("graft_zmod_a")
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        daemon._invalidate_if_changed)
    reads = []
    orig = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return orig(path)
    monkeypatch.setattr(zipimport, "_read_directory", counting)
    yield archive, reads
    for name in ("graft_zmod_a", "graft_zmod_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(archive, None)


def test_unchanged_archive_is_not_reread(zip_on_path):
    archive, reads = zip_on_path
    importlib.invalidate_caches()    # first call: stamp unknown, reads
    assert len(reads) == 1
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert len(reads) == 1


def test_rewritten_archive_is_reread_and_new_module_imports(zip_on_path):
    archive, reads = zip_on_path
    importlib.invalidate_caches()
    assert len(reads) == 1
    _write_zip(archive, {"graft_zmod_a": "VALUE = 'a'\n",
                         "graft_zmod_b": "VALUE = 'b'\n"})
    importlib.invalidate_caches()
    assert len(reads) == 2
    assert importlib.import_module("graft_zmod_b").VALUE == "b"
    importlib.invalidate_caches()
    assert len(reads) == 2


def test_touched_archive_of_same_size_is_reread(zip_on_path):
    """A rewrite that keeps the size still moves the mtime stamp."""
    archive, reads = zip_on_path
    importlib.invalidate_caches()
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    importlib.invalidate_caches()
    assert len(reads) == 2


def test_missing_archive_is_reread_every_time(zip_on_path):
    """No stamp for an archive that cannot be stat'ed: the original
    method runs (and empties the importer's directory) every call."""
    archive, reads = zip_on_path
    importlib.invalidate_caches()
    os.remove(archive)
    importer = sys.path_importer_cache[archive]
    importer.invalidate_caches()
    importer.invalidate_caches()
    assert len(reads) == 3
    assert importer._files == {}


def test_session_runs_workers_from_engine_daemon(spark):
    """The live session names the engine's daemon, and the driver JVM's
    command line does not: tools that find the Python worker tree by
    ``pyspark.daemon`` in a command line must not match the JVM."""
    sc = spark.sparkContext
    assert sc.getConf().get("spark.python.daemon.module") == _DAEMON_MODULE
    jvm_pid = sc._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{jvm_pid}/cmdline", "rb") as fh:
        assert b"pyspark.daemon" not in fh.read()


def test_reused_worker_task_rereads_no_unchanged_zip(spark):
    """A reused worker's later task runs setup_spark_files (and its
    invalidate_caches) again, yet reads no zip directory: the archives
    on its path (pyspark.zip, py4j) are unchanged."""
    def report_zip_reads(batches):
        # counts this worker's zip directory reads from its first task
        # on; a closure, so it pickles by value into the worker
        import os
        import sys
        import types
        import zipimport

        import pyarrow as pa

        state = sys.modules.get("_graft_zip_read_counter")
        fresh = state is None
        if fresh:
            state = types.ModuleType("_graft_zip_read_counter")
            state.reads = 0
            orig = zipimport._read_directory

            def counting(path, _orig=orig, _state=state):
                _state.reads += 1
                return _orig(path)
            zipimport._read_directory = counting
            sys.modules["_graft_zip_read_counter"] = state
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({
            "pid": [os.getpid()], "fresh": [fresh],
            "reads": [state.reads],
            "main": [str(getattr(sys.modules["__main__"], "__file__",
                                 ""))]})

    df = spark.range(0, 4, 1, 4)
    schema = "pid long, fresh boolean, reads long, main string"
    reused = []
    for _ in range(6):
        rows = df.mapInArrow(report_zip_reads, schema).collect()
        for r in rows:
            assert r.main.endswith(
                os.path.join("dataflowtemplates_spark", "pyspark",
                             "daemon.py"))
        reused += [r for r in rows if not r.fresh]
        if len(reused) >= 4:
            break
    assert reused, "no Python worker was reused"
    assert all(r.reads == 0 for r in reused), reused
