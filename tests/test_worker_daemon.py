"""The worker daemon's zip importers: an archive is re-read by
``invalidate_caches()`` only when it changed, the hook falls back to the
plain PySpark daemon when it cannot be installed, and on the session every
task runs with the patched importers.  The daemon's heap is frozen before
``manager()`` on both paths, so a task's garbage collector walks only what
the worker made after the fork."""

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from dask_patternsearch_spark import worker_daemon
from dask_patternsearch_spark.worker_daemon import CachedZipImporter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, value in modules.items():
            zf.writestr(f"{name}.py", f"VALUE = {value!r}\n")


def _count_reads(monkeypatch):
    reads = []
    real = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return real(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"wd_unchanged_a": 1})
    first = CachedZipImporter(archive)
    reads = _count_reads(monkeypatch)
    for _ in range(3):
        first.invalidate_caches()
    # a second importer of the same archive shares its one read
    second = CachedZipImporter(archive)
    second.invalidate_caches()
    assert reads == []
    assert second.find_spec("wd_unchanged_a") is not None
    # the stock importer re-reads on every call
    zipimport.zipimporter(archive).invalidate_caches()
    assert reads == [archive]


def test_rewritten_archive_is_reread_and_its_new_module_imports(tmp_path, monkeypatch):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"wd_rewrite_a": 1})
    monkeypatch.setattr(sys, "path_hooks", [
        CachedZipImporter if hook is zipimport.zipimporter else hook
        for hook in sys.path_hooks])
    monkeypatch.setattr(sys, "path_importer_cache", dict(sys.path_importer_cache))
    monkeypatch.syspath_prepend(archive)
    try:
        assert importlib.import_module("wd_rewrite_a").VALUE == 1
        assert type(sys.path_importer_cache[archive]) is CachedZipImporter
        with pytest.raises(ImportError):
            importlib.import_module("wd_rewrite_b")

        _write_zip(archive, {"wd_rewrite_a": 1, "wd_rewrite_b": 2})
        reads = _count_reads(monkeypatch)
        importlib.invalidate_caches()
        assert reads.count(archive) == 1
        assert importlib.import_module("wd_rewrite_b").VALUE == 2
        importlib.invalidate_caches()
        assert reads.count(archive) == 1
    finally:
        for name in ("wd_rewrite_a", "wd_rewrite_b"):
            sys.modules.pop(name, None)


def test_install_changes_nothing_when_an_importer_cannot_be_rebuilt(tmp_path, monkeypatch):
    archive = str(tmp_path / "gone.zip")
    _write_zip(archive, {"wd_gone": 1})
    stale = zipimport.zipimporter(archive)
    os.remove(archive)
    hooks = list(sys.path_hooks)
    monkeypatch.setattr(sys, "path_hooks", hooks)
    monkeypatch.setattr(sys, "path_importer_cache", {archive: stale})
    assert worker_daemon.install() is False
    assert sys.path_hooks == hooks and zipimport.zipimporter in hooks
    assert sys.path_importer_cache == {archive: stale}


def _run_daemon_main(tmp_path, prelude):
    """Run ``worker_daemon.main()`` in a fresh interpreter whose path holds
    a zip that it imports from first, with ``pyspark.daemon.manager``
    replaced by a stub that prints what the forked workers would get: the
    zip importer kinds, the zip hooks, whether any object is frozen and
    whether the collector is still enabled."""
    archive = str(tmp_path / "pre.zip")
    _write_zip(archive, {"wd_preloaded": 1})
    code = "\n".join([
        "import gc, sys, zipimport",
        "import wd_preloaded",
        prelude,
        "import pyspark.daemon",
        "def manager():",
        "    kinds = sorted({type(f).__name__ for f in sys.path_importer_cache.values()",
        "                    if isinstance(f, zipimport.zipimporter)})",
        "    hooks = [h.__name__ for h in sys.path_hooks",
        "             if isinstance(h, type) and issubclass(h, zipimport.zipimporter)]",
        "    print('manager', kinds, hooks, gc.get_freeze_count() > 0, gc.isenabled())",
        "pyspark.daemon.manager = manager",
        "from dask_patternsearch_spark import worker_daemon",
        "worker_daemon.main()",
    ])
    env = dict(os.environ, PYTHONPATH=os.pathsep.join([archive, REPO]))
    return subprocess.run([sys.executable, "-c", code], env=env, cwd=str(tmp_path),
                          capture_output=True, text=True, timeout=120, check=True)


def test_daemon_main_patches_importers_and_writes_nothing_to_stdout(tmp_path):
    out = _run_daemon_main(tmp_path, "")
    # the JVM reads the daemon's port from stdout: only manager() may write
    assert out.stdout == "manager ['CachedZipImporter'] ['CachedZipImporter'] True True\n"


def test_daemon_main_falls_back_without_a_zipimporter_hook(tmp_path):
    out = _run_daemon_main(tmp_path, "sys.path_hooks.remove(zipimport.zipimporter)")
    assert out.stdout == "manager ['zipimporter'] [] True True\n"
    assert "unpatched" in out.stderr


@pytest.mark.spark
def test_tasks_reread_no_archive(spark):
    """Inside a task every cached zip importer is the daemon's subclass, and
    the ``importlib.invalidate_caches()`` that PySpark runs before each task
    re-reads no archive."""

    def probe(_it):
        import importlib
        import sys
        import zipimport

        reads = []
        real = zipimport._read_directory

        def counting(archive):
            reads.append(archive)
            return real(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        kinds = [type(f).__name__ for f in sys.path_importer_cache.values()
                 if isinstance(f, zipimport.zipimporter)]
        yield len(reads), kinds

    sc = spark.sparkContext
    n = sc.defaultParallelism
    for reads, kinds in sc.parallelize(range(n), n).mapPartitions(probe).collect():
        assert reads == 0
        assert kinds and set(kinds) == {"CachedZipImporter"}


@pytest.mark.spark
def test_tasks_skip_the_daemons_frozen_heap(spark):
    """A task's worker inherits the daemon's heap frozen, so the
    ``gc.collect()`` PySpark runs after every task walks only the objects
    made after the fork: under a thousand in an RDD task, against about
    39,000 with an unfrozen daemon.  An Arrow (``mapInPandas``) task runs
    in a worker forked from the same frozen daemon."""

    def probe(_it):
        import gc

        yield gc.get_freeze_count(), len(gc.get_objects())

    sc = spark.sparkContext
    n = sc.defaultParallelism
    for frozen, tracked in sc.parallelize(range(n), n).mapPartitions(probe).collect():
        assert frozen > 0
        assert tracked < 1000

    def arrow_probe(batches):
        import gc

        import pandas as pd

        for _ in batches:
            pass
        yield pd.DataFrame({"frozen": [gc.get_freeze_count()]})

    rows = spark.range(n).mapInPandas(arrow_probe, "frozen long").collect()
    assert rows and all(r.frozen > 0 for r in rows)
