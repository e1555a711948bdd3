"""PySpark worker daemon whose zip importers re-read an archive only when it
changed, and whose heap its forked workers' garbage collector skips.

The daemon does two jobs before it runs ``pyspark.daemon.manager()``.

**Cached zip importers.**
Before every task, ``pyspark/worker_util.py`` ``setup_spark_files`` calls
``importlib.invalidate_caches()``.  Under Python 3.11 that makes every
``zipimport.zipimporter`` in ``sys.path_importer_cache`` re-read its
archive's central directory, and a worker holds more than a dozen of them:
one per package directory imported from ``pyspark.zip`` plus the Spark jar
on the worker's path (about 0.25 s of CPU per task on a 4-core box).  The
archives do not change while a worker lives, so that work is wasted in
every partition of every Python stage.

``session.get_spark`` selects this module with ``spark.python.daemon.module``
(``pyspark/daemon.py`` accepts a custom *worker* module only when its name
starts with ``pyspark``; the daemon module has no such limit).  It puts
:class:`CachedZipImporter` in place of ``zipimporter`` in
``sys.path_hooks``, rebuilds the zip importers already cached (``pyspark``
itself was imported from the zip before this module runs), then runs
``pyspark.daemon.manager()``.  Forked workers inherit the patch.

Imports still resolve from the same archives; an archive rewritten in place
is still re-read, and a new archive (an ``addPyFile`` zip) still gets a new
importer.  If the hook cannot be installed the daemon runs unpatched.

**Frozen heap.**  A reused worker runs a full ``gc.collect()`` after every
task (``pyspark/daemon.py``), and that collection walks every GC-tracked
object the worker inherited from the daemon: about 39,000 of them, 27,000
from ``pyspark.daemon`` and the ``pyspark.worker`` it imports, 11,000 from
the interpreter's start-up and about a hundred from this package.  That
walk cost 11-17 ms of worker CPU per task on a 4-core box.  ``main()``
therefore collects once and calls ``gc.freeze()`` just before
``manager()``, on the patched and the unpatched path alike: the daemon's
heap moves to the permanent generation, the forked workers inherit it
there, and their after-task collection skips it (it also keeps them from
copy-on-write faulting those pages, the pattern Python's ``gc`` docs give
for servers that fork without exec).  The freeze comes after every
daemon-side import, ``pyspark.daemon`` included, because what is imported
later stays in the walked generations.  Modules a task imports after the
fork (pandas and pyarrow, in an Arrow worker) are still walked, and cyclic
garbage a task makes is still collected after every task.

Nothing here writes to stdout: the JVM reads the daemon's port from it.
"""

from __future__ import annotations

import gc
import os
import sys
import zipimport

# archive path -> (st_mtime_ns, st_size, st_ino) taken before the read that
# filled zipimport's own process-wide ``_zip_directory_cache[archive]``
_read_stamps: dict[str, tuple[int, int, int]] = {}


def _stamp(archive: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


class CachedZipImporter(zipimport.zipimporter):
    """A ``zipimporter`` whose ``invalidate_caches()`` re-reads the archive
    only when its ``(st_mtime_ns, st_size, st_ino)`` differs from the one
    seen at the last read.  The stamp is per archive, so the many
    importers of one archive share one read, as they share one directory
    cache."""

    def __init__(self, path):
        super().__init__(path)
        if self.archive not in _read_stamps:
            # the directory may have come from the cache; read it once more
            # so that the stamp is taken before the read it describes
            self.invalidate_caches()

    def invalidate_caches(self):
        archive = self.archive
        stamp = _stamp(archive)
        files = zipimport._zip_directory_cache.get(archive)
        if stamp is not None and files is not None and _read_stamps.get(archive) == stamp:
            self._files = files
            return
        super().invalidate_caches()
        if stamp is not None and archive in zipimport._zip_directory_cache:
            _read_stamps[archive] = stamp
        else:
            _read_stamps.pop(archive, None)


def install() -> bool:
    """Put :class:`CachedZipImporter` in place of ``zipimporter`` in
    ``sys.path_hooks`` and in ``sys.path_importer_cache``.  All or nothing:
    return False, changing neither, when there is no ``zipimporter`` hook
    or a cached importer cannot be rebuilt."""
    try:
        at = sys.path_hooks.index(zipimport.zipimporter)
        rebuilt = {
            path: CachedZipImporter(path)
            for path, finder in sys.path_importer_cache.items()
            if type(finder) is zipimport.zipimporter
        }
    except Exception as exc:  # noqa: BLE001 -- any failure: run unpatched
        print(f"worker_daemon: zip importers left unpatched: {exc!r}", file=sys.stderr)
        return False
    sys.path_hooks[at] = CachedZipImporter
    sys.path_importer_cache.update(rebuilt)
    return True


def main() -> None:
    install()
    from pyspark import daemon

    # last, after every import: see the module docstring
    gc.collect()
    gc.freeze()
    daemon.manager()


if __name__ == "__main__":
    main()
