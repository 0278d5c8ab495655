"""Stat-guarded ``zipimporter.invalidate_caches`` for Python worker tasks.

PySpark's worker calls ``importlib.invalidate_caches()`` once per task
(``worker_util.setup_spark_files``). On CPython 3.11 that calls
``zipimporter.invalidate_caches()`` on every zip importer in
``sys.path_importer_cache``, and each call re-reads the archive's whole
central directory: ``pyspark.zip``, py4j's zip, the Spark core jar the JVM
puts on the workers' ``PYTHONPATH``, and any ``addPyFile`` zip, once per
imported subpackage. That is most of the fixed CPU cost of a Python task.

The guard re-reads an archive only when its ``(st_mtime_ns, st_size)``
differs from the one stamped at that path's last read, or when the path is
not in ``zipimport``'s directory cache. A changed or replaced archive is
still re-read, and a missing one takes the stdlib path. It is installed
only on the interpreter versions whose ``zipimport`` source it was checked
against; elsewhere ``install()`` does nothing.
"""

from __future__ import annotations

import os
import sys
import zipimport

# Process-wide, like zipimport._zip_directory_cache it guards: archive path
# -> (st_mtime_ns, st_size) stat taken just before the last full read.
_stamps: dict[str, tuple[int, int]] = {}
rereads = 0  # full directory reads the guard let through in this process


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def install() -> None:
    """Replace ``zipimporter.invalidate_caches`` once per process."""
    if sys.version_info[:2] != (3, 11):  # the zipimport source checked
        return
    original = zipimport.zipimporter.invalidate_caches
    if getattr(original, "_stat_guarded", False):
        return

    def invalidate_caches(self):
        global rereads
        stamp = _stamp(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
            self._files = files
            return
        rereads += 1
        original(self)
        # A stamp taken before the read can only be older than the data
        # read, so a write racing the read forces another read next time.
        if stamp is not None and self.archive in zipimport._zip_directory_cache:
            _stamps[self.archive] = stamp
        else:
            _stamps.pop(self.archive, None)

    invalidate_caches._stat_guarded = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
