"""Once-per-process set-up that a reused Python worker pays only once.

Two fixed costs of a PySpark worker task are paid here instead of per task.

**Zip directories.** PySpark's worker calls ``importlib.invalidate_caches()``
once per task (``worker_util.setup_spark_files``). On CPython 3.11 that calls
``zipimporter.invalidate_caches()`` on every zip importer in
``sys.path_importer_cache``, and each call re-reads the archive's whole
central directory: ``pyspark.zip``, py4j's zip, the Spark core jar the JVM
puts on the workers' ``PYTHONPATH``, and any ``addPyFile`` zip, once per
imported subpackage. The guard re-reads an archive only when its
``(st_mtime_ns, st_size)`` differs from the one stamped at that path's last
read, or when the path is not in ``zipimport``'s directory cache. A changed
or replaced archive is still re-read, and a missing one takes the stdlib
path. It is installed only on the interpreter versions whose ``zipimport``
source it was checked against; elsewhere it does nothing.

**The cyclic collector's baseline.** ``pyspark/daemon.py`` runs a full
``gc.collect()`` after every task of a reused worker, outside
``worker.main``. A worker that has imported pandas, pyarrow and our kernels
tracks ~74k objects, so that collect alone costs ~35 ms, more than many
tasks. In a worker process (``PYTHON_WORKER_FACTORY_SECRET`` is
set by Spark in workers, never in the driver) ``install()`` imports pandas
and pyarrow, which every kernel of ours uses, and then ``gc.freeze()``s
everything tracked so far. Collections then scan only objects created
after that. Frozen objects are still freed by reference counting; only
cyclic garbage among them is kept. The driver's collector is left alone.
"""

from __future__ import annotations

import gc
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
    """Guard zip re-reads and, in a worker, freeze the collector's baseline."""
    _guard_zip_rereads()
    if "PYTHON_WORKER_FACTORY_SECRET" in os.environ:
        _freeze_worker_baseline()


def _freeze_worker_baseline() -> None:
    if not hasattr(gc, "freeze"):
        return
    import pandas  # noqa: F401  (every kernel of ours is Arrow-based)
    import pyarrow  # noqa: F401

    gc.freeze()


def _guard_zip_rereads() -> None:
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
