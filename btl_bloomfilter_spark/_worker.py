"""Per-task cost of PySpark Python workers: the zip directory cache.

Before every task, PySpark's ``setup_spark_files`` calls
``importlib.invalidate_caches()``.  On CPython < 3.13 that makes every
``zipimport.zipimporter`` in ``sys.path_importer_cache`` re-parse its
whole archive directory: about 17 importers over ``pyspark.zip``
(1,328 entries) and ``py4j-*.zip`` in a worker, 70-100 ms each, paid
again by each task of a reused worker whose kernel may run for a few
milliseconds.  CPython 3.13 reads the directory lazily instead.

``install_zip_directory_cache`` replaces
``zipimporter.invalidate_caches`` with a version that re-reads an
archive's directory only when the archive's ``(st_mtime_ns, st_size,
st_ino)`` changed since the last read; otherwise the importer is pointed
back at the shared ``zipimport._zip_directory_cache`` entry.  A
rewritten archive is still picked up by the next invalidation, at the
cost of one ``os.stat`` per importer.

The package installs it on import, inside PySpark workers only: the
driver's import system is never touched.  ``directory_reads`` counts
the re-reads the patched method made in this process.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive directories re-read by the patched invalidate_caches
directory_reads = 0

# archive path -> (st_mtime_ns, st_size, st_ino) when its directory was read
_stamps: dict[str, tuple[int, int, int]] = {}

_original_invalidate = zipimport.zipimporter.invalidate_caches


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def _invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips unchanged archives."""
    global directory_reads
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    # stat before reading: an archive rewritten in between is re-read
    # again next time, never kept stale
    directory_reads += 1
    _original_invalidate(self)
    if stamp is not None and self.archive in zipimport._zip_directory_cache:
        _stamps[self.archive] = stamp
    else:
        _stamps.pop(self.archive, None)


def is_installed() -> bool:
    return zipimport.zipimporter.invalidate_caches is _invalidate_caches


def _skip_reason() -> str | None:
    if sys.implementation.name != "cpython" or sys.version_info >= (3, 13):
        return "not CPython < 3.13 (3.13 reads zip directories lazily)"
    # setup_spark_files imports SparkFiles and sets the flag before the
    # task's UDF (and with it this package) is unpickled; a driver has
    # either not imported it or left the flag False
    files = sys.modules.get("pyspark.core.files")
    if files is None or not getattr(files.SparkFiles, "_is_running_on_worker", False):
        return "not in a PySpark worker"
    if not isinstance(getattr(zipimport, "_zip_directory_cache", None), dict):
        return "zipimport has no shared directory cache"
    return None


def install_zip_directory_cache() -> bool:
    """Install the stat-keyed ``invalidate_caches`` in this PySpark
    worker; returns whether it is installed.  Idempotent.

    Archives already cached are stamped now: in a worker,
    ``setup_spark_files`` re-read every one of them just before the
    task's UDF imported this package."""
    if is_installed():
        return True
    if _skip_reason() is not None:
        return False
    for archive in zipimport._zip_directory_cache:
        stamp = _stamp(archive)
        if stamp is not None:
            _stamps[archive] = stamp
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
    return True
