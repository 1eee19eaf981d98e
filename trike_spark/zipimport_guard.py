"""Stamp-guarded ``zipimporter.invalidate_caches`` for the Python workers.

A PySpark worker calls ``importlib.invalidate_caches()`` at the start of every
task (``pyspark.worker_util.setup_spark_files``). Up to CPython 3.12 that makes
each ``zipimporter`` in ``sys.path_importer_cache`` re-read its archive's whole
zip directory at once: a worker holds 16–18 of them over ``pyspark.zip``, the
py4j zip and the Spark core jar (about 6,700 entries), which cost 100–140 ms of
CPU per task, every task.

:func:`install` replaces the method with one that re-reads an archive only
when its ``(st_mtime_ns, st_size)`` stamp differs from the one taken at its
last read (the staleness rule ``FileFinder`` applies to directories), and
otherwise points the importer at the shared ``zipimport._zip_directory_cache``
entry. An archive rewritten in place is still re-read, and a missing one is
dropped exactly as the stock method drops it. It runs when ``trike_spark`` is
imported, which a worker does when it unpickles any trike UDF, so every later
task of that reused worker takes the guarded path. Where zipimport already
reads lazily (CPython 3.13+, ``zipimporter._get_files``) nothing is replaced.
"""

from __future__ import annotations

import os
import zipimport

_STOCK = zipimport.zipimporter.invalidate_caches
# archive path -> zip directory, shared by every importer of that archive
# (where it is missing, every call falls through to the stock method)
_CACHE: dict[str, dict] = getattr(zipimport, "_zip_directory_cache", {})
# archive path -> (st_mtime_ns, st_size) taken just before its last read
_STAMPS: dict[str, tuple[int, int]] = {}


def _invalidate_caches(self) -> None:
    """Reload the file data of the archive path if the archive changed."""
    archive = self.archive
    try:
        st = os.stat(archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    files = _CACHE.get(archive)
    if stamp is not None and files is not None and _STAMPS.get(archive) == stamp:
        self._files = files
        return
    # stamped before the read: a rewrite during it shows as a new stamp next time
    _STOCK(self)
    if stamp is not None and archive in _CACHE:
        _STAMPS[archive] = stamp
    else:
        _STAMPS.pop(archive, None)


def install() -> bool:
    """Put the guarded method on ``zipimport.zipimporter`` (idempotent);
    returns whether it is in place (False where zipimport is already lazy)."""
    cls = zipimport.zipimporter
    if hasattr(cls, "_get_files"):
        return False
    cls.invalidate_caches = _invalidate_caches  # type: ignore[method-assign]
    return True
