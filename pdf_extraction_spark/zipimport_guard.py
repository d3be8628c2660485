"""Re-read a zip archive's import directory only when the archive changed.

On Python 3.10-3.12, ``importlib.invalidate_caches()`` makes every
``zipimport.zipimporter`` re-read its archive's whole central directory,
whether or not the file changed.  PySpark's Python worker calls it at the
start of every task (``pyspark.worker_util.setup_spark_files``).  A worker
that imports pyspark from ``$SPARK_HOME/python/lib/pyspark.zip`` holds a
dozen importers on that 1,328-entry archive, plus a few on the py4j zip
and the spark-core jar, so each task spent 170-270 ms of CPU re-reading
directories before its UDF started (4 vCPU, Python 3.11.7).

:func:`install` wraps two functions of ``zipimport``:

* ``_read_directory`` records, per archive path, the ``os.stat`` stamp
  (mtime_ns, size, inode) taken just before each read;
* ``zipimporter.invalidate_caches`` keeps the cached directory when the
  archive's stamp still equals the one recorded at its last read, and
  otherwise re-reads exactly as before.

The stamp is kept per path, not per importer, so the importers sharing
one archive cost one read after it changes, not one each.  An archive
read before :func:`install` has no stamp and is re-read once at the next
invalidation.  Python 3.13 only drops the cache entry on invalidation and
reads the directory again lazily, so nothing is installed there.

Every worker that unpickles an engine function imports this package,
whose ``__init__`` calls :func:`install`; from then on the worker's tasks
skip the unchanged re-reads.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport

# archive path -> os.stat stamp taken before its last directory read;
# process-wide, like zipimport's own directory cache it describes
_stamps: dict[str, tuple[int, int, int]] = {}


def _stamp(archive: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_mtime_ns, st.st_size, st.st_ino)


def _wrap_read(read):
    @functools.wraps(read)
    def _read_directory(archive):
        _stamps.pop(archive, None)  # a read that raises leaves no stamp
        stamp = _stamp(archive)
        files = read(archive)
        if stamp is not None:
            _stamps[archive] = stamp
        return files

    return _read_directory


def _wrap_invalidate(invalidate):
    @functools.wraps(invalidate)
    def invalidate_caches(self):
        files = zipimport._zip_directory_cache.get(self.archive)
        stamp = _stamps.get(self.archive)
        if files is not None and stamp is not None and stamp == _stamp(self.archive):
            self._files = files
        else:
            invalidate(self)

    invalidate_caches._stamp_guard = True
    return invalidate_caches


def installed() -> bool:
    """Whether the guard is active in this process."""
    return getattr(zipimport.zipimporter.invalidate_caches, "_stamp_guard", False)


def install() -> bool:
    """Install the guard once per process on Python 3.10-3.12; returns
    whether it is active."""
    if installed() or not (3, 10) <= sys.version_info[:2] < (3, 13):
        return installed()
    zipimport._read_directory = _wrap_read(zipimport._read_directory)
    zipimport.zipimporter.invalidate_caches = _wrap_invalidate(
        zipimport.zipimporter.invalidate_caches
    )
    return True
