"""Skip the zip-directory re-read that ``importlib.invalidate_caches()`` costs
on Python < 3.12.

PySpark's worker calls ``importlib.invalidate_caches()`` before every task
(``pyspark/worker_util.py``, ``setup_spark_files``).  On 3.11 every
``zipimport.zipimporter`` then re-reads its archive's whole directory.  A
worker that imports PySpark from ``pyspark.zip`` holds one importer per
package path (16 of them for the 1,328-entry archive), so each Python task
paid 0.19–0.25 s of worker CPU before running any user code.  CPython 3.12
made the re-read lazy (gh-103200), so ``install`` does nothing there.

The invalidation contract is kept: after ``invalidate_caches()`` an importer
sees its archive as it is now.  Every directory read goes through
``zipimport._read_directory``; the wrapper records the directory it read with
the archive's ``(st_mtime_ns, st_size)``, taken before the read.
``invalidate_caches`` re-reads only when the archive's stamp differs from
that record, when the stat fails, or when the archive was last read before
``install``; otherwise the importer takes the recorded directory, which a
re-read would reproduce.  The record is process-wide, like zipimport's own
``_zip_directory_cache``, so importers of one archive share its last read.

The package root calls ``install`` on import.  Every Spark worker that
unpickles an engine function imports the package, and workers are reused, so
only the first task of each worker still pays for the re-read.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path → ((st_mtime_ns, st_size) before its last read, that read)
_last_read: dict[str, tuple[tuple[int, int], dict]] = {}
_read = zipimport._read_directory
_reread = zipimport.zipimporter.invalidate_caches


def _stamp(archive: str) -> tuple[int, int]:
    st = os.stat(archive)
    return st.st_mtime_ns, st.st_size


def _read_directory(archive):
    _last_read.pop(archive, None)
    try:
        stamp = _stamp(archive)
    except OSError:
        return _read(archive)
    files = _read(archive)
    _last_read[archive] = stamp, files
    return files


def _invalidate_caches(self):
    """Reload the file data of the archive path, unless it is unchanged since
    its last read."""
    stamp, files = _last_read.get(self.archive, (None, None))
    try:
        unchanged = stamp == _stamp(self.archive)
    except OSError:
        unchanged = False
    if unchanged:
        self._files = zipimport._zip_directory_cache[self.archive] = files
    else:
        _reread(self)


def installed() -> bool:
    return zipimport.zipimporter.invalidate_caches is _invalidate_caches


def install() -> None:
    """Replace ``zipimporter.invalidate_caches`` (idempotent; no-op on 3.12+)."""
    if sys.version_info >= (3, 12) or installed():
        return
    zipimport._read_directory = _read_directory
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
