"""Stat-guarded ``zipimporter.invalidate_caches`` for CPython < 3.13.

PySpark's Python worker calls ``importlib.invalidate_caches()`` at the
start of every task (``pyspark.worker_util.setup_spark_files``). Before
CPython 3.13, every ``zipimporter`` answers that by re-reading its
archive's central directory, and a worker that imports pyspark from
``pyspark.zip`` (~1300 entries) holds one importer per imported pyspark
subpackage — about 12 ms each, 0.2-0.5 s of fixed cost per task before the
UDF runs. The guarded method re-reads an archive only when its
(inode, size, mtime_ns) changed since this process last read it, or when
the shared directory cache lost it; a new archive path (``addPyFile``) is
read fresh by the importer's constructor as before. CPython 3.13 made
invalidation lazy, so nothing is installed there.

Stdlib only: the package ``__init__`` installs it, and pure-Python users of
the package must not start importing pyspark.
"""

from __future__ import annotations

import os
import sys
import zipimport

_original_invalidate = zipimport.zipimporter.invalidate_caches
# archive path -> stat stamp taken just before this process last read it
_stamps: dict[str, tuple[int, int, int] | None] = {}


def _stamp(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def _guarded_invalidate_caches(self) -> None:
    """Reload the archive's file data only if the archive changed."""
    stamp = _stamp(self.archive)
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    # stamp before the read: a rewrite racing the read leaves a stale
    # stamp, so the next call re-reads rather than trusting old data
    _original_invalidate(self)
    _stamps[self.archive] = stamp


def install() -> None:
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = _guarded_invalidate_caches
