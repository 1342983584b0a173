"""Stat-guarded zip importers for Spark Python workers.

Before every task, pyspark's worker calls ``importlib.invalidate_caches()``
(``worker_util.setup_spark_files``).  Before Python 3.13 that makes each
``zipimport.zipimporter`` in ``sys.path_importer_cache`` re-parse its
archive's whole central directory in pure Python.  A warm pyspark 4.1
worker holds 16 of them: 12 over pyspark.zip (1,328 entries, 6-10 ms a
read on a 4-vCPU VM), 2 over the spark-core jar (5,359 entries,
34-51 ms) and 2 over the py4j zip, so every task spends 0.14-0.19 s of
CPU on them before its UDF sees a row.  Python 3.13 made the method
only drop the cache.

``guard_zip_invalidation`` swaps those importers for a subclass that
re-reads an archive's directory only when the file's
``(st_mtime_ns, st_size, st_ino)`` changed since the cached directory
was read, so an archive rewritten in place (``addPyFile``) is still
picked up.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> stat key of the archive when the directory held in
# zipimport's directory cache was read (None when the stat failed)
_read_at: dict[str, tuple[int, int, int] | None] = {}


def _stat_key(path: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


class GuardedZipImporter(zipimport.zipimporter):
    """``zipimporter`` whose ``invalidate_caches`` re-reads the archive
    only when the archive file changed."""

    def __init__(self, path):
        super().__init__(path)
        _read_at.setdefault(self.archive, _stat_key(self.archive))

    def invalidate_caches(self):
        key = _stat_key(self.archive)
        cached = zipimport._zip_directory_cache.get(self.archive)
        if key is not None and cached is not None \
                and _read_at.get(self.archive) == key:
            self._files = cached
            return
        super().invalidate_caches()
        _read_at[self.archive] = key


def guard_zip_invalidation() -> None:
    """Make every zip importer on the import path, present and future,
    a ``GuardedZipImporter``.  Idempotent; does nothing on Python 3.13+.

    The directories the present importers hold are taken as read at the
    archive's current stat: in a Spark worker the task set-up re-read
    them moments before any task code runs."""
    if sys.version_info >= (3, 13):
        return
    for finder in list(sys.path_importer_cache.values()):
        if type(finder) is zipimport.zipimporter:
            _read_at.setdefault(finder.archive, _stat_key(finder.archive))
            finder.__class__ = GuardedZipImporter
    sys.path_hooks[:] = [GuardedZipImporter if h is zipimport.zipimporter
                         else h for h in sys.path_hooks]
