"""Python-worker process set-up shared by the pipeline's Python hops.

Before every task PySpark's worker calls ``importlib.invalidate_caches()``
(``pyspark/worker_util.py``, ``setup_spark_files``). On CPython 3.10-3.12
``zipimporter.invalidate_caches`` re-reads its archive's whole central
directory, and a warm worker holds one zip importer per archive and per
imported subpackage of ``pyspark.zip``, the py4j zip and the spark-core
jar on its path: about 0.25 CPU-s per task, more than the parse kernel
spends on a 7,500-line task. ``steady_import_caches`` keeps that re-read
for archives that actually changed on disk.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive path -> (st_ino, st_size, st_mtime_ns) of the archive when its
# directory now in zipimport._zip_directory_cache was read; per process,
# like that cache and the import system it serves
_read_at: dict[str, tuple[int, int, int] | None] = {}


def _identity(archive: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return st.st_ino, st.st_size, st.st_mtime_ns


class SteadyZipImporter(zipimport.zipimporter):
    """A zipimporter whose ``invalidate_caches`` re-reads the archive's
    directory only when the archive's inode, size or mtime changed since
    it was last read. All importers of one archive share that read."""

    def __init__(self, path):
        super().__init__(path)
        _read_at.setdefault(self.archive, _identity(self.archive))

    def invalidate_caches(self):
        now = _identity(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if now is not None and files is not None and _read_at.get(self.archive) == now:
            self._files = files
            return
        super().invalidate_caches()
        _read_at[self.archive] = now


def steady_import_caches() -> None:
    """Make ``importlib.invalidate_caches()`` skip unchanged zip archives
    in this process: the zip path hook and every plain zip importer
    already cached become ``SteadyZipImporter``. Idempotent; once the
    hook is replaced a call returns at once. New archives (a later
    ``--py-files`` zip) are still read when first imported from, and a
    changed archive is re-read."""
    hooks = sys.path_hooks
    if zipimport.zipimporter not in hooks:
        return
    hooks[hooks.index(zipimport.zipimporter)] = SteadyZipImporter
    for importer in sys.path_importer_cache.values():
        if type(importer) is zipimport.zipimporter:
            # in place, so modules already loaded keep sharing their
            # loader with the cache entry that gets refreshed
            importer.__class__ = SteadyZipImporter
            _read_at.setdefault(importer.archive, _identity(importer.archive))
