"""Stat-guarded ``zipimport.zipimporter.invalidate_caches``.

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark/worker_util.py`` ``setup_spark_files``). On Python
3.11 that makes every cached ``zipimporter`` re-read its archive's whole
central directory, once per importer: with ``pyspark.zip`` on the worker
path that is a dozen or more reads of a ~27k-entry directory, about 0.1
CPU-s per task however little the task does.

``install`` wraps the stdlib method. The wrapper calls it unchanged when
the archive's ``(st_mtime_ns, st_size, st_ino)`` differs from what this
process saw before its last read of that archive, when the stat fails, or
when the archive's cached directory is not the one that read produced.
Otherwise the archive is unchanged and the importer takes the directory
already cached for it, which is what the re-read would return. A zip
rewritten in place is therefore still re-read, and a zip newly put on
``sys.path`` (``addPyFile``, ``--py-files``) still gets its own importer.

The package ``__init__`` installs it, so every process that imports the
engine (a Python worker unpickling an engine UDF, the driver, the CLI) has
it from then on.
"""

from __future__ import annotations

import functools
import os
import sys
import zipimport

# archive path -> (stat signature before the last read, directory it produced)
_seen: dict[str, tuple[tuple[int, int, int], dict]] = {}


def _signature(path: str) -> tuple[int, int, int]:
    st = os.stat(path)
    return st.st_mtime_ns, st.st_size, st.st_ino


def install() -> None:
    """Wrap ``zipimporter.invalidate_caches`` (once per process) and
    refresh the zip importers this process already holds, so that each
    archive's directory is read once more here and not again while it is
    unchanged."""
    cls = zipimport.zipimporter
    if hasattr(cls.invalidate_caches, "__wrapped__"):
        return
    stdlib_refresh = cls.invalidate_caches

    @functools.wraps(stdlib_refresh)
    def invalidate_caches(self):
        archive = self.archive
        try:
            sig = _signature(archive)
        except (OSError, ValueError):
            _seen.pop(archive, None)
            stdlib_refresh(self)
            return
        seen = _seen.get(archive)
        files = zipimport._zip_directory_cache.get(archive)
        if seen is not None and seen[0] == sig and seen[1] is files:
            self._files = files  # what a re-read would return
            return
        stdlib_refresh(self)
        files = zipimport._zip_directory_cache.get(archive)
        if files is None:
            _seen.pop(archive, None)
        else:
            _seen[archive] = (sig, files)

    cls.invalidate_caches = invalidate_caches
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, cls):
            finder.invalidate_caches()
