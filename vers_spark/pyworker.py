"""Python worker daemon that stops each task from re-reading zip archives.

Spark's worker runs ``importlib.invalidate_caches()`` at the start of every
task (``pyspark/worker_util.py:setup_spark_files``). On CPython 3.11 that
makes every ``zipimporter`` re-read its archive's central directory at once
(CPython gh-103200). The workers import pyspark from ``pyspark.zip``: 16
importers over a 1,328-entry archive cost 150-290 ms of CPU per task on a
4-core host before the UDF body starts, which on small pandas-UDF stages is
most of the task.

This module wraps ``zipimporter.invalidate_caches`` so it re-reads an archive
only when its stat signature changed, then runs the stock daemon. Forked
workers inherit the wrapper. An archive rewritten in place, or one added by
``addPyFile``, still gets re-read, so import semantics are unchanged.
``session.get_spark`` selects it with ``spark.python.daemon.module``.
"""

from __future__ import annotations

import os
import sys
import zipimport

_read_archive = zipimport.zipimporter.invalidate_caches
# archive path -> stat signature at the last directory read
_seen: dict[str, tuple[int, int, int, int]] = {}


def _signature(path: str) -> tuple[int, int, int, int]:
    st = os.stat(path)
    return (st.st_ino, st.st_size, st.st_mtime_ns, st.st_ctime_ns)


def invalidate_caches(self) -> None:
    """Re-read the archive directory only if the file changed since the
    last read; otherwise share the cached directory."""
    try:
        sig = _signature(self.archive)
    except OSError:
        _seen.pop(self.archive, None)
        return _read_archive(self)
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is not None and _seen.get(self.archive) == sig:
        self._files = files
        return
    # stat before reading: a write racing the read leaves a new signature
    _read_archive(self)
    _seen[self.archive] = sig


def install() -> None:
    """Wrap ``zipimporter.invalidate_caches`` and record a signature for
    every archive already on the import path (idempotent)."""
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter) and finder.archive not in _seen:
            finder.invalidate_caches()


if __name__ == "__main__":
    # install from the importable module, so workers report the wrapper
    # under its real name rather than ``__main__``
    from vers_spark.pyworker import install as _install

    _install()
    from pyspark.daemon import manager

    manager()
