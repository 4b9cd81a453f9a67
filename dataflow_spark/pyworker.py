"""PySpark worker daemon that skips re-reading unchanged zip archives.

Run by Spark as ``python -m dataflow_spark.pyworker`` (``get_spark`` sets
``spark.python.daemon.module``). Before every task PySpark calls
``importlib.invalidate_caches()``; on CPython 3.11 that makes each
``zipimporter`` on the worker's path re-read its archive's whole central
directory: pyspark.zip once per imported subpackage, and the spark-core
jar PySpark puts on the path. That is 0.2-0.3 s per task before the first
row (docs/engineering-notes.md, "Python task start-up").

The guard re-reads an archive only when its ``(st_mtime_ns, st_size,
st_ino)`` differs from the last read in this process, so a new archive
(``addPyFile``) is read on first use and a rewritten one is read again.
The daemon installs the guard, then invalidates once so that the
archives its own imports read are on record; the workers it forks
inherit the guard and the record. ``FileFinder`` invalidation is
untouched, and the record lives only in the daemon and its workers.

Nothing here may write to stdout: the JVM reads the daemon's port there.
"""

from __future__ import annotations

import importlib
import os
import zipimport


def _stamp(path: str) -> tuple[int, int, int]:
    st = os.stat(path)
    return st.st_mtime_ns, st.st_size, st.st_ino


def install_archive_guard() -> None:
    """Make ``zipimporter.invalidate_caches`` skip unchanged archives."""
    if archive_guard_installed():
        return
    read_directory = zipimport._read_directory
    reread = zipimport.zipimporter.invalidate_caches
    read_at: dict[str, tuple[int, int, int]] = {}

    def stamped_read_directory(archive):
        # stamped before the read: a write racing the read shows next time
        try:
            read_at[archive] = _stamp(archive)
        except OSError:
            read_at.pop(archive, None)
        return read_directory(archive)

    def invalidate_caches(self):
        files = zipimport._zip_directory_cache.get(self.archive)
        try:
            unchanged = read_at.get(self.archive) == _stamp(self.archive)
        except OSError:
            unchanged = False
        if files is None or not unchanged:
            return reread(self)
        # another importer over the same archive may have re-read it
        self._files = files
        return None

    invalidate_caches.archive_guard = True
    zipimport._read_directory = stamped_read_directory
    zipimport.zipimporter.invalidate_caches = invalidate_caches


def archive_guard_installed() -> bool:
    return getattr(zipimport.zipimporter.invalidate_caches,
                   "archive_guard", False)


if __name__ == "__main__":
    install_archive_guard()
    importlib.invalidate_caches()
    from pyspark.daemon import manager

    manager()
