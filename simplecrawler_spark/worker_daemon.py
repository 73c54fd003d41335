"""Python worker daemon for the engine's Spark sessions.

Spark forks every Python worker from one daemon process per executor; the
daemon is ``python -m <spark.python.daemon.module>``, and
:func:`simplecrawler_spark.session.get_spark` points that conf here.

Why: before every task a worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). On CPython < 3.12 that makes
each ``zipimport.zipimporter`` on the path re-read its archive's whole
central directory. A worker holds one importer per imported sub-package of
``pyspark.zip`` plus the py4j zip — ~16 importers over ~1.3k entries each —
so every task re-read archives that never change: on a 4-core box an
identity ``mapInArrow`` task cost ~200 ms with the stock daemon and ~70 ms
with this one. CPython 3.12 made the call lazy, and there this module
changes nothing.

What: :func:`install` makes ``zipimporter.invalidate_caches`` re-read an
archive only when its ``(st_mtime_ns, st_size)`` differs from the stamp
taken just before the archive was last read in this process; otherwise the
importer takes that read's directory, exactly as a new importer takes
``zipimport._zip_directory_cache``. The stamp is the one CPython's own
``.pyc`` check uses, so a rewrite that keeps both the size and the mtime
to the nanosecond goes unseen. The daemon installs it before importing
pyspark, so every forked worker inherits it before its first task, for
engine and non-engine UDFs alike. Everything else is the stock
``pyspark.daemon``.

This module imports only the stdlib until it hands over to
``pyspark.daemon``.
"""

from __future__ import annotations

import os
import sys
import zipimport


def _archive_stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def install() -> None:
    """Guard ``zipimporter.invalidate_caches`` for this process (see the
    module docstring). Call once, before the archives are first imported
    from; a no-op on CPython 3.12+."""
    if sys.version_info >= (3, 12):
        return
    stock_read = zipimport._read_directory
    stock_invalidate = zipimport.zipimporter.invalidate_caches
    # archive path -> (stamp taken before the read, directory it returned)
    reads: dict[str, tuple[tuple[int, int], dict]] = {}

    def read_directory(archive):
        reads.pop(archive, None)
        # stat BEFORE reading: a rewrite racing the read leaves an older
        # stamp, so the next call re-reads instead of trusting stale data
        stamp = _archive_stamp(archive)
        files = stock_read(archive)
        if stamp is not None:
            reads[archive] = (stamp, files)
        return files

    def invalidate_caches(self):
        last = reads.get(self.archive)
        if last is None or last[0] != _archive_stamp(self.archive):
            stock_invalidate(self)  # re-reads through read_directory
            return
        self._files = last[1]
        zipimport._zip_directory_cache[self.archive] = last[1]

    # zipimporter.__init__ and the stock invalidate_caches look
    # _read_directory up in the module globals at call time
    zipimport._read_directory = read_directory
    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    install()
    # pyspark.daemon reads the worker module from sys.argv at import time
    from pyspark import daemon

    daemon.manager()
