"""Python worker daemon for Spark: pyspark's own daemon, except that a
zip archive on the import path is re-read only when it has changed.

Before every task, pyspark's worker calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``).  On CPython < 3.13 that
re-reads the central directory of every zip archive on the worker's
import path, once per ``zipimporter`` entry: ``pyspark.zip`` and its
subpackage entries, py4j's zip and the Spark core jar that Spark puts on
the worker ``PYTHONPATH``.  On local[4] that is ~120 ms before each
task's function runs.  CPython 3.13's ``zipimporter.invalidate_caches``
only drops the cached directory, so there this module changes nothing.

Run as ``python -m coies_spark.pydaemon`` (``get_spark`` selects it with
``spark.python.daemon.module``), it replaces
``zipimport.zipimporter.invalidate_caches`` with :func:`invalidate_caches`,
reads each archive once, and then runs ``pyspark.daemon.manager()``, so
every forked worker inherits the replacement and the read directories.
Importing the module patches nothing.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches

# archive path -> ((st_mtime_ns, st_size) before its last read, directory);
# process-wide, like zipimport's own _zip_directory_cache
_read: dict[str, tuple[tuple[int, int], dict]] = {}


def _stamp(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that re-reads the archive only
    when its ``(st_mtime_ns, st_size)`` differs from the stamp taken
    before its last read; otherwise the importer gets that read's
    directory back (another importer of the same archive may hold it)."""
    stamp = _stamp(self.archive)
    last = _read.get(self.archive)
    if stamp is not None and last is not None and last[0] == stamp:
        self._files = zipimport._zip_directory_cache[self.archive] = last[1]
        return
    _reread(self)
    if stamp is not None and self.archive in zipimport._zip_directory_cache:
        _read[self.archive] = (stamp, self._files)


if __name__ == "__main__":
    from pyspark import daemon

    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = invalidate_caches
        importlib.invalidate_caches()
    daemon.manager()
