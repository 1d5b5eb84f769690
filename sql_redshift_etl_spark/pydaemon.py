"""Python worker daemon for the engine's sessions.

``session.get_spark`` names this module in ``spark.python.daemon.module``,
so Spark starts it with ``python -m`` in place of ``pyspark.daemon``. It
installs one change to the import system and then runs pyspark's own
daemon loop; every worker the daemon forks inherits the change.

The change: PySpark's worker calls ``importlib.invalidate_caches()`` at the
start of every task (``worker_util.setup_spark_files``). On CPython before
3.13 that makes every ``zipimport.zipimporter`` re-parse the central
directory of its archive. A worker holds about 16 of them (Spark's core
jar, on the worker ``PYTHONPATH``, twice; ``pyspark.zip`` once per
imported subpackage; the py4j zip), so each task paid 0.1-0.3 s (4-vCPU
host) before the user function ran. Here an archive is re-read only when its
``(st_mtime_ns, st_size)`` differs from the last read, the staleness rule
CPython's ``FileFinder`` applies to directories. An archive that cannot
be stat'ed is re-read as before. CPython 3.13 reads archive directories
lazily, so there it installs nothing. The daemon reads and stamps its
archives once before it forks, so a new worker's first task re-reads none
(3 archives, 50-85 ms per new worker on that host otherwise).

``python -m`` imports the package ``__init__`` before this module, so the
daemon, and every worker it forks, also holds ``session``, ``catalog``,
``scale`` and ``pyspark.sql``; pyspark's worker imports most of
``pyspark.sql`` anyway.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches
# archive path -> (st_mtime_ns, st_size) taken just before its last read;
# per process, like zipimport's own directory cache it guards
_read_stamps: dict[str, tuple[int, int]] = {}


def _invalidate_caches(self: zipimport.zipimporter) -> None:
    """Re-read the archive's directory only if the archive changed since
    the last read; otherwise pick up the directory that read cached."""
    try:
        st = os.stat(self.archive)
    except OSError:
        _read_stamps.pop(self.archive, None)
        _reread(self)
        return
    stamp = (st.st_mtime_ns, st.st_size)
    files = zipimport._zip_directory_cache.get(self.archive)
    if files is not None and _read_stamps.get(self.archive) == stamp:
        self._files = files
        return
    _reread(self)
    _read_stamps[self.archive] = stamp


if __name__ == "__main__":
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = _invalidate_caches
    from pyspark.daemon import manager

    # Stamp every archive the daemon's importers hold before any worker is
    # forked: the workers inherit the stamps and the directory cache, so a
    # worker's first task re-reads none of them either.
    importlib.invalidate_caches()
    manager()
