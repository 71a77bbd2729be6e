"""PySpark's worker daemon, with zip directory reads that survive
``importlib.invalidate_caches()``.

``session.get_spark`` names this module in ``spark.python.daemon.module``.
Spark starts it as ``python -m <module> pyspark.worker``; it runs
``pyspark.daemon.manager``, which forks one Python worker per connection.

Before every task a reused worker calls ``importlib.invalidate_caches()``.
On CPython 3.11 ``zipimporter.invalidate_caches`` re-reads the whole
archive directory, and a worker holds one zipimporter for ``pyspark.zip``
(1,328 entries) and one for each subpackage imported from it: about 16
full directory reads per task. Worker CPU from one identity
``mapInArrow`` task to the next on ``local[1]`` (4-vCPU host) is
0.14-0.26 s with the stock daemon and 0.03-0.04 s with this one.

Here the daemon replaces that method, before it forks any worker, with
one that re-reads an archive only if its ``(st_mtime_ns, st_size)``
changed since its last read, or if the archive has no entry in
``zipimport._zip_directory_cache``. Otherwise the importer points back at
the cached directory. A changed or deleted archive is re-read as the
stock method does; a rewrite that keeps both the size and the timestamp
(within one tick of the filesystem clock) goes unseen.

Importing this module changes nothing; only running it does.
"""

from __future__ import annotations

import importlib
import os
import zipimport

from pyspark.daemon import manager

_stock_invalidate_caches = zipimport.zipimporter.invalidate_caches

#: archive path -> its (st_mtime_ns, st_size) at the last directory read;
#: None if it could not be stat'ed then
_read_at: dict = {}


def invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips the directory read
    when the archive is unchanged since the last one. The stat comes
    first, so an archive rewritten during a read is read again next
    time."""
    try:
        st = os.stat(self.archive)
        key = st.st_mtime_ns, st.st_size
    except OSError:
        key = None
    files = zipimport._zip_directory_cache.get(self.archive)
    if key is not None and files is not None and _read_at.get(self.archive) == key:
        self._files = files
        return
    _stock_invalidate_caches(self)
    _read_at[self.archive] = key


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    # read each imported archive once here, so forked workers inherit
    # its stat record and skip the read on their first task too
    importlib.invalidate_caches()
    manager()
