"""pyspark's worker daemon, started warm (``spark.python.daemon.module``).

``session.get_spark`` installs this module. Before it starts pyspark's
daemon, it

1. makes ``zipimporter.invalidate_caches`` re-read an archive only when the
   archive's ``(st_mtime_ns, st_size, st_ino)`` changed. pyspark's worker
   calls ``importlib.invalidate_caches()`` before every task, and each of a
   worker's ~15 zipimporters over ``pyspark.zip`` then re-parsed the whole
   1,328-entry directory (~0.09 CPU-s per task). A rewritten archive is
   still re-read, once, and every importer of it shares that read;
2. imports numpy, pandas, pyarrow, pyspark's Arrow serializers and the
   engine's UDF modules, so every worker it forks starts with them loaded.

An import that fails here makes every Python UDF fail; importing this
module runs the preload (``install`` and the daemon run only as ``__main__``).
"""

from __future__ import annotations

import importlib
import os
import zipimport

# preloaded: every worker the daemon forks starts with these imported
import numpy  # noqa: F401
import pandas  # noqa: F401
import pyarrow  # noqa: F401
import pyspark.sql.pandas.serializers  # noqa: F401

import anycrawl_spark.crawl.fetcher  # noqa: F401
import anycrawl_spark.operators.gates  # noqa: F401
import anycrawl_spark.operators.seen  # noqa: F401
import anycrawl_spark.operators.spans  # noqa: F401

_read_archive = zipimport.zipimporter.invalidate_caches
# archive path -> stamp of the file its cached directory was read from;
# process-wide, like zipimport's own _zip_directory_cache it guards
_stamps: dict[str, tuple[int, int, int]] = {}


def invalidate_caches(self) -> None:
    """Re-read ``self.archive``'s directory only if the file changed since
    an importer last read it; otherwise reuse the shared parsed directory."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
    except OSError:
        stamp = None
    files = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and files is not None and _stamps.get(self.archive) == stamp:
        self._files = files
        return
    _read_archive(self)  # stat taken first: a write during the read re-reads next time
    if stamp is not None and self.archive in zipimport._zip_directory_cache:
        _stamps[self.archive] = stamp
    else:
        _stamps.pop(self.archive, None)


def install() -> None:
    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    from pyspark.daemon import manager

    install()
    importlib.invalidate_caches()  # one read per archive records its stamp
    manager()
