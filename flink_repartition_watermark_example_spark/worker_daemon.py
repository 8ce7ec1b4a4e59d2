"""PySpark worker daemon whose per-task import-cache refresh skips
unchanged zip archives.

Before every task PySpark's worker calls ``importlib.invalidate_caches()``.
On CPython < 3.13 that makes each ``zipimporter`` on the path re-parse its
whole archive: ~16 re-reads of pyspark.zip (1,328 entries) per task.
Here a re-read happens only when the archive's (inode, size, mtime_ns)
stamp moved since this process last read it; CPython 3.13 made the
refresh lazy and keeps the stdlib method.  Run by Spark as
``spark.python.daemon.module`` (session.py).
"""

import importlib
import os
import sys
import zipimport

_stdlib_invalidate_caches = zipimport.zipimporter.invalidate_caches
# Per process, like the zipimport._zip_directory_cache it guards:
# archive path -> stamp of the archive this process last read.
_stamps: dict[str, tuple[int, int, int] | None] = {}


def stat_guarded_invalidate_caches(self) -> None:
    """zipimporter.invalidate_caches that re-reads the archive only
    when its stamp moved or the shared directory cache lost it."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_ino, st.st_size, st.st_mtime_ns)
    except OSError:
        stamp = None
    cached = zipimport._zip_directory_cache.get(self.archive)
    if stamp is not None and _stamps.get(self.archive) == stamp and cached is not None:
        self._files = cached
        return
    # Stamp before reading: a write racing the read moves the stamp
    # again, so the next call re-reads.
    _stamps[self.archive] = stamp
    _stdlib_invalidate_caches(self)


if __name__ == "__main__":
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = stat_guarded_invalidate_caches
    from pyspark import daemon

    # Stamp every archive now so forked workers re-read nothing, even
    # on their first task.
    importlib.invalidate_caches()
    daemon.manager()
