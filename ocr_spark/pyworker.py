"""PySpark worker daemon that makes ``importlib.invalidate_caches()`` cheap.

Every PySpark task calls ``importlib.invalidate_caches()`` before its
first row (``pyspark.worker_util.setup_spark_files``).  Before CPython
3.13 that makes each ``zipimport.zipimporter`` on ``sys.path`` re-read
its whole archive directory in pure Python: for ``pyspark.zip`` and the
py4j zip, 130-280 ms per task, paid again by every task on a reused
worker.  CPython 3.13 made the invalidation lazy (gh-103200).  This
module backports the intent: an archive is re-read only when its
``(st_mtime_ns, st_size)`` differs from what it was at the last read,
so a changed or rewritten archive is still picked up.

Run it as the daemon, which patches ``zipimporter`` and then hands over
to ``pyspark.daemon.manager()``; forked workers inherit the patch::

    --conf spark.python.daemon.module=ocr_spark.pyworker

``session.get_spark`` sets this for the local masters it builds.
"""

from __future__ import annotations

import os
import sys
import zipimport

__all__ = ["install"]

# archive path -> (st_mtime_ns, st_size) taken just before its last read
_stamps: dict[str, tuple[int, int] | None] = {}


def _lazy_invalidate_caches(self, _reread=zipimport.zipimporter.invalidate_caches):
    """Re-read the archive directory only if the archive changed."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    if stamp is not None and _stamps.get(self.archive) == stamp:
        # another importer of the same archive may have re-read it
        self._files = zipimport._zip_directory_cache.get(self.archive, self._files)
        return
    # stat before the read: a write racing the read leaves an old stamp,
    # so the next call reads again
    _reread(self)
    _stamps[self.archive] = stamp


def install() -> bool:
    """Swap in the lazy ``zipimporter.invalidate_caches``.  Returns
    whether it was swapped: CPython 3.13 and later are already lazy."""
    if sys.version_info >= (3, 13):
        return False
    zipimport.zipimporter.invalidate_caches = _lazy_invalidate_caches
    return True


if __name__ == "__main__":
    install()
    from pyspark.daemon import manager

    manager()
