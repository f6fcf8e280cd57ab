"""Python worker daemon: ``pyspark.daemon`` with lazy zip-importer invalidation.

Every Python task calls ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``). Before CPython 3.12
(gh-103200) that makes each ``zipimport.zipimporter`` re-read its
archive's directory at once: pyspark.zip's 1328 entries, once per
importer, 16 importers per task. This daemon makes the re-read happen
only when the archive's ``(st_mtime_ns, st_size)`` changed since that
importer last read it; a replaced zip is still re-read. On 3.12+ the
daemon leaves zipimport alone. ``session.get_spark`` starts the workers'
daemon from this module (``spark.python.daemon.module``).
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

_eager_invalidate = zipimport.zipimporter.invalidate_caches


def invalidate_caches(self) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    if stamp is None or stamp != getattr(self, "_read_stamp", None):
        _eager_invalidate(self)
        self._read_stamp = stamp


if __name__ == "__main__":
    if sys.version_info < (3, 12):
        # the importable module's function, so the workers' zipimporter names it
        from dataengineerchallenge_spark import pydaemon

        zipimport.zipimporter.invalidate_caches = pydaemon.invalidate_caches
    from pyspark import daemon

    importlib.invalidate_caches()  # stamp the daemon's importers once, before workers fork
    daemon.manager()
