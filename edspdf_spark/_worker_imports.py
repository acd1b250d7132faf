"""Keep a reused Spark Python worker from re-reading zip archives per task.

Before every task the worker calls ``importlib.invalidate_caches()``
(``pyspark/worker_util.py`` ``setup_spark_files``), and a stock
``zipimport.zipimporter`` answers that by re-reading its archive's whole
directory. A worker holds one importer per package path inside
``pyspark.zip`` (1,328 entries) plus those over the spark-core jar, so
every task paid 0.15-0.3 s of directory reads on a 4-core host.

``install()`` replaces ``invalidate_caches`` at class level: an archive
is re-read only when its ``(st_mtime_ns, st_size)`` changed since the
last read, so an archive that really changes (a re-added ``--py-files``
zip) is still re-read. If ``os.stat`` fails, the stock method runs.
"""

import os
import zipimport

_stock_invalidate = zipimport.zipimporter.invalidate_caches

# archive path -> ((st_mtime_ns, st_size) taken before the read, directory)
_last_read = {}


def _invalidate_caches(self):
    try:
        st = os.stat(self.archive)
    except OSError:
        return _stock_invalidate(self)
    key = (st.st_mtime_ns, st.st_size)
    seen = _last_read.get(self.archive)
    if seen is not None and seen[0] == key:
        self._files = seen[1]
        zipimport._zip_directory_cache[self.archive] = seen[1]
        return
    _stock_invalidate(self)
    _last_read[self.archive] = (key, self._files)


def install() -> None:
    zipimport.zipimporter.invalidate_caches = _invalidate_caches
