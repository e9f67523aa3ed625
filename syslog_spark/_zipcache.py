"""Python workers keep their zip directories between tasks.

At the start of every task PySpark's worker calls
``importlib.invalidate_caches()`` (``pyspark.worker_util.setup_spark_files``).
On CPython 3.11 that makes every cached ``zipimporter`` re-read its
archive's whole central directory: pyspark.zip, py4j, the spark-core jar
and this package's zip, 19 importers in a worker that has imported the
parse operator, about 145 ms of CPU per task. :func:`install` makes an
importer re-read its archive only when the archive's ``os.stat`` differs
from the one taken before its last re-read, so a rewritten zip is still
read again and a newly added pyFile is imported as before.
"""

from __future__ import annotations

import os
import zipimport


def _stat_key(path: str) -> tuple | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size, st.st_ino


def install() -> None:
    """Replace ``zipimporter.invalidate_caches`` in this process with the
    stat-checked one (idempotent)."""
    reread = zipimport.zipimporter.invalidate_caches
    if getattr(reread, "stat_checked", False):
        return
    read_at: dict[str, tuple | None] = {}  # archive -> stat before its last read

    def invalidate_caches(self):
        key = _stat_key(self.archive)
        files = zipimport._zip_directory_cache.get(self.archive)
        if key is not None and files is not None and read_at.get(self.archive) == key:
            self._files = files
            return
        reread(self)
        read_at[self.archive] = key

    invalidate_caches.stat_checked = True
    zipimport.zipimporter.invalidate_caches = invalidate_caches
