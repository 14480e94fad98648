"""Python worker daemon of every engine session (`spark.python.daemon.module`).

pyspark calls `importlib.invalidate_caches()` at the start of every task
(`pyspark.worker_util.setup_spark_files`), in reused workers too. Before
CPython 3.13, `zipimporter.invalidate_caches` re-reads the archive's whole
zip directory, once per importer: a worker holds about 16 of them over
pyspark.zip, the py4j zip and the spark-core jar, which Spark puts ahead of
user entries on every worker's PYTHONPATH. That is ~0.2 s of CPU per task.
The daemon swaps in a version that re-reads an archive only when its
`(st_mtime_ns, st_size)` changed since the last read; forked workers inherit
it. The driver and test processes never run it by import.
"""

from __future__ import annotations

import os
import sys
import zipimport

# archive -> (st_mtime_ns, st_size) at its last read; process-wide, like
# the zipimport._zip_directory_cache it vouches for
_stamps: dict[str, tuple[int, int]] = {}


def _invalidate_caches(self) -> None:
    """`zipimporter.invalidate_caches`, skipping the read of an unchanged archive."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
        if _stamps.get(self.archive) == stamp and self.archive in zipimport._zip_directory_cache:
            self._files = zipimport._zip_directory_cache[self.archive]
            return
        self._files = zipimport._read_directory(self.archive)
        zipimport._zip_directory_cache[self.archive] = self._files
        _stamps[self.archive] = stamp
    except (OSError, zipimport.ZipImportError):  # gone or no longer a zip
        zipimport._zip_directory_cache.pop(self.archive, None)
        _stamps.pop(self.archive, None)
        self._files = {}


def install() -> None:
    # 3.13+ pops the cache instead, so the next lookup reads lazily
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = _invalidate_caches


if __name__ == "__main__":
    # install by module name, so the patch does not name `__main__`
    from big_data_player_analysis_spark import pyworker
    from pyspark.daemon import manager

    pyworker.install()
    manager()
