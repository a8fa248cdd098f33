"""PySpark worker daemon for the test session (``spark.python.daemon.module``).

Every Python task starts with ``importlib.invalidate_caches()`` (pyspark's
``worker_util.setup_spark_files``). On CPython 3.10/3.11 that makes every
``zipimporter`` in ``sys.path_importer_cache`` re-read its whole archive
directory, and a worker that imports pyspark from ``pyspark.zip`` holds
about fifteen of them (one per imported subpackage, plus py4j and the
spark-core jar). That is ~0.1 s of CPU per task on a 4-core host, paid by
every scan of a ``createDataFrame`` frame and every Python UDF batch, and
it was the largest single cost of the test suite.

This daemon is ``pyspark.daemon`` with one change, made before any worker
forks: a zip importer re-reads its archive only when the archive's size or
mtime changed since it last read it. Changed archives are still re-read,
so the invalidation contract holds; unchanged ones skip a no-op re-read.
"""

from __future__ import annotations

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def _invalidate_if_changed(self) -> None:
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    if stamp is None or getattr(self, "_read_stamp", None) != stamp:
        self._read_stamp = stamp
        _reread(self)


zipimport.zipimporter.invalidate_caches = _invalidate_if_changed

from pyspark import daemon  # noqa: E402  (after the patch: workers fork from here)

if __name__ == "__main__":
    daemon.manager()
