"""Zip archives on sys.path are re-read only when they change.

A PySpark worker calls ``importlib.invalidate_caches()`` before every
task, and CPython's ``zipimporter.invalidate_caches`` re-reads the whole
central directory of its archive each time.  Workers import pyspark from
``$SPARK_HOME/python/lib/pyspark.zip`` and have the spark-core jar on
``sys.path``, so each Python task paid 75-100 ms of CPU before running
any user code (4 cores, PySpark 4.1.2, CPython 3.11.7).  The replacement
below re-reads an archive only when its ``(st_size, st_mtime_ns)``
differs from what that importer saw at its last read, so an archive
replaced in place (an ``addPyFile`` zip) is still picked up.  Every worker that unpickles
anything from this package installs it; from a worker's second task on,
invalidation costs a few ``stat`` calls.

Rejected placements, measured:
  - a custom ``spark.python.daemon.module`` reaches only ``pyspark.worker``
    daemons; data-source planner workers run under the fixed
    ``pyspark.daemon``, so etl_refresh op_p50_s fell ~10% instead of ~25%;
  - ``SPARK_HOME`` pointed at the pip package changed nothing: it ships the
    same ``python/lib/pyspark.zip``.
"""

import os
import zipimport

# the original, even when this module is imported again or reloaded
_reread = getattr(zipimport.zipimporter.invalidate_caches, "__wrapped__",
                  zipimport.zipimporter.invalidate_caches)


def invalidate_caches(self):
    """Re-read the archive only if it changed since this importer's last read."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_size, st.st_mtime_ns)
    except OSError:
        stamp = None
    if stamp is None or getattr(self, "_read_stamp", None) != stamp:
        _reread(self)
        self._read_stamp = stamp


invalidate_caches.__wrapped__ = _reread
zipimport.zipimporter.invalidate_caches = invalidate_caches
