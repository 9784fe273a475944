"""The session's PySpark worker daemon (``spark.python.daemon.module``).

This is ``pyspark.daemon`` with one change, made before the daemon forks
its workers. Every Python task starts with ``importlib.invalidate_caches()``
(``pyspark.worker_util.setup_spark_files``), and on Python 3.11 each
``zipimporter`` answers it by re-reading its archive's whole directory.
The worker path holds pyspark.zip, the py4j zip and the spark-core jar
(5k entries) through 16 importers, so each task paid 0.1-0.2 s before
running any user code (PERF.md, "Python task floor").

Those archives ship with Spark and do not change while a worker lives, so
their importers keep the directory they read. Every other finder still
invalidates: directories, and archives that arrive later through
``SparkContext.addPyFile``, are re-read as before.

Importing this module changes nothing; only running it as the daemon
(``python -m``) installs the guard.
"""

from __future__ import annotations

import os
import sys
import zipimport


def keep_startup_archives() -> None:
    """Make ``zipimporter.invalidate_caches`` skip the archives on
    ``sys.path`` now; any other archive is re-read as before."""
    startup = frozenset(p for p in sys.path if os.path.isfile(p))
    reread = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self: zipimport.zipimporter) -> None:
        if self.archive not in startup:
            reread(self)

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    keep_startup_archives()
    from pyspark.daemon import manager

    manager()
