"""SparkSession lifecycle.

The reference opens a NEW DuckDB connection per request — up to three per
search (schema probe, main query, count; reference
``stac_fastapi/duckdb/config.py:105-159``,
``database_logic.py:760,870,938``). Spark's lifecycle is the opposite:
one long-lived session, created once at startup, shared by every query.

Scale notes (100 TB target):
- AQE on (Spark's default): runtime partition coalescing, skew-join
  splitting, and dynamic join-strategy switching replace hand-tuned
  shuffle counts.
- Arrow on: every toPandas()/pandas_udf crossing is columnar-batched.
- Session timezone pinned to UTC so timestamp comparisons match the
  reference's ISO-8601 semantics (``database_logic.py:264-312``) and the
  DuckDB oracle. It governs only the JVM: PySpark converts naive Python
  datetimes with the process zone, so every instant crossing into or
  out of Spark goes through ``functions/timestamps.py`` (aware UTC in
  Python, µs TimestampType in Spark), and no answer depends on the
  process zone. The process zone is left alone.
"""

from __future__ import annotations

import os

from pyspark import SparkConf
from pyspark.sql import SparkSession

# Defaults for a local[N] session: tests and benchmarks run at local[4]
# (the shuffle and split sizes below were chosen at local[32]). On a real
# cluster these come from spark-submit / cluster conf and the builder's
# .config calls are no-ops against an existing session.
_LOCAL_DEFAULTS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # parquet TIMESTAMP(NANOS) (e.g. the events table) is unreadable as a
    # Spark timestamp; read as long ns and convert explicitly at the source
    # (functions/timestamps.py: timestamp_from_nanos, with_micros)
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    # default INT96 timestamps carry NO parquet min/max statistics —
    # written files would be invisible to row-group/file skipping
    "spark.sql.parquet.outputTimestampType": "TIMESTAMP_MICROS",
    # let Python data sources (sources/http_parquet.py) receive pushed
    # filters for row-group stat skipping
    "spark.sql.python.filterPushdown.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    # local[32]: one partition per core for the ~600k-row bench tables;
    # at cluster scale AQE coalesces post-shuffle partitions anyway.
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_SHUFFLE", "32"),
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    # 16m (not the 128m default): the bench/test parquet is small and
    # zstd-compressed — at 128m even the 69 MB / 49-row-group sf1
    # lineitem scans as ONE task on 32 cores. At cluster scale this
    # comes from cluster conf. 16m is only the ceiling: the split size is
    # max(openCostInBytes = 4 MB, bytes per core), so at 4 cores a file
    # of a few MB is still one split whatever its row groups (the
    # benchmark's 4.2 MB / 6-row-group landsat file is scanned by one
    # task). Lowering openCostInBytes made bbox searches slower (more
    # Python tasks; PERF.md "Per-search driver cost").
    "spark.sql.files.maxPartitionBytes": "16m",
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    "spark.ui.enabled": "false",
    # managed-table warehouse (bucketed tables) outside the repo tree
    "spark.sql.warehouse.dir": os.environ.get(
        "SPARK_GRAFT_WAREHOUSE", "/tmp/spark_graft_warehouse"
    ),
    # pyspark.daemon plus a guard that stops every Python task re-reading
    # Spark's own zip archives (0.1-0.2 s per task; see worker_daemon.py)
    "spark.python.daemon.module": "stac_fastapi_duckdb_spark.worker_daemon",
    # No Python call-site capture: with it on, every F.col / F.lit / ...
    # walks the stack, tries `import IPython` and makes ~5 extra py4j
    # round trips, only to decorate error messages (a cql2 + datetime
    # search builds its plan through 365 round trips instead of 95; PERF.md
    # "Per-search driver cost"). Set it to true on a session of your own
    # to get the Python line in DataFrame errors while debugging.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    # No whole-stage codegen. With it, each scan -> filter -> project
    # stage is one generated class whose Java source embeds the query's
    # numeric and timestamp literals, so every new bbox, datetime or
    # threshold compiled one class per collection, twice (on the driver,
    # then in the task). Without it a filter is one small predicate class
    # shared by all union branches. The sf0.1 operator batch measured no
    # slower without it either (PERF.md "Per-search driver cost").
    "spark.sql.codegen.wholeStage": "false",
}

# The directory holding this package. Python workers need it on their path
# to import the daemon above, whatever the driver's working directory.
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(app_name: str = "stac-spark-engine", master: str | None = None) -> SparkSession:
    """Return the shared SparkSession, creating it on first call.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or local[*])
    when no session exists; inside a cluster deployment the active
    session is simply returned.
    """
    active = SparkSession.getActiveSession()
    if active is not None:
        return active

    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"

    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in _LOCAL_DEFAULTS.items():
        builder = builder.config(k, v)
    return builder.config("spark.executorEnv.PYTHONPATH", _worker_pythonpath()).getOrCreate()


def _worker_pythonpath() -> str:
    """The package root ahead of the ``spark.executorEnv.PYTHONPATH`` a
    running JVM already holds (one left by a session stopped earlier in
    this process). Workers also inherit the driver's ``PYTHONPATH``."""
    prior = SparkConf().get("spark.executorEnv.PYTHONPATH") or ""
    paths = [_PACKAGE_ROOT] + [p for p in prior.split(os.pathsep) if p and p != _PACKAGE_ROOT]
    return os.pathsep.join(paths)
