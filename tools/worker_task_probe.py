"""What one Python task costs before its user code runs, under PySpark's
stock ``pyspark.daemon`` and under the session's daemon
(``stac_fastapi_duckdb_spark.worker_daemon``).

    PYTHONPATH=. python tools/worker_task_probe.py [--rounds 2] [--reps 7]

Each round starts one session per daemon, alternating which goes first,
and times (median of ``--reps`` after one warm-up, in ms):

- ``invalidate_ms``: ``importlib.invalidate_caches()`` inside a task, the
  call ``pyspark.worker_util.setup_spark_files`` makes before every task;
- ``jvm_count_ms``: ``spark.range(1).count()``, a job with no Python task;
- ``rdd_noop_1p_ms`` / ``rdd_noop_16p_ms``: an RDD job whose 1 / 16 Python
  tasks do nothing;
- ``noop_udf_<n>_ms`` / ``exact_udf_<n>_ms``: one task filtering ``n``
  candidate polygons by a pandas UDF that returns True, and by the
  spatial refine (``operators/spatial.py::_intersects_udf``).

``reread_ms_by_archive`` prices what the stock daemon pays per task for
each zip archive on the worker path: importers x one directory read.
Prints one JSON line per session.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
from unittest import mock

import pandas as pd

STOCK, PACKAGE = "pyspark.daemon", "stac_fastapi_duckdb_spark.worker_daemon"
CANDIDATES = (27, 122)


def _ms(fn, reps: int) -> float:
    fn()  # plan caches, worker imports
    times = []
    for _ in range(reps):
        t = time.perf_counter()
        fn()
        times.append((time.perf_counter() - t) * 1e3)
    return round(statistics.median(times), 1)


def _in_task(_):
    import importlib
    import zipimport

    t = time.perf_counter()
    importlib.invalidate_caches()
    invalidate = (time.perf_counter() - t) * 1e3
    importers: dict[str, int] = {}
    for finder in list(sys.path_importer_cache.values()):
        if isinstance(finder, zipimport.zipimporter):
            importers[finder.archive] = importers.get(finder.archive, 0) + 1
    reread = {}
    for archive, n in importers.items():
        t = time.perf_counter()
        zipimport._read_directory(archive)
        reread[os.path.basename(archive)] = [n, round(n * (time.perf_counter() - t) * 1e3, 1)]
    return invalidate, reread


def probe(daemon: str, reps: int) -> dict:
    from pyspark.sql import functions as F

    from stac_fastapi_duckdb_spark import session
    from stac_fastapi_duckdb_spark.functions import geo
    from stac_fastapi_duckdb_spark.operators.spatial import _intersects_udf

    with mock.patch.dict(session._LOCAL_DEFAULTS, {"spark.python.daemon.module": daemon}):
        spark = session.get_spark("worker-task-probe")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    try:
        sc.parallelize([0], 1).map(lambda x: x).count()  # start the daemon
        samples = [sc.parallelize([0], 1).map(_in_task).first() for _ in range(reps)]
        out = {
            "daemon": daemon,
            "invalidate_ms": round(statistics.median(s[0] for s in samples), 2),
            "reread_ms_by_archive": samples[-1][1],
            "jvm_count_ms": _ms(lambda: spark.range(1).count(), reps),
            "rdd_noop_1p_ms": _ms(lambda: sc.parallelize([0], 1).map(lambda x: x).count(), reps),
            "rdd_noop_16p_ms": _ms(lambda: sc.parallelize(range(16), 16).map(lambda x: x).count(), reps),
        }

        @F.pandas_udf("boolean")
        def noop(wkb: pd.Series) -> pd.Series:
            return pd.Series(True, index=wkb.index)

        query = json.dumps({"type": "Polygon",
                            "coordinates": [[[0, 0], [5, 0], [5, 5], [0, 5], [0, 0]]]})
        exact = _intersects_udf(query)
        for n in CANDIDATES:
            rows = [(geo.polygon_wkb([[(x, x), (x + 1, x), (x + 1, x + 1), (x, x + 1), (x, x)]]),)
                    for x in (i * 10.0 / n for i in range(n))]
            df = spark.createDataFrame(rows, "geometry binary").coalesce(1).cache()
            df.count()
            for name, udf in (("noop", noop), ("exact", exact)):
                out[f"{name}_udf_{n}_ms"] = _ms(lambda: df.filter(udf("geometry")).count(), reps)
            df.unpersist()
        return out
    finally:
        spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--rounds", type=int, default=2)
    ap.add_argument("--reps", type=int, default=7)
    ap.add_argument("--daemon", help=argparse.SUPPRESS)  # one session, in a child process
    args = ap.parse_args()
    if args.daemon:
        print(json.dumps(probe(args.daemon, args.reps)))
        return
    for r in range(args.rounds):
        for daemon in (STOCK, PACKAGE) if r % 2 == 0 else (PACKAGE, STOCK):
            cmd = [sys.executable, __file__, "--daemon", daemon, "--reps", str(args.reps)]
            done = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=True)
            line = json.loads(done.stdout.strip().splitlines()[-1])
            line.update(round=r, loadavg=os.getloadavg())
            print(json.dumps(line), flush=True)


if __name__ == "__main__":
    main()
