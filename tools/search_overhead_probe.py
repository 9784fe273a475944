"""What one STAC search costs on the driver before and around its one
``collect``, with and without whole-stage codegen and call-site capture.

    PYTHONPATH=. python tools/search_overhead_probe.py [--seed 1] [--reps 7]

The catalog is the benchmark's (``perfbench/catalog.py``: three
collections, 72k items), written to a temporary directory. Two searches
are timed, each with the literals of the previous run repeated and with
fresh ones drawn per run:

- ``attr``: CQL2-JSON (cloud cover < x AND platform IN (...)) + datetime;
- ``bbox``: bbox + datetime (the envelope prefilter and the exact refine).

Whole-stage codegen (``spark.sql.codegen.wholeStage``, off in sessions
from ``get_spark``) is measured on and off by setting it on the session.
Call-site capture (``spark.python.sql.dataFrameDebugging.enabled``) is
measured on and off; PySpark reads it once per process into
``pyspark.errors.utils._enable_debugging_cache``, which is what is set.
Whole-stage on with capture on is how sessions ran before both were
turned off.

Per variant, medians over ``--reps`` runs after one warm-up:
``round_trips_before_collect`` / ``round_trips`` (py4j commands, without
the release notices Python's garbage collector sends), ``build_ms``
(time before ``collect``), ``compiles`` and ``compile_ms`` (Janino,
driver and tasks: ``CodegenMetrics`` and ``CodeGenerator.compileTime``),
``collect_ms``. Prints one JSON line of stamps, then one per variant.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

import numpy as np


class Meter:
    """py4j commands and the wall time up to and through ``collect``."""

    def __init__(self) -> None:
        import pyspark.sql.classic.dataframe as classic
        from py4j.clientserver import ClientServerConnection

        self.sent = 0
        self.at_collect: tuple[int, float] | None = None
        self.collect_ms = 0.0
        send, collect = ClientServerConnection.send_command, classic.DataFrame.collect
        meter = self

        def counting(conn, command):
            if not command.startswith("m\nd\n"):  # a release notice from Python's GC
                meter.sent += 1
            return send(conn, command)

        def timed_collect(df):
            if meter.at_collect is None:
                meter.at_collect = (meter.sent, time.perf_counter())
            t = time.perf_counter()
            try:
                return collect(df)
            finally:
                meter.collect_ms += (time.perf_counter() - t) * 1e3

        ClientServerConnection.send_command = counting
        classic.DataFrame.collect = timed_collect

    def run(self, spark, fn) -> dict:
        jvm = spark._jvm
        metrics = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        n0, ns0 = metrics.getCount(), codegen.compileTime()
        self.sent, self.at_collect, self.collect_ms = 0, None, 0.0
        t0 = time.perf_counter()
        fn()
        sent = self.sent
        before, t_collect = self.at_collect or (sent, time.perf_counter())
        return {
            "round_trips_before_collect": before,
            "round_trips": sent,
            "build_ms": (t_collect - t0) * 1e3,
            "compiles": metrics.getCount() - n0,
            "compile_ms": (codegen.compileTime() - ns0) / 1e6,
            "collect_ms": self.collect_ms,
        }


def searches(rng: np.random.Generator):
    """→ {kind: (repeated args, draw of fresh args)}."""
    from perfbench import catalog as C
    from perfbench.oracle import iso_us

    def interval(lo_us: int) -> str:
        return f"{iso_us(lo_us)}/{iso_us(lo_us + 365 * C.DAY_US)}"

    def draw_dt() -> str:
        return interval(C.EPOCH_US + int(rng.integers(0, C.SPAN_US - 365 * C.DAY_US)))

    def attr(cloud: float, dt: str) -> dict:
        flt = {"op": "and", "args": [
            {"op": "<", "args": [{"property": "eo:cloud_cover"}, cloud]},
            {"op": "in", "args": [{"property": "platform"}, ["landsat-8", "sentinel-2a"]]},
        ]}
        return {"cql2_filter": flt, "datetime_interval": dt, "limit": 10}

    def bbox(x: float, y: float, dt: str) -> dict:
        return {"bbox": [x, y, x + 3.0, y + 3.0], "datetime_interval": dt, "limit": 10}

    def draw_xy() -> tuple[float, float]:
        w, s, e, n = C.REGION
        return round(float(rng.uniform(w, e - 3)), 6), round(float(rng.uniform(s, n - 3)), 6)

    fixed_dt = interval(C.EPOCH_US + 400 * C.DAY_US)
    return {
        "attr": (attr(20.5, fixed_dt), lambda: attr(round(float(rng.uniform(5, 30)), 1), draw_dt())),
        "bbox": (bbox(-80.0, 0.0, fixed_dt), lambda: bbox(*draw_xy(), draw_dt())),
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--reps", type=int, default=7)
    args = ap.parse_args()

    import pyspark
    import pyspark.errors.utils as pyspark_errors

    from perfbench import catalog as C
    from stac_fastapi_duckdb_spark.operators.search import execute_search
    from stac_fastapi_duckdb_spark.session import get_spark
    from stac_fastapi_duckdb_spark.sources.catalog import CollectionCatalog

    work = tempfile.mkdtemp(prefix="search_overhead_")
    try:
        urls = {}
        for cid, items in C.generate(args.seed).items():
            urls[cid] = os.path.join(work, f"{cid}.parquet")
            C.write_collection(items, urls[cid])
        spark = get_spark("search-overhead-probe")
        spark.sparkContext.setLogLevel("ERROR")
        print(json.dumps({
            "stamps": {
                "nproc": os.cpu_count(), "master": spark.sparkContext.master,
                "pyspark": pyspark.__version__, "python": sys.version.split()[0],
                "loadavg": os.getloadavg(), "seed": args.seed, "reps": args.reps,
            }
        }), flush=True)
        meter = Meter()
        rng = np.random.default_rng([args.seed, 14])
        kinds = searches(rng)
        for whole_stage in (True, False):
            spark.conf.set("spark.sql.codegen.wholeStage", str(whole_stage).lower())
            cat = CollectionCatalog(spark, urls)
            for capture in (True, False):
                pyspark_errors._enable_debugging_cache = capture
                for kind, (repeated, fresh) in kinds.items():
                    for literals in ("repeated", "fresh"):
                        draw = (lambda: repeated) if literals == "repeated" else fresh
                        execute_search(cat, **draw())  # warm-up
                        runs = []
                        for _ in range(args.reps):
                            search = draw()
                            runs.append(meter.run(spark, lambda: execute_search(cat, **search)))
                        row = {k: round(statistics.median(r[k] for r in runs), 1) for k in runs[0]}
                        print(json.dumps({"whole_stage": whole_stage, "capture": capture, "search": kind,
                                          "literals": literals, **row}), flush=True)
        pyspark_errors._enable_debugging_cache = None
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
