"""Scaling probe: time representative queries (``tagged("scale_probe")``
in plans/entry_queries.py) across the three graded scale factors and
report the observed scaling exponent.

For each query, fits time ≈ a · (rows)^b between sf0.01 and sf0.1
(10× data). b ≈ 1 → linear in data (the operator's asymptotic cost is
the scan/shuffle, as designed); b ≈ 0 → fixed-overhead-dominated at
these sizes (the per-job floor, which amortizes away at cluster
scale); b > 1 would flag super-linear work — none should.

Usage: PYTHONPATH=/root/repo python tools/scale_probe.py
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("SPARK_GRAFT_CACHE_INPUTS", "1")

from stac_fastapi_duckdb_spark.plans import entry_queries as eq
from stac_fastapi_duckdb_spark.plans.entry_queries import force
from stac_fastapi_duckdb_spark.session import get_spark

SFS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"]

def main() -> None:
    spark = get_spark("scale-probe")
    spark.sparkContext.setLogLevel("ERROR")
    out = {}
    for name in eq.tagged("scale_probe"):
        fn = eq.QUERIES[name]
        times = []
        for sf in SFS:
            force(fn(spark, sf))  # warm
            best = min(
                (lambda t0=time.perf_counter(): (force(fn(spark, sf)), time.perf_counter() - t0)[1])()
                for _ in range(2)
            )
            times.append(round(best, 4))
        # exponent over the last decade (sf0.01 → sf0.1, 10× rows)
        b = math.log10(times[2] / times[1]) if times[1] > 0 else float("nan")
        out[name] = {
            "sf0.001": times[0],
            "sf0.01": times[1],
            "sf0.1": times[2],
            "scaling_exponent": round(b, 3),
        }
        print(
            f"{name:22s} {times[0]:7.3f}s {times[1]:7.3f}s {times[2]:7.3f}s  b={b:.2f}",
            flush=True,
        )
    print(json.dumps({"metric": "scaling_probe", "probes": out}))


if __name__ == "__main__":
    main()
