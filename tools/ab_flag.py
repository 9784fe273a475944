"""Interleaved A/B of an environment flag over selected queries.

The box this bench runs on carries 1.5-3x load jitter between runs, so
sequential before/after runs confound change with drift (the r11
lesson: a real win can measure as a loss). This harness times both
variants INTERLEAVED in one session — A,B,B,A,A,B,... per round — so
load drift hits both arms equally; the per-variant min over rounds is
the comparison.

Usage:
    PYTHONPATH=/root/repo python tools/ab_flag.py FLAG q1,q2,... [rounds]

FLAG is set to "1" for the B arm and removed for the A arm before each
query's DataFrame is (re)built, so flags read at plan-construction time
(e.g. SPARK_GRAFT_CACHE_INPUTS) take effect per invocation.
Timing = full materialization via the noop v2 sink (bench.py contract).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("SPARK_GRAFT_CACHE_INPUTS", "1")

from stac_fastapi_duckdb_spark.plans import entry_queries as eq
from stac_fastapi_duckdb_spark.plans.entry_queries import force
from stac_fastapi_duckdb_spark.session import get_spark


def main() -> None:
    flag = sys.argv[1]
    names = sys.argv[2].split(",")
    rounds = int(sys.argv[3]) if len(sys.argv) > 3 else 5
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    spark = get_spark("ab-flag")
    spark.sparkContext.setLogLevel("ERROR")

    def run(name: str, arm: str) -> float:
        if arm == "B":
            os.environ[flag] = "1"
        else:
            os.environ.pop(flag, None)
        try:
            # plan construction INSIDE the timed region, exactly like
            # bench.py (eager work such as localCheckpoint() runs at
            # construction — excluding it would time a different thing)
            spark.sparkContext.setJobDescription(f"{name} [{arm}]")
            t0 = time.perf_counter()
            force(eq.QUERIES[name](spark, sf_dir))
            return round(time.perf_counter() - t0, 4)
        finally:
            os.environ.pop(flag, None)
            spark.sparkContext.setJobDescription(None)

    # warm both arms (codegen, caches)
    for name in names:
        run(name, "A")
        run(name, "B")

    res: dict[str, dict[str, list[float]]] = {
        n: {"A": [], "B": []} for n in names
    }
    for r in range(rounds):
        order = ("A", "B") if r % 2 == 0 else ("B", "A")
        for name in names:
            for arm in order:
                res[name][arm].append(run(name, arm))

    la = [round(x, 2) for x in os.getloadavg()]
    out = {"flag": flag, "rounds": rounds, "loadavg_end": la, "queries": {}}
    for name in names:
        a, b = res[name]["A"], res[name]["B"]
        out["queries"][name] = {
            "A_min": min(a), "B_min": min(b),
            "A_med": statistics.median(a), "B_med": statistics.median(b),
            "B_over_A_min": round(min(b) / min(a), 3),
            "A": a, "B": b,
        }
    print(json.dumps(out, indent=1))


if __name__ == "__main__":
    main()
