"""Print the optimized Spark plan behind every search request of the
benchmark's ``stac_search`` workload, normalised for expression ids and
observation names, so the output of two checkouts can be diffed: a
change to the request path that keeps its plans prints the same text.

Each request goes through the HTTP app (``api.create_app``) on the
workload's generated catalog; the plan of every ``DataFrame.collect``
it triggers is recorded. Single-item GETs are answered without Spark
and print no plan.

    PYTHONPATH=. python tools/request_plans.py --seed 1 > plans.txt
"""

from __future__ import annotations

import argparse
import re
import sys
import tempfile

_IDS = re.compile(r"#\d+L?")
_UUID = re.compile(r"[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--decks", type=int, default=1, help="request decks to send")
    args = ap.parse_args()

    import pyspark.sql.classic.dataframe as classic

    from perfbench.stac import StacRun
    from perfbench.traffic import RequestStream
    from stac_fastapi_duckdb_spark.session import get_spark

    plans: list[str] = []
    collect = classic.DataFrame.collect

    def recording_collect(self):
        plans.append(self._jdf.queryExecution().optimizedPlan().toString())
        return collect(self)

    with tempfile.TemporaryDirectory() as work:
        run = StacRun(args.seed, work)
        spark = get_spark("request-plans")
        spark.sparkContext.setLogLevel("ERROR")
        run.start(spark)
        run.build()
        stream = RequestStream(args.seed, run.base)
        classic.DataFrame.collect = recording_collect
        try:
            for _ in range(args.decks):
                for spec in stream.deck():
                    del plans[:]
                    run.send(spec, "plans")
                    rec = run.records[-1]
                    print(f"== {spec['template']} {spec['method']} {spec['path'][:160]} "
                          f"{spec.get('body', '')[:160]} -> HTTP {rec.status}")
                    for plan in plans:
                        print(_UUID.sub("<uuid>", _IDS.sub("#", plan)))
        finally:
            classic.DataFrame.collect = collect
            spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
