"""The fixed driver cost of one STAC search, pinned.

Two per-request costs that do not depend on the data are kept off the
serving path (PERF.md "Per-search driver cost"):

- PySpark's call-site capture: with it on, every ``F.col`` / ``F.lit``
  walks the Python stack and makes ~5 extra py4j round trips.
- Whole-stage codegen: it splices each request's numeric and timestamp
  literals into the generated Java, so every new bbox or datetime
  compiled several classes. Sessions built by ``get_spark`` run without
  it.
"""

from __future__ import annotations

import itertools
import re

from py4j.clientserver import ClientServerConnection

from stac_fastapi_duckdb_spark.operators.search import SearchBuilder, execute_search

RANGE = "2019-01-01T00:00:00Z/2023-01-01T00:00:00Z"
# A warm cql2 + datetime search makes 88 round trips with capture off
# and 328 with it on (4 cores, PySpark 4.1.2).
ROUND_TRIP_BUDGET = 150
_WSCG = re.compile(r"\*\(\d+\) ")  # a node inside a whole-stage codegen stage
_fresh = itertools.count(1)


def _cql2(threshold: float) -> dict:
    return {"op": ">=", "args": [{"property": "cloud_cover"}, threshold]}


def _fresh_search(catalog) -> dict:
    """Run a cql2 + datetime + bbox search whose numeric and timestamp
    literals no earlier search used; → its arguments."""
    k = next(_fresh)
    args = dict(
        cql2_filter=_cql2(5.0 + k / 1024),
        datetime_interval=f"2019-01-01T00:{k // 60:02d}:{k % 60:02d}Z/2023-01-01T00:00:00Z",
        bbox=[-66.0 - k / 1024, -16.0, -60.0, -8.0],
    )
    execute_search(catalog, **args)
    return args


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_get_spark_session_turns_call_site_capture_off(spark):
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert is_debugging_enabled() is False


def test_search_stays_under_round_trip_budget(catalog, monkeypatch):
    search = dict(cql2_filter=_cql2(10.0), datetime_interval=RANGE, limit=5)
    first = execute_search(catalog, **search)  # warms the source cache
    sent: list[str] = []
    send = ClientServerConnection.send_command

    def counting(self, command):
        sent.append(command)
        return send(self, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    assert execute_search(catalog, **search) == first
    monkeypatch.undo()
    # py4j's release notices for collected Python proxies ("m\nd\n") come
    # whenever Python's garbage collector runs; they build nothing
    calls = [c for c in sent if not c.startswith("m\nd\n")]
    assert len(calls) <= ROUND_TRIP_BUDGET, len(calls)


def test_catalog_plans_skip_whole_stage_codegen(spark, catalog, stac_dirs):
    urls, _ = stac_dirs
    assert spark.conf.get("spark.sql.codegen.wholeStage") == "false"
    df = SearchBuilder(catalog).apply_datetime(RANGE).apply_cql2(_cql2(10.0)).dataframe()
    assert "Filter" in _plan(df)
    assert not _WSCG.search(_plan(df)), _plan(df)
    # control: the same read on a session with whole-stage codegen on
    # shows its codegen stages
    coded = spark.newSession()
    coded.conf.set("spark.sql.codegen.wholeStage", "true")
    control = coded.read.parquet(urls["col-a"]).filter("cloud_cover >= 10.0")
    assert _WSCG.search(_plan(control)), _plan(control)


def test_fresh_literals_compile_at_most_one_class_per_search(spark, catalog):
    _fresh_search(catalog)  # the first search also compiles the scan's projections
    before = _compiles(spark)
    for _ in range(3):
        args = _fresh_search(catalog)
    assert _compiles(spark) - before <= 3
    before = _compiles(spark)
    execute_search(catalog, **args)  # the same literals again compile nothing
    assert _compiles(spark) == before
