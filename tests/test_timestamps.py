"""The timestamp contract (functions/timestamps.py): STAC answers do not
depend on the process time zone, nor on the precision a parquet file
stores its timestamps in.

The zone cases run in subprocesses (the Spark JVM and Python's
``time.localtime`` both take the zone at start) under a zone west of
UTC and one with a half-hour offset. Under UTC each of them passes
even when a naive value crosses the boundary, which is why the suite's
own session cannot show them.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from stac_fastapi_duckdb_spark.functions import geo

UTC = dt.timezone.utc
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ZONES = ("America/New_York", "Asia/Kolkata")

# Seven items two hours apart from 2020-01-01T00:00:00Z, so an instant
# read in the process zone (-5 h or +5:30) matches none of them and
# moves a keyset bound past or before a neighbour; i6 has no datetime
# (a later interval only), so the datetime walk crosses the NULLS LAST
# region too. Prints the answers as JSON; the test asserts on them.
_SCRIPT = r"""
import datetime as dt, json, sys
import pyarrow as pa, pyarrow.parquet as pq
from stac_fastapi_duckdb_spark.functions import geo
from stac_fastapi_duckdb_spark.operators.pagination import keyset_token
from stac_fastapi_duckdb_spark.operators.search import execute_search, get_one_item
from stac_fastapi_duckdb_spark.session import get_spark
from stac_fastapi_duckdb_spark.sources import CollectionCatalog
from stac_fastapi_duckdb_spark.sources.catalog import PointReadUnavailable
from stac_fastapi_duckdb_spark.stac import create_stac_item

UTC = dt.timezone.utc
path = sys.argv[1] + "/zone.parquet"
t0 = dt.datetime(2020, 1, 1, tzinfo=UTC)
n = 7
pq.write_table(pa.table({
    "id": [f"i{k}" for k in range(n)],
    "geometry": pa.array([geo.point_wkb(k, k) for k in range(n)], pa.binary()),
    "datetime": pa.array([t0 + dt.timedelta(hours=2 * k) if k < n - 1 else None for k in range(n)],
                         pa.timestamp("us", tz="UTC")),
    "start_datetime": pa.array([None] * (n - 1) + [t0 + dt.timedelta(days=1)], pa.timestamp("us", tz="UTC")),
    "end_datetime": pa.array([None] * (n - 1) + [t0 + dt.timedelta(days=2)], pa.timestamp("us", tz="UTC")),
}), path)

spark = get_spark("tz-contract")
spark.sparkContext.setLogLevel("ERROR")
cat = CollectionCatalog(spark, {"z": path})
out = {}

_, out["exact_matched"], _ = execute_search(
    cat, datetime_interval="2020-01-01T00:00:00Z/2020-01-01T00:00:00Z", limit=10)

def dt_of(row):
    return create_stac_item(row)["properties"].get("datetime")

row, _, _ = execute_search(cat, item_ids=["i0"], limit=1)
out["search_datetime"] = dt_of(row[0])
out["point_read_datetime"] = dt_of(get_one_item(cat, "z", "i0"))
cat.point_read = lambda *a, **k: (_ for _ in ()).throw(PointReadUnavailable("forced"))
out["spark_read_datetime"] = dt_of(get_one_item(cat, "z", "i0"))

def walk(keyset):
    ids, token = [], None
    for _ in range(3 * n):
        page, _, token = execute_search(cat, sortby=["datetime"], limit=2, token=token)
        ids += [r["id"] for r in page]
        if token is None:
            return ids
        if keyset and not token.startswith("ks:"):
            token = keyset_token([page[-1]["datetime"], page[-1]["id"]])
    return ids

out["keyset_walk"], out["offset_walk"] = walk(True), walk(False)
spark.stop()
print("RESULT " + json.dumps(out))
"""


@pytest.fixture(scope="module")
def zone_answers(tmp_path_factory):
    """The script's answers per zone; the two subprocesses run at once."""
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        SPARK_GRAFT_CPUS="1",
        SPARK_GRAFT_DRIVER_MEM="1g",
    )
    procs = {
        zone: subprocess.Popen(
            [sys.executable, "-c", _SCRIPT, str(tmp_path_factory.mktemp("tz"))],
            env=dict(env, TZ=zone),
            stdout=subprocess.PIPE,
            stderr=subprocess.PIPE,
            text=True,
        )
        for zone in ZONES
    }
    answers = {}
    for zone, proc in procs.items():
        stdout, stderr = proc.communicate(timeout=600)
        lines = [ln for ln in stdout.splitlines() if ln.startswith("RESULT ")]
        assert proc.returncode == 0 and lines, (zone, stderr[-3000:])
        answers[zone] = json.loads(lines[-1][len("RESULT "):])
    return answers


@pytest.mark.parametrize("zone", ZONES)
def test_exact_instant_search_matches_under_any_zone(zone_answers, zone):
    assert zone_answers[zone]["exact_matched"] == 1


@pytest.mark.parametrize("zone", ZONES)
def test_both_readers_serialize_the_stored_instant_under_any_zone(zone_answers, zone):
    got = zone_answers[zone]
    assert got["search_datetime"] == "2020-01-01T00:00:00Z"
    assert got["point_read_datetime"] == "2020-01-01T00:00:00Z"
    assert got["spark_read_datetime"] == "2020-01-01T00:00:00Z"


@pytest.mark.parametrize("zone", ZONES)
def test_datetime_keyset_walk_returns_each_item_once_under_any_zone(zone_answers, zone):
    got = zone_answers[zone]
    want = [f"i{k}" for k in range(7)]
    assert got["keyset_walk"] == want
    assert got["offset_walk"] == want


def test_nanosecond_collection_searches_aggregates_and_serializes(spark, tmp_path):
    """pyarrow and pandas write timestamp[ns] by default; the session
    reads such a column as epoch-ns longs. The catalog makes it a µs
    instant at the scan, and the point read gives the same value."""
    from stac_fastapi_duckdb_spark.api import create_app
    from stac_fastapi_duckdb_spark.sources import CollectionCatalog

    t0 = dt.datetime(2020, 1, 1, tzinfo=UTC)
    n = 5
    pq.write_table(
        pa.table(
            {
                "id": [f"n{k}" for k in range(n)],
                "geometry": pa.array([geo.point_wkb(k, k) for k in range(n)], pa.binary()),
                "datetime": pa.array(
                    [t0 + dt.timedelta(days=k, microseconds=k) for k in range(n)],
                    pa.timestamp("ns", tz="UTC"),
                ),
            }
        ),
        tmp_path / "ns.parquet",
    )
    assert spark.read.parquet(str(tmp_path / "ns.parquet")).schema["datetime"].dataType.typeName() == "long"
    client = create_app(CollectionCatalog(spark, {"ns": str(tmp_path / "ns.parquet")})).test_client()

    resp = client.get("/search?datetime=2020-01-02T00:00:00Z/2020-01-04T00:00:00Z&limit=10")
    assert resp.status_code == 200, resp.get_data(as_text=True)
    data = resp.get_json()
    assert data["numMatched"] == 2  # n1, n2 (n3 is 3 µs past the bound)
    assert [f["properties"]["datetime"] for f in data["features"]] == [
        "2020-01-02T00:00:00.000001Z",
        "2020-01-03T00:00:00.000002Z",
    ]

    resp = client.get("/aggregate?collections=ns&aggregations=total_count,datetime_min,datetime_max")
    assert resp.status_code == 200, resp.get_data(as_text=True)
    aggs = {a["name"]: a["value"] for a in resp.get_json()["aggregations"]}
    assert aggs == {
        "total_count": n,
        "datetime_min": "2020-01-01T00:00:00Z",
        "datetime_max": "2020-01-05T00:00:00Z",
    }

    resp = client.get("/collections/ns/items/n4")  # the point read
    assert resp.status_code == 200
    assert resp.get_json()["properties"]["datetime"] == "2020-01-05T00:00:00.000004Z"
