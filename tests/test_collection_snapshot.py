"""One snapshot per collection (``CollectionCatalog._snapshot``): search,
the Spark item read and the driver-side point read serve from the same
file listing (Spark's own), so every id a search returns GETs back with
the same feature, and an id no search returns is a 404."""

from __future__ import annotations

import datetime as dt
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from stac_fastapi_duckdb_spark.api import create_app
from stac_fastapi_duckdb_spark.functions import geo
from stac_fastapi_duckdb_spark.operators import execute_search
from stac_fastapi_duckdb_spark.operators.search import get_one_item
from stac_fastapi_duckdb_spark.sources import CollectionCatalog
from stac_fastapi_duckdb_spark.sources.catalog import PointReadUnavailable
from stac_fastapi_duckdb_spark.stac import create_stac_item

UTC = dt.timezone.utc


def _write(path: str, ids: list) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    n = len(ids)
    pq.write_table(
        pa.table(
            {
                "id": ids,
                "geometry": pa.array([geo.point_wkb(i, i) for i in range(n)], pa.binary()),
                "datetime": pa.array([dt.datetime(2020, 1, 1 + i, tzinfo=UTC) for i in range(n)]),
            }
        ),
        path,
    )


def _unsuffixed(d: str) -> list:
    _write(f"{d}/part-0.parquet", ["a0", "a1"])
    _write(f"{d}/part-1", ["b0", "b1"])  # no .parquet suffix
    return ["a0", "a1", "b0", "b1"]


def _staging_and_partition(d: str) -> list:
    _write(f"{d}/part-0.parquet", ["a0", "a1"])
    _write(f"{d}/_staging.parquet", ["z0"])  # hidden from Spark's listing
    _write(f"{d}/year=2021/part-0.parquet", ["y0"])  # a partition directory
    return ["a0", "a1", "z0", "y0"]


def _int64_id(d: str) -> list:
    _write(f"{d}/part-0.parquet", [1, 2])
    return [1, 2]


def _search_features(client, cid: str) -> list[dict]:
    resp = client.get(f"/search?collections={cid}&limit=100")
    assert resp.status_code == 200
    return resp.get_json()["features"]


@pytest.mark.parametrize("layout", [_unsuffixed, _staging_and_partition, _int64_id])
def test_every_searched_id_gets_back_and_no_other(spark, tmp_path, layout):
    d = str(tmp_path / "c")
    written = layout(d)
    client = create_app(CollectionCatalog(spark, {"c": d})).test_client()
    features = _search_features(client, "c")
    assert features, "the search returns nothing"
    for feature in features:
        resp = client.get(f"/collections/c/items/{feature['id']}")
        assert resp.status_code == 200, (feature["id"], resp.status_code)
        assert resp.get_json() == feature
    returned = {f["id"] for f in features}
    for iid in [w for w in written if w not in returned] + ["nope"]:
        assert client.get(f"/collections/c/items/{iid}").status_code == 404, iid


def test_unsuffixed_file_is_searched_and_read(spark, tmp_path):
    d = str(tmp_path / "c")
    _unsuffixed(d)
    cat = CollectionCatalog(spark, {"c": d})
    client = create_app(cat).test_client()
    assert sorted(f["id"] for f in _search_features(client, "c")) == ["a0", "a1", "b0", "b1"]
    assert cat.point_read("c", "b1")["id"] == "b1"  # served driver-side


def test_int64_id_is_answered_by_the_spark_read(spark, tmp_path):
    d = str(tmp_path / "c")
    _int64_id(d)
    cat = CollectionCatalog(spark, {"c": d})
    with pytest.raises(PointReadUnavailable, match="not a string column"):
        cat.point_read("c", "2")
    resp = create_app(cat).test_client().get("/collections/c/items/2")
    assert resp.status_code == 200 and resp.get_json()["id"] == 2


def test_readers_share_one_listing_until_register(spark, tmp_path):
    """A file landed without ``register`` is seen by no reader; after
    ``register`` by all of them."""
    d = str(tmp_path / "c")
    _write(f"{d}/part-0.parquet", ["a0", "a1"])
    cat = CollectionCatalog(spark, {"c": d})
    client = create_app(cat).test_client()
    assert {f["id"] for f in _search_features(client, "c")} == {"a0", "a1"}
    _write(f"{d}/part-1.parquet", ["b0"])
    assert {f["id"] for f in _search_features(client, "c")} == {"a0", "a1"}
    assert client.get("/collections/c/items/b0").status_code == 404
    assert client.get("/collections/c/items/a1").status_code == 200
    cat.register("c", d)
    assert {f["id"] for f in _search_features(client, "c")} == {"a0", "a1", "b0"}
    assert client.get("/collections/c/items/b0").status_code == 200


@pytest.fixture()
def client(catalog):
    return create_app(catalog).test_client()


def test_repeated_collection_id_searched_once(client):
    one = client.get("/search?collections=col-a&limit=100").get_json()
    two = client.get("/search?collections=col-a,col-a&limit=100").get_json()
    assert one["numMatched"] == 20
    assert two["numMatched"] == one["numMatched"]
    assert two["features"] == one["features"]
    posted = client.post("/search", json={"collections": ["col-a", "col-a"], "limit": 100}).get_json()
    assert posted["numMatched"] == one["numMatched"]
    assert posted["features"] == one["features"]


def test_repeated_collection_id_aggregated_once(client):
    def total(resp):
        aggs = {a["name"]: a for a in resp.get_json()["aggregations"]}
        return aggs["total_count"]["value"]

    assert total(client.get("/aggregate?collections=col-a,col-a")) == 20
    assert total(client.post("/aggregate", json={"collections": ["col-a", "col-a"]})) == 20


def test_nested_nanosecond_timestamps_are_instants_on_every_reader(spark, tmp_path):
    """A ``timestamp[ns]`` in a struct, a list, a map value and a map key
    is an aware UTC instant at µs in search rows and on both item
    readers, and serializes as RFC 3339."""
    ns = 1577836800123456789
    at = dt.datetime(2020, 1, 1, 0, 0, 0, 123456, tzinfo=UTC)
    path = str(tmp_path / "nested.parquet")
    pq.write_table(
        pa.table(
            {
                "id": ["n0"],
                "geometry": pa.array([geo.point_wkb(1, 2)], pa.binary()),
                "s": pa.array([{"at": ns}], pa.struct([("at", pa.timestamp("ns", tz="UTC"))])),
                "l": pa.array([[ns, None]], pa.list_(pa.timestamp("ns"))),
                "m": pa.array([[("k", ns)]], pa.map_(pa.string(), pa.timestamp("ns", tz="UTC"))),
                "mk": pa.array([[(ns, 1)]], pa.map_(pa.timestamp("ns", tz="UTC"), pa.int64())),
            }
        ),
        path,
    )
    cat = CollectionCatalog(spark, {"c": path})
    rows, _, _ = execute_search(cat, collection_ids=["c"], limit=10)
    fast = cat.point_read("c", "n0")
    orig = cat.point_read
    cat.point_read = lambda *a, **k: (_ for _ in ()).throw(PointReadUnavailable("forced"))
    try:
        slow = get_one_item(cat, "c", "n0")
    finally:
        cat.point_read = orig
    for row in (rows[0], fast, slow):
        assert row["s"] == {"at": at}
        assert row["l"] == [at, None]
        assert row["m"] == {"k": at}
        assert row["mk"] == {at: 1}
        props = create_stac_item({k: v for k, v in row.items() if k != "mk"})["properties"]
        assert props["s"] == {"at": "2020-01-01T00:00:00.123456Z"}
        assert props["m"] == {"k": "2020-01-01T00:00:00.123456Z"}


def test_a_file_landed_between_a_cold_get_and_the_first_search(spark, tmp_path):
    """A cold item GET lists the files without building the search plan;
    when the plan's later listing differs, both readers take the plan's."""
    d = str(tmp_path / "c")
    _write(f"{d}/part-0.parquet", ["a0", "a1"])
    cat = CollectionCatalog(spark, {"c": d})
    client = create_app(cat).test_client()
    assert client.get("/collections/c/items/a1").status_code == 200
    _write(f"{d}/part-1.parquet", ["b0"])
    features = {f["id"]: f for f in _search_features(client, "c")}
    assert set(features) == {"a0", "a1", "b0"}
    resp = client.get("/collections/c/items/b0")
    assert resp.status_code == 200 and resp.get_json() == features["b0"]
    with pytest.raises(PointReadUnavailable, match="changed"):
        cat.point_read("c", "b0")


def test_single_table_catalog_keeps_no_snapshot(spark, tmp_path):
    from pyspark.sql import functions as F

    d = str(tmp_path / "c")
    _write(f"{d}/part-0.parquet", ["a0", "a1"])
    cat = CollectionCatalog.from_table(spark, spark.read.parquet(d).withColumn("collection", F.lit("c")))
    assert [r["id"] for r in cat.items_df("c").orderBy("id").collect()] == ["a0", "a1"]
    assert cat.items_df("x").count() == 0
    with pytest.raises(PointReadUnavailable, match="single-table"):
        cat.point_read("y", "a0")
    assert cat._snapshots == {}  # an id per request adds nothing to keep
