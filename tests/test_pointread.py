"""Equivalence tests for the driver-side point-lookup fast path
(CollectionCatalog.point_read): same dict as the distributed plan,
same NotFound behavior, clean fallback when the shape is unservable."""

from __future__ import annotations

import datetime as dt

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from stac_fastapi_duckdb_spark.errors import NotFoundError
from stac_fastapi_duckdb_spark.functions import geo
from stac_fastapi_duckdb_spark.functions.timestamps import to_utc
from stac_fastapi_duckdb_spark.operators.search import get_one_item
from stac_fastapi_duckdb_spark.sources import CollectionCatalog
from stac_fastapi_duckdb_spark.sources.catalog import PointReadUnavailable
from stac_fastapi_duckdb_spark.stac import create_stac_item

UTC = dt.timezone.utc


@pytest.fixture(scope="module")
def collection_dir(tmp_path_factory):
    """Three id-sorted parquet files (the compacted layout) with the
    full STAC type zoo: binary geometry, list bbox, nullable tz
    timestamps, a nested struct."""
    d = tmp_path_factory.mktemp("pointread")
    for part in range(3):
        rows = range(part * 10, part * 10 + 10)
        t = pa.table(
            {
                "id": pa.array([f"it-{i:03d}" for i in rows]),
                "geometry": pa.array(
                    [geo.box_wkb(i, i, i + 1.0, i + 1.0) for i in rows],
                    pa.binary(),
                ),
                "bbox": pa.array(
                    [[float(i), float(i), i + 1.0, i + 1.0] for i in rows],
                    pa.list_(pa.float64()),
                ),
                "datetime": pa.array(
                    [
                        dt.datetime(2021, 1, 1 + i % 27, tzinfo=UTC)
                        if i % 3
                        else None
                        for i in rows
                    ],
                    pa.timestamp("us", tz="UTC"),
                ),
                "props": pa.array(
                    [{"a": i, "b": f"v{i}"} for i in rows],
                    pa.struct([("a", pa.int64()), ("b", pa.string())]),
                ),
            }
        )
        pq.write_table(t, f"{d}/part-{part}.parquet")
    return str(d)


@pytest.fixture()
def catalog(spark, collection_dir):
    return CollectionCatalog(spark, {"demo": collection_dir})


def _spark_path_item(catalog, cid, iid):
    """The distributed answer: same API with the fast path disabled."""
    orig = catalog.point_read
    try:
        catalog.point_read = lambda *a, **k: (_ for _ in ()).throw(
            PointReadUnavailable("forced")
        )
        return get_one_item(catalog, cid, iid)
    finally:
        catalog.point_read = orig


@pytest.mark.parametrize("iid", ["it-000", "it-013", "it-029"])
def test_fast_path_matches_spark_plan(catalog, iid):
    fast = get_one_item(catalog, "demo", iid)
    slow = _spark_path_item(catalog, "demo", iid)
    assert fast == slow
    assert fast["collection"] == "demo"
    assert {k: type(v) for k, v in fast.items()} == {
        k: type(v) for k, v in slow.items()
    }
    assert fast["props"] == slow["props"]


def test_fast_path_serves_without_spark_job(catalog, spark):
    get_one_item(catalog, "demo", "it-005")  # builds the lazy manifest
    tracker = spark.sparkContext.statusTracker()
    before = len(tracker.getJobIdsForGroup(None) or [])
    item = get_one_item(catalog, "demo", "it-021")
    after = len(tracker.getJobIdsForGroup(None) or [])
    assert item["id"] == "it-021"
    assert after == before, "point lookup scheduled a Spark job"


def test_missing_item_not_found_both_paths(catalog):
    with pytest.raises(NotFoundError):
        get_one_item(catalog, "demo", "it-999")  # beyond every file's max
    with pytest.raises(NotFoundError):
        get_one_item(catalog, "demo", "it-0145")  # inside range, absent
    with pytest.raises(NotFoundError):
        _spark_path_item(catalog, "demo", "it-999")


def test_unknown_collection_raises(catalog):
    with pytest.raises(NotFoundError):
        get_one_item(catalog, "nope", "it-000")


def test_partitioned_catalog_falls_back(spark, collection_dir):
    df = spark.read.parquet(collection_dir).withColumn(
        "collection", __import__("pyspark.sql.functions", fromlist=["lit"]).lit("demo")
    )
    cat = CollectionCatalog.from_table(spark, df)
    with pytest.raises(PointReadUnavailable):
        cat.point_read("demo", "it-004")
    # the public API still answers through the distributed plan
    assert get_one_item(cat, "demo", "it-004")["id"] == "it-004"


def test_nulls_round_trip(catalog):
    # it-000: i % 3 == 0 → NULL datetime
    fast = get_one_item(catalog, "demo", "it-000")
    slow = _spark_path_item(catalog, "demo", "it-000")
    assert fast["datetime"] is None and slow["datetime"] is None


def test_point_lookup_latency_budget(catalog):
    """Standing serving-latency pin: the point lookup must stay a
    driver-side pyarrow row-group read in the low-millisecond range —
    a future artifact-tier or catalog change that silently puts a
    Spark job back on the hot path costs 100+ ms and fails this.
    Median over 20 iterations with a generous 50 ms budget so box
    load can't flake it (steady-state p50 is ~3 ms)."""
    import statistics
    import time

    get_one_item(catalog, "demo", "it-000")  # build the lazy manifest
    lat = []
    for k in range(20):
        t0 = time.perf_counter()
        get_one_item(catalog, "demo", f"it-{(k * 7) % 30:03d}")
        lat.append((time.perf_counter() - t0) * 1000)
    p50 = statistics.median(lat)
    assert p50 < 50, (
        f"point-lookup p50 {p50:.1f} ms — a Spark job is back on the "
        "serving hot path?"
    )


def _spark_jobs(spark) -> int:
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(None) or [])


def test_map_and_naive_timestamp_columns_served_driver_side(spark, tmp_path):
    """Map, naive (timestamp_ntz), nanosecond and uint64 columns, nested
    too: the point read serves them with the Spark row's values and
    types, without a Spark job. A nanosecond field is an instant at
    any depth, on both readers."""
    path = str(tmp_path / "zoo.parquet")
    ids = ["z-0", "z-1"]
    pq.write_table(
        pa.table(
            {
                "id": ids,
                "geometry": pa.array([geo.point_wkb(1, 2)] * 2, pa.binary()),
                "tags": pa.array(
                    [[("k", 1), ("j", 2)], []], pa.map_(pa.string(), pa.int64())
                ),
                "local_ts": pa.array(
                    [dt.datetime(2021, 3, 4, 5, 6), None], pa.timestamp("us")
                ),
                "ns_ts": pa.array([1577836800123456789, None], pa.timestamp("ns")),
                "count": pa.array([7, None], pa.uint64()),
                "nested": pa.array(
                    [{"m": [("x", 1.5)], "at": dt.datetime(2020, 1, 1), "ns": 7}, None],
                    pa.struct(
                        [
                            ("m", pa.map_(pa.string(), pa.float64())),
                            ("at", pa.timestamp("ms")),
                            ("ns", pa.timestamp("ns", tz="UTC")),
                        ]
                    ),
                ),
            }
        ),
        path,
    )
    cat = CollectionCatalog(spark, {"zoo": path})
    assert spark.read.parquet(path).schema["local_ts"].dataType.typeName() == (
        "timestamp_ntz"
    )
    for iid in ids:
        before = _spark_jobs(spark)
        fast = cat.point_read("zoo", iid)
        assert _spark_jobs(spark) == before, "point read scheduled a Spark job"
        slow = _spark_path_item(cat, "zoo", iid)
        assert fast == slow
        assert {k: type(v) for k, v in fast.items()} == {
            k: type(v) for k, v in slow.items()
        }
    assert cat.point_read("zoo", "z-0")["tags"] == {"k": 1, "j": 2}
    assert cat.point_read("zoo", "z-1")["tags"] == {}
    for item in (cat.point_read("zoo", "z-0"), _spark_path_item(cat, "zoo", "z-0")):
        assert create_stac_item(item)["properties"]["nested"]["ns"] == "1970-01-01T00:00:00Z"


def test_file_url_collection_served_driver_side(spark, collection_dir):
    cat = CollectionCatalog(spark, {"demo": f"file://{collection_dir}"})
    assert cat.build_item_index("demo")  # the manifest sees the stripped path
    before = _spark_jobs(spark)
    item = cat.point_read("demo", "it-017")
    assert _spark_jobs(spark) == before, "point read scheduled a Spark job"
    assert item == _spark_path_item(cat, "demo", "it-017")


def test_int96_collection_falls_back(spark, tmp_path):
    """pyarrow reads INT96 as naive wall-clock time, Spark as a UTC
    instant in the driver's zone: the point read refuses the file and
    the Spark plan answers."""
    path = str(tmp_path / "int96.parquet")
    pq.write_table(
        pa.table({"id": ["a"], "ts": pa.array([dt.datetime(2020, 1, 1, 5)])}),
        path,
        use_deprecated_int96_timestamps=True,
    )
    cat = CollectionCatalog(spark, {"c": path})
    with pytest.raises(PointReadUnavailable, match="INT96"):
        cat.point_read("c", "a")
    # the Spark plan's instant, aware UTC (functions/timestamps.py)
    assert get_one_item(cat, "c", "a")["ts"] == to_utc(spark.read.parquet(path).first()["ts"])
