"""Row → STAC Item serialization parity tests (reference utilities.py)."""

import datetime as dt

import pytest

from stac_fastapi_duckdb_spark.functions import geo
from stac_fastapi_duckdb_spark.stac.serialize import convert_value, create_stac_item


def _row(**over):
    row = {
        "id": "item-1",
        "type": "Feature",
        "collection": "col-a",
        "geometry": geo.box_wkb(0, 0, 2, 2),
        "bbox": [0.0, 0.0, 2.0, 2.0],
        "datetime": dt.datetime(2020, 1, 1, 12),
        "start_datetime": None,
        "end_datetime": None,
        "platform": "landsat-8",
        "cloud_cover": 12.5,
        "proj:epsg": 4326,
        "empty_list": [],
        "none_field": None,
    }
    row.update(over)
    return row


def test_envelope():
    item = create_stac_item(_row())
    assert item["type"] == "Feature"
    assert item["stac_version"] == "1.0.0"
    assert item["id"] == "item-1"
    assert item["collection"] == "col-a"
    assert item["geometry"]["type"] == "Polygon"
    assert item["bbox"] == [0.0, 0.0, 2.0, 2.0]
    assert item["assets"] == {} and item["links"] == []


def test_special_fields_excluded_from_properties():
    item = create_stac_item(_row())
    for f in ("id", "geometry", "assets", "links", "type", "bbox",
              "stac_version", "stac_extensions", "collection"):
        assert f not in item["properties"]


def test_none_and_empty_dropped():
    props = create_stac_item(_row())["properties"]
    assert "none_field" not in props
    assert "empty_list" not in props
    assert "start_datetime" not in props


def test_datetime_iso_z():
    props = create_stac_item(_row())["properties"]
    assert props["datetime"] == "2020-01-01T12:00:00Z"


def test_proj_epsg_int():
    props = create_stac_item(_row())["properties"]
    assert props["proj:epsg"] == 4326 and isinstance(props["proj:epsg"], int)


def test_missing_geometry_raises():
    with pytest.raises(ValueError):
        create_stac_item(_row(geometry=None))


def test_invalid_bbox_dropped():
    item = create_stac_item(_row(bbox=[1.0, 2.0, 3.0]))  # 3 values → invalid
    assert "bbox" not in item


def test_convert_value_drops_nan_none_and_empty():
    assert convert_value(1.5) == 1.5
    assert convert_value(float("nan")) is None
    assert convert_value([]) is None
    assert convert_value([1.0, None]) == [1.0, None]
    assert convert_value({"a": 1, "b": None}) == {"a": 1}


def test_instants_serialize_as_utc_z_and_wall_clock_stays():
    kolkata = dt.timezone(dt.timedelta(hours=5, minutes=30))
    props = create_stac_item(
        _row(
            datetime=dt.datetime(2020, 1, 1, 5, 30, tzinfo=kolkata),
            end_datetime=dt.datetime(2020, 1, 1, 0, 0, 0, 7, tzinfo=dt.timezone.utc),
            local=dt.datetime(2020, 1, 1, 5, 30),  # timestamp_ntz wall clock
        )
    )["properties"]
    assert props["datetime"] == "2020-01-01T00:00:00Z"
    assert props["end_datetime"] == "2020-01-01T00:00:00.000007Z"
    assert props["local"] == "2020-01-01T05:30:00Z"
