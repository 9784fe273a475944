"""Datetime interval parsing + NULL-interval predicate semantics
(reference database_logic.py:261-347)."""

import datetime as dt

import pytest

from stac_fastapi_duckdb_spark.errors import InvalidQueryError
from stac_fastapi_duckdb_spark.operators.datetime_filter import (
    datetime_predicate,
    parse_datetime_interval,
)

UTC = dt.timezone.utc


def test_parse_exact():
    spec = parse_datetime_interval("2020-05-01T12:00:00Z")
    assert spec == {"eq": dt.datetime(2020, 5, 1, 12, tzinfo=UTC)}


def test_parse_closed_range():
    spec = parse_datetime_interval("2019-01-01T00:00:00Z/2023-01-01T00:00:00Z")
    assert spec["gte"] == dt.datetime(2019, 1, 1, tzinfo=UTC)
    assert spec["lte"] == dt.datetime(2023, 1, 1, tzinfo=UTC)


def test_parse_keeps_the_instant_of_any_offset():
    # aware UTC whatever the offset written; PySpark turns an aware
    # literal into an instant without the process time zone
    spec = parse_datetime_interval("2020-01-01T05:30:00+05:30/2020-01-01T00:00:00")
    assert spec["gte"] == spec["lte"] == dt.datetime(2020, 1, 1, tzinfo=UTC)
    assert spec["gte"].utcoffset() == dt.timedelta(0)


def test_parse_open_sides():
    assert set(parse_datetime_interval("../2023-01-01T00:00:00Z")) == {"lte"}
    assert set(parse_datetime_interval("2023-01-01T00:00:00Z/..")) == {"gte"}


def test_parse_invalid_fails_closed():
    # reference silently ignores bad datetimes; we 400 (SURVEY §4.4)
    with pytest.raises(InvalidQueryError):
        parse_datetime_interval("not-a-date")
    with pytest.raises(InvalidQueryError):
        parse_datetime_interval("../..")
    with pytest.raises(InvalidQueryError):
        parse_datetime_interval("2024-01-01T00:00:00Z/2020-01-01T00:00:00Z")


def _apply(spark, interval):
    import pyspark.sql.functions as F

    rows = [
        # (id, datetime, start, end); aware, so PySpark stores these
        # instants whatever the process time zone
        ("instant-2020", dt.datetime(2020, 6, 1, tzinfo=UTC), None, None),
        ("instant-2025", dt.datetime(2025, 6, 1, tzinfo=UTC), None, None),
        ("interval-19-22", None, dt.datetime(2019, 1, 1, tzinfo=UTC), dt.datetime(2022, 12, 31, tzinfo=UTC)),
        ("interval-30-31", None, dt.datetime(2030, 1, 1, tzinfo=UTC), dt.datetime(2031, 1, 1, tzinfo=UTC)),
        ("all-null", None, None, None),
    ]
    df = spark.createDataFrame(
        rows, "id string, datetime timestamp, start_datetime timestamp, end_datetime timestamp"
    )
    out = df.filter(datetime_predicate(interval)).select("id").collect()
    return sorted(r.id for r in out)


def test_exact_matches_instant_or_interval(spark):
    assert _apply(spark, "2020-06-01T00:00:00Z") == ["instant-2020", "interval-19-22"]


def test_range_instant_and_overlap(spark):
    assert _apply(spark, "2019-01-01T00:00:00Z/2023-01-01T00:00:00Z") == [
        "instant-2020",
        "interval-19-22",
    ]


def test_open_gte(spark):
    assert _apply(spark, "2024-01-01T00:00:00Z/..") == ["instant-2025", "interval-30-31"]


def test_open_lte(spark):
    assert _apply(spark, "../2019-06-01T00:00:00Z") == ["interval-19-22"]


def test_future_matches_nothing(spark):
    # negative-result invariant, reference tests/api/test_api.py:151-166
    assert _apply(spark, "2050-01-01T00:00:00Z/2051-01-01T00:00:00Z") == []
