"""Property-based differential test for the STAC temporal predicate
(P5–P8): random intervals over a mixed instant/interval/NULL item table
must select exactly the rows the reference's SQL semantics select
(evaluated by DuckDB)."""

from __future__ import annotations

import datetime as dt

import duckdb
import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from stac_fastapi_duckdb_spark.operators.datetime_filter import (
    datetime_predicate,
    parse_datetime_interval,
)

BASE = dt.datetime(2024, 1, 1)


def _rows():
    rows = []
    for i in range(240):
        t = BASE + dt.timedelta(hours=7 * i)
        if i % 3 == 0:  # interval item: datetime NULL, validity window
            rows.append((i, None, t - dt.timedelta(days=2), t + dt.timedelta(days=2)))
        elif i % 17 == 0:  # fully NULL temporal row (must never match)
            rows.append((i, None, None, None))
        else:  # instant item
            rows.append((i, t, None, None))
    return rows


@pytest.fixture(scope="module")
def temporal(spark):
    rows = _rows()
    pdf = pd.DataFrame(
        rows, columns=["id", "datetime", "start_datetime", "end_datetime"]
    )
    # raw rows: None stays None (not NaT); aware UTC, so PySpark stores
    # the instants DuckDB compares whatever the process time zone
    utc = [tuple(v.replace(tzinfo=dt.timezone.utc) if isinstance(v, dt.datetime) else v
                 for v in r) for r in rows]
    sdf = spark.createDataFrame(
        utc,
        "id long, datetime timestamp, start_datetime timestamp, end_datetime timestamp",
    )
    con = duckdb.connect()
    con.register("items", pdf)
    return sdf, con


hours = st.integers(min_value=-48, max_value=240 * 7 + 48)


def _iso(h: int) -> str:
    return (BASE + dt.timedelta(hours=h)).strftime("%Y-%m-%dT%H:%M:%SZ")


intervals = st.one_of(
    hours.map(_iso),  # exact instant
    st.tuples(hours, hours).map(
        lambda t: f"{_iso(min(t))}/{_iso(max(t))}"
    ),  # closed range (ordered)
    hours.map(lambda h: f"{_iso(h)}/.."),  # open end
    hours.map(lambda h: f"../{_iso(h)}"),  # open start
)


def _ts(v: dt.datetime) -> str:
    return f"TIMESTAMP '{v.strftime('%Y-%m-%d %H:%M:%S')}'"


def _reference_sql(interval: str) -> str:
    """The reference's P5–P8 WHERE clauses (database_logic.py:261-312),
    parameterized with parsed timestamps."""
    spec = parse_datetime_interval(interval)
    if "eq" in spec:
        x = _ts(spec["eq"])
        return (
            f"(datetime IS NOT NULL AND datetime = {x}) OR"
            f" (datetime IS NULL AND start_datetime IS NOT NULL AND"
            f" end_datetime IS NOT NULL AND start_datetime <= {x}"
            f" AND end_datetime >= {x})"
        )
    if "gte" in spec and "lte" in spec:
        g, l = _ts(spec["gte"]), _ts(spec["lte"])
        return (
            f"(datetime IS NOT NULL AND datetime >= {g} AND datetime <= {l})"
            f" OR (datetime IS NULL AND start_datetime IS NOT NULL AND"
            f" end_datetime IS NOT NULL AND start_datetime <= {l}"
            f" AND end_datetime >= {g})"
        )
    if "gte" in spec:
        g = _ts(spec["gte"])
        return (
            f"(datetime IS NOT NULL AND datetime >= {g}) OR"
            f" (datetime IS NULL AND end_datetime IS NOT NULL"
            f" AND end_datetime >= {g})"
        )
    l = _ts(spec["lte"])
    return (
        f"(datetime IS NOT NULL AND datetime <= {l}) OR"
        f" (datetime IS NULL AND start_datetime IS NOT NULL"
        f" AND start_datetime <= {l})"
    )


@settings(
    max_examples=40,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(interval=intervals)
def test_datetime_predicate_matches_reference_semantics(temporal, interval):
    sdf, con = temporal
    got = {
        r.id for r in sdf.filter(datetime_predicate(interval)).select("id").collect()
    }
    want = {
        r[0]
        for r in con.execute(
            f"SELECT id FROM items WHERE {_reference_sql(interval)}"
        ).fetchall()
    }
    assert got == want
