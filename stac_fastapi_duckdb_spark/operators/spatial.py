"""Spatial predicates: bbox and intersects (P10, P11).

Reference (/root/reference/stac_fastapi/duckdb/database_logic.py):
- bbox filter (:349-416): validate 4 floats, build CCW WKT polygon
  (:400), predicate ``ST_Intersects(geometry, ST_GeomFromText(...))``
  (:401).
- intersects filter (:418-448): arbitrary GeoJSON geometry →
  ``ST_Intersects(geometry, ST_GeomFromGeoJSON(...))`` (:441).

Spark-first strategy (SURVEY §4.3, option 2 — no Sedona/shapely in this
environment): a two-phase predicate,

  1. FAST PATH (JVM): rectangle-overlap on the ``bbox`` array column —
     plain min/max double comparisons on array elements that Catalyst
     evaluates as a generated predicate in the JVM (sessions run
     without whole-stage codegen, so a new bbox recompiles only that
     one small class; session.py). Parquet cannot push a comparison on
     array elements, so every row group is still read; the prefilter
     keeps the Python refine below to the envelope-surviving rows.
  2. EXACT REFINE (Arrow-batched pandas UDF): pure-Python WKB
     ST_Intersects (functions/geo.py) over only the envelope-surviving
     candidates.

The conjunction (fast AND exact) is what the builder emits; no custom
Catalyst rule needed.
"""

from __future__ import annotations

import json
from functools import reduce
from struct import error as struct_error
from typing import Any

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

from stac_fastapi_duckdb_spark.errors import InvalidQueryError
from stac_fastapi_duckdb_spark.functions import geo

GEOMETRY_COL = "geometry"
BBOX_COL = "bbox"


def _validate_bbox(bbox: Any) -> tuple[float, float, float, float]:
    """4-float validation incl. string input handling, mirroring
    database_logic.py:357-399 (3-coordinate bbox must 400, tests
    test_api.py:205-215)."""
    if isinstance(bbox, str):
        bbox = [p.strip() for p in bbox.split(",")]
    if not isinstance(bbox, (list, tuple)):
        raise InvalidQueryError(f"bbox must be a list, got {type(bbox).__name__}")
    vals = list(bbox)
    if len(vals) == 6:  # 3-D bbox: drop the z bounds (STAC spec)
        vals = [vals[0], vals[1], vals[3], vals[4]]
    if len(vals) != 4:
        raise InvalidQueryError(f"bbox must have 4 (or 6) values, got {len(vals)}")
    try:
        w, s, e, n = (float(v) for v in vals)
    except (TypeError, ValueError) as exc:
        raise InvalidQueryError(f"bbox values must be numeric: {bbox!r}") from exc
    if w > e or s > n:
        raise InvalidQueryError(f"bbox min exceeds max: {bbox!r}")
    return w, s, e, n


def _intersects_udf(query_geojson: str):
    """Arrow-batched exact ST_Intersects against a fixed query geometry.

    The query geometry is parsed once, here on the driver, and travels
    to the workers pickled in the UDF's closure — tiny vs. Arrow transfer
    of the WKB column.
    """
    qgeom = geo.from_geojson(json.loads(query_geojson))

    @F.pandas_udf(BooleanType())
    def _exact(wkb: pd.Series) -> pd.Series:
        def test(b):
            if b is None:
                return False
            try:
                return geo.intersects(geo.parse_wkb(b), qgeom)
            except (ValueError, struct_error):
                return False

        return wkb.map(test)

    return _exact


def envelope_predicate(
    w: float, s: float, e: float, n: float, columns: list[str]
) -> Column | None:
    """JVM-side rectangle-overlap prefilter on the bbox array column:
    bbox[0]<=e AND bbox[2]>=w AND bbox[1]<=n AND bbox[3]>=s."""
    if BBOX_COL not in columns:
        return None
    b = F.col(BBOX_COL)
    return (b[0] <= e) & (b[2] >= w) & (b[1] <= n) & (b[3] >= s)


def bbox_predicate(bbox: Any, columns: list[str]) -> Column:
    """P10: bbox → ``intersects_predicate`` of its CCW rectangle."""
    w, s, e, n = _validate_bbox(bbox)
    rectangle = {
        "type": "Polygon",
        "coordinates": [[[w, s], [e, s], [e, n], [w, n], [w, s]]],
    }
    return intersects_predicate(rectangle, columns)


def intersects_predicate(geometry: dict, columns: list[str]) -> Column:
    """P11: arbitrary GeoJSON geometry intersects, with the query
    geometry's envelope as the JVM-side fast path."""
    if not isinstance(geometry, dict) or "type" not in geometry:
        raise InvalidQueryError(f"Invalid GeoJSON geometry: {geometry!r}")
    try:
        qgeom = geo.from_geojson(geometry)
    except (ValueError, KeyError, TypeError) as exc:
        raise InvalidQueryError(f"Invalid GeoJSON geometry: {geometry!r}") from exc

    w, s, e, n = geo.bounds(qgeom)
    parts: list[Column] = []
    env = envelope_predicate(w, s, e, n, columns)
    if env is not None:
        parts.append(env)
    if GEOMETRY_COL in columns:
        parts.append(_intersects_udf(json.dumps(geometry))(F.col(GEOMETRY_COL)))
    if not parts:
        raise InvalidQueryError(
            f"No spatial columns ({GEOMETRY_COL!r}/{BBOX_COL!r}) in schema"
        )
    return reduce(lambda a, b: a & b, parts)
