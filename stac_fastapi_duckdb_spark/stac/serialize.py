"""Row → STAC Item (GeoJSON Feature) serialization.

Parity target: /root/reference/stac_fastapi/duckdb/utilities.py —
``decode_geometry`` (:13-21), ``convert_type`` (:24-111),
``create_stac_item`` (:114-288). Rules replicated exactly (SURVEY §1.3):

- ``geometry`` is the only hard-required field (:137-138); missing →
  ValueError.
- Special fields excluded from properties: {id, geometry, assets, links,
  type, bbox, stac_version, stac_extensions, collection} (:164-175).
- Every other non-null column becomes a ``properties`` entry
  (:189-215, :238-263); None values and empty arrays are DROPPED
  (:35,87,94).
- ``proj:*`` special-casing (:177-185,199-207): epsg → int, bbox/shape/
  transform → numeric lists.
- Envelope: type=Feature, stac_version=1.0.0 (:221-232); ``bbox``
  included only if a valid 4- or 6-list (:157-160, :234-236).

Rows arrive as plain Python values (``functions.timestamps.rows_to_dicts``
from the Spark plan, the point read's ``to_pylist``); ``convert_value``
keeps the None/NaN/empty-dropping and writes instants in the RFC 3339
``Z`` form of ``functions.timestamps.rfc3339``.
"""

from __future__ import annotations

import math
from datetime import date, datetime
from typing import Any

from stac_fastapi_duckdb_spark.functions import geo
from stac_fastapi_duckdb_spark.functions.timestamps import rfc3339

SPECIAL_FIELDS = frozenset(
    {
        "id",
        "geometry",
        "assets",
        "links",
        "type",
        "bbox",
        "stac_version",
        "stac_extensions",
        "collection",
    }
)

_PROJ_INT_FIELDS = {"proj:epsg"}


def convert_value(value: Any) -> Any:
    """Row value → JSON-safe Python; returns None for droppable values
    (None, NaN, empty lists) — utilities.py:24-111."""
    if value is None:
        return None
    if isinstance(value, datetime):
        return rfc3339(value)
    if isinstance(value, date):
        return value.isoformat()
    if isinstance(value, float) and math.isnan(value):
        return None
    if isinstance(value, (list, tuple)):
        if len(value) == 0:
            return None  # empty arrays dropped (utilities.py:87,94)
        return [convert_value(v) for v in value]
    if isinstance(value, dict):
        return {k: convert_value(v) for k, v in value.items() if v is not None}
    if isinstance(value, (bytes, bytearray)):
        return list(value)
    return value


def _valid_bbox(bbox: Any) -> list[float] | None:
    """bbox kept only when a 4- or 6-element numeric list
    (utilities.py:157-160, 234-236)."""
    v = convert_value(bbox)
    if isinstance(v, list) and len(v) in (4, 6):
        try:
            return [float(x) for x in v]
        except (TypeError, ValueError):
            return None
    return None


def create_stac_item(row: dict[str, Any]) -> dict:
    """One result row (``execute_search`` / ``get_one_item``) → STAC Item dict.

    Raises ValueError when ``geometry`` is missing — the reference logs
    and skips such rows (database_logic.py:960-1021 catches per-row).
    """
    geom_raw = row.get("geometry")
    if geom_raw is None:
        raise ValueError("Item has no geometry")  # utilities.py:137-147
    geometry = geo.to_geojson(geo.parse_wkb(geom_raw))

    properties: dict[str, Any] = {}
    for key, raw in row.items():
        if key in SPECIAL_FIELDS:
            continue
        # proj:epsg → int (utilities.py:177-185); proj:bbox/shape/transform
        # (:199-207) convert like any other list
        v = convert_value(raw)
        if v is not None:  # None-dropping parity (utilities.py:35)
            properties[key] = int(v) if key in _PROJ_INT_FIELDS else v

    item: dict[str, Any] = {
        "type": "Feature",  # envelope, utilities.py:221-232
        "stac_version": "1.0.0",
        "stac_extensions": convert_value(row.get("stac_extensions")) or [],
        "id": row.get("id"),
        "geometry": geometry,
        "properties": properties,
        "assets": convert_value(row.get("assets")) or {},
        "links": convert_value(row.get("links")) or [],
    }
    collection = row.get("collection")
    if collection:
        item["collection"] = collection
    bbox = _valid_bbox(row.get("bbox"))
    if bbox is not None:
        item["bbox"] = bbox
    return item

