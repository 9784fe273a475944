"""Sort-spec normalization and field resolution (O1–O3).

Reference (/root/reference/stac_fastapi/duckdb/database_logic.py):
- ``populate_sort`` (:661-696): sortby entries (dicts or objects with
  field/direction) → [(field, ±1)]; default [("id", +1)]; ALWAYS appends
  an ("id", +1) tiebreaker so pagination is stable.
- sort-field resolution (:864-907): probe schema, try ``f``,
  ``properties.{f}``, ``properties__{f}``.
- ORDER BY emission (:909-919) — moot here: Column objects, no quoting.

Spark note: ORDER BY + LIMIT compiles to TakeOrderedAndProject (per-
partition top-k + merge), not a global sort — strictly better than the
reference's full sort at scale.
"""

from __future__ import annotations

from typing import Any

from stac_fastapi_duckdb_spark.errors import InvalidQueryError
from stac_fastapi_duckdb_spark.operators.cql2 import resolve_property


def populate_sort(sortby: Any) -> list[tuple[str, int]]:
    """Normalize sortby to [(field, ±1)] with the ("id", +1) tiebreaker
    (port of database_logic.py:661-696)."""
    out: list[tuple[str, int]] = []
    for spec in sortby or []:
        if isinstance(spec, str):
            # GET-style "+field" / "-field" / "field"
            if spec.startswith("-"):
                out.append((spec[1:], -1))
            else:
                out.append((spec.lstrip("+"), 1))
            continue
        if isinstance(spec, dict):
            field, direction = spec.get("field"), spec.get("direction", "asc")
        else:  # pydantic-style object
            field = getattr(spec, "field", None)
            direction = getattr(spec, "direction", "asc")
        if not field:
            raise InvalidQueryError(f"sortby entry missing field: {spec!r}")
        direction = str(direction).lower()
        if direction not in ("asc", "desc"):
            raise InvalidQueryError(f"Invalid sort direction {direction!r}")
        out.append((str(field), 1 if direction == "asc" else -1))
    if not any(f == "id" for f, _ in out):
        out.append(("id", 1))  # stable-pagination tiebreaker, :693-695
    return out


def resolve_sort_field(field: str, columns: list[str]) -> str | None:
    """Try ``f``, ``properties.f``, ``properties__f`` against the schema
    (database_logic.py:880-899). None if absent — reference skips
    unresolvable sort fields rather than erroring (:900-905)."""
    try:
        return resolve_property(field, columns)
    except InvalidQueryError:
        return None
