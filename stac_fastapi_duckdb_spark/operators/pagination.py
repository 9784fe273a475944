"""Pagination: offset tokens (reference parity) + keyset tokens (scale path).

Reference (/root/reference/stac_fastapi/duckdb/database_logic.py):
- token = stringified integer offset; invalid → 0 (:924-928).
- fetch ``limit+1`` rows; extra row present → has_more, drop it,
  ``next_token = str(offset + limit)`` (:930-955).

Offset pagination re-sorts and skips on every page — O(pages²) work at
scale. The keyset variant ("ks:" prefixed token carrying the last row's
sort-key values) compiles to a row-comparison predicate that Catalyst
pushes toward the scan, so page N costs the same as page 1. Both token
forms are accepted; integer tokens keep byte-for-byte reference parity.
"""

from __future__ import annotations

import base64
import json
from datetime import datetime
from typing import Any

from stac_fastapi_duckdb_spark.functions.timestamps import rfc3339


def parse_token(token: str | None) -> tuple[int, list[Any] | None]:
    """→ (offset, keyset_values). Invalid tokens → offset 0, mirroring
    the reference's forgiving ``int(token)`` fallback (:924-928). A
    keyset payload must be a JSON list of scalars (the sort-key values
    ``keyset_token`` writes); anything else is an invalid token."""
    if not token:
        return 0, None
    if token.startswith("ks:"):
        try:
            vals = json.loads(base64.urlsafe_b64decode(token[3:].encode()).decode())
        except (ValueError, TypeError):
            return 0, None
        if isinstance(vals, list) and all(
            v is None or isinstance(v, (str, int, float, bool)) for v in vals
        ):
            return 0, vals
        return 0, None
    try:
        return max(0, int(token)), None
    except (TypeError, ValueError):
        return 0, None


def offset_token(offset: int, limit: int) -> str:
    """Reference-parity next token (:951-955)."""
    return str(offset + limit)


def keyset_token(last_row_sort_values: list[Any]) -> str:
    """Encode the final row's sort-key values as a search-after token;
    an instant in its RFC 3339 ``Z`` form, which the keyset predicate
    casts back to the same UTC instant whatever the process zone."""
    payload = json.dumps(
        last_row_sort_values,
        default=lambda v: rfc3339(v) if isinstance(v, datetime) else str(v),
    ).encode()
    return "ks:" + base64.urlsafe_b64encode(payload).decode()
