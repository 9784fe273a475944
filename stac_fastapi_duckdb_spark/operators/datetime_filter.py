"""Temporal predicates with STAC NULL-interval semantics (P5–P9).

Reference semantics (/root/reference/stac_fastapi/duckdb/database_logic.py):

- exact instant (``:261-273``): matches when the instant field equals X,
  OR the instant field is NULL and the item's validity interval
  [start_datetime, end_datetime] contains X.
- closed range gte..lte (``:279-292``): instant in [gte, lte] OR
  interval overlap (start <= lte AND end >= gte).
- open-ended gte (``:293-302``): datetime >= gte OR
  (datetime IS NULL AND end_datetime >= gte).
- open-ended lte (``:303-312``): datetime <= lte OR
  (datetime IS NULL AND start_datetime <= lte).
- interval string parser (``:317-347``): "a/b" → gte/lte, ".." → open
  side, no "/" → exact.

The reference interpolates ISO strings into SQL and relies on DuckDB's
implicit cast; here intervals are parsed Python-side into aware UTC
datetimes (``functions/timestamps.py``, the one owner of every
Python↔Spark time crossing) and compared as TimestampType literals, so
the bounds are the same instants whatever the process time zone, and
the predicate is a plain Column tree that Catalyst pushes into the
parquet scan (min/max row-group skipping applies — at 100 TB with
time-ordered ingest this is the primary pruning axis).
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import Column
from pyspark.sql import functions as F

from stac_fastapi_duckdb_spark.errors import InvalidQueryError
from stac_fastapi_duckdb_spark.functions.timestamps import parse_rfc3339

FIELDS = ("datetime", "start_datetime", "end_datetime")


def parse_datetime_interval(value: str) -> dict[str, datetime]:
    """``"a/b"`` → {gte, lte}; ``".."`` → open side; no ``/`` → {eq}.

    Port of the interval grammar at ``database_logic.py:317-347``,
    returning aware UTC datetimes instead of raw strings.
    """
    if not value:
        raise InvalidQueryError("Empty datetime")
    if "/" not in value:
        return {"eq": parse_rfc3339(value)}
    lo, _, hi = value.partition("/")
    out: dict[str, datetime] = {}
    if lo not in ("..", ""):
        out["gte"] = parse_rfc3339(lo)
    if hi not in ("..", ""):
        out["lte"] = parse_rfc3339(hi)
    if not out:
        raise InvalidQueryError(f"Unbounded interval {value!r}")
    if "gte" in out and "lte" in out and out["gte"] > out["lte"]:
        raise InvalidQueryError(f"Interval start after end: {value!r}")
    return out


def datetime_predicate(
    interval: str | dict[str, datetime], columns: list[str] | None = None
) -> Column:
    """Compile a STAC datetime search into one boolean Column (P5–P8).
    A ``FIELDS`` column absent from ``columns`` reads as NULL (all absent
    → InvalidQueryError); ``columns=None`` takes all three as present."""
    spec = parse_datetime_interval(interval) if isinstance(interval, str) else interval
    if columns is not None and not set(FIELDS) & set(columns):
        raise InvalidQueryError(f"No datetime columns ({', '.join(FIELDS)}) in schema")
    dt, sdt, edt = (
        F.col(f) if columns is None or f in columns else F.lit(None) for f in FIELDS
    )

    if "eq" in spec:
        x = F.lit(spec["eq"])
        # database_logic.py:261-273
        return (dt.isNotNull() & (dt == x)) | (
            dt.isNull()
            & sdt.isNotNull()
            & edt.isNotNull()
            & (sdt <= x)
            & (edt >= x)
        )

    gte = F.lit(spec["gte"]) if "gte" in spec else None
    lte = F.lit(spec["lte"]) if "lte" in spec else None

    if gte is not None and lte is not None:
        # database_logic.py:279-292
        instant = dt.isNotNull() & (dt >= gte) & (dt <= lte)
        interval_overlap = (
            dt.isNull()
            & sdt.isNotNull()
            & edt.isNotNull()
            & (sdt <= lte)
            & (edt >= gte)
        )
        return instant | interval_overlap
    if gte is not None:
        # database_logic.py:293-302
        return (dt.isNotNull() & (dt >= gte)) | (
            dt.isNull() & edt.isNotNull() & (edt >= gte)
        )
    # database_logic.py:303-312
    return (dt.isNotNull() & (dt <= lte)) | (
        dt.isNull() & sdt.isNotNull() & (sdt <= lte)
    )
