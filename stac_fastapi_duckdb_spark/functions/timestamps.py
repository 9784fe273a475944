"""The one owner of every Python↔Spark time crossing.

The contract: in Python an instant is an aware UTC ``datetime``; in
Spark it is a µs ``TimestampType``. The session's UTC zone governs only
the JVM: PySpark turns a naive datetime into an instant with the
process zone (``time.mktime``) and collects ``TimestampType`` values as
naive process-local times (``datetime.fromtimestamp``). Aware values go
in zone-free (``calendar.timegm``); results are made aware here.
``TimestampNTZType`` values are wall-clock, zone-free, and stay naive.
Strings are RFC 3339 with ``Z``, as the STAC API requires; the
reference passes such strings into DuckDB SQL
(``database_logic.py:264-312``). Parquet TIMESTAMP(NANOS) columns,
which the session reads as epoch-ns longs (``nanosAsLong``), become µs
at the scan, at any depth, truncated toward zero like SQL ``DIV``.
"""

from __future__ import annotations

from datetime import datetime, timedelta, timezone
from typing import Any, Callable

import pyarrow as pa
from pyspark.sql import Column, DataFrame, Row
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DataType,
    LongType,
    MapType,
    StructType,
    TimestampType,
)

from stac_fastapi_duckdb_spark.errors import InvalidQueryError

UTC = timezone.utc
_EPOCH = datetime(1970, 1, 1, tzinfo=UTC)


def parse_rfc3339(value: str) -> datetime:
    """One RFC 3339 instant → aware UTC; a ``Z`` suffix or an offset is
    honoured, a value without either reads as UTC. Invalid input fails
    closed (the reference silently ignores it; SURVEY §4.4)."""
    v = value.strip()
    if v.endswith(("Z", "z")):
        v = v[:-1] + "+00:00"
    try:
        dt = datetime.fromisoformat(v)
    except ValueError as e:
        raise InvalidQueryError(f"Invalid datetime {value!r}") from e
    return dt.replace(tzinfo=UTC) if dt.tzinfo is None else dt.astimezone(UTC)


def rfc3339(dt: datetime) -> str:
    """The RFC 3339 ``...Z`` form of an instant (aware, any zone) or of a
    ``timestamp_ntz`` wall-clock value (naive, written as UTC) — the
    ``isoformat`` the reference's items carry (utilities.py:66-74)."""
    if dt.tzinfo is not None:
        dt = dt.astimezone(UTC).replace(tzinfo=None)
    return dt.isoformat() + "Z"


def to_utc(dt: datetime) -> datetime:
    """An instant as PySpark or pyarrow hands it over — a collected
    ``TimestampType`` value (naive, in the process zone) or an aware
    value in any zone — → aware UTC."""
    return dt.astimezone(UTC)


def from_epoch_nanos(ns: int) -> datetime:
    """Epoch nanoseconds → aware UTC at µs, truncated toward zero: the
    value ``timestamp_from_nanos`` gives Spark for the same cell."""
    us = abs(ns) // 1000
    return _EPOCH + timedelta(microseconds=us if ns >= 0 else -us)


def _quoted(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _from_nanos(c: Column) -> Column:
    return F.timestamp_micros(F.call_function("div", c, F.lit(1000)))


def timestamp_from_nanos(name: str) -> Column:
    """An epoch-ns long column (a TIMESTAMP(NANOS) parquet column under
    ``nanosAsLong``) → µs ``TimestampType``."""
    return _from_nanos(F.col(_quoted(name)))


def _micros(at: pa.DataType, st: DataType) -> Callable[[Column], Column] | None:
    """The rewrite turning each epoch-ns long in a column of arrow type
    ``at``, read by Spark as ``st``, into µs ``TimestampType``; None
    when there is none (INT96 is ns to pyarrow but a timestamp to Spark)."""
    if pa.types.is_timestamp(at):
        return _from_nanos if at.unit == "ns" and isinstance(st, LongType) else None
    if pa.types.is_struct(at) and isinstance(st, StructType):
        subs = [(f.name, _micros(f.type, st[f.name].dataType)) for f in at if f.name in st.names]
        subs = [(name, m) for name, m in subs if m]

        def struct(c: Column) -> Column:
            for name, m in subs:
                c = c.withField(_quoted(name), m(c.getField(name)))
            return c

        return struct if subs else None
    if pa.types.is_map(at) and isinstance(st, MapType):
        km, vm = _micros(at.key_type, st.keyType), _micros(at.item_type, st.valueType)

        def map_(c: Column) -> Column:
            c = F.transform_keys(c, lambda k, _: km(k)) if km else c
            return F.transform_values(c, lambda _, v: vm(v)) if vm else c

        return map_ if km or vm else None
    if pa.types.is_list(at) or pa.types.is_large_list(at) or pa.types.is_fixed_size_list(at):
        em = isinstance(st, ArrayType) and _micros(at.value_type, st.elementType)
        return (lambda c: F.transform(c, em)) if em else None
    return None


def with_micros(df: DataFrame, arrow_schema: pa.Schema) -> DataFrame:
    """Each ``timestamp[ns]`` value of the file schema ``arrow_schema``
    (zoned or not, at any depth) that ``df``, the Spark read of the same
    files, holds as a long becomes µs ``TimestampType``; ``df``
    unchanged when there is none."""
    spark_types = {f.name: f.dataType for f in df.schema.fields}
    cols = {
        f.name: m(F.col(_quoted(f.name)))
        for f in arrow_schema
        if f.name in spark_types and (m := _micros(f.type, spark_types[f.name]))
    }
    return df.withColumns(cols) if cols else df


def _converter(t: DataType) -> Callable[[Any], Any] | None:
    """The function making every ``TimestampType`` value inside one
    ``asDict(recursive=True)`` value of type ``t`` aware UTC; None when
    ``t`` holds none."""
    if isinstance(t, TimestampType):
        return to_utc
    if isinstance(t, StructType):
        subs = {f.name: c for f in t.fields if (c := _converter(f.dataType))}
        return subs and (lambda d: {k: _apply(subs.get(k), v) for k, v in d.items()})
    if isinstance(t, ArrayType):
        elem = _converter(t.elementType)
        return elem and (lambda xs: [_apply(elem, x) for x in xs])
    if isinstance(t, MapType):
        kc, vc = _converter(t.keyType), _converter(t.valueType)
        return (kc or vc) and (lambda m: {_apply(kc, k): _apply(vc, v) for k, v in m.items()})
    return None


def _apply(conv: Callable[[Any], Any] | None, v: Any) -> Any:
    return conv(v) if conv and v is not None else v


def rows_to_dicts(rows: list[Row], schema: StructType) -> list[dict[str, Any]]:
    """Collected rows → ``Row.asDict(recursive=True)`` dicts with every
    ``TimestampType`` value (nested ones too) aware UTC. ``schema``
    types the columns by name; the rows may carry a subset of them (a
    projection of the plan ``schema`` describes)."""
    convs = [(f.name, c) for f in schema.fields if (c := _converter(f.dataType))]
    out = []
    for r in rows:
        d = r.asDict(recursive=True)
        for name, conv in convs:
            if name in d:
                d[name] = _apply(conv, d[name])
        out.append(d)
    return out
