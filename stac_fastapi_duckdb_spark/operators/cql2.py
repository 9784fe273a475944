"""CQL2-JSON → pyspark Column compiler (SURVEY §2.3, C1–C13).

Reference: recursive ``_convert_cql2_expression``
(/root/reference/stac_fastapi/duckdb/database_logic.py:539-624) which
emits SQL strings. Differences by design (SURVEY §4.4):

- Compiles to ``Column`` expressions — property names are never
  interpolated into SQL, killing the injection at
  ``database_logic.py:640-644``.
- Fail-CLOSED: unsupported ops raise InvalidQueryError instead of
  compiling to ``1=1`` (``:622-624``); conversion errors are not
  swallowed (``:516-519``).
- ``neq``/``!=`` and ``ilike`` are actually implemented — the reference
  advertises them (``filter_client.py:64-81``, conformance
  ``app.py:29-31``) but never compiles them (C12).

Everything here is a pure function of the filter dict; no Spark jobs
run at compile time, and the resulting Column tree is plain
comparisons/boolean algebra that Catalyst pushes into the parquet scan.
"""

from __future__ import annotations

from functools import reduce
from typing import Any

from pyspark.sql import Column
from pyspark.sql import functions as F

from stac_fastapi_duckdb_spark.errors import InvalidQueryError

# STAC naming variants: a queryable "cloud_cover" may be stored as
# "cloud_cover", "properties.cloud_cover" or "properties__cloud_cover"
# (reference database_logic.py:880-899 resolves sort fields this way;
# the same rule applies to filter properties).
_VARIANT_PREFIXES = ("{f}", "properties.{f}", "properties__{f}")


def safe_col(name: str) -> Column:
    """Column by LITERAL name. STAC columns like ``proj:bbox`` or
    ``properties.datetime`` contain characters Spark's parser treats as
    structure (SURVEY §1.3 note on backticks) — names resolved against
    ``df.columns`` are always literal, so quote them."""
    return F.col("`" + name.replace("`", "``") + "`")


def resolve_property(name: str, columns: list[str] | None) -> str:
    """Resolve a CQL2 property name against the scanned schema."""
    if columns is None:
        return name
    for pat in _VARIANT_PREFIXES:
        cand = pat.format(f=name)
        if cand in columns:
            return cand
    raise InvalidQueryError(f"Unknown queryable property {name!r}")


def _operand(node: Any, columns: list[str] | None) -> Column:
    """CQL2 operand → Column: {"property": p} → col, else literal
    (reference ``database_logic.py:626-659``)."""
    if isinstance(node, dict):
        if "property" in node:
            return safe_col(resolve_property(node["property"], columns))
        if "timestamp" in node:
            return F.lit(node["timestamp"]).cast("timestamp")
        if "date" in node:
            return F.lit(node["date"]).cast("date")
        raise InvalidQueryError(f"Unsupported CQL2 operand {node!r}")
    if isinstance(node, (str, int, float, bool)) or node is None:
        return F.lit(node)
    raise InvalidQueryError(f"Unsupported CQL2 literal {node!r}")


_BINARY_OPS = {
    "=": lambda a, b: a == b,       # C4  database_logic.py:566-569
    "eq": lambda a, b: a == b,
    "<>": lambda a, b: a != b,      # C5  :571-574
    "!=": lambda a, b: a != b,
    "neq": lambda a, b: a != b,     # C12 advertised-but-missing in ref
    "<": lambda a, b: a < b,        # C6  :576-594
    "<=": lambda a, b: a <= b,
    ">": lambda a, b: a > b,
    ">=": lambda a, b: a >= b,
    "lt": lambda a, b: a < b,
    "lte": lambda a, b: a <= b,
    "gt": lambda a, b: a > b,
    "gte": lambda a, b: a >= b,
}


def cql2_to_column(expr: dict, columns: list[str] | None = None) -> Column:
    """Compile a CQL2-JSON expression dict into a boolean Column.

    ``columns``: optional schema column list for property resolution
    (the searched plan's ``df.columns``); ``None`` skips resolution.
    """
    if not isinstance(expr, dict) or "op" not in expr:
        raise InvalidQueryError(f"Malformed CQL2 node: {expr!r}")
    op = expr["op"]
    args = expr.get("args", [])

    if op == "and":  # C1 :553-555
        return reduce(lambda a, b: a & b, (cql2_to_column(a, columns) for a in args))
    if op == "or":  # C2 :557-559
        return reduce(lambda a, b: a | b, (cql2_to_column(a, columns) for a in args))
    if op == "not":  # C3 :561-563
        if len(args) != 1:
            raise InvalidQueryError("'not' takes exactly one argument")
        return ~cql2_to_column(args[0], columns)

    if op in _BINARY_OPS:
        if len(args) != 2:
            raise InvalidQueryError(f"{op!r} takes exactly two arguments")
        return _BINARY_OPS[op](_operand(args[0], columns), _operand(args[1], columns))

    if op == "like":  # C7 :597-600
        if len(args) != 2 or not isinstance(args[1], str):
            raise InvalidQueryError("'like' takes (property, pattern-string)")
        return _operand(args[0], columns).like(args[1])
    if op == "ilike":  # C12 advertised-but-missing in ref
        if len(args) != 2 or not isinstance(args[1], str):
            raise InvalidQueryError("'ilike' takes (property, pattern-string)")
        return F.lower(_operand(args[0], columns)).like(args[1].lower())

    if op == "in":  # C8 :603-607
        if len(args) != 2 or not isinstance(args[1], list):
            raise InvalidQueryError("'in' takes (property, value-list)")
        return _operand(args[0], columns).isin(args[1])

    if op == "between":  # C9 :609-615
        if len(args) == 3:
            field, lo, hi = args
        elif len(args) == 2 and isinstance(args[1], list) and len(args[1]) == 2:
            field, (lo, hi) = args
        else:
            raise InvalidQueryError("'between' takes (property, low, high)")
        return _operand(field, columns).between(
            _operand(lo, columns), _operand(hi, columns)
        )

    if op == "isNull":  # C10 :617-620
        if len(args) != 1:
            raise InvalidQueryError("'isNull' takes exactly one argument")
        return _operand(args[0], columns).isNull()

    # fail closed — the reference emits 1=1 here (database_logic.py:622-624)
    raise InvalidQueryError(f"Unsupported CQL2 operator {op!r}")


def supported_cql2_ops() -> set[str]:
    """Ops we compile (superset of reference ``get_supported_cql2_ops``,
    filter_client.py:64-81, because neq/ilike are real here)."""
    return set(_BINARY_OPS) | {"and", "or", "not", "like", "ilike", "in", "between", "isNull"}
