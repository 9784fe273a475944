"""STAC API Aggregation extension over the search plan
(github.com/stac-api-extensions/aggregation — a published extension the
reference does NOT implement; its users fall back to paging everything
and counting client-side, `database_logic.py:698-770` only exposes the
bare match count).

Supported aggregations:

- ``total_count``                 — matched item count
- ``datetime_min`` / ``datetime_max``
- ``collection_frequency``        — buckets per collection id
- ``datetime_frequency``          — monthly buckets (frequency_interval
                                    "month" | "year" | "day")
- ``<field>_frequency``           — terms buckets over any queryable

Execution shape: ONE filtered union plan (the same ``search_plan``
compile the search route uses — every pushdown the search gets, the
aggregations get) shared by all requested aggregations. The scalar
aggregations (count/min/max) fold into a SINGLE aggregate pass;
each frequency aggregation is one partially-aggregated groupBy whose
result is bounded by its bucket cardinality (terms buckets are capped
at ``max_buckets``, largest-count-first — the cap rides a
TakeOrderedAndProject, never a full sort). At 100 TB nothing here
shuffles more than (groups) rows per frequency agg.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import functions as F

from stac_fastapi_duckdb_spark.errors import InvalidQueryError
from stac_fastapi_duckdb_spark.operators.cql2 import safe_col
from stac_fastapi_duckdb_spark.operators.search import search_plan
from stac_fastapi_duckdb_spark.sources.catalog import CollectionCatalog

_SCALAR = {"total_count", "datetime_min", "datetime_max"}
_INTERVALS = {"year", "month", "day"}
DEFAULT_AGGREGATIONS = [
    "total_count",
    "datetime_min",
    "datetime_max",
    "collection_frequency",
    "datetime_frequency",
]


def list_aggregations() -> dict:
    """The /aggregations discovery document."""
    return {
        "aggregations": [
            {"name": "total_count", "data_type": "integer"},
            {"name": "datetime_min", "data_type": "datetime"},
            {"name": "datetime_max", "data_type": "datetime"},
            {
                "name": "collection_frequency",
                "data_type": "frequency_distribution",
                "frequency_distribution_data_type": "string",
            },
            {
                "name": "datetime_frequency",
                "data_type": "frequency_distribution",
                "frequency_distribution_data_type": "datetime",
            },
            {
                "name": "<field>_frequency",
                "data_type": "frequency_distribution",
                "frequency_distribution_data_type": "string",
            },
        ]
    }


def aggregate_search(
    catalog: CollectionCatalog,
    *,
    aggregations: list[str] | None = None,
    frequency_interval: str = "month",
    max_buckets: int = 100,
    **filters: Any,
) -> dict:
    """→ the extension's response body: {"aggregations": [...]}.
    ``filters``: the keyword arguments of ``search.search_plan``."""
    aggs = list(aggregations or DEFAULT_AGGREGATIONS)
    if not aggs:
        raise InvalidQueryError("aggregations must be a non-empty list")
    if frequency_interval not in _INTERVALS:
        raise InvalidQueryError(
            f"frequency_interval must be one of {sorted(_INTERVALS)}, "
            f"got {frequency_interval!r}"
        )

    df, schema = search_plan(catalog, **filters)
    columns = set(schema.fieldNames())

    # validate everything BEFORE running any job (fail-closed, like the
    # CQL2 compiler): unknown scalar names / missing frequency fields
    # must 400, not half-answer
    freq_fields: dict[str, str] = {}
    for name in aggs:
        if name in _SCALAR:
            # the scalar datetime aggregations need the column too —
            # fail-closed 400, not a mid-job AnalysisException 500
            if name != "total_count" and "datetime" not in columns:
                raise InvalidQueryError(
                    f"{name} requires a datetime column"
                )
            continue
        if name == "collection_frequency":
            freq_fields[name] = "collection"
        elif name == "datetime_frequency":
            if "datetime" not in columns:
                raise InvalidQueryError(
                    "datetime_frequency requires a datetime column"
                )
            freq_fields[name] = "datetime"
        elif name.endswith("_frequency"):
            field = name[: -len("_frequency")]
            if field not in columns:
                raise InvalidQueryError(
                    f"Unknown aggregation field {field!r}"
                )
            freq_fields[name] = field
        else:
            raise InvalidQueryError(f"Unsupported aggregation {name!r}")

    out: list[dict] = []

    scalars = [n for n in aggs if n in _SCALAR]
    if scalars:
        exprs = []
        for name in scalars:
            if name == "total_count":
                exprs.append(F.count(F.lit(1)).alias(name))
            elif name == "datetime_min":
                exprs.append(
                    F.date_format(
                        F.min("datetime"), "yyyy-MM-dd'T'HH:mm:ss'Z'"
                    ).alias(name)
                )
            else:
                exprs.append(
                    F.date_format(
                        F.max("datetime"), "yyyy-MM-dd'T'HH:mm:ss'Z'"
                    ).alias(name)
                )
        row = df.agg(*exprs).collect()[0]
        for name in scalars:
            out.append(
                {
                    "name": name,
                    "data_type": "integer"
                    if name == "total_count"
                    else "datetime",
                    "value": row[name],
                }
            )

    for name in aggs:
        field = freq_fields.get(name)
        if field is None:
            continue
        key = (
            F.date_format(
                F.date_trunc(frequency_interval, safe_col(field)),
                "yyyy-MM-dd'T'HH:mm:ss'Z'",
            )
            if name == "datetime_frequency"
            else safe_col(field).cast("string")
        )
        # fetch ONE bucket beyond the cap: its presence is the overflow
        # signal (still a TakeOrderedAndProject, never a full sort)
        buckets = (
            df.groupBy(key.alias("key"))
            .agg(F.count(F.lit(1)).alias("frequency"))
            .orderBy(F.col("frequency").desc(), F.col("key").asc_nulls_last())
            .limit(max_buckets + 1)
            .collect()
        )
        overflow = len(buckets) > max_buckets
        out.append(
            {
                "name": name,
                "data_type": "frequency_distribution",
                "overflow": overflow,
                "buckets": [
                    {"key": b["key"], "frequency": b["frequency"]}
                    for b in buckets[:max_buckets]
                ],
            }
        )

    return {"aggregations": out}
