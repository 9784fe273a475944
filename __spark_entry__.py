"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)  — flagship query (TPC-H Q1-shaped pricing summary) on
                /root/testdata/sf0.001.
queries()     — one entry per implemented operator from SURVEY.md §2
                plus the beyond-reference pipeline operators; each
                callable takes (spark, sf_dir) -> DataFrame.
oracle_sql()  — matching DuckDB SQL per query (same column aliases).

Implementations live in stac_fastapi_duckdb_spark/plans/entry_queries.py,
where ``@query(tags=..., oracle=...)`` registers each ``q_<name>`` plan
with its DuckDB SQL into ``QUERIES`` / ``ORACLE_SQL``.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from stac_fastapi_duckdb_spark.plans import entry_queries as _eq


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return _eq.q_pricing_summary(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(_eq.QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(_eq.ORACLE_SQL)
