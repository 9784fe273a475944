"""Write path: partitioned / bucketed / size-targeted parquet sinks.

The reference has NO write path (every transaction method is a ``pass``
stub — reference ``stac_fastapi/duckdb/database_logic.py:1026-1187``).
At 100 TB the write-side layout *is* the query plan: these helpers
encode the three layout decisions that make the read side cheap.

- **Partition columns** (``write_partitioned``): low-cardinality
  predicate columns (collection id, event date) become directory
  partitions so Catalyst prunes entire subtrees before listing files
  (`PartitionFilters` in the scan node — free "source pruning", the
  scalable version of the reference's per-collection URL registry).
- **Bucketing** (``write_bucketed``): high-cardinality JOIN keys
  (order key, user id, doc id) become hash buckets; two tables
  bucketed on the same key join with ZERO shuffle (no Exchange in the
  plan) — at 100 TB the difference between an hours-long shuffle and
  a map-side merge.
- **File sizing** (``repartition_by_size``): parquet files should land
  near the HDFS-block/object-store sweet spot (~128 MB-1 GB). Many
  tiny files destroy listing + footer-read time; one giant file
  destroys scan parallelism (a single row group can't be split).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

DEFAULT_TARGET_FILE_BYTES = 128 << 20


def estimated_bytes(df: DataFrame) -> int:
    """Catalyst's size estimate for the logical plan (driver-side, no
    job). For freshly-scanned parquet this is file size; post-transform
    estimates are coarse — good enough to pick a file count."""
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def repartition_by_size(
    df: DataFrame,
    target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES,
    partition_cols: list[str] | None = None,
) -> DataFrame:
    """Repartition so each output file lands near ``target_file_bytes``.
    With ``partition_cols``, rows are hash-distributed by those columns
    so each task writes few directory partitions (avoids the classic
    every-task-writes-every-partition small-file explosion)."""
    n = max(1, estimated_bytes(df) // target_file_bytes)
    if partition_cols:
        return df.repartition(int(n), *[F.col(c) for c in partition_cols])
    return df.repartition(int(n))


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: list[str],
    mode: str = "error",
    target_file_bytes: int = DEFAULT_TARGET_FILE_BYTES,
) -> None:
    """Directory-partitioned parquet write (Hive layout). Reads with a
    predicate on ``partition_cols`` show `PartitionFilters` in the scan
    and never touch pruned directories."""
    out = repartition_by_size(df, target_file_bytes, partition_cols)
    out.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: list[str],
    num_buckets: int = 32,
    sort_cols: list[str] | None = None,
    mode: str = "error",
) -> None:
    """Hash-bucketed (optionally sorted) managed table. Joins between
    tables bucketed identically on the join key compile to shuffle-free
    SortMergeJoin (no Exchange on either side)."""
    w = df.write.mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.format("parquet").saveAsTable(table)
