"""Manifest-level file skipping: a driver-side min-max index over
parquet footers.

Spark prunes row groups *inside* each file it opens via parquet
statistics, but for a point lookup over a 100k-file dataset it still
opens and footer-reads every file. Table formats (Iceberg/Delta) fix
this with a manifest of per-file column stats; this module is the same
idea for plain parquet directories: one footer sweep over the files a
Spark read lists (``local_files``) builds ``{file → {col → {min,
max}}}``; the point read and ``indexed_read`` open only the files
``prune_files`` keeps.

Designed use: key-sorted or Z-ordered layouts (sources/layout.py),
where a point lookup prunes to exactly one file — turning the
reference's ``WHERE id = ? LIMIT 1`` (reference
``database_logic.py:168-189``) into a single-file, single-row-group
scan regardless of table size. The index is metadata-only (KBs per
1000 files) and safe: a file with missing stats is always kept.

Statistics keep the Python type pyarrow gives them, so a lookup value
must compare with it: an instant column (TIMESTAMP with
``isAdjustedToUTC``) has aware stats, and is queried with aware values
(``functions/timestamps.py`` makes every instant the engine handles
aware UTC); a ``timestamp_ntz`` column has naive stats and naive values.
"""

from __future__ import annotations

from typing import Any
from urllib.parse import urlparse
from urllib.request import url2pathname

from pyspark.sql import DataFrame, SparkSession


def local_files(df: DataFrame) -> list[str] | None:
    """The files the Spark read ``df`` scans (``inputFiles``: Spark's
    own listing, recursive, ``_``/``.``-prefixed names skipped) as
    sorted local paths; None unless each is a ``file:`` URI."""
    uris = [urlparse(u) for u in df.inputFiles()]
    if not uris or any(u.scheme != "file" for u in uris):
        return None
    return sorted(url2pathname(u.path) for u in uris)


def build_file_index(files: list[str], columns: list[str]) -> dict[str, dict]:
    """One footer sweep over the parquet ``files`` → per-file min/max
    for ``columns``. Run it where the data lives (driver-side here; as a
    distributed mapPartitions over file lists at cluster scale)."""
    import pyarrow.parquet as pq

    index: dict[str, dict] = {}
    for f in files:
        md = pq.ParquetFile(f).metadata
        name_to_idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        stats: dict[str, Any] = {}
        for col in columns:
            if col not in name_to_idx:
                continue
            lo = hi = None
            ok = True
            for rg in range(md.num_row_groups):
                s = md.row_group(rg).column(name_to_idx[col]).statistics
                if s is None or not s.has_min_max:
                    ok = False
                    break
                lo = s.min if lo is None else min(lo, s.min)
                hi = s.max if hi is None else max(hi, s.max)
            if ok and lo is not None:
                stats[col] = {"min": lo, "max": hi}
        index[f] = stats
    return index


def prune_files(
    index: dict[str, dict], col: str, lo: Any, hi: Any | None = None
) -> list[str]:
    """Files whose [min,max] for ``col`` overlaps [lo, hi] (point
    lookup when ``hi`` is None). Files without stats for ``col`` are
    kept — skipping is an optimization, never a correctness filter."""
    hi = lo if hi is None else hi
    keep = []
    for f, stats in index.items():
        s = stats.get(col)
        if s is None or not (s["max"] < lo or s["min"] > hi):
            keep.append(f)
    return keep


def indexed_read(
    spark: SparkSession,
    index: dict[str, dict],
    col: str,
    lo: Any,
    hi: Any | None = None,
) -> DataFrame:
    """Read only the files that can contain ``col`` ∈ [lo, hi]. The
    row-level predicate must still be applied by the caller (the index
    prunes FILES, not rows). An empty file set returns an empty
    DataFrame with the schema of the first indexed file."""
    files = prune_files(index, col, lo, hi)
    if not files:
        all_files = sorted(index)
        empty = spark.read.parquet(all_files[0]).limit(0)
        return empty
    return spark.read.parquet(*files)
