"""Collection registry: collection_id → parquet URL → cached DataFrame.

Reference behavior being re-expressed (citations into /root/reference):
- ``PARQUET_URLS_JSON`` env var maps collection_id → parquet URL
  (``stac_fastapi/duckdb/config.py:32,41,47-58``); unknown ids error
  (``config.py:74-78,91``).
- Collection JSON documents live at
  ``{STAC_FILE_PATH}/{collection_id}/collection.json``
  (``database_logic.py:75-102,123-133``).
- Every scan injects a constant ``collection`` column:
  ``SELECT *, ? AS collection FROM read_parquet(?)``
  (``database_logic.py:835``) → ``withColumn("collection", lit(cid))``.
- Schema probe ``SELECT * ... LIMIT 0`` (``database_logic.py:867-878``)
  → ``df.schema`` (metadata-only, no job).

Scale design: per-collection DataFrames are lazily created and cached in
a dict — Spark caches parquet footers per session, so repeated searches
re-plan without re-listing files. For a 100 TB deployment the better
layout is ONE table partitioned by ``collection`` (partition pruning
replaces the registry's source pruning); ``CollectionCatalog.from_table``
supports that layout: a single partitioned DataFrame where per-collection
access compiles to a partition-pruned filter instead of a separate scan.
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterable
from decimal import Decimal

import pyarrow.dataset as pds
import pyarrow.types as patypes
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stac_fastapi_duckdb_spark.errors import NotFoundError
from stac_fastapi_duckdb_spark.functions import timestamps
from stac_fastapi_duckdb_spark.sources.index import build_file_index, prune_files

COLLECTION_COL = "collection"


def _as_spark_py(v, t, nested=False):
    """One pyarrow ``to_pylist`` value of arrow type ``t`` → what the
    Spark plan's row (``timestamps.rows_to_dicts``) holds for the same
    parquet cell: maps → dicts, tz-aware timestamps → aware UTC, ns
    timestamps → aware UTC at µs as ``items_df`` reads them (a
    ``nested`` one stays the epoch-ns int the session reads), uint64 →
    Decimal (Spark's ``decimal(20,0)``), lists and structs recursed;
    binary stays bytes and naive timestamps stay as they are (Spark's
    ``timestamp_ntz``). A struct-keyed map raises TypeError."""
    if v is None:
        return None
    if patypes.is_map(t):
        return {
            _as_spark_py(k, t.key_type, True): _as_spark_py(x, t.item_type, True)
            for k, x in v
        }
    if patypes.is_struct(t):
        return {f.name: _as_spark_py(v[f.name], f.type, True) for f in t}
    if patypes.is_list(t) or patypes.is_large_list(t) or patypes.is_fixed_size_list(t):
        return [_as_spark_py(x, t.value_type, True) for x in v]
    if patypes.is_timestamp(t):
        if t.unit == "ns":  # a pandas.Timestamp
            return v.value if nested else timestamps.from_epoch_nanos(v.value)
        if t.tz is not None:
            return timestamps.to_utc(v)
    if patypes.is_uint64(t):
        return Decimal(v)
    return v


def _local_path(url) -> str | None:
    """The filesystem path of a single-URL collection that lives on this
    host (``file://`` stripped), else None: a URL list, a remote URL, or
    a path that does not exist here."""
    if not isinstance(url, str):
        return None
    path = url.removeprefix("file://")
    return path if os.path.exists(path) else None


class PointReadUnavailable(Exception):
    """Raised by :meth:`CollectionCatalog.point_read` for a source it
    cannot read driver-side (single-table catalog, not one local parquet
    path, no manifest, INT96, a failed read); the caller answers with
    the Spark plan. A MISSING item returns ``None`` instead."""

# item-table source formats by extension; anything else is parquet
_FORMAT_EXTS = (
    (".csv", "csv"),
    (".csv.gz", "csv"),
    (".json", "json"),
    (".jsonl", "json"),
    (".ndjson", "json"),
    (".json.gz", "json"),
    (".orc", "orc"),
)


def _detect_format(urls: list[str]) -> str:
    """Extension-sniffed source format; a collection must be uniform
    (one format across its file list)."""
    fmts = set()
    for u in urls:
        base = u.lower().split("?", 1)[0].rstrip("/")
        for ext, fmt in _FORMAT_EXTS:
            if base.endswith(ext):
                fmts.add(fmt)
                break
        else:
            fmts.add("parquet")
    if len(fmts) > 1:
        raise ValueError(f"collection URL list mixes formats {fmts}: {urls}")
    return fmts.pop()


class CollectionCatalog:
    """Registry of STAC collections backed by parquet files or a
    single collection-partitioned table."""

    def __init__(
        self,
        spark: SparkSession,
        parquet_urls: dict[str, str] | None = None,
        stac_file_path: str | None = None,
    ) -> None:
        self.spark = spark
        self._urls: dict[str, str] = dict(parquet_urls or {})
        self._stac_file_path = stac_file_path
        self._df_cache: dict[str, DataFrame] = {}
        self._partitioned: DataFrame | None = None
        # collection_id → manifest min/max file index (sources/index.py)
        self._file_index: dict[str, dict[str, dict]] = {}

    # ------------------------------------------------------------------
    # construction
    # ------------------------------------------------------------------
    @classmethod
    def from_env(cls, spark: SparkSession) -> "CollectionCatalog":
        """Mirror of reference config: PARQUET_URLS_JSON + STAC_FILE_PATH
        (``config.py:31-58``)."""
        raw = os.environ.get("PARQUET_URLS_JSON", "{}")
        return cls(spark, json.loads(raw), os.environ.get("STAC_FILE_PATH"))

    @classmethod
    def from_table(cls, spark: SparkSession, df: DataFrame) -> "CollectionCatalog":
        """Single-table layout: ``df`` already carries a ``collection``
        column (ideally a partition column → pruning is free)."""
        cat = cls(spark)
        cat._partitioned = df
        return cat

    def register(self, collection_id: str, url: str) -> None:
        self._urls[collection_id] = url
        self._df_cache.pop(collection_id, None)
        # the manifest holds absolute file paths into the previous dataset;
        # keeping it would make point_read look in the OLD files
        self._file_index.pop(collection_id, None)

    # ------------------------------------------------------------------
    # item tables
    # ------------------------------------------------------------------
    def collection_ids(self) -> list[str]:
        if self._partitioned is not None:
            # distinct over a partition column is a metadata-sized job
            return [
                r[0]
                for r in self._partitioned.select(COLLECTION_COL).distinct().collect()
            ]
        return sorted(self._urls)

    def items_df(self, collection_id: str) -> DataFrame:
        """DataFrame of one collection's items, with the injected
        constant ``collection`` column (reference S2). A local parquet
        collection's ``timestamp[ns]`` columns become µs TimestampType
        (``timestamps.with_micros``).

        URL forms: a path/s3a/hdfs/file URL (native reader), an http(s)
        URL, a LIST of http(s) URLs (multi-file collection), or a
        ``*manifest.json`` URL — the http forms read through the
        executor-side ranged data source (``sources/http_parquet.py``),
        never a driver download."""
        if self._partitioned is not None:
            return self._partitioned.filter(F.col(COLLECTION_COL) == collection_id)
        if collection_id in self._df_cache:
            return self._df_cache[collection_id]
        url = self._urls.get(collection_id)
        if url is None:
            raise NotFoundError(f"Collection {collection_id} not configured")
        df = self._read_source(url)
        path = _local_path(url)
        if path is not None and _detect_format([path]) == "parquet":
            df = timestamps.with_micros(df, pds.dataset(path, format="parquet").schema)
        df = df.withColumn(COLLECTION_COL, F.lit(collection_id))
        self._df_cache[collection_id] = df
        return df

    def _read_source(self, url) -> DataFrame:
        urls = list(url) if isinstance(url, (list, tuple)) else [url]
        n_http = sum(u.startswith(("http://", "https://")) for u in urls)
        if n_http == 0:
            # native reader: local / file:// / s3a:// / hdfs:// paths,
            # single or multi-path. Format by extension — the reference
            # is parquet-only (DuckDB read_parquet, config.py:112-121);
            # csv/ndjson item tables are a Spark-side extension for
            # catalogs that land raw exports before compaction.
            fmt = _detect_format(urls)
            reader = self.spark.read
            if fmt == "csv":
                # inferSchema is a convenience for small/landing tables
                # — it costs an extra pass, so production collections
                # should be compacted to parquet (sources/writer.py)
                return reader.options(
                    header=True, inferSchema=True, multiLine=False
                ).csv(*urls)
            if fmt == "json":
                # NDJSON (one item per line); the json reader unions
                # schemas across files natively
                return reader.json(*urls)
            if fmt == "orc":
                # ORC carries footer min/max stats like parquet, so
                # predicate pushdown and schema evolution work the
                # same way (Hive-era catalogs land item tables as ORC)
                if len(urls) > 1:
                    reader = reader.option("mergeSchema", "true")
                return reader.orc(*urls)
            # Multi-file parquet collections evolve (new
            # proj:*/properties columns appear in newer files);
            # mergeSchema unions the footers so late-added columns
            # surface as nulls in old files instead of being silently
            # dropped by the sampled-file schema.
            if len(urls) > 1:
                reader = reader.option("mergeSchema", "true")
            return reader.parquet(*urls)
        if n_http != len(urls):
            raise ValueError(
                f"collection URL list mixes http(s) and native paths: {urls}"
            )
        # http(s) collections are parquet-only (ranged reads need footer
        # metadata) — except *manifest.json, the object-store listing
        # analog the http source expands itself
        from stac_fastapi_duckdb_spark.sources.http_parquet import (
            is_manifest_url,
        )

        bad = [
            u
            for u in urls
            if _detect_format([u]) != "parquet" and not is_manifest_url(u)
        ]
        if bad:
            raise ValueError(
                f"http(s) collections are parquet-only (or *manifest.json): {bad}"
            )
        from stac_fastapi_duckdb_spark.sources import http_parquet as hp

        hp.ensure_registered(self.spark)
        return (
            self.spark.read.format("http_parquet")
            .option("urls", json.dumps(urls))
            .load()
        )

    # ------------------------------------------------------------------
    # manifest file-skipping (sources/index.py): point lookups over a
    # multi-file, key-sorted collection open only overlapping files
    # ------------------------------------------------------------------
    def build_item_index(
        self, collection_id: str, columns: Iterable[str] = ("id",)
    ) -> dict[str, dict]:
        """One parquet-footer sweep over the collection's files →
        driver-held ``{file → {col → (min,max)}}`` manifest. Metadata-only
        (KBs per 1000 files); makes ``point_read`` open only the files
        whose stats overlap the key instead of every file in the
        collection. Local paths only — any other collection is left
        unindexed (``{}``); the http data source does its own footer-stat
        row-group skipping."""
        url = self._urls.get(collection_id)
        if url is None:
            raise NotFoundError(f"Collection {collection_id} not configured")
        path = _local_path(url)
        if path is None:
            return {}
        idx = build_file_index(path, list(columns))
        self._file_index[collection_id] = idx
        return idx

    def point_read(
        self, collection_id: str, item_id, id_col: str = "id"
    ) -> dict | None:
        """Serving-latency point lookup, entirely driver-side: manifest
        prune (``build_item_index``, built lazily on first use) to the
        files whose id stats admit ``item_id``, then a pyarrow
        predicate read of those files — row groups whose stats exclude
        the id are never decoded. On a key-sorted layout this opens ONE
        file and usually one row group, a few ms against a
        collection of any size; no Spark job is scheduled. Serves every
        local parquet collection whatever its column types: returns the
        item shaped exactly like the Spark plan's row
        (``_as_spark_py``, plus the injected ``collection``),
        ``None`` when the item is provably absent, and raises
        :class:`PointReadUnavailable` for a source it cannot read (the
        caller falls back to the Spark plan — ``get_one_item``). INT96
        is refused: pyarrow reads it as naive wall-clock ns, Spark as a
        UTC instant, and its arrow type is that of TIMESTAMP(NANOS).

        The reference serves this with a full DuckDB query per lookup
        (``database_logic.py:156-189``); a long-lived Spark session
        pays ~0.3 s of scheduling for the same one-row answer, which
        is the wrong constant for an API's hottest endpoint."""
        if self._partitioned is not None:
            raise PointReadUnavailable("single-table catalog")
        url = self._urls.get(collection_id)
        if url is None:
            raise NotFoundError(f"Collection {collection_id} not configured")
        path = _local_path(url)
        if path is None or _detect_format([path]) != "parquet":
            raise PointReadUnavailable("not a single local parquet path")
        idx = self._file_index.get(collection_id)
        if idx is None:
            # one-time footer sweep; cached on the catalog afterwards
            idx = self.build_item_index(collection_id, (id_col,))
        if not idx:
            raise PointReadUnavailable("no manifest index")
        files = prune_files(idx, id_col, item_id)
        if not files:
            return None  # stats prove no file can hold the key
        try:
            dataset = pds.dataset(files, format="parquet")
            frags = dataset.get_fragments()
            if any(c.physical_type == "INT96" for f in frags for c in f.metadata.schema):
                raise PointReadUnavailable("INT96 timestamp column")
            tbl = dataset.to_table(filter=pds.field(id_col) == item_id)
            if tbl.num_rows == 0:
                return None
            first = tbl.slice(0, 1).to_pylist()[0]
            row = {f.name: _as_spark_py(first[f.name], f.type) for f in tbl.schema}
        except PointReadUnavailable:
            raise
        except Exception as exc:  # corrupt footer, schema unification, …
            # any fast-path failure degrades to the Spark plan rather
            # than surfacing a 500 the distributed scan could serve
            raise PointReadUnavailable(f"pyarrow read failed: {exc}") from exc
        row[COLLECTION_COL] = collection_id
        return row

    def sources(self, collection_ids: Iterable[str] | None) -> list[tuple[str, DataFrame]]:
        """Resolve requested collections to (id, DataFrame) pairs;
        ``None``/empty → all configured (``database_logic.py:810-824``)."""
        ids = list(collection_ids) if collection_ids else self.collection_ids()
        return [(cid, self.items_df(cid)) for cid in ids]

    # ------------------------------------------------------------------
    # collection.json documents (reference S4: driver-side filesystem)
    # ------------------------------------------------------------------
    def all_collections(self) -> list[dict]:
        """List collection documents from the STAC_FILE_PATH tree
        (``database_logic.py:75-102``). Metadata, not a scan target —
        stays driver-side Python by design."""
        out: list[dict] = []
        base = self._stac_file_path
        if not base or not os.path.isdir(base):
            return out
        for name in sorted(os.listdir(base)):
            path = os.path.join(base, name, "collection.json")
            if os.path.isfile(path):
                with open(path) as f:
                    out.append(json.load(f))
        return out

    def find_collection(self, collection_id: str) -> dict:
        """Point lookup of one collection document
        (``database_logic.py:123-133``); missing → NotFoundError."""
        base = self._stac_file_path
        path = os.path.join(base or "", collection_id, "collection.json")
        if not base or not os.path.isfile(path):
            raise NotFoundError(f"Collection {collection_id} not found")
        with open(path) as f:
            return json.load(f)
