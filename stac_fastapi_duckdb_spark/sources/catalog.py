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

Scale design: a collection is one snapshot (its Spark plan, the files
Spark lists for it, their footer schema, the id manifest), built on
first use and dropped by ``register``. Search and both item readers
serve from it, as the reference's one ``read_parquet(url)`` serves both
(``database_logic.py:156-189,831-851``). At 100 TB, ONE table
partitioned by ``collection`` is the better layout: ``from_table``
serves each collection from it as a partition-pruned filter.
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterable
from dataclasses import dataclass
from decimal import Decimal
from urllib.parse import urlparse

import pyarrow as pa
import pyarrow.dataset as pds
import pyarrow.parquet as pq
import pyarrow.types as patypes
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from stac_fastapi_duckdb_spark.errors import NotFoundError
from stac_fastapi_duckdb_spark.functions import timestamps
from stac_fastapi_duckdb_spark.sources.index import build_file_index, local_files, prune_files

COLLECTION_COL = "collection"


def _as_spark_py(v, t):
    """One pyarrow ``to_pylist`` value of arrow type ``t`` → what the
    Spark plan's row (``timestamps.rows_to_dicts``) holds for the same
    parquet cell: maps → dicts, tz-aware timestamps → aware UTC, ns
    timestamps (at any depth) → aware UTC at µs as ``items_df`` reads
    them, uint64 → Decimal (Spark's ``decimal(20,0)``), lists and
    structs recursed; binary stays bytes and naive timestamps stay as
    they are (Spark's ``timestamp_ntz``). A struct-keyed map raises
    TypeError."""
    if v is None:
        return None
    if patypes.is_map(t):
        return {_as_spark_py(k, t.key_type): _as_spark_py(x, t.item_type) for k, x in v}
    if patypes.is_struct(t):
        return {f.name: _as_spark_py(v[f.name], f.type) for f in t}
    if patypes.is_list(t) or patypes.is_large_list(t) or patypes.is_fixed_size_list(t):
        return [_as_spark_py(x, t.value_type) for x in v]
    if patypes.is_timestamp(t):
        if t.unit == "ns":  # a pandas.Timestamp
            return timestamps.from_epoch_nanos(v.value)
        if t.tz is not None:
            return timestamps.to_utc(v)
    if patypes.is_uint64(t):
        return Decimal(v)
    return v


class PointReadUnavailable(Exception):
    """Raised by :meth:`CollectionCatalog.point_read` for a collection
    it cannot read driver-side (no file list, a non-string id, a failed
    read); the caller answers with the Spark plan. A MISSING item
    returns ``None`` instead."""


@dataclass
class _Snapshot:
    """One collection as every reader sees it, built once per
    ``register``. ``files``: the local parquet files Spark's read lists,
    kept only for one URL whose read has no partition column and no
    INT96 column, else None (``refusal`` says why); ``schema``: their
    first footer's; ``index``: the id manifest; ``df``: the Spark plan,
    built by the first ``items_df``."""

    files: list[str] | None = None
    schema: pa.Schema | None = None
    refusal: str = "not a local parquet collection"
    index: dict[str, dict] | None = None
    df: DataFrame | None = None


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
        self._snapshots: dict[str, _Snapshot] = {}
        self._partitioned: DataFrame | None = None

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
        # the old snapshot's plan, file list and manifest are the old dataset's
        self._snapshots.pop(collection_id, None)

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
        collection's ``timestamp[ns]`` values become µs TimestampType
        (``timestamps.with_micros``).

        URL forms: a path/s3a/hdfs/file URL (native reader), an http(s)
        URL, a LIST of http(s) URLs (multi-file collection), or a
        ``*manifest.json`` URL — the http forms read through the
        executor-side ranged data source (``sources/http_parquet.py``),
        never a driver download."""
        if self._partitioned is not None:
            return self._partitioned.filter(F.col(COLLECTION_COL) == collection_id)
        snap = self._snapshots.get(collection_id)
        if snap is None or snap.df is None:
            urls = self._urls_of(collection_id)
            df = self._read_source(urls)
            if snap is None:
                snap = self._snapshots[collection_id] = self._list(urls, df)
            elif snap.files is not None and local_files(df) != snap.files:
                # files changed since an item GET listed them: the plan's
                # listing wins, for both readers, until ``register``
                snap.files, snap.refusal = None, "the files changed since the listing"
            if snap.schema is not None:
                df = timestamps.with_micros(df, snap.schema)
            snap.df = df.withColumn(COLLECTION_COL, F.lit(collection_id))
        return snap.df

    def _urls_of(self, collection_id: str) -> list[str]:
        url = self._urls.get(collection_id)
        if url is None:
            raise NotFoundError(f"Collection {collection_id} not configured")
        return list(url) if isinstance(url, (list, tuple)) else [url]

    def _snapshot(self, collection_id: str) -> _Snapshot:
        """The item readers' snapshot; before any search, one listed
        without the plan's read, whose schema inference is a Spark job."""
        if self._partitioned is not None:
            return _Snapshot(refusal="single-table catalog")  # not kept: any id is a slice
        snap = self._snapshots.get(collection_id)
        if snap is None:
            snap = self._snapshots[collection_id] = self._list(self._urls_of(collection_id))
        return snap

    def _list(self, urls: list[str], read: DataFrame | None = None) -> _Snapshot:
        """A snapshot (no plan yet) from the files Spark's ``read`` of
        ``urls`` lists; with no ``read``, from one with a supplied empty
        schema, which lists the same files and partition columns."""
        snap = _Snapshot()
        if _detect_format(urls) != "parquet" or any(
            urlparse(u).scheme not in ("", "file") for u in urls
        ):
            return snap
        if read is None:
            read = self.spark.read.schema(StructType()).parquet(*urls)
        files = local_files(read)
        if not files:
            return snap
        footer = pq.read_metadata(files[0])
        snap.schema = footer.schema.to_arrow_schema()
        if any(c not in snap.schema.names for c in read.columns):
            snap.refusal = "the read has columns beyond the footer's (partitions)"
        elif len(urls) > 1:
            snap.refusal = "a URL list's read merges its footers' schemas"
        elif any(c.physical_type == "INT96" for c in footer.schema):
            # pyarrow reads INT96 as naive wall-clock ns, Spark as a
            # UTC instant, and its arrow type is that of TIMESTAMP(NANOS)
            snap.refusal = "INT96 timestamp column"
        else:
            snap.files = files
        return snap

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
        """One parquet-footer sweep over the snapshot's file list →
        driver-held ``{file → {col → (min,max)}}`` manifest, kept on the
        snapshot (KBs per 1000 files): ``point_read`` then opens only the
        files whose stats admit the key. No file list → ``{}`` (the http
        source skips row groups by footer stats itself)."""
        snap = self._snapshot(collection_id)
        snap.index = build_file_index(snap.files, list(columns)) if snap.files else {}
        return snap.index

    def point_read(
        self, collection_id: str, item_id, id_col: str = "id"
    ) -> dict | None:
        """Serving-latency point lookup, entirely driver-side: manifest
        prune (``build_item_index``, built lazily on first use) to the
        files whose id stats admit ``item_id``, then a pyarrow
        predicate read of those files — row groups whose stats exclude
        the id are never decoded. On a key-sorted layout this opens ONE
        file and usually one row group, a few ms against a
        collection of any size; no Spark job is scheduled. Serves a
        snapshot with a file list and a string id, whatever its other
        column types: the item shaped exactly like the Spark plan's row
        (``_as_spark_py``, plus ``collection``), ``None`` when provably
        absent, else :class:`PointReadUnavailable` (``get_one_item``
        then asks the Spark plan).

        The reference serves this with a full DuckDB query per lookup
        (``database_logic.py:156-189``); a long-lived Spark session
        pays ~0.3 s of scheduling for the same one-row answer, which
        is the wrong constant for an API's hottest endpoint."""
        snap = self._snapshot(collection_id)
        if snap.files is None:
            raise PointReadUnavailable(snap.refusal)
        id_type = snap.schema.field(id_col).type if id_col in snap.schema.names else pa.null()
        if not (patypes.is_string(id_type) or patypes.is_large_string(id_type)):
            # the manifest's stats compare only with a value of their type
            raise PointReadUnavailable(f"{id_col!r} is not a string column")
        if snap.index is None:
            self.build_item_index(collection_id, (id_col,))
        files = prune_files(snap.index, id_col, item_id)
        if not files:
            return None  # stats prove no file can hold the key
        try:
            dataset = pds.dataset(files, schema=snap.schema, format="parquet")
            tbl = dataset.to_table(filter=pds.field(id_col) == item_id)
            if tbl.num_rows == 0:
                return None
            first = tbl.slice(0, 1).to_pylist()[0]
            row = {f.name: _as_spark_py(first[f.name], f.type) for f in tbl.schema}
        except Exception as exc:  # corrupt footer, schema unification, …
            # any fast-path failure degrades to the Spark plan rather
            # than surfacing a 500 the distributed scan could serve
            raise PointReadUnavailable(f"pyarrow read failed: {exc}") from exc
        row[COLLECTION_COL] = collection_id
        return row

    def sources(self, collection_ids: Iterable[str] | None) -> list[tuple[str, DataFrame]]:
        """Requested collections, each once in first-seen order → (id,
        DataFrame) pairs; none → all configured (database_logic.py:810-824)."""
        ids = dict.fromkeys(collection_ids) if collection_ids else self.collection_ids()
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
