"""HTTP(S) parquet source (S1 parity with the reference's httpfs path,
config.py:112-121) — executor-side ranged reads via the Python
DataSource API, exercised against a loopback Range-capable server with
a request log. No network."""

from __future__ import annotations

import http.server
import json
import os
import threading

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from stac_fastapi_duckdb_spark.sources.catalog import CollectionCatalog


class _RangeHandler(http.server.BaseHTTPRequestHandler):
    """Static file server with HTTP Range support + shared request log:
    (path, range_header or None) per GET."""

    directory: str = "."
    log: list[tuple[str, str | None]] = []

    def log_message(self, *a):  # silence
        pass

    def do_GET(self):
        path = os.path.join(self.directory, self.path.lstrip("/"))
        if not os.path.isfile(path):
            self.send_error(404)
            return
        size = os.path.getsize(path)
        rng = self.headers.get("Range")
        type(self).log.append((self.path, rng))
        with open(path, "rb") as fh:
            if rng and rng.startswith("bytes="):
                spec = rng[len("bytes=") :]
                start_s, end_s = spec.split("-", 1)
                start = int(start_s)
                end = int(end_s) if end_s else size - 1
                end = min(end, size - 1)
                fh.seek(start)
                body = fh.read(end - start + 1)
                self.send_response(206)
                self.send_header("Content-Range", f"bytes {start}-{end}/{size}")
            else:
                body = fh.read()
                self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)


@pytest.fixture(scope="module")
def served_dir(tmp_path_factory):
    """Fixture data: a 2-file collection, a 3-row-group file, and a
    manifest listing the 2-file collection."""
    d = tmp_path_factory.mktemp("http_parquet")
    t = pa.table(
        {"id": list(range(300)), "val": [f"v{i:03d}" for i in range(300)]}
    )
    pq.write_table(t.slice(0, 150), d / "part-0.parquet")
    pq.write_table(t.slice(150, 150), d / "part-1.parquet")
    # 3 row groups of 100 rows, id-sorted → min/max stats prune cleanly
    pq.write_table(t, d / "grouped.parquet", row_group_size=100)
    return str(d)


@pytest.fixture(scope="module")
def http_server(served_dir):
    handler = type(
        "Handler", (_RangeHandler,), {"directory": served_dir, "log": []}
    )
    srv = http.server.ThreadingHTTPServer(("127.0.0.1", 0), handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    base = f"http://127.0.0.1:{srv.server_address[1]}"
    (srv_path := served_dir)  # keep for manifest writing below
    with open(os.path.join(srv_path, "collection.manifest.json"), "w") as fh:
        json.dump([f"{base}/part-0.parquet", f"{base}/part-1.parquet"], fh)
    yield base, handler
    srv.shutdown()


def test_multi_file_http_collection(spark, http_server):
    base, handler = http_server
    cat = CollectionCatalog(
        spark, {"web": [f"{base}/part-0.parquet", f"{base}/part-1.parquet"]}
    )
    handler.log.clear()
    df = cat.items_df("web")
    assert df.count() == 300
    assert "collection" in df.columns
    # every byte moved over Range requests — a 200 full-body GET would
    # mean a whole-file download somewhere (the old driver shim)
    full_gets = [p for p, rng in handler.log if rng is None]
    assert full_gets == [], f"whole-file GETs happened: {full_gets}"


def test_driver_plans_from_footers_only(spark, http_server):
    """Planning (schema + partitions) must touch only probe bytes and
    the parquet footer tail — data pages stream to executors during the
    action, never to the driver."""
    from stac_fastapi_duckdb_spark.sources import http_parquet as hp

    base, handler = http_server
    hp.ensure_registered(spark)
    handler.log.clear()
    df = (
        spark.read.format("http_parquet")
        .option("urls", json.dumps([f"{base}/part-0.parquet"]))
        .load()
    )
    df.schema  # planning complete
    size = os.path.getsize(
        os.path.join(handler.directory, "part-0.parquet")
    )
    tail_start = size - hp._FOOTER_PREFETCH
    for path, rng in handler.log:
        assert rng is not None
        start = int(rng[len("bytes=") :].split("-")[0])
        assert start == 0 and rng == "bytes=0-0" or start >= max(0, tail_start), (
            f"driver fetched data bytes during planning: {path} {rng}"
        )


def test_row_group_partitioning_and_stat_pruning(spark, http_server):
    from pyspark.sql.datasource import GreaterThanOrEqual

    from stac_fastapi_duckdb_spark.sources.http_parquet import (
        HttpParquetReader,
    )

    base, handler = http_server
    url = f"{base}/grouped.parquet"

    reader = HttpParquetReader([url])
    assert len(reader.partitions()) == 3  # one per row group

    pruned = HttpParquetReader([url])
    pruned.pushFilters([GreaterThanOrEqual(("id",), 250)])
    parts = pruned.partitions()
    assert len(parts) == 1 and parts[0].row_group == 2  # ids 200-299

    # e2e: pruning elides I/O but rows still filter exactly
    df = (
        spark.read.format("http_parquet")
        .option("urls", json.dumps([url]))
        .load()
    )
    got = df.filter("id >= 250").count()
    assert got == 50


def test_fully_pruned_scan_is_empty_not_broken(spark, http_server):
    from pyspark.sql.datasource import GreaterThan

    from stac_fastapi_duckdb_spark.sources.http_parquet import (
        HttpParquetReader,
    )

    base, _ = http_server
    reader = HttpParquetReader([f"{base}/grouped.parquet"])
    reader.pushFilters([GreaterThan(("id",), 10_000)])
    parts = reader.partitions()
    assert len(parts) == 1 and parts[0].row_group == -2  # marker

    df = (
        spark.read.format("http_parquet")
        .option("urls", json.dumps([f"{base}/grouped.parquet"]))
        .load()
    )
    assert df.filter("id > 10000").count() == 0


def test_manifest_expansion(spark, http_server):
    base, _ = http_server
    cat = CollectionCatalog(spark, {"web": f"{base}/collection.manifest.json"})
    assert cat.items_df("web").count() == 300


def test_single_http_url_collection(spark, http_server):
    """One http(s) URL reads through the executor-side data source; the
    driver keeps no file manifest for it (the source skips row groups
    from footer stats on its own)."""
    base, _ = http_server
    cat = CollectionCatalog(spark, {"web": f"{base}/part-1.parquet"})
    assert cat.items_df("web").count() == 150
    assert cat.build_item_index("web") == {}


def test_object_store_urls_route_to_native_reader(spark):
    """s3a://, hdfs://, file:// and plain paths must reach Spark's own
    datasource (the hadoop filesystem layer — the http data source
    only intercepts plain http(s), which Spark cannot read natively).
    The sandbox has no hadoop-aws jars, so this pins the ROUTING, not a
    live S3 read."""
    from unittest.mock import patch

    from pyspark.sql.readwriter import DataFrameReader

    cat = CollectionCatalog(spark, {})
    for url in (
        "s3a://bucket/prefix/items.parquet",
        "hdfs://nn:8020/warehouse/items.parquet",
        "file:///data/items.parquet",
        "/data/items.parquet",
    ):
        with patch.object(
            DataFrameReader, "parquet", side_effect=RuntimeError("native")
        ) as native:
            with pytest.raises(RuntimeError, match="native"):
                cat._read_source(url)
            assert native.call_args[0][-1] == url


def test_native_multi_path_list(spark, tmp_path):
    """A LIST of native paths reads as one multi-path parquet scan."""
    t = pa.table({"id": [1, 2, 3]})
    pq.write_table(t, tmp_path / "a.parquet")
    pq.write_table(t, tmp_path / "b.parquet")
    cat = CollectionCatalog(
        spark,
        {"c": [str(tmp_path / "a.parquet"), str(tmp_path / "b.parquet")]},
    )
    assert cat.items_df("c").count() == 6


def test_schema_drift_across_http_files(spark, served_dir, http_server):
    """Multi-file collections EVOLVE: newer files gain columns. The
    unified schema must be the union of all footers, with late-added
    columns surfacing as nulls in old files (not silently dropped)."""
    base, handler = http_server
    drift = pa.table(
        {
            "id": list(range(300, 320)),
            "val": [f"v{i}" for i in range(20)],
            "quality": [float(i) / 20 for i in range(20)],  # new column
        }
    )
    pq.write_table(drift, os.path.join(served_dir, "part-2-drift.parquet"))

    cat = CollectionCatalog(
        spark,
        {
            "web": [
                f"{base}/part-0.parquet",
                f"{base}/part-1.parquet",
                f"{base}/part-2-drift.parquet",
            ]
        },
    )
    df = cat.items_df("web")
    assert "quality" in df.columns  # union schema, not first-file schema
    assert df.count() == 320
    from pyspark.sql import functions as F

    # old files: null quality; new file: real values
    assert df.filter(F.col("quality").isNull()).count() == 300
    got = df.filter(F.col("id") == 310).select("quality").collect()[0][0]
    assert abs(got - 0.5) < 1e-9


def test_schema_drift_across_native_files(spark, tmp_path):
    """Native multi-path reads merge footers (mergeSchema) so evolved
    collections keep late-added columns."""
    a = tmp_path / "a.parquet"
    b = tmp_path / "b.parquet"
    pq.write_table(pa.table({"id": [1, 2], "val": ["x", "y"]}), a)
    pq.write_table(
        pa.table({"id": [3], "val": ["z"], "extra": [42]}), b
    )
    cat = CollectionCatalog(spark, {"c": [str(a), str(b)]})
    df = cat.items_df("c")
    assert "extra" in df.columns
    assert df.count() == 3
    from pyspark.sql import functions as F

    assert df.filter(F.col("extra").isNotNull()).count() == 1
