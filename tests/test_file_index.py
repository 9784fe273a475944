"""sources/index.py: manifest-level file skipping over a key-sorted
layout must prune to a tiny file subset and never change results."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from stac_fastapi_duckdb_spark.sources.index import (
    build_file_index,
    indexed_read,
    local_files,
    prune_files,
)

SF = "/root/testdata/sf0.001"
N_FILES = 8


@pytest.fixture(scope="module")
def sorted_layout(spark, tmp_path_factory):
    orders = spark.read.parquet(f"{SF}/orders.parquet")
    out = str(tmp_path_factory.mktemp("idx") / "orders_by_key")
    # key-sorted files: repartitionByRange gives disjoint key ranges
    orders.repartitionByRange(N_FILES, "o_orderkey").sortWithinPartitions(
        "o_orderkey"
    ).write.parquet(out)
    return out


def test_point_lookup_prunes_to_one_file(spark, sorted_layout):
    idx = build_file_index(local_files(spark.read.parquet(sorted_layout)), ["o_orderkey"])
    assert len(idx) == N_FILES
    files = prune_files(idx, "o_orderkey", 100)
    assert len(files) == 1  # disjoint ranges → exactly one candidate
    row = (
        indexed_read(spark, idx, "o_orderkey", 100)
        .filter(F.col("o_orderkey") == 100)
        .collect()
    )
    full = (
        spark.read.parquet(sorted_layout)
        .filter(F.col("o_orderkey") == 100)
        .collect()
    )
    assert row == full and len(row) == 1


def test_range_read_matches_full_scan(spark, sorted_layout):
    idx = build_file_index(local_files(spark.read.parquet(sorted_layout)), ["o_orderkey"])
    lo, hi = 500, 1500
    files = prune_files(idx, "o_orderkey", lo, hi)
    assert 0 < len(files) < N_FILES
    got = (
        indexed_read(spark, idx, "o_orderkey", lo, hi)
        .filter(F.col("o_orderkey").between(lo, hi))
        .count()
    )
    want = (
        spark.read.parquet(sorted_layout)
        .filter(F.col("o_orderkey").between(lo, hi))
        .count()
    )
    assert got == want > 0


def test_out_of_range_lookup_returns_empty_with_schema(spark, sorted_layout):
    idx = build_file_index(local_files(spark.read.parquet(sorted_layout)), ["o_orderkey"])
    assert prune_files(idx, "o_orderkey", -5) == []
    df = indexed_read(spark, idx, "o_orderkey", -5)
    assert df.count() == 0
    assert "o_orderkey" in df.columns


def test_missing_stats_column_keeps_all_files(spark, sorted_layout):
    idx = build_file_index(local_files(spark.read.parquet(sorted_layout)), ["o_orderkey"])
    # a column absent from the index must never prune (fail-safe)
    assert len(prune_files(idx, "no_such_col", 1)) == N_FILES


@pytest.fixture(scope="module")
def stac_multifile_catalog(spark, tmp_path_factory):
    """A STAC-shaped collection written as N id-sorted files, registered
    in a CollectionCatalog with a built manifest index."""
    from stac_fastapi_duckdb_spark.sources.catalog import CollectionCatalog

    out = str(tmp_path_factory.mktemp("cat") / "items")
    items = spark.range(400).select(
        F.format_string("item-%04d", F.col("id")).alias("id"),
        (F.col("id") % 7).cast("double").alias("score"),
    )
    items.repartitionByRange(N_FILES, "id").sortWithinPartitions("id").write.parquet(out)
    cat = CollectionCatalog(spark, {"demo": out})
    cat.build_item_index("demo", ["id"])
    return cat


def test_catalog_point_lookup_scans_one_file(spark, stac_multifile_catalog):
    from stac_fastapi_duckdb_spark.operators.search import get_one_item

    cat = stac_multifile_catalog
    idx = cat.build_item_index("demo", ["id"])
    # disjoint id-sorted files → the point read's manifest prunes to 1 file
    assert len(idx) == N_FILES
    assert len(prune_files(idx, "id", "item-0123")) == 1
    got = get_one_item(cat, "demo", "item-0123")
    assert got["id"] == "item-0123" and got["collection"] == "demo"


def test_catalog_pruned_lookup_missing_item_raises(stac_multifile_catalog):
    from stac_fastapi_duckdb_spark.errors import NotFoundError
    from stac_fastapi_duckdb_spark.operators.search import get_one_item

    with pytest.raises(NotFoundError):
        get_one_item(stac_multifile_catalog, "demo", "item-9999")


def test_catalog_without_index_falls_back(spark, tmp_path):
    from stac_fastapi_duckdb_spark.operators.search import get_one_item
    from stac_fastapi_duckdb_spark.sources.catalog import CollectionCatalog

    out = str(tmp_path / "plain")
    spark.range(10).select(
        F.format_string("it-%02d", F.col("id")).alias("id")
    ).write.parquet(out)
    cat = CollectionCatalog(spark, {"c": out})  # no index built
    assert get_one_item(cat, "c", "it-03")["id"] == "it-03"


def test_reregister_invalidates_df_cache_and_manifest(spark, tmp_path_factory):
    """catalog.register() must drop BOTH the cached DataFrame and the
    file-skipping manifest: a stale manifest holds absolute paths into
    the OLD dataset, so point lookups would read old files or
    incorrectly 404 after a collection is repointed."""
    import pytest as _pytest

    from stac_fastapi_duckdb_spark.errors import NotFoundError
    from stac_fastapi_duckdb_spark.operators.search import get_one_item
    from stac_fastapi_duckdb_spark.sources.catalog import CollectionCatalog

    base = tmp_path_factory.mktemp("rereg")

    def write_items(name, ids):
        p = str(base / name)
        spark.createDataFrame(
            [(i, f"g-{i}") for i in ids], "id string, geometry string"
        ).repartitionByRange(2, "id").sortWithinPartitions("id").write.parquet(p)
        return p

    v1 = write_items("v1", ["a-1", "a-2", "a-3", "a-4"])
    v2 = write_items("v2", ["b-1", "b-2", "b-3", "b-4"])

    cat = CollectionCatalog(spark, {"c": v1})
    cat.build_item_index("c")
    assert get_one_item(cat, "c", "a-2")["id"] == "a-2"

    cat.register("c", v2)  # repoint the collection
    # new data must be visible AND pruned via a FRESH manifest path
    cat.build_item_index("c")
    assert get_one_item(cat, "c", "b-3")["id"] == "b-3"
    with _pytest.raises(NotFoundError):
        get_one_item(cat, "c", "a-2")  # old ids are gone
