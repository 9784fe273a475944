"""End-to-end search pipeline tests — the Spark analog of the
reference's e2e suite (tests/api/test_api.py, test_sorting_api.py)."""

import pytest

from stac_fastapi_duckdb_spark.errors import InvalidQueryError, NotFoundError
from stac_fastapi_duckdb_spark.operators.search import (
    execute_search,
    get_one_item,
)

HIT_BBOX = [-66, -16, -60, -8]  # reference tests/api/test_api.py:45
MISS_BBOX = [0, 0, 1, 1]  # :133
HIT_RANGE = "2019-01-01T00:00:00Z/2023-01-01T00:00:00Z"  # :64
FUTURE_RANGE = "2030-06-01T00:00:00Z/2031-01-01T00:00:00Z"


def test_item_collection_basic(catalog):
    items, matched, token = execute_search(
        catalog, collection_ids=["col-a"], limit=5
    )
    assert len(items) == 5
    assert matched == 20
    assert token == "5"
    assert all(i["collection"] == "col-a" for i in items)


def test_union_across_collections(catalog):
    items, matched, _ = execute_search(catalog, limit=100)
    assert matched == 28  # 20 + 8
    assert {i["collection"] for i in items} == {"col-a", "col-b"}


def test_bbox_hit_and_miss(catalog):
    items, matched, _ = execute_search(
        catalog, collection_ids=["col-a"], bbox=HIT_BBOX, limit=100
    )
    assert matched == 10
    assert all(i["id"].startswith("item-a-00") for i in items)

    # ocean bbox → empty (negative-result invariant, test_api.py:129-145)
    items, matched, token = execute_search(
        catalog, collection_ids=["col-a"], bbox=MISS_BBOX, limit=100
    )
    assert items == [] and matched == 0 and token is None


def test_datetime_filter(catalog):
    items, matched, _ = execute_search(
        catalog, collection_ids=["col-a"], datetime_interval=HIT_RANGE, limit=100
    )
    # instants within 2019-2023 plus all interval rows (2019..2022 overlap)
    assert matched > 0
    ids = {i["id"] for i in items}
    assert "item-a-000" in ids  # interval row overlaps

    items, matched, _ = execute_search(
        catalog, collection_ids=["col-a"], datetime_interval=FUTURE_RANGE, limit=100
    )
    assert items == [] and matched == 0


def test_combined_bbox_datetime(catalog):
    items, matched, _ = execute_search(
        catalog,
        collection_ids=["col-a"],
        bbox=HIT_BBOX,
        datetime_interval=HIT_RANGE,
        limit=100,
    )
    assert 0 < matched <= 10


def test_ids_filter(catalog):
    items, matched, _ = execute_search(
        catalog, item_ids=["item-a-003", "item-b-001"], limit=10
    )
    assert matched == 2
    assert sorted(i["id"] for i in items) == ["item-a-003", "item-b-001"]


def test_sortby_asc_desc(catalog):
    # reference tests/api/test_sorting_api.py
    items, _, _ = execute_search(
        catalog, collection_ids=["col-a"], sortby=["+id"], limit=20
    )
    ids = [i["id"] for i in items]
    assert ids == sorted(ids)

    items, _, _ = execute_search(
        catalog, collection_ids=["col-a"], sortby=["-id"], limit=20
    )
    ids = [i["id"] for i in items]
    assert ids == sorted(ids, reverse=True)


def test_sortby_post_style(catalog):
    items, _, _ = execute_search(
        catalog,
        collection_ids=["col-a"],
        sortby=[{"field": "cloud_cover", "direction": "desc"}],
        limit=5,
    )
    ccs = [i.get("cloud_cover") for i in items]
    ccs = [c for c in ccs if c is not None]
    assert ccs == sorted(ccs, reverse=True)


def test_offset_pagination_stable(catalog):
    page1, _, tok1 = execute_search(
        catalog, collection_ids=["col-a"], limit=7
    )
    assert tok1 == "7"
    page2, _, tok2 = execute_search(
        catalog, collection_ids=["col-a"], limit=7, token=tok1
    )
    assert tok2 == "14"
    page3, _, tok3 = execute_search(
        catalog, collection_ids=["col-a"], limit=7, token=tok2
    )
    assert tok3 is None  # 20 rows: 7+7+6
    all_ids = [i["id"] for i in page1 + page2 + page3]
    assert len(all_ids) == 20
    assert all_ids == sorted(all_ids)  # default sort = id asc


def test_keyset_pagination(catalog):
    from stac_fastapi_duckdb_spark.operators.pagination import keyset_token

    page1, _, _ = execute_search(
        catalog, collection_ids=["col-a"], limit=7
    )
    tok = keyset_token([page1[-1]["id"]])
    page2, _, _ = execute_search(
        catalog, collection_ids=["col-a"], limit=7, token=tok
    )
    assert page2[0]["id"] > page1[-1]["id"]
    assert len({i["id"] for i in page1 + page2}) == 14


def test_invalid_inputs_raise(catalog):
    # reference tests/api/test_api.py:205-224 expects 400/422
    with pytest.raises(InvalidQueryError):
        execute_search(catalog, bbox=[0, 1, 2], limit=1)  # 3-coordinate bbox
    with pytest.raises(InvalidQueryError):
        execute_search(catalog, datetime_interval="not-a-date", limit=1)
    with pytest.raises(InvalidQueryError):
        execute_search(catalog, limit=0)


def test_cql2_search(catalog):
    flt = {
        "op": "and",
        "args": [
            {"op": "=", "args": [{"property": "platform"}, "sentinel-2"]},
            {"op": ">=", "args": [{"property": "gsd"}, 12]},
        ],
    }
    items, matched, _ = execute_search(catalog, cql2_filter=flt, limit=100)
    assert matched == 6  # col-b gsd 12..17
    assert all(i["collection"] == "col-b" for i in items)


def test_stacql_search(catalog):
    items, matched, _ = execute_search(
        catalog,
        collection_ids=["col-a"],
        query={"platform": {"eq": "landsat-8"}},
        limit=100,
    )
    assert matched == 5


def test_get_one_item(catalog):
    row = get_one_item(catalog, "col-a", "item-a-007")
    assert row["id"] == "item-a-007"
    with pytest.raises(NotFoundError):
        get_one_item(catalog, "col-a", "no-such-item")


def test_collection_documents(catalog):
    docs = catalog.all_collections()
    assert [d["id"] for d in docs] == ["col-a", "col-b", "col-no-items"]
    one = catalog.find_collection("col-a")
    assert one["id"] == "col-a"
    with pytest.raises(NotFoundError):
        catalog.find_collection("missing")


def test_fields_projection_pushdown(catalog):
    items, _, _ = execute_search(
        catalog, collection_ids=["col-a"], limit=3, fields=["platform"]
    )
    assert len(items) == 3
    for it in items:
        assert "platform" in it and "id" in it and "geometry" in it
        assert "eo:cloud_cover" not in it  # unselected column never fetched


def test_fields_exclude_list(catalog):
    # exclude-only form: everything except the excluded column
    items, _, _ = execute_search(
        catalog,
        collection_ids=["col-a"],
        limit=3,
        fields={"exclude": ["cloud_cover"]},
    )
    for it in items:
        assert "platform" in it and "id" in it
        assert "cloud_cover" not in it


def test_fields_include_minus_exclude_protects_required(catalog):
    items, _, _ = execute_search(
        catalog,
        collection_ids=["col-a"],
        limit=3,
        fields={"include": ["platform", "cloud_cover"], "exclude": ["platform", "id"]},
    )
    for it in items:
        assert "cloud_cover" in it
        assert "platform" not in it  # include minus exclude
        assert "id" in it and "geometry" in it  # serialization columns kept


def test_fields_projection_prunes_scan(catalog):
    from stac_fastapi_duckdb_spark.operators.search import SearchBuilder
    from stac_fastapi_duckdb_spark.operators.sort import populate_sort

    df = SearchBuilder(catalog).apply_collections(["col-a"]).dataframe()
    pruned = df.select("id", "platform")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    schema = plan.split("ReadSchema:", 1)[1].splitlines()[0]
    assert "platform" in schema and "cloud_cover" not in schema


def test_desc_sort_nulls_last(catalog):
    # DuckDB (the reference engine) defaults to NULLS LAST for DESC too;
    # Spark's bare desc() is nulls-first — pinned here so sortby=-field
    # never surfaces null-valued rows on page 1
    items, _, _ = execute_search(
        catalog,
        collection_ids=["col-a"],
        sortby=[{"field": "cloud_cover", "direction": "desc"}],
        limit=100,
    )
    ccs = [i.get("cloud_cover") for i in items]
    non_null = [c for c in ccs if c is not None]
    assert any(c is None for c in ccs)  # fixture must exercise nulls
    assert ccs[: len(non_null)] == non_null  # nulls strictly at the tail
    assert non_null == sorted(non_null, reverse=True)


def test_keyset_offset_parity_across_null_region(catalog):
    """Page-by-keyset and page-by-offset must yield the identical id
    sequence under a nullable sort key — including the pages that start
    inside the NULL tail, where the boundary row's sort value is NULL
    and only the null-aware predicate (eqNullSafe prefix + isNull
    branch) can advance."""
    from stac_fastapi_duckdb_spark.operators.pagination import keyset_token

    sortby = [{"field": "cloud_cover", "direction": "desc"}]
    common = dict(catalog=catalog, collection_ids=["col-a"], sortby=sortby)
    want = [i["id"] for i in execute_search(limit=100, **common)[0]]
    assert len(want) == 20

    got_off, tok = [], None
    for _ in range(20):
        page, _, tok = execute_search(limit=3, token=tok, **common)
        got_off += [i["id"] for i in page]
        if tok is None:
            break
    assert got_off == want

    got_ks, tok = [], None
    for _ in range(20):
        page, _, _ = execute_search(limit=3, token=tok, **common)
        got_ks += [i["id"] for i in page]
        if len(page) < 3:
            break
        tok = keyset_token([page[-1].get("cloud_cover"), page[-1]["id"]])
    assert got_ks == want


def test_exact_count_rides_page_scan(catalog, monkeypatch):
    """numMatched must come from the observe metric computed by the page
    action itself — never a second count action (the reference's
    double-scan defect, database_logic.py:957-958). count() is poisoned
    for the duration, so any fallback to a second scan fails loudly."""
    from pyspark.sql import DataFrame

    def _boom(self):
        raise AssertionError("execute_search ran a second count scan")

    monkeypatch.setattr(DataFrame, "count", _boom)
    items, matched, token = execute_search(
        catalog, collection_ids=["col-a"], limit=5
    )
    assert len(items) == 5 and matched == 20 and token == "5"

    # keyset page: matched still reports the FULL result size
    items2, matched2, _ = execute_search(
        catalog, collection_ids=["col-a"], limit=5, token=token
    )
    assert len(items2) == 5 and matched2 == 20

    # fields projection above the metric node keeps count green too
    _, matched3, _ = execute_search(
        catalog, collection_ids=["col-a"], limit=3, fields=["platform"]
    )
    assert matched3 == 20


def test_bbox_plan_is_intersects_plan(catalog):
    """A bbox compiles to the plan of intersects with its rectangle."""
    import re

    from stac_fastapi_duckdb_spark.operators.search import SearchBuilder

    w, s, e, n = (float(v) for v in HIT_BBOX)
    rectangle = {
        "type": "Polygon",
        "coordinates": [[[w, s], [e, s], [e, n], [w, n], [w, s]]],
    }

    def plan(apply):
        df = apply(SearchBuilder(catalog).apply_collections(["col-a"])).dataframe()
        return re.sub(r"#\d+", "#", df._jdf.queryExecution().optimizedPlan().toString())

    by_bbox = plan(lambda b: b.apply_bbox(HIT_BBOX))
    assert "ArrowEvalPython" in by_bbox and "bbox#[0]" in by_bbox
    assert by_bbox == plan(lambda b: b.apply_intersects(rectangle))
