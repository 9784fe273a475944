"""Route-level e2e tests for the HTTP API layer — ports of the
reference's API behaviors (/root/reference/tests/api/test_api.py:4-224
and test_sorting_api.py) onto the conftest fixture collections.

The reference drives its FastAPI app through httpx's in-process ASGI
transport; this container has Flask (not FastAPI/httpx), so the same
behaviors run through Flask's in-process test client — identical
routes, payloads, and status-code semantics.

Fixture mapping: the reference's io-lulc-9-class collection → col-a
(20 items; items 0-9 inside bbox (-66,-16,-60,-8), datetimes 2019-2023,
none after 2030, nothing near the ocean bbox (0,0,1,1)).
"""

from __future__ import annotations

import pytest

HIT_BBOX = "-66,-16,-60,-8"
OCEAN_BBOX = "0,0,1,1"
DT_RANGE = "2019-01-01T00:00:00Z/2023-01-01T00:00:00Z"
FUTURE_RANGE = "2030-01-01T00:00:00Z/2031-01-01T00:00:00Z"


@pytest.fixture()
def client(catalog):
    from stac_fastapi_duckdb_spark.api import create_app

    app = create_app(catalog)
    app.config["TESTING"] = True
    return app.test_client()


# ---------------------------------------------------------------------------
# reference tests/api/test_api.py
# ---------------------------------------------------------------------------

def test_get_collections(client):
    resp = client.get("/collections")
    assert resp.status_code == 200
    data = resp.get_json()
    assert "collections" in data and len(data["collections"]) > 0
    assert "col-a" in [c["id"] for c in data["collections"]]


def test_get_collection_items(client):
    resp = client.get("/collections/col-a/items?limit=5")
    assert resp.status_code == 200
    data = resp.get_json()
    assert data["type"] == "FeatureCollection"
    assert len(data["features"]) == 5
    assert data["numMatched"] == 20
    assert data["numReturned"] == 5
    item = data["features"][0]
    assert item["type"] == "Feature"
    assert "id" in item
    assert item["collection"] == "col-a"
    assert "geometry" in item and "properties" in item


def test_bbox_filtering(client):
    resp = client.get(f"/collections/col-a/items?bbox={HIT_BBOX}&limit=3")
    assert resp.status_code == 200
    data = resp.get_json()
    assert data["type"] == "FeatureCollection"
    assert data["numMatched"] == 10  # items 0-9 sit inside the hit bbox
    assert data["numReturned"] == 3


def test_datetime_filtering(client):
    resp = client.get(f"/collections/col-a/items?datetime={DT_RANGE}&limit=3")
    assert resp.status_code == 200
    data = resp.get_json()
    assert data["type"] == "FeatureCollection"
    assert len(data["features"]) == 3
    assert data["numMatched"] > 0


def test_combined_filtering(client):
    resp = client.get(
        f"/collections/col-a/items?bbox={HIT_BBOX}&datetime={DT_RANGE}&limit=2"
    )
    assert resp.status_code == 200
    data = resp.get_json()
    assert data["type"] == "FeatureCollection"
    assert len(data["features"]) == 2


def test_search_endpoint(client):
    resp = client.post(
        "/search",
        json={"collections": ["col-a"], "limit": 3, "datetime": DT_RANGE},
    )
    assert resp.status_code == 200
    data = resp.get_json()
    assert data["type"] == "FeatureCollection"
    assert len(data["features"]) <= 3


def test_real_item_shape(client):
    # reference test_real_item_fixture: a served item is a full STAC Feature
    item = client.get("/collections/col-a/items?limit=1").get_json()["features"][0]
    assert item["type"] == "Feature"
    assert "id" in item and "collection" in item
    assert "geometry" in item and "properties" in item
    assert item["geometry"]["type"] == "Polygon"


def test_bbox_no_results(client):
    resp = client.get(f"/collections/col-a/items?bbox={OCEAN_BBOX}&limit=10")
    assert resp.status_code == 200
    data = resp.get_json()
    assert data["features"] == []
    assert data["numMatched"] == 0
    assert data["numReturned"] == 0


def test_datetime_no_results(client):
    resp = client.get(f"/collections/col-a/items?datetime={FUTURE_RANGE}&limit=10")
    assert resp.status_code == 200
    data = resp.get_json()
    assert data["features"] == []
    assert data["numMatched"] == 0
    assert data["numReturned"] == 0


def test_combined_filters_no_results(client):
    resp = client.get(
        f"/collections/col-a/items?bbox={OCEAN_BBOX}&datetime={FUTURE_RANGE}&limit=10"
    )
    assert resp.status_code == 200
    data = resp.get_json()
    assert data["features"] == []
    assert data["numMatched"] == 0
    assert data["numReturned"] == 0


def test_search_no_results(client):
    resp = client.post(
        "/search",
        json={
            "collections": ["col-a"],
            "limit": 10,
            "bbox": [0, 0, 1, 1],
            "datetime": FUTURE_RANGE,
        },
    )
    assert resp.status_code == 200
    data = resp.get_json()
    assert data["features"] == []
    assert data["numMatched"] == 0
    assert data["numReturned"] == 0


def test_invalid_bbox_format(client):
    resp = client.get("/collections/col-a/items?bbox=-66,-16,-60")
    assert resp.status_code in (400, 422)


def test_invalid_datetime_format(client):
    resp = client.get("/collections/col-a/items?datetime=not-a-date")
    assert resp.status_code in (400, 422)


# ---------------------------------------------------------------------------
# reference tests/api/test_sorting_api.py
# ---------------------------------------------------------------------------

def test_get_sort_by_id_asc_desc(client):
    resp = client.get("/search?limit=5&sortby=+id")
    assert resp.status_code == 200
    ids = [it["id"] for it in resp.get_json()["features"]]
    assert len(ids) > 1 and ids == sorted(ids)

    resp = client.get("/search?limit=5&sortby=-id")
    assert resp.status_code == 200
    ids = [it["id"] for it in resp.get_json()["features"]]
    assert len(ids) > 1 and ids == sorted(ids, reverse=True)


def test_post_sort_by_id_asc_desc(client):
    resp = client.post(
        "/search",
        json={
            "limit": 5,
            "collections": ["col-a"],
            "sortby": [{"field": "id", "direction": "asc"}],
        },
    )
    assert resp.status_code == 200
    ids = [it["id"] for it in resp.get_json()["features"]]
    assert len(ids) > 1 and ids == sorted(ids)

    resp = client.post(
        "/search",
        json={
            "limit": 5,
            "collections": ["col-a"],
            "sortby": [{"field": "id", "direction": "desc"}],
        },
    )
    assert resp.status_code == 200
    ids = [it["id"] for it in resp.get_json()["features"]]
    assert len(ids) > 1 and ids == sorted(ids, reverse=True)


# ---------------------------------------------------------------------------
# beyond the reference suite: routes its tests never reach
# ---------------------------------------------------------------------------

def test_landing_and_conformance(client):
    landing = client.get("/").get_json()
    assert landing["type"] == "Catalog"
    rels = {l["rel"] for l in landing["links"]}
    assert {"self", "conformance", "data", "search"} <= rels
    conf = client.get("/conformance").get_json()["conformsTo"]
    assert any(c.endswith("/item-search") for c in conf)
    assert any("advanced-comparison-operators" in c for c in conf)


def test_get_one_collection_and_404(client):
    assert client.get("/collections/col-a").get_json()["id"] == "col-a"
    assert client.get("/collections/nope").status_code == 404


def test_get_one_item_and_404s(client):
    item = client.get("/collections/col-a/items/item-a-003").get_json()
    assert item["id"] == "item-a-003" and item["type"] == "Feature"
    assert client.get("/collections/col-a/items/missing").status_code == 404
    assert client.get("/collections/nope/items/item-a-003").status_code == 404
    assert client.get("/collections/nope/items").status_code == 404


def test_pagination_next_token_roundtrip(client):
    p1 = client.get("/collections/col-a/items?limit=15").get_json()
    next_link = [l for l in p1["links"] if l["rel"] == "next"]
    assert len(next_link) == 1
    tok = next_link[0]["token"]
    p2 = client.get(f"/collections/col-a/items?limit=15&token={tok}").get_json()
    assert p2["numReturned"] == 5  # 20 rows: 15 + 5
    assert not [l for l in p2["links"] if l["rel"] == "next"]
    ids = [f["id"] for f in p1["features"] + p2["features"]]
    assert len(set(ids)) == 20


def test_search_cql2_filter_post(client):
    flt = {
        "op": "and",
        "args": [
            {"op": "=", "args": [{"property": "platform"}, "sentinel-2"]},
            {"op": ">=", "args": [{"property": "gsd"}, 14]},
        ],
    }
    data = client.post(
        "/search", json={"collections": ["col-b"], "filter": flt, "limit": 100}
    ).get_json()
    assert data["numMatched"] == 4  # gsd 14..17
    props = data["features"][0]["properties"]
    assert props["platform"] == "sentinel-2"


def test_search_cql2_text_get(client):
    """GET filter in the Filter extension's default TEXT encoding —
    equivalent to test_search_cql2_filter_post's JSON filter."""
    data = client.get(
        "/search?collections=col-b&limit=100"
        "&filter-lang=cql2-text"
        "&filter=platform = 'sentinel-2' AND gsd >= 14"
    ).get_json()
    assert data["numMatched"] == 4
    assert data["features"][0]["properties"]["platform"] == "sentinel-2"


def test_search_cql2_text_get_default_lang(client):
    """No filter-lang: a non-JSON filter value parses as cql2-text
    (the GET default), a JSON object still parses as cql2-json."""
    text = client.get(
        "/search?collections=col-b&limit=100&filter=gsd >= 14"
    ).get_json()
    json_form = client.get(
        "/search?collections=col-b&limit=100"
        '&filter={"op": ">=", "args": [{"property": "gsd"}, 14]}'
    ).get_json()
    assert text["numMatched"] == json_form["numMatched"] == 4


def test_search_cql2_text_post(client):
    data = client.post(
        "/search",
        json={
            "collections": ["col-b"],
            "filter": "platform = 'sentinel-2' AND gsd >= 14",
            "filter-lang": "cql2-text",
            "limit": 100,
        },
    ).get_json()
    assert data["numMatched"] == 4


def test_search_cql2_text_bad_input(client):
    assert (
        client.get(
            "/search?filter-lang=cql2-text&filter=platform ~ 3"
        ).status_code
        in (400, 422)
    )
    assert (
        client.get("/search?filter-lang=cql2-xml&filter=x = 1").status_code
        in (400, 422)
    )
    assert (
        client.post(
            "/search", json={"filter-lang": "cql2-text", "filter": {"op": "="}}
        ).status_code
        in (400, 422)
    )


def test_search_fields_projection(client):
    data = client.get(
        "/search?collections=col-a&fields=platform&limit=2"
    ).get_json()
    props = data["features"][0]["properties"]
    assert "platform" in props
    assert "cloud_cover" not in props  # pruned at the parquet reader


def test_queryables_routes(client):
    q = client.get("/queryables").get_json()
    assert q["type"] == "object" and "datetime" in q["properties"]
    qa = client.get("/collections/col-a/queryables").get_json()
    # schema-enriched: parquet-only columns become advertised queryables
    assert "cloud_cover" in qa["properties"]
    assert qa["properties"]["cloud_cover"]["type"] == "number"


def test_post_search_invalid_body(client):
    assert client.post("/search", json=[1, 2, 3]).status_code in (400, 422)
    assert (
        client.post("/search", json={"limit": "ten"}).status_code in (400, 422)
    )
    assert (
        client.post("/search", json={"bbox": "0,0,1,1"}).status_code in (400, 422)
    )


# ---------------------------------------------------------------------------
# Aggregation extension (beyond-reference; stac-api-extensions/aggregation)
# ---------------------------------------------------------------------------


def test_aggregations_discovery(client):
    resp = client.get("/aggregations")
    assert resp.status_code == 200
    names = {a["name"] for a in resp.get_json()["aggregations"]}
    assert {"total_count", "datetime_frequency", "collection_frequency"} <= names
    assert client.get("/collections/col-a/aggregations").status_code == 200
    assert client.get("/collections/nope/aggregations").status_code == 404


def test_aggregate_default_set(client):
    resp = client.get("/aggregate?collections=col-a")
    assert resp.status_code == 200
    aggs = {a["name"]: a for a in resp.get_json()["aggregations"]}
    assert aggs["total_count"]["value"] == 20
    assert aggs["datetime_min"]["value"] <= aggs["datetime_max"]["value"]
    cf = aggs["collection_frequency"]["buckets"]
    assert cf == [{"key": "col-a", "frequency": 20}]
    df_buckets = aggs["datetime_frequency"]["buckets"]
    assert sum(b["frequency"] for b in df_buckets) == 20


def test_aggregate_respects_search_filters(client):
    resp = client.get(
        f"/aggregate?collections=col-a&bbox={HIT_BBOX}"
        "&aggregations=total_count"
    )
    assert resp.status_code == 200
    aggs = resp.get_json()["aggregations"]
    assert aggs == [
        {"name": "total_count", "data_type": "integer", "value": 10}
    ]


def test_aggregate_post_terms_frequency(client):
    resp = client.post(
        "/aggregate",
        json={
            "collections": ["col-a"],
            "aggregations": ["id_frequency", "total_count"],
        },
    )
    assert resp.status_code == 200
    aggs = {a["name"]: a for a in resp.get_json()["aggregations"]}
    assert aggs["total_count"]["value"] == 20
    assert len(aggs["id_frequency"]["buckets"]) == 20
    assert all(b["frequency"] == 1 for b in aggs["id_frequency"]["buckets"])


def test_aggregate_unknown_aggregation_400(client):
    resp = client.get("/aggregate?aggregations=bogus_metric")
    assert resp.status_code == 400
    resp = client.get("/aggregate?aggregations=nosuchfield_frequency")
    assert resp.status_code == 400
    resp = client.post("/aggregate", json={"frequency_interval": "decade"})
    assert resp.status_code == 400


def test_aggregate_with_cql2_text_filter(client):
    resp = client.get(
        "/aggregate?collections=col-a&aggregations=total_count"
        "&filter=id = 'item-a-003'"
    )
    assert resp.status_code == 200
    assert resp.get_json()["aggregations"][0]["value"] == 1


def test_aggregate_get_supports_intersects_and_query(client):
    """GET /aggregate must honor intersects + query like POST does
    (previously they were silently dropped on GET)."""
    import json

    poly = json.dumps(
        {
            "type": "Polygon",
            "coordinates": [
                [[-66, -16], [-59, -16], [-59, -7], [-66, -7], [-66, -16]]
            ],
        }
    )
    resp = client.get(
        "/aggregate?collections=col-a&aggregations=total_count"
        f"&intersects={poly}"
    )
    assert resp.status_code == 200
    assert resp.get_json()["aggregations"][0]["value"] == 10

    q = json.dumps({"platform": {"eq": "landsat-8"}})
    resp = client.get(
        f"/aggregate?collections=col-a&aggregations=total_count&query={q}"
    )
    assert resp.status_code == 200
    constrained = resp.get_json()["aggregations"][0]["value"]
    assert 0 < constrained < 20  # actually constrained, not the full set


def test_aggregate_overflow_flag(catalog):
    """Terms aggregation with more distinct values than max_buckets
    must report overflow=True (previously hardcoded False)."""
    from stac_fastapi_duckdb_spark.operators.aggregate import (
        aggregate_search,
    )

    res = aggregate_search(
        catalog,
        aggregations=["id_frequency"],
        collection_ids=["col-a"],
        max_buckets=5,
    )["aggregations"][0]
    assert res["overflow"] is True
    assert len(res["buckets"]) == 5

    res = aggregate_search(
        catalog,
        aggregations=["id_frequency"],
        collection_ids=["col-a"],
        max_buckets=100,
    )["aggregations"][0]
    assert res["overflow"] is False
    assert len(res["buckets"]) == 20


def test_aggregate_scalar_datetime_validated_fail_closed(
    spark, tmp_path_factory
):
    """datetime_min/max on a collection with no datetime column must
    400 (InvalidQueryError), not explode mid-job with a 500."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from stac_fastapi_duckdb_spark.api import create_app
    from stac_fastapi_duckdb_spark.sources.catalog import CollectionCatalog

    base = tmp_path_factory.mktemp("nodt")
    tbl = pa.table({"id": ["x-1", "x-2"], "value": [1.0, 2.0]})
    pq.write_table(tbl, str(base / "col-x.parquet"))
    cat = CollectionCatalog(spark, {"col-x": str(base / "col-x.parquet")}, None)
    app = create_app(cat)
    app.config["TESTING"] = True
    c = app.test_client()
    for agg in ("datetime_min", "datetime_max", "datetime_frequency"):
        resp = c.get(f"/aggregate?collections=col-x&aggregations={agg}")
        assert resp.status_code == 400, agg
    # total_count still works on the datetime-less collection
    resp = c.get("/aggregate?collections=col-x&aggregations=total_count")
    assert resp.status_code == 200
    assert resp.get_json()["aggregations"][0]["value"] == 2


# ---------------------------------------------------------------------------
# one request path: every route's inputs go through one GET-to-body
# conversion and one validator
# ---------------------------------------------------------------------------


def test_aggregate_get_accepts_cql2_json_filter_lang(client):
    """GET /aggregate reads filter + filter-lang like GET /search does."""
    import json
    from urllib.parse import urlencode

    q = urlencode(
        {
            "collections": "col-b",
            "filter": json.dumps({"op": ">=", "args": [{"property": "gsd"}, 14]}),
            "filter-lang": "cql2-json",
        }
    )
    agg = client.get(f"/aggregate?{q}&aggregations=total_count")
    assert agg.status_code == 200, agg.get_json()
    search = client.get(f"/search?{q}&limit=100")
    assert search.status_code == 200
    matched = search.get_json()["numMatched"]
    assert agg.get_json()["aggregations"][0]["value"] == matched == 4


def test_aggregate_post_rejects_unknown_filter_lang(client):
    body = {
        "collections": ["col-a"],
        "aggregations": ["total_count"],
        "filter": "id = 'item-a-003'",
        "filter-lang": "bogus",
    }
    assert client.post("/search", json=body).status_code == 400
    assert client.post("/aggregate", json=body).status_code == 400


@pytest.mark.parametrize(
    "body",
    [
        {"datetime": 123},
        {"fields": "platform"},
        {"fields": {"include": "platform"}},
        {"sortby": "-cloud_cover"},
        {"collections": "col-a"},
        {"ids": "item-a-003"},
        {"token": 5},
    ],
)
def test_post_search_rejects_wrong_typed_fields(client, body):
    resp = client.post("/search", json=body)
    assert resp.status_code == 400, resp.get_json()


_CQL2_JSON = {
    "op": "and",
    "args": [
        {"op": "=", "args": [{"property": "platform"}, "sentinel-2"]},
        {"op": ">=", "args": [{"property": "gsd"}, 14]},
    ],
}


@pytest.mark.parametrize(
    "query, body",
    [
        (
            {"bbox": HIT_BBOX, "datetime": DT_RANGE, "limit": 3},
            {"bbox": [-66, -16, -60, -8], "datetime": DT_RANGE, "limit": 3},
        ),
        (
            {
                "collections": "col-b",
                "filter": "platform = 'sentinel-2' AND gsd >= 14",
                "filter-lang": "cql2-text",
                "limit": 2,
            },
            {
                "collections": ["col-b"],
                "filter": "platform = 'sentinel-2' AND gsd >= 14",
                "filter-lang": "cql2-text",
                "limit": 2,
            },
        ),
        (
            {"collections": "col-b", "filter": _CQL2_JSON, "filter-lang": "cql2-json", "limit": 2},
            {"collections": ["col-b"], "filter": _CQL2_JSON, "filter-lang": "cql2-json", "limit": 2},
        ),
        (
            {"collections": "col-a", "sortby": "-cloud_cover", "limit": 5},
            {
                "collections": ["col-a"],
                "sortby": [{"field": "cloud_cover", "direction": "desc"}],
                "limit": 5,
            },
        ),
        (
            {"collections": "col-a", "fields": "platform,cloud_cover,-cloud_cover", "limit": 4},
            {
                "collections": ["col-a"],
                "fields": {"include": ["platform", "cloud_cover"], "exclude": ["cloud_cover"]},
                "limit": 4,
            },
        ),
        (
            {"ids": "item-a-003,item-b-001"},
            {"ids": ["item-a-003", "item-b-001"]},
        ),
        (
            {"collections": "col-a", "limit": 7, "token": "7"},
            {"collections": ["col-a"], "limit": 7, "token": "7"},
        ),
    ],
    ids=["bbox-datetime", "cql2-text", "cql2-json", "sortby-desc", "fields", "ids", "page-2"],
)
def test_get_post_search_parity(client, query, body):
    """A GET query string and the POST body it encodes give one answer."""
    import json
    from urllib.parse import urlencode

    encoded = {k: json.dumps(v) if isinstance(v, dict) else v for k, v in query.items()}
    got = client.get("/search?" + urlencode(encoded))
    posted = client.post("/search", json=body)
    assert got.status_code == posted.status_code == 200

    def answer(resp):
        data = resp.get_json()
        nxt = [link["token"] for link in data["links"] if link["rel"] == "next"]
        return data["features"], data["numMatched"], nxt

    assert answer(got) == answer(posted)
    assert answer(got)[1] > 0


def test_get_next_href_walks_every_page_once(client):
    """A GET client that follows only the ``next`` href sees every
    matched item exactly once."""
    unpaged = client.get("/search?collections=col-a,col-b&limit=100").get_json()
    want = [f["id"] for f in unpaged["features"]]
    assert len(want) == 28
    url, seen = "/search?collections=col-a,col-b&limit=6&sortby=-datetime", []
    for _ in range(10):  # 28 items / 6 per page → 5 pages
        data = client.get(url).get_json()
        seen += [f["id"] for f in data["features"]]
        nxt = [link for link in data["links"] if link["rel"] == "next"]
        if not nxt:
            break
        assert "method" not in nxt[0] and nxt[0]["token"]
        url = nxt[0]["href"]
    else:
        pytest.fail("the next links never ended")
    assert len(seen) == len(set(seen))
    assert sorted(seen) == sorted(want)


def test_post_next_link_merges_token_into_body(client):
    data = client.post("/search", json={"collections": ["col-a"], "limit": 5}).get_json()
    (nxt,) = [link for link in data["links"] if link["rel"] == "next"]
    assert nxt["method"] == "POST" and nxt["merge"] is True
    assert nxt["href"].endswith("/search")
    assert nxt["body"] == {"token": nxt["token"]} == {"token": "5"}


@pytest.mark.parametrize("payload", ['"z"', '[{"a": 1}]'])
def test_keyset_token_with_non_list_payload_reads_as_no_token(client, payload):
    import base64

    token = "ks:" + base64.urlsafe_b64encode(payload.encode()).decode()
    first = client.get("/search?collections=col-a&limit=5").get_json()
    got = client.get(f"/search?collections=col-a&limit=5&token={token}")
    assert got.status_code == 200
    assert got.get_json()["features"] == first["features"]


def test_datetime_search_over_collection_without_interval_columns(spark, tmp_path):
    """A collection with ``datetime`` but no start/end_datetime answers a
    datetime search; a schema with none of the three is a 400."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from stac_fastapi_duckdb_spark.api import create_app
    from stac_fastapi_duckdb_spark.functions import geo
    from stac_fastapi_duckdb_spark.sources.catalog import CollectionCatalog

    utc = dt.timezone.utc
    n = 12
    pq.write_table(
        pa.table(
            {
                "id": [f"d-{i:02d}" for i in range(n)],
                "geometry": pa.array([geo.point_wkb(i, i) for i in range(n)], pa.binary()),
                "datetime": pa.array(
                    [dt.datetime(2020, 1 + i, 1, tzinfo=utc) for i in range(n)],
                    pa.timestamp("us", tz="UTC"),
                ),
            }
        ),
        str(tmp_path / "dt.parquet"),
    )
    pq.write_table(
        pa.table({"id": ["x"], "geometry": pa.array([geo.point_wkb(0, 0)], pa.binary())}),
        str(tmp_path / "none.parquet"),
    )
    cat = CollectionCatalog(
        spark, {"dt-only": str(tmp_path / "dt.parquet"), "no-time": str(tmp_path / "none.parquet")}
    )
    client = create_app(cat).test_client()
    interval = "2020-03-01T00:00:00Z/2020-06-30T00:00:00Z"  # March..June
    got = client.get(f"/search?collections=dt-only&datetime={interval}")
    assert got.status_code == 200
    assert got.get_json()["numMatched"] == 4
    body = {"collections": ["dt-only"], "datetime": interval}
    assert client.post("/search", json=body).get_json()["numMatched"] == 4
    agg = client.post("/aggregate", json={**body, "aggregations": ["total_count"]})
    assert agg.status_code == 200
    (total,) = [a for a in agg.get_json()["aggregations"] if a["name"] == "total_count"]
    assert total["value"] == 4
    assert client.get(f"/aggregate?collections=dt-only&datetime={interval}").status_code == 200
    missing = client.get(f"/search?collections=no-time&datetime={interval}")
    assert missing.status_code == 400
