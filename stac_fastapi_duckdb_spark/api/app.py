"""STAC API HTTP application over the Spark search engine.

Mirrors the reference server's route surface and behaviors
(``/root/reference/stac_fastapi/duckdb/app.py:25-72`` — StacApi wiring
with the Fields / Query / Sort / Filter extensions;
``filter_client.py:15-58`` — queryables endpoints), re-expressed over
``execute_search`` / ``get_one_item`` / ``queryables``:

- ``GET /``                                  landing page
- ``GET /conformance``                       conformance classes
- ``GET /collections``                       collection list
- ``GET /collections/{cid}``                 one collection document
- ``GET|POST /search``                       cross-collection search
  (collections, ids, bbox, intersects, datetime, limit, token, sortby,
  fields, query, filter, filter-lang)
- ``GET /collections/{cid}/items``           the same search scoped to
  one collection
- ``GET /collections/{cid}/items/{iid}``     single item
- ``GET /aggregations``, ``GET|POST /aggregate``  Aggregation extension
  over the same filter inputs
- ``GET /queryables`` and
  ``GET /collections/{cid}/queryables``      Filter-extension schema

Framework note: the reference uses FastAPI; this container ships Flask
(FastAPI/starlette are not installed), so the app is a Flask blueprint
with identical routes, payloads, and status-code semantics — the HTTP
surface, not the framework, is the contract. Validation errors map to
400 (the reference's pydantic layer emits 400/422; its own API tests
accept either), missing resources to 404.

Search execution itself stays entirely in the engine: each request
compiles to one Catalyst plan (filters pushed to the parquet scan,
Fields projection pruned at the reader, TakeOrderedAndProject for
sorted pages) — the HTTP layer is glue, not a second query engine.
"""

from __future__ import annotations

import json
from typing import Any
from urllib.parse import urlencode

from flask import Flask, Response, jsonify, request

from stac_fastapi_duckdb_spark.errors import InvalidQueryError, NotFoundError
from stac_fastapi_duckdb_spark.operators.aggregate import (
    aggregate_search,
    list_aggregations,
)
from stac_fastapi_duckdb_spark.operators.cql2_text import parse_cql2_text
from stac_fastapi_duckdb_spark.operators.queryables import queryables
from stac_fastapi_duckdb_spark.operators.search import execute_search, get_one_item
from stac_fastapi_duckdb_spark.sources.catalog import CollectionCatalog
from stac_fastapi_duckdb_spark.stac.serialize import create_stac_item

STAC_VERSION = "1.0.0"

# Public STAC API + OGC conformance URIs — the set the reference
# advertises via stac-fastapi core plus its explicitly appended
# ADVANCED_COMPARISON_OPERATORS (reference app.py:29-31)
CONFORMANCE_CLASSES = [
    "https://api.stacspec.org/v1.0.0/core",
    "https://api.stacspec.org/v1.0.0/ogcapi-features",
    "https://api.stacspec.org/v1.0.0/item-search",
    "https://api.stacspec.org/v1.0.0/item-search#fields",
    "https://api.stacspec.org/v1.0.0/item-search#query",
    "https://api.stacspec.org/v1.0.0/item-search#sort",
    "https://api.stacspec.org/v1.0.0/item-search#filter",
    "http://www.opengis.net/spec/ogcapi-features-1/1.0/conf/core",
    "http://www.opengis.net/spec/ogcapi-features-1/1.0/conf/geojson",
    "http://www.opengis.net/spec/cql2/1.0/conf/cql2-json",
    "http://www.opengis.net/spec/cql2/1.0/conf/cql2-text",
    "http://www.opengis.net/spec/cql2/1.0/conf/basic-cql2",
    "https://api.stacspec.org/v0.3.0/aggregation",
    "http://www.opengis.net/spec/cql2/1.0/conf/advanced-comparison-operators",
]


# ---------------------------------------------------------------------------
# request parsing: one GET-to-body conversion, one validator
# ---------------------------------------------------------------------------

_LIST_FIELDS = ("collections", "ids", "sortby", "aggregations")


def _csv(raw: str) -> list[str]:
    return [s for s in (p.strip() for p in raw.split(",")) if s]


def _fields_param(raw: str) -> dict | None:
    """Fields GET syntax ``a,+b,-c``: bare/'+' names include, '-' exclude."""
    parts = _csv(raw)
    fields = {
        "include": [p.lstrip("+") for p in parts if not p.startswith("-")],
        "exclude": [p[1:] for p in parts if p.startswith("-")],
    }
    return {k: v for k, v in fields.items() if v} or None


def _filter_param(raw: str) -> Any:
    """A JSON object is cql2-json; any other filter string is cql2-text."""
    try:
        parsed = json.loads(raw)
    except ValueError:
        return raw
    return parsed if isinstance(parsed, dict) else raw


# GET parameter → decoder of its string form; others pass through as
# strings (datetime, token, filter-lang, frequency_interval)
_GET_PARAMS = {
    **dict.fromkeys(_LIST_FIELDS, _csv),
    "intersects": json.loads,
    "query": json.loads,
    "bbox": lambda raw: [float(x) for x in raw.split(",")],
    "limit": int,
    "fields": _fields_param,
    "filter": _filter_param,
}


def _query_to_body(args: Any) -> dict:
    """GET query string → the POST body it encodes. The Item Search spec
    defines each GET parameter as a string form of the POST field, so
    only the encodings differ."""
    body: dict[str, Any] = {}
    for key, raw in args.items():
        decode = _GET_PARAMS.get(key)
        try:
            value = decode(raw) if decode else raw
        except ValueError:
            raise InvalidQueryError(f"Invalid {key} {raw!r}")
        if value is not None:
            body[key] = value
    return body


def _resolve_filter(flt: Any, lang: Any) -> dict | None:
    """``filter`` + ``filter-lang`` → the CQL2 dict AST. cql2-text is
    the default for a string filter; both encodings land on one Column
    compiler (operators/cql2.py)."""
    if lang not in (None, "cql2-text", "cql2-json"):
        raise InvalidQueryError(f"Unsupported filter-lang {lang!r}")
    if flt is None:
        return None
    if lang == "cql2-text" or (lang is None and isinstance(flt, str)):
        if not isinstance(flt, str):
            raise InvalidQueryError("cql2-text filter must be a string")
        return parse_cql2_text(flt)
    if not isinstance(flt, dict):
        raise InvalidQueryError("cql2-json filter must be a JSON object")
    return flt


def _search_args(body: Any) -> tuple[dict, dict]:
    """Validate a search body → (filter keywords of ``search_plan``,
    page keywords of ``execute_search``). Every route's inputs, GET or
    POST, pass through here."""
    if not isinstance(body, dict):
        raise InvalidQueryError("Request body must be a JSON object")
    for key in _LIST_FIELDS:
        if body.get(key) is not None and not isinstance(body[key], list):
            raise InvalidQueryError(f"{key} must be a list, got {body[key]!r}")
    for key in ("datetime", "token"):
        if body.get(key) is not None and not isinstance(body[key], str):
            raise InvalidQueryError(f"{key} must be a string, got {body[key]!r}")
    fields = body.get("fields")
    if fields is not None and not (
        isinstance(fields, list)
        or isinstance(fields, dict)
        and set(fields) <= {"include", "exclude"}
        and all(v is None or isinstance(v, list) for v in fields.values())
    ):
        raise InvalidQueryError(
            f"fields must be a list or an {{include, exclude}} object, got {fields!r}"
        )
    limit = body.get("limit", 10)
    if not isinstance(limit, int) or isinstance(limit, bool):
        raise InvalidQueryError(f"Invalid limit {limit!r}")
    bbox = body.get("bbox")
    if bbox is not None and not isinstance(bbox, list):
        raise InvalidQueryError(f"Invalid bbox {bbox!r}")
    filters = {
        "collection_ids": body.get("collections"),
        "item_ids": body.get("ids"),
        "bbox": bbox,
        "intersects": body.get("intersects"),
        "datetime_interval": body.get("datetime"),
        "cql2_filter": _resolve_filter(body.get("filter"), body.get("filter-lang")),
        "query": body.get("query"),
    }
    page = {
        "sortby": body.get("sortby"),
        "fields": fields,
        "limit": limit,
        "token": body.get("token"),
    }
    return filters, page


def _request_body() -> Any:
    if request.method == "POST":
        return request.get_json(silent=True)
    return _query_to_body(request.args)


def _serialize_items(rows: list[dict]) -> list[dict]:
    """Rows → STAC Items; geometry-less rows are skipped, matching the
    reference's log-and-skip per-row serialization
    (database_logic.py:960-1021)."""
    out = []
    for row in rows:
        try:
            out.append(create_stac_item(row))
        except ValueError:
            continue
    return out


def _next_link(token: str) -> dict:
    """A search page's ``next`` link: for GET the request URL with the new
    ``token``, for POST the token as a body to merge (STAC API paging)."""
    link = {"rel": "next", "type": "application/geo+json", "token": token}
    if request.method == "POST":
        return {
            **link,
            "href": request.url,
            "method": "POST",
            "merge": True,
            "body": {"token": token},
        }
    args = [(k, v) for k, v in request.args.items(multi=True) if k != "token"]
    query = urlencode(args + [("token", token)])
    return {**link, "href": f"{request.base_url}?{query}"}


def _item_collection(items: list[dict], matched: int | None, next_token: str | None) -> dict:
    links = [{"rel": "self", "type": "application/geo+json", "href": request.url}]
    if next_token is not None:
        links.append(_next_link(next_token))
    return {
        "type": "FeatureCollection",
        "features": items,
        "links": links,
        "numMatched": matched,
        "numReturned": len(items),
    }


def _minimal_collection_doc(cid: str) -> dict:
    """Fallback collection document when no STAC_FILE_PATH tree exists —
    the registry still defines the collection set."""
    return {
        "type": "Collection",
        "id": cid,
        "stac_version": STAC_VERSION,
        "description": cid,
        "license": "proprietary",
        "extent": {
            "spatial": {"bbox": [[-180, -90, 180, 90]]},
            "temporal": {"interval": [[None, None]]},
        },
        "links": [],
    }


# ---------------------------------------------------------------------------
# app factory
# ---------------------------------------------------------------------------

def create_app(
    catalog: CollectionCatalog,
    *,
    title: str = "stac-fastapi-duckdb-spark",
    description: str = "STAC API over a PySpark analytics engine",
    api_version: str = "0.0.1",
) -> Flask:
    app = Flask(title)

    # ------------------------------------------------------------------
    # error mapping (reference: pydantic/validation → 400/422,
    # NotFoundError → 404 — core.py semantics)
    # ------------------------------------------------------------------
    @app.errorhandler(InvalidQueryError)
    def _invalid(exc: InvalidQueryError) -> tuple[Response, int]:
        return jsonify({"code": 400, "description": str(exc)}), 400

    @app.errorhandler(NotFoundError)
    def _missing(exc: NotFoundError) -> tuple[Response, int]:
        return jsonify({"code": 404, "description": str(exc)}), 404

    # ------------------------------------------------------------------
    # landing + conformance
    # ------------------------------------------------------------------
    @app.get("/")
    def landing() -> Response:
        base = request.url_root.rstrip("/")
        return jsonify(
            {
                "type": "Catalog",
                "id": title,
                "stac_version": STAC_VERSION,
                "description": description,
                "api_version": api_version,
                "conformsTo": CONFORMANCE_CLASSES,
                "links": [
                    {"rel": "self", "type": "application/json", "href": base + "/"},
                    {"rel": "conformance", "type": "application/json", "href": base + "/conformance"},
                    {"rel": "data", "type": "application/json", "href": base + "/collections"},
                    {"rel": "search", "type": "application/geo+json", "href": base + "/search", "method": "GET"},
                    {"rel": "search", "type": "application/geo+json", "href": base + "/search", "method": "POST"},
                    {"rel": "http://www.opengis.net/def/rel/ogc/1.0/queryables", "type": "application/schema+json", "href": base + "/queryables"},
                ],
            }
        )

    @app.get("/conformance")
    def conformance() -> Response:
        return jsonify({"conformsTo": CONFORMANCE_CLASSES})

    # ------------------------------------------------------------------
    # collections
    # ------------------------------------------------------------------
    @app.get("/collections")
    def all_collections() -> Response:
        docs = catalog.all_collections()
        if not docs:
            docs = [_minimal_collection_doc(c) for c in catalog.collection_ids()]
        return jsonify({"collections": docs, "links": []})

    @app.get("/collections/<cid>")
    def one_collection(cid: str) -> Response:
        try:
            return jsonify(catalog.find_collection(cid))
        except NotFoundError:
            if cid in catalog.collection_ids():
                return jsonify(_minimal_collection_doc(cid))
            raise

    # ------------------------------------------------------------------
    # item search: /search (GET + POST) and the collection-scoped
    # /collections/{cid}/items share one parse → validate → execute path
    # ------------------------------------------------------------------
    def _search(body: Any) -> Response:
        filters, page = _search_args(body)
        items, matched, next_token = execute_search(catalog, **filters, **page)
        return jsonify(_item_collection(_serialize_items(items), matched, next_token))

    @app.get("/collections/<cid>/items")
    def collection_items(cid: str) -> Response:
        catalog.items_df(cid)  # 404 for unknown collections before searching
        return _search({**_query_to_body(request.args), "collections": [cid]})

    @app.get("/collections/<cid>/items/<iid>")
    def one_item(cid: str, iid: str) -> Response:
        return jsonify(create_stac_item(get_one_item(catalog, cid, iid)))

    @app.route("/search", methods=["GET", "POST"])
    def search() -> Response:
        return _search(_request_body())

    # ------------------------------------------------------------------
    # Aggregation extension (stac-api-extensions/aggregation — absent
    # from the reference; its users page + count client-side)
    # ------------------------------------------------------------------
    @app.get("/aggregations")
    def aggregations_root() -> Response:
        return jsonify(list_aggregations())

    @app.get("/collections/<cid>/aggregations")
    def aggregations_collection(cid: str) -> Response:
        catalog.items_df(cid)  # 404 on unknown collection
        return jsonify(list_aggregations())

    @app.route("/aggregate", methods=["GET", "POST"])
    def aggregate() -> Response:
        body = _request_body()
        filters, _ = _search_args(body)
        return jsonify(
            aggregate_search(
                catalog,
                aggregations=body.get("aggregations"),
                frequency_interval=body.get("frequency_interval", "month"),
                **filters,
            )
        )

    # ------------------------------------------------------------------
    # queryables (Filter extension — reference filter_client.py:15-58)
    # ------------------------------------------------------------------
    @app.get("/queryables")
    def global_queryables() -> Response:
        return jsonify(queryables())

    @app.get("/collections/<cid>/queryables")
    def collection_queryables(cid: str) -> Response:
        return jsonify(queryables(catalog, cid))

    return app


def run() -> None:
    """Serve from the environment, mirroring the reference's CLI entry
    (``app.py:94-110`` — uvicorn there, Flask's server here): collection
    registry from ``PARQUET_URLS_JSON`` + ``STAC_FILE_PATH``, bind
    address from ``APP_HOST`` / ``APP_PORT``."""
    import os

    from stac_fastapi_duckdb_spark.session import get_spark

    catalog = CollectionCatalog.from_env(get_spark("stac-api"))
    create_app(catalog).run(
        host=os.environ.get("APP_HOST", "0.0.0.0"),
        port=int(os.environ.get("APP_PORT", "8080")),
    )


if __name__ == "__main__":
    run()
