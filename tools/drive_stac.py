"""Drive the engine end-to-end through the PUBLIC package boundary:
build STAC parquet on disk, stand up a catalog, run the README example
query (bbox + datetime + limit), point lookup, CQL2, pagination
(engine tokens, an HTTP GET search walked by its next links, and a
keyset walk sorted by datetime), item GETs equal to a search page's
features, STAC-item serialization (every instant as written, whatever
the process time zone). Probes: bad bbox, bad
datetime, unknown collection, unsupported CQL2 op.

    PYTHONPATH=. python tools/drive_stac.py
    TZ=Asia/Kolkata PYTHONPATH=. python tools/drive_stac.py
"""
import datetime as dt, json, sys, tempfile, os
import pyarrow as pa, pyarrow.parquet as pq

import stac_fastapi_duckdb_spark as engine
from stac_fastapi_duckdb_spark.sources import CollectionCatalog
from stac_fastapi_duckdb_spark.operators import execute_search
from stac_fastapi_duckdb_spark.operators.search import get_one_item
from stac_fastapi_duckdb_spark.functions import geo
from stac_fastapi_duckdb_spark.stac import create_stac_item
from stac_fastapi_duckdb_spark.errors import InvalidQueryError, NotFoundError

UTC = dt.timezone.utc
tmp = tempfile.mkdtemp()
rows = []
for i in range(15):
    x, y = (-65.0 + i * 0.5, -15.0 + i * 0.5) if i < 8 else (100.0 + i, 20.0 + i)
    rows.append(dict(
        id=f"it-{i:02d}",
        geometry=geo.box_wkb(x, y, x + 0.4, y + 0.4),
        bbox=[x, y, x + 0.4, y + 0.4],
        datetime=dt.datetime(2020, 1, 1 + i, tzinfo=UTC) if i % 2 else None,
        start_datetime=None if i % 2 else dt.datetime(2019, 6, 1, tzinfo=UTC),
        end_datetime=None if i % 2 else dt.datetime(2021, 6, 1, tzinfo=UTC),
        platform=["landsat-8", "sentinel-2"][i % 2],
    ))
t = pa.table({
    "id": pa.array([r["id"] for r in rows]),
    "geometry": pa.array([r["geometry"] for r in rows], pa.binary()),
    "bbox": pa.array([r["bbox"] for r in rows], pa.list_(pa.float64())),
    "datetime": pa.array([r["datetime"] for r in rows], pa.timestamp("us", tz="UTC")),
    "start_datetime": pa.array([r["start_datetime"] for r in rows], pa.timestamp("us", tz="UTC")),
    "end_datetime": pa.array([r["end_datetime"] for r in rows], pa.timestamp("us", tz="UTC")),
    "platform": pa.array([r["platform"] for r in rows]),
})
pq.write_table(t, f"{tmp}/demo.parquet")

spark = engine.get_spark("verify-drive")
cat = CollectionCatalog(spark, {"demo": f"{tmp}/demo.parquet"})

# 1. README example: bbox + datetime + limit  (README.md:104-110 analog)
items, matched, token = execute_search(
    cat, collection_ids=["demo"], bbox=[-66, -16, -60, -8],
    datetime_interval="2019-01-01T00:00:00Z/2023-01-01T00:00:00Z", limit=5)
print("Q1 bbox+datetime:", len(items), "rows, matched =", matched, "token =", token)
assert matched == 8 and len(items) == 5 and token == "5", (matched, len(items), token)

# 2. page 2 via token
items2, _, token2 = execute_search(
    cat, collection_ids=["demo"], bbox=[-66, -16, -60, -8],
    datetime_interval="2019-01-01T00:00:00Z/2023-01-01T00:00:00Z", limit=5, token=token)
print("Q2 page2:", [i["id"] for i in items2], "next =", token2)
assert len(items2) == 3 and token2 is None

# 3. STAC item serialization of a result row; every instant of every
# result row is the one written to parquet
item = create_stac_item(items[0])
print("Q3 STAC item:", json.dumps({k: item[k] for k in ("type", "id", "collection", "bbox")}))
assert item["type"] == "Feature" and item["geometry"]["type"] == "Polygon"
assert item["properties"]["platform"] in ("landsat-8", "sentinel-2")
written = {r["id"]: r for r in rows}
for it in items + items2:
    props = create_stac_item(it)["properties"]
    for f in ("datetime", "start_datetime", "end_datetime"):
        want = written[it["id"]][f]
        want = want and want.strftime("%Y-%m-%dT%H:%M:%SZ")
        assert props.get(f) == want, (it["id"], f, props.get(f), want)
print("Q3 instants as written:", create_stac_item(items2[0])["properties"]["datetime"])

# 4. point lookup — serving-latency gate: the driver-side fast path
# (catalog.point_read) must answer in single-digit ms, not a Spark job
one = get_one_item(cat, "demo", "it-03")
print("Q4 get_one_item:", one["id"])
import statistics, time
lat = []
for k in range(30):
    t0 = time.perf_counter()
    get_one_item(cat, "demo", f"it-{k % 15:02d}")
    lat.append((time.perf_counter() - t0) * 1000)
p50 = statistics.median(lat)
print(f"Q4 point-lookup p50 = {p50:.2f} ms (n=30, max {max(lat):.2f})")
assert p50 < 20, f"point lookup p50 {p50:.1f} ms >= 20 ms"

# 5. CQL2
flt = {"op": "and", "args": [
    {"op": "=", "args": [{"property": "platform"}, "landsat-8"]},
    {"op": "isNull", "args": [{"property": "datetime"}]}]}
items5, matched5, _ = execute_search(cat, cql2_filter=flt, limit=100)
print("Q5 cql2:", matched5, "rows")
assert matched5 == 8  # all even-i rows are landsat-8 with NULL datetime

# 6. HTTP paging: follow only the GET search's next href to the end;
# every item must come back exactly once
from stac_fastapi_duckdb_spark.api import create_app
client = create_app(cat).test_client()
url, seen = "/search?collections=demo&limit=4&sortby=-datetime", []
for page in range(20):
    resp = client.get(url)
    assert resp.status_code == 200, (url, resp.status_code)
    data = resp.get_json()
    ids = [f["id"] for f in data["features"]]
    repeated = set(ids) & set(seen)
    assert not repeated, f"page {page} repeats {sorted(repeated)} (url {url})"
    seen += ids
    nxt = [link["href"] for link in data["links"] if link["rel"] == "next"]
    if not nxt:
        break
    url = nxt[0]
else:
    raise AssertionError("next links did not end within 20 pages")
print(f"Q6 GET next-href walk: {page + 1} pages, {len(seen)} items")
assert len(seen) == 15, len(seen)
# every feature of one search page GETs back unchanged through the item route
features = client.get("/search?collections=demo&limit=15").get_json()["features"]
for feature in features:
    resp = client.get(f"/collections/demo/items/{feature['id']}")
    assert resp.status_code == 200 and resp.get_json() == feature, (feature["id"], resp.status_code)
print(f"Q6 item GETs equal the search's features: {len(features)} of {len(features)}")

# 7. keyset paging sorted by datetime (NULLs last): seed a keyset token
# from page 1's last row and follow the tokens to the end; every item
# exactly once, in the order the offset walk gives
from stac_fastapi_duckdb_spark.operators.pagination import keyset_token


def walk(keyset):
    ids, token = [], None
    for _ in range(20):
        page, _, token = execute_search(cat, sortby=["datetime"], limit=4, token=token)
        repeated = {r["id"] for r in page} & set(ids)
        assert not repeated, f"keyset={keyset}: page repeats {sorted(repeated)}"
        ids += [r["id"] for r in page]
        if token is None:
            return ids
        if keyset and not token.startswith("ks:"):
            token = keyset_token([page[-1]["datetime"], page[-1]["id"]])
    raise AssertionError("walk did not end within 20 pages")


ks_ids, offset_ids = walk(True), walk(False)
print(f"Q7 datetime keyset walk: {len(ks_ids)} items, same as the offset walk: {ks_ids == offset_ids}")
assert len(ks_ids) == 15 and ks_ids == offset_ids, (ks_ids, offset_ids)

# probes
for name, fn in [
    ("3-coord bbox", lambda: execute_search(cat, bbox=[0, 1, 2], limit=1)),
    ("bad datetime", lambda: execute_search(cat, datetime_interval="nope", limit=1)),
    ("unsupported cql2 op", lambda: execute_search(cat, cql2_filter={"op": "frobnicate", "args": []}, limit=1)),
]:
    try:
        fn(); print("PROBE", name, ": NO ERROR (BAD)"); sys.exit(1)
    except InvalidQueryError as e:
        print("PROBE", name, "→ InvalidQueryError:", e)
try:
    get_one_item(cat, "demo", "missing"); sys.exit(1)
except NotFoundError as e:
    print("PROBE missing item → NotFoundError:", e)
try:
    cat.items_df("nope"); sys.exit(1)
except NotFoundError as e:
    print("PROBE unknown collection → NotFoundError:", e)

print("ALL DRIVE CHECKS PASSED")
