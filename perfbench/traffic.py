"""Seeded STAC API request stream.

A request is a plain dict ``spec`` that says what is asked (the oracle
reads it) plus the HTTP form that asks it (``method``, ``path``,
``body``). Requests come in decks of ``DECK``: every deck holds each
template the same number of times, shuffled by the seed, so every run
has the same mix whatever its length.

Classes and their share of a deck:

- ``spatial`` (30%): bbox+datetime GETs and ``intersects`` POSTs;
- ``attr`` (30%): CQL2-JSON POST, CQL2-text GET, ``query``, ``ids``,
  ``fields``;
- ``page`` (15%): offset tokens and ``ks:`` keyset tokens beyond page 1;
- ``item`` (25%): single-item GETs.
"""

from __future__ import annotations

import json
from urllib.parse import urlencode

import numpy as np

from perfbench import catalog as C
from perfbench.oracle import iso_us, keyset_token

# (template, class); a deck is this list shuffled
DECK = (
    ("bbox_get", "spatial"),
    ("bbox_get", "spatial"),
    ("bbox_items_get", "spatial"),
    ("intersects_post", "spatial"),
    ("intersects_post", "spatial"),
    ("intersects_filter_post", "spatial"),
    ("cql2_json_post", "attr"),
    ("cql2_json_sorted_post", "attr"),
    ("cql2_text_get", "attr"),
    ("query_post", "attr"),
    ("ids_post", "attr"),
    ("fields_post", "attr"),
    ("offset_items_get", "page"),
    ("offset_sorted_post", "page"),
    ("keyset_post", "page"),
    ("item_get", "item"),
    ("item_get", "item"),
    ("item_get", "item"),
    ("item_get", "item"),
    ("item_get", "item"),
)
CLASSES = ("spatial", "attr", "page", "item")


class RequestStream:
    """Deterministic request factory over one catalog."""

    def __init__(self, seed: int, catalog: dict[str, C.Items], stream: int = 2) -> None:
        self.rng = np.random.default_rng([seed, stream])
        self.catalog = catalog
        self.cids = sorted(catalog)
        self.platforms = sorted({p for it in catalog.values() for p in it.spec.platforms})

    # --- parameter draws -------------------------------------------------
    def _dt(self, days: int = 365) -> tuple[int, int]:
        lo = C.EPOCH_US + int(self.rng.integers(0, C.SPAN_US - days * C.DAY_US))
        return lo, lo + days * C.DAY_US

    def _box(self, w: float, h: float) -> list[float]:
        w0, s0, e0, n0 = C.REGION
        x = self.rng.uniform(w0, e0 - w)
        y = self.rng.uniform(s0, n0 - h)
        return [round(float(v), 6) for v in (x, y, x + w, y + h)]

    def _polygon(self) -> list[list[float]]:
        """A convex hexagon of radius 1.6° with jittered vertices on its
        circle, counter-clockwise."""
        w0, s0, e0, n0 = C.REGION
        r = 1.6
        cx, cy = self.rng.uniform(w0 + r, e0 - r), self.rng.uniform(s0 + r, n0 - r)
        ang = np.arange(6) * np.pi / 3 + self.rng.uniform(0, np.pi / 3, 6)
        return [[round(float(cx + r * np.cos(a)), 6), round(float(cy + r * np.sin(a)), 6)] for a in ang]

    def _item(self) -> tuple[str, str]:
        cid = self.cids[int(self.rng.integers(len(self.cids)))]
        ids = self.catalog[cid].ids
        return cid, str(ids[int(self.rng.integers(len(ids)))])

    def _cloud(self, lo: float, hi: float) -> float:
        return round(float(self.rng.uniform(lo, hi)), 1)

    # --- templates -------------------------------------------------------
    def make(self, template: str, cls: str) -> dict:
        rng = self.rng
        spec: dict = {"template": template, "cls": cls, "limit": 10}
        if template in ("bbox_get", "bbox_items_get"):
            bbox, dt = self._box(3.0, 3.0), self._dt()
            spec.update(polygon=[[bbox[0], bbox[1]], [bbox[2], bbox[1]], [bbox[2], bbox[3]], [bbox[0], bbox[3]]], datetime=dt)
            params = {"bbox": ",".join(map(str, bbox)), "datetime": f"{iso_us(dt[0])}/{iso_us(dt[1])}", "limit": 10}
            if template == "bbox_items_get":
                cid = self.cids[int(rng.integers(len(self.cids)))]
                spec["collections"] = [cid]
                return _get(spec, f"/collections/{cid}/items", params)
            return _get(spec, "/search", params)
        if template in ("intersects_post", "intersects_filter_post"):
            poly = self._polygon()
            spec["polygon"] = poly
            body = {"intersects": {"type": "Polygon", "coordinates": [poly + poly[:1]]}, "limit": 10}
            if template == "intersects_filter_post":
                flt = {"op": "<", "args": [{"property": "eo:cloud_cover"}, self._cloud(30, 70)]}
                spec["filter"] = body["filter"] = flt
                body["filter-lang"] = "cql2-json"
            else:
                spec["datetime"] = self._dt()
                body["datetime"] = f"{iso_us(spec['datetime'][0])}/{iso_us(spec['datetime'][1])}"
            return _post(spec, body)
        if template == "cql2_json_post":
            plats = [str(p) for p in rng.choice(self.platforms, 2, replace=False)]
            flt = {"op": "and", "args": [
                {"op": "<", "args": [{"property": "eo:cloud_cover"}, self._cloud(5, 30)]},
                {"op": "in", "args": [{"property": "platform"}, plats]},
            ]}
            spec["filter"] = flt
            return _post(spec, {"filter": flt, "filter-lang": "cql2-json", "limit": 10})
        if template == "cql2_json_sorted_post":
            flt = {"op": "and", "args": [
                {"op": "like", "args": [{"property": "s2:mgrs_tile"}, f"{int(rng.integers(10, 20))}%"]},
                {"op": ">=", "args": [{"property": "eo:cloud_cover"}, self._cloud(40, 90)]},
            ]}
            spec.update(filter=flt, sort=[("eo:cloud_cover", -1)])
            return _post(spec, {"filter": flt, "sortby": [{"field": "eo:cloud_cover", "direction": "desc"}], "limit": 10})
        if template == "cql2_text_get":
            a = int(rng.integers(1, 200))
            gsd = float(rng.choice([100.0, 500.0]))
            text = f'NOT ("landsat:wrs_path" BETWEEN {a} AND {a + 30}) AND gsd < {gsd}'
            spec["filter"] = {"op": "and", "args": [
                {"op": "not", "args": [{"op": "between", "args": [{"property": "landsat:wrs_path"}, a, a + 30]}]},
                {"op": "<", "args": [{"property": "gsd"}, gsd]},
            ]}
            spec["sort"] = [("datetime", -1)]
            return _get(spec, "/search", {"filter": text, "filter-lang": "cql2-text", "sortby": "-datetime", "limit": 10})
        if template == "query_post":
            plat = str(rng.choice(self.platforms))
            q = {"eo:cloud_cover": {"lt": self._cloud(2, 20)}, "platform": {"in": [plat]}}
            spec.update(query=q, sort=[("eo:cloud_cover", 1)])
            return _post(spec, {"query": q, "sortby": [{"field": "eo:cloud_cover", "direction": "asc"}], "limit": 10})
        if template == "ids_post":
            ids = [self._item()[1] for _ in range(int(rng.integers(3, 9)))] + ["no-such-item"]
            spec["ids"] = ids
            return _post(spec, {"ids": ids, "limit": 10})
        if template == "fields_post":
            cid = self.cids[int(rng.integers(len(self.cids)))]
            dt = self._dt()
            spec.update(collections=[cid], datetime=dt, fields=["platform", "eo:cloud_cover"], limit=20)
            return _post(spec, {
                "collections": [cid], "datetime": f"{iso_us(dt[0])}/{iso_us(dt[1])}",
                "fields": {"include": ["platform", "eo:cloud_cover"]}, "limit": 20,
            })
        if template == "offset_items_get":
            cid = self.cids[int(rng.integers(len(self.cids)))]
            dt, off = self._dt(), 10 * int(rng.integers(1, 6))
            spec.update(collections=[cid], datetime=dt, offset=off)
            return _get(spec, f"/collections/{cid}/items", {
                "datetime": f"{iso_us(dt[0])}/{iso_us(dt[1])}", "limit": 10, "token": str(off)})
        if template == "offset_sorted_post":
            flt = {"op": "<", "args": [{"property": "eo:cloud_cover"}, self._cloud(5, 20)]}
            off = 10 * int(rng.integers(1, 6))
            spec.update(filter=flt, sort=[("datetime", -1)], offset=off)
            return _post(spec, {"filter": flt, "sortby": [{"field": "datetime", "direction": "desc"}], "limit": 10, "token": str(off)})
        if template == "keyset_post":
            cid, anchor = self._item()
            dt = self._dt()
            spec.update(collections=[cid], datetime=dt, after_id=anchor)
            return _post(spec, {"collections": [cid], "datetime": f"{iso_us(dt[0])}/{iso_us(dt[1])}",
                                "limit": 10, "token": keyset_token([anchor])})
        if template == "item_get":
            cid, iid = self._item()
            spec["item"] = (cid, iid)
            return _get(spec, f"/collections/{cid}/items/{iid}", None)
        raise ValueError(template)

    def deck(self) -> list[dict]:
        order = self.rng.permutation(len(DECK))
        return [self.make(*DECK[i]) for i in order]

    def warm(self) -> list[dict]:
        """One request of every template."""
        return [self.make(t, c) for t, c in dict(DECK).items()]


def visible_search(cid: str, since_us: int) -> dict:
    """The search that must count a just-landed batch (ingest workload)."""
    spec = {"template": "visible_get", "cls": "visible", "collections": [cid], "datetime": (since_us, None), "limit": 1}
    return _get(spec, f"/collections/{cid}/items", {"datetime": f"{iso_us(since_us)}/..", "limit": 1})


def item_request(cid: str, iid: str, template: str = "item_get") -> dict:
    spec = {"template": template, "cls": "item", "item": (cid, iid)}
    return _get(spec, f"/collections/{cid}/items/{iid}", None)


def _get(spec: dict, path: str, params: dict | None) -> dict:
    spec["method"] = "GET"
    spec["path"] = path + ("?" + urlencode(params) if params else "")
    return spec


def _post(spec: dict, body: dict) -> dict:
    spec["method"] = "POST"
    spec["path"] = "/search"
    spec["body"] = json.dumps(body)
    return spec


def stream_digest(specs: list[dict]) -> str:
    import hashlib

    h = hashlib.sha256()
    for s in specs:
        h.update(f"{s['method']} {s['path']} {s.get('body', '')}\n".encode())
    return h.hexdigest()[:16]
