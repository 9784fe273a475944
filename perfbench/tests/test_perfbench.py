"""The benchmark's own tests (no Spark session needed).

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import base64
import copy
import json
import os
import time

import numpy as np
import pytest

from perfbench import catalog as C
from perfbench import oracle as O
from perfbench import tables as T
from perfbench import traffic as R
from perfbench.spans import Tracer

SCALE = 0.02  # a few hundred items per collection


@pytest.fixture(scope="module")
def small():
    cat = C.generate(7, SCALE)
    return cat, O.Truth(cat)


# ---------------------------------------------------------------------------
# determinism
# ---------------------------------------------------------------------------

def test_same_seed_same_inputs_and_requests():
    a, b = C.generate(3, SCALE), C.generate(3, SCALE)
    assert C.digest(a) == C.digest(b)
    assert C.digest(a) != C.digest(C.generate(4, SCALE))
    sa, sb = R.RequestStream(3, a), R.RequestStream(3, b)
    da = [sa.deck() for _ in range(3)]
    db = [sb.deck() for _ in range(3)]
    assert R.stream_digest(sum(da, [])) == R.stream_digest(sum(db, []))
    other = R.RequestStream(4, a)
    assert R.stream_digest(sum(da, [])) != R.stream_digest(sum([other.deck() for _ in range(3)], []))


def test_same_seed_same_operator_tables():
    assert T.digest(T.generate(5)) == T.digest(T.generate(5))
    assert T.digest(T.generate(5)) != T.digest(T.generate(6))


def test_deck_keeps_the_mix():
    cat = C.generate(1, SCALE)
    deck = R.RequestStream(1, cat).deck()
    share = {c: sum(s["cls"] == c for s in deck) / len(deck) for c in R.CLASSES}
    assert share == {"spatial": 0.3, "attr": 0.3, "page": 0.15, "item": 0.25}


def test_landing_batches_follow_the_catalog():
    cat = C.generate(1, SCALE)
    base = cat["sentinel-2-l2a"]
    b0 = C.landing_batch(1, 0, base, 50)
    b1 = C.landing_batch(1, 1, base, 50)
    assert not set(b0.ids) & set(base.ids) and not set(b0.ids) & set(b1.ids)
    assert max(base.ids) < min(b0.ids) < min(b1.ids)


# ---------------------------------------------------------------------------
# the oracle
# ---------------------------------------------------------------------------

def test_sat_agrees_with_wkb_intersects():
    from stac_fastapi_duckdb_spark.functions import geo

    rng = np.random.default_rng(0)
    quads = C.footprints(rng, 400, (0.9, 0.85))
    stream = R.RequestStream(0, C.generate(0, SCALE))
    for _ in range(5):
        poly = np.asarray(stream._polygon())
        want = O.sat_intersects(quads, poly)
        q = geo.from_geojson({"type": "Polygon", "coordinates": [poly.tolist() + poly[:1].tolist()]})
        got = [geo.intersects(geo.parse_wkb(w), q) for w in C._wkb_polygons(quads)]
        assert list(want) == got


def test_three_valued_logic_and_nan(small):
    _, truth = small
    # NOT (x BETWEEN ..) is unknown where x is NULL, so only landsat rows survive
    flt = {"op": "not", "args": [{"op": "between", "args": [{"property": "landsat:wrs_path"}, 1, 50]}]}
    t, u = O.eval_cql2(flt, truth)
    assert set(truth.collection[t]) == {"landsat-c2l2"}
    assert u[truth.collection != "landsat-c2l2"].all()
    # NaN sorts above every number: >= keeps it, < drops it
    nan = np.isnan(truth.cloud)
    assert nan.any()
    ge, _ = O.eval_cql2({"op": ">=", "args": [{"property": "eo:cloud_cover"}, 50]}, truth)
    lt, _ = O.eval_cql2({"op": "<", "args": [{"property": "eo:cloud_cover"}, 50]}, truth)
    assert ge[nan].all() and not lt[nan].any()


def test_datetime_interval_semantics(small):
    _, truth = small
    lo, hi = C.EPOCH_US + 400 * C.DAY_US, C.EPOCH_US + 500 * C.DAY_US
    m = O.datetime_mask(truth, lo, hi)
    inst = truth.dt >= 0
    assert (m[inst] == ((truth.dt >= lo) & (truth.dt <= hi))[inst]).all()
    assert (m[~inst] == ((truth.start <= hi) & (truth.end >= lo))[~inst]).all()


def _feature(truth: O.Truth, row: int) -> dict:
    props = {"platform": truth.platform[row]}
    for key, arr in (("datetime", truth.dt), ("start_datetime", truth.start), ("end_datetime", truth.end)):
        if arr[row] >= 0:
            props[key] = O.iso_us(arr[row])
    if not np.isnan(truth.cloud[row]):
        props["eo:cloud_cover"] = float(truth.cloud[row])
    ring = np.concatenate([truth.corners[row], truth.corners[row][:1]]).tolist()
    return {
        "type": "Feature", "id": truth.ids[row], "collection": truth.collection[row],
        "geometry": {"type": "Polygon", "coordinates": [ring]},
        "bbox": truth.bbox[row].tolist(), "properties": props,
    }


def _response(spec: dict, truth: O.Truth) -> dict:
    exp = O.expect(spec, truth)
    links = [{"rel": "self"}]
    if exp.next_token:
        links.append({"rel": "next", "token": exp.next_token})
    feats = [_feature(truth, int(r)) for r in exp.page]
    if spec.get("fields"):
        for f in feats:
            f["properties"] = {k: v for k, v in f["properties"].items() if k in spec["fields"]}
            del f["bbox"]
    return {"type": "FeatureCollection", "features": feats, "links": links,
            "numMatched": len(exp.rows), "numReturned": len(feats)}


def test_oracle_accepts_the_answer_and_rejects_corruptions(small):
    cat, truth = small
    stream = R.RequestStream(11, cat)
    specs = [stream.make(t, c) for t, c in dict(R.DECK).items() if c != "item"]
    checked = 0
    for spec in specs:
        good = _response(spec, truth)
        assert O.check_search(spec, good, truth) is None, spec["template"]
        if len(good["features"]) < 2:
            continue
        checked += 1
        corruptions = []
        bad = copy.deepcopy(good)
        bad["numMatched"] += 1
        corruptions.append(bad)
        bad = copy.deepcopy(good)
        bad["features"][0], bad["features"][1] = bad["features"][1], bad["features"][0]
        corruptions.append(bad)
        bad = copy.deepcopy(good)
        bad["features"].pop()
        bad["numReturned"] -= 1
        corruptions.append(bad)
        bad = copy.deepcopy(good)
        bad["features"][0]["geometry"]["coordinates"][0][1][0] += 1e-6
        corruptions.append(bad)
        bad = copy.deepcopy(good)
        bad["links"] = bad["links"][:1] if len(bad["links"]) > 1 else bad["links"] + [{"rel": "next", "token": "x"}]
        corruptions.append(bad)
        for b in corruptions:
            assert O.check_search(spec, b, truth) is not None, spec["template"]
    assert checked >= 5
    item = stream.make("item_get", "item")
    good = _feature(truth, truth.row_of[item["item"][1]])
    assert O.check_item(item, good, truth) is None
    good["properties"]["platform"] = "nope"
    assert O.check_item(item, good, truth) is not None


def test_keyset_walk_covers_every_row_once(small):
    _, truth = small
    spec = {"collections": ["landsat-c2l2"], "limit": 7, "after_id": ""}
    seen = []
    while True:
        exp = O.expect(spec, truth)
        seen.extend(truth.ids[exp.page])
        if exp.next_token is None:
            break
        spec["after_id"] = json.loads(base64.urlsafe_b64decode(exp.next_token[3:]))[0]
    assert seen == sorted(truth.ids[truth.collection == "landsat-c2l2"])


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------

class _Layer:
    def inner(self):
        time.sleep(0.002)

    def outer(self):
        time.sleep(0.001)
        self.inner()
        self.inner()


def test_self_times_sum_to_the_traced_request():
    tracer = Tracer()
    tracer.wrap(_Layer, "outer", "outer")
    tracer.wrap(_Layer, "inner", "inner")
    try:
        layer = _Layer()
        for i in range(3):
            with tracer.span("request", root=f"r{i}") as root:
                layer.outer()
                time.sleep(0.001)
    finally:
        tracer.restore()
    assert _Layer.outer.__name__ == "outer" and not hasattr(_Layer.outer, "__wrapped__")
    roots = [i for i, s in enumerate(tracer.spans) if s.parent < 0]
    assert len(roots) == 3
    for r in roots:
        total = sum(tracer.self_ms(i) for i in tracer.subtree(r))
        assert total == pytest.approx(tracer.spans[r].ms, abs=1e-6)
        assert len(tracer.find("inner", r)) == 2
        assert all(tracer.spans[i].root == tracer.spans[r].root for i in tracer.subtree(r))
    del root


# ---------------------------------------------------------------------------
# BENCHMARK.json and the entry point agree
# ---------------------------------------------------------------------------

def test_benchmark_json_matches_the_runner():
    from perfbench import run

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == run.per_layer_metrics()
