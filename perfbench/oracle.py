"""Independent restatement of STAC search answers over the seeded arrays.

Nothing here imports the package under test. The oracle re-derives,
with numpy alone:

- spatial intersection of convex polygons by the separating-axis
  theorem (touching counts as intersecting);
- the STAC datetime semantics: an item with a NULL ``datetime`` matches
  through its ``[start_datetime, end_datetime]`` interval;
- CQL2 / Query-extension attribute filters under SQL three-valued
  logic, with Spark's NaN ordering (NaN equals NaN and sorts above
  every number);
- result order: every sort key NULLS LAST in both directions, then the
  ``id`` tiebreak;

and checks a response's ``numMatched``, page contents, order and next
token against it.
"""

from __future__ import annotations

import base64
import datetime as _dt
import json
import operator
import re
from dataclasses import dataclass

import numpy as np

from perfbench.catalog import Items

EXTRA_COLUMNS = ("landsat:wrs_path", "s2:mgrs_tile", "sat:orbit_state")


def iso_us(us: int) -> str:
    """µs since the epoch → the ISO-8601 ``...Z`` form STAC items carry."""
    d = _dt.datetime(1970, 1, 1) + _dt.timedelta(microseconds=int(us))
    return d.isoformat() + "Z"


def parse_iso_us(s: str) -> int:
    d = _dt.datetime.fromisoformat(s.replace("Z", "+00:00"))
    return (d - _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)) // _dt.timedelta(microseconds=1)


# ---------------------------------------------------------------------------
# geometry
# ---------------------------------------------------------------------------

def _axes(poly: np.ndarray) -> np.ndarray:
    """Edge normals of polygons ``(..., k, 2)`` → ``(..., k, 2)``."""
    edges = np.roll(poly, -1, axis=-2) - poly
    return np.stack([-edges[..., 1], edges[..., 0]], axis=-1)


def sat_intersects(quads: np.ndarray, query: np.ndarray) -> np.ndarray:
    """Convex ``quads (n, 4, 2)`` against one convex ``query (k, 2)``:
    True where no axis separates them."""
    sep = np.zeros(len(quads), dtype=bool)
    # the query's own edge normals, shared by every item
    for ax in _axes(query):
        p = quads @ ax
        q = query @ ax
        sep |= (p.max(axis=1) < q.min()) | (p.min(axis=1) > q.max())
    # each item's edge normals
    for j in range(quads.shape[1]):
        ax = _axes(quads)[:, j, :]  # (n, 2)
        p = np.einsum("nkd,nd->nk", quads, ax)
        q = query @ ax.T  # (k, n)
        sep |= (p.max(axis=1) < q.min(axis=0)) | (p.min(axis=1) > q.max(axis=0))
    return ~sep


# ---------------------------------------------------------------------------
# the catalog as one table
# ---------------------------------------------------------------------------

class Truth:
    """Every collection's items unioned, with one entry per column."""

    def __init__(self, catalog: dict[str, Items]) -> None:
        parts = [catalog[c] for c in sorted(catalog)]
        n = sum(len(p) for p in parts)
        self.n = n
        self.collection = np.concatenate([np.full(len(p), p.cid, dtype=object) for p in parts])
        self.ids = np.concatenate([p.ids for p in parts])
        self.corners = np.concatenate([p.corners for p in parts])
        self.bbox = np.concatenate([p.bbox for p in parts])
        self.dt = np.concatenate([p.dt for p in parts])
        self.start = np.concatenate([p.start for p in parts])
        self.end = np.concatenate([p.end for p in parts])
        self.platform = np.concatenate([p.platform for p in parts])
        self.cloud = np.concatenate([p.cloud for p in parts])
        self.gsd = np.concatenate([np.full(len(p), p.spec.gsd) for p in parts])
        self.epsg = np.concatenate([np.full(len(p), p.spec.epsg) for p in parts])
        self.extra: dict[str, tuple[np.ndarray, np.ndarray]] = {}
        for name in EXTRA_COLUMNS:
            vals = np.empty(n, dtype=object)
            null = np.ones(n, dtype=bool)
            at = 0
            for p in parts:
                if p.spec.extra == name:
                    vals[at : at + len(p)] = p.extra
                    null[at : at + len(p)] = False
                at += len(p)
            self.extra[name] = (vals, null)
        order = np.argsort(self.ids, kind="stable")
        self.id_rank = np.empty(n, dtype=np.int64)
        self.id_rank[order] = np.arange(n)
        self.row_of = {i: k for k, i in enumerate(self.ids)}

    # a property → (values, null mask)
    def column(self, name: str) -> tuple[np.ndarray, np.ndarray]:
        no_null = np.zeros(self.n, dtype=bool)
        if name == "eo:cloud_cover":
            return self.cloud, no_null
        if name == "platform":
            return self.platform, no_null
        if name == "gsd":
            return self.gsd, no_null
        if name == "proj:epsg":
            return self.epsg, no_null
        if name == "datetime":
            return self.dt, self.dt < 0
        if name == "id":
            return self.ids, no_null
        if name in self.extra:
            return self.extra[name]
        raise KeyError(name)


# ---------------------------------------------------------------------------
# filters (SQL three-valued logic: each node → (true, unknown))
# ---------------------------------------------------------------------------

def _num(vals: np.ndarray) -> np.ndarray | None:
    """Numeric view with NaN mapped above every number, or None for text."""
    if vals.dtype.kind == "f":
        return np.where(np.isnan(vals), np.inf, vals)
    if vals.dtype.kind in "iu":
        return vals.astype(np.float64)
    return None


_CMP = {
    "=": operator.eq, "eq": operator.eq, "<>": operator.ne, "neq": operator.ne,
    "<": operator.lt, "lt": operator.lt, "<=": operator.le, "lte": operator.le,
    ">": operator.gt, "gt": operator.gt, ">=": operator.ge, "gte": operator.ge,
}


def _compare(op: str, vals: np.ndarray, null: np.ndarray, lit) -> tuple[np.ndarray, np.ndarray]:
    num = _num(vals)
    if num is not None:
        res = _CMP[op](num, float(lit))
    else:
        res = np.array([(not nl) and bool(_CMP[op](v, lit)) for v, nl in zip(vals, null)], dtype=bool)
    return res & ~null, null.copy()


def _like(vals: np.ndarray, null: np.ndarray, pattern: str) -> np.ndarray:
    rx = re.compile("^" + "".join(".*" if ch == "%" else "." if ch == "_" else re.escape(ch) for ch in pattern) + "$", re.S)
    return np.array([(not nl) and bool(rx.match(str(v))) for v, nl in zip(vals, null)], dtype=bool)


def eval_cql2(node: dict, truth: Truth) -> tuple[np.ndarray, np.ndarray]:
    op = node["op"]
    args = node.get("args", [])
    if op in ("and", "or"):
        parts = [eval_cql2(a, truth) for a in args]
        t, u = parts[0]
        for t2, u2 in parts[1:]:
            if op == "and":
                f = (~t & ~u) | (~t2 & ~u2)
                t, u = t & t2, (u | u2) & ~f
            else:
                t, u = t | t2, (u | u2) & ~(t | t2)
        return t, u
    if op == "not":
        t, u = eval_cql2(args[0], truth)
        return ~t & ~u, u
    vals, null = truth.column(args[0]["property"])
    if op in _CMP:
        return _compare(op, vals, null, args[1])
    if op == "in":
        t = np.zeros(truth.n, dtype=bool)
        for lit in args[1]:
            t |= _compare("=", vals, null, lit)[0]
        return t, null.copy()
    if op == "between":
        lo, _ = _compare(">=", vals, null, args[1])
        hi, _ = _compare("<=", vals, null, args[2])
        return lo & hi, null.copy()
    if op == "like":
        return _like(vals, null, args[1]), null.copy()
    if op == "isNull":
        return null.copy(), np.zeros(truth.n, dtype=bool)
    raise ValueError(f"oracle: unsupported op {op!r}")


def eval_query(query: dict, truth: Truth) -> np.ndarray:
    """Query extension: ``{field: {op: value}}``, every term ANDed."""
    keep = np.ones(truth.n, dtype=bool)
    for field, spec in query.items():
        vals, null = truth.column(field)
        for op, v in spec.items():
            if op == "in":
                t = np.zeros(truth.n, dtype=bool)
                for lit in v:
                    t |= _compare("=", vals, null, lit)[0]
            else:
                t = _compare(op, vals, null, v)[0]
            keep &= t
    return keep


def datetime_mask(truth: Truth, lo: int | None, hi: int | None) -> np.ndarray:
    """Closed/open interval semantics of the STAC ``datetime`` parameter."""
    has = truth.dt >= 0
    iv = ~has & (truth.start >= 0) & (truth.end >= 0)
    inst = has.copy()
    if lo is not None:
        inst &= truth.dt >= lo
    if hi is not None:
        inst &= truth.dt <= hi
    if lo is not None and hi is not None:
        return inst | (iv & (truth.start <= hi) & (truth.end >= lo))
    if lo is not None:
        return inst | (~has & (truth.end >= 0) & (truth.end >= lo))
    return inst | (~has & (truth.start >= 0) & (truth.start <= hi))


# ---------------------------------------------------------------------------
# one request → the full ordered answer
# ---------------------------------------------------------------------------

@dataclass
class Expected:
    rows: np.ndarray  # every matched row, in result order
    page: np.ndarray  # the rows of the requested page
    has_more: bool
    next_token: str | None


def match(spec: dict, truth: Truth) -> np.ndarray:
    keep = np.ones(truth.n, dtype=bool)
    if spec.get("collections"):
        keep &= np.isin(truth.collection, spec["collections"])
    if spec.get("ids"):
        keep &= np.isin(truth.ids, spec["ids"])
    if spec.get("datetime"):
        keep &= datetime_mask(truth, *spec["datetime"])
    poly = spec.get("polygon")
    if poly is not None:
        poly = np.asarray(poly, dtype=np.float64)
        w, s = poly.min(axis=0)
        e, n = poly.max(axis=0)
        b = truth.bbox
        cand = keep & (b[:, 0] <= e) & (b[:, 2] >= w) & (b[:, 1] <= n) & (b[:, 3] >= s)
        idx = np.flatnonzero(cand)
        keep = np.zeros(truth.n, dtype=bool)
        keep[idx[sat_intersects(truth.corners[idx], poly)]] = True
    if spec.get("filter"):
        keep &= eval_cql2(spec["filter"], truth)[0]
    if spec.get("query"):
        keep &= eval_query(spec["query"], truth)
    return np.flatnonzero(keep)


def order(rows: np.ndarray, sort: list[tuple[str, int]], truth: Truth) -> np.ndarray:
    """Sort keys NULLS LAST in both directions, then ``id`` ascending."""
    keys = [truth.id_rank[rows]]  # least significant first for lexsort
    for field, direction in reversed([s for s in sort if s[0] != "id"]):
        vals, null = truth.column(field)
        vals, null = vals[rows], null[rows]
        num = _num(vals) if vals.dtype.kind != "O" else None
        if num is None:
            _, num = np.unique(np.where(null, "", vals).astype(str), return_inverse=True)
            num = num.astype(np.float64)
        num = np.where(null, 0.0, num)
        keys.append(num if direction > 0 else -num)
        keys.append(null.astype(np.int8))
    return rows[np.lexsort(keys)]


def keyset_token(values: list) -> str:
    return "ks:" + base64.urlsafe_b64encode(json.dumps(values).encode()).decode()


def expect(spec: dict, truth: Truth) -> Expected:
    rows = order(match(spec, truth), spec.get("sort", []), truth)
    limit = spec.get("limit", 10)
    after = spec.get("after_id")
    if after is not None:
        rest = rows[truth.ids[rows] > after]  # id-only sort: search-after on id
        page = rest[:limit]
        more = len(rest) > limit
        token = keyset_token([truth.ids[page[-1]]]) if more and len(page) else None
    else:
        off = spec.get("offset", 0)
        page = rows[off : off + limit]
        more = len(rows) > off + limit
        token = str(off + limit) if more and len(page) else None
    return Expected(rows, page, more, token)


# ---------------------------------------------------------------------------
# response checks
# ---------------------------------------------------------------------------

def check_feature(feat: dict, row: int, truth: Truth, fields: list[str] | None = None) -> str | None:
    """→ None when the feature restates ``row``; else what differs."""
    if feat.get("type") != "Feature":
        return "not a Feature"
    if feat.get("id") != truth.ids[row]:
        return f"id {feat.get('id')} != {truth.ids[row]}"
    if feat.get("collection") != truth.collection[row]:
        return f"collection of {feat.get('id')}"
    ring = feat.get("geometry", {}).get("coordinates", [[]])[0]
    want = np.concatenate([truth.corners[row], truth.corners[row][:1]])
    if len(ring) != 5 or not np.array_equal(np.asarray(ring, dtype=np.float64), want):
        return f"geometry of {feat['id']}"
    props = feat.get("properties", {})
    if fields is not None:
        extra = set(props) - set(fields)
        return f"fields leaked {sorted(extra)}" if extra else None
    if feat.get("bbox") is not None and not np.allclose(feat["bbox"], truth.bbox[row], rtol=0, atol=1e-9):
        return f"bbox of {feat['id']}"
    for key, arr in (("datetime", truth.dt), ("start_datetime", truth.start), ("end_datetime", truth.end)):
        got = props.get(key)
        if arr[row] < 0:
            if got is not None:
                return f"{key} of {feat['id']} should be absent"
        elif got is None or parse_iso_us(got) != arr[row]:
            return f"{key} of {feat['id']}: {got} != {iso_us(arr[row])}"
    cloud = truth.cloud[row]
    got = props.get("eo:cloud_cover")
    if (np.isnan(cloud) and got is not None) or (not np.isnan(cloud) and got != cloud):
        return f"eo:cloud_cover of {feat['id']}: {got} != {cloud}"
    if props.get("platform") != truth.platform[row]:
        return f"platform of {feat['id']}"
    return None


def next_token_of(body: dict) -> str | None:
    for link in body.get("links", []):
        if link.get("rel") == "next":
            return link.get("token") or (link.get("body") or {}).get("token")
    return None


def check_search(spec: dict, body: dict, truth: Truth) -> str | None:
    """→ None when ``body`` is exactly the oracle's answer."""
    exp = expect(spec, truth)
    if body.get("type") != "FeatureCollection":
        return "not a FeatureCollection"
    if body.get("numMatched") != len(exp.rows):
        return f"numMatched {body.get('numMatched')} != {len(exp.rows)}"
    feats = body.get("features", [])
    if body.get("numReturned") != len(feats) or len(feats) != len(exp.page):
        return f"returned {len(feats)} != {len(exp.page)}"
    fields = spec.get("fields")
    for feat, row in zip(feats, exp.page):
        err = check_feature(feat, int(row), truth, fields)
        if err:
            return err
    tok = next_token_of(body)
    if (tok is None) != (exp.next_token is None):
        return f"next token {tok!r}, expected {exp.next_token!r}"
    if tok is not None and spec.get("after_id") is None and tok != exp.next_token:
        return f"next token {tok!r} != {exp.next_token!r}"
    if tok is not None and spec.get("after_id") is not None:
        got = json.loads(base64.urlsafe_b64decode(tok[3:].encode()))
        if got != [truth.ids[exp.page[-1]]]:
            return f"keyset token {got} != {truth.ids[exp.page[-1]]}"
    return None


def check_item(spec: dict, body: dict, truth: Truth) -> str | None:
    row = truth.row_of.get(spec["item"][1])
    if row is None:
        return f"oracle has no item {spec['item'][1]}"
    return check_feature(body, row, truth)
