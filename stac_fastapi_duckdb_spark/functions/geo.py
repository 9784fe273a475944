"""Zero-dependency planar geometry kernel: WKB parsing, GeoJSON
conversion, bbox, and intersects.

The reference delegates spatial work to DuckDB's ``spatial`` extension
(``ST_Intersects`` / ``ST_GeomFromText`` / ``ST_GeomFromGeoJSON``,
reference database_logic.py:401,441) and decodes WKB with shapely
(utilities.py:13-21). Neither Sedona nor shapely is available in this
environment, so this module implements the minimal planar predicates in
pure Python/NumPy. It runs ONLY inside Arrow-batched pandas UDFs on the
small candidate set that survives the pushdownable bbox pre-filter
(operators/spatial.py) — the hot path stays JVM-side.

Supported WKB: 2-D (+Z/M tolerated, extra dims dropped) Point,
LineString, Polygon, MultiPoint, MultiLineString, MultiPolygon,
GeometryCollection; both endiannesses; EWKB SRID flag tolerated.

Geometry representation: ``("point", (x, y))``,
``("lines", [ndarray Nx2, ...])``, ``("polygons", [[ring0, hole1, ...],
...])`` where each ring is a closed ndarray Nx2.
"""

from __future__ import annotations

import struct
from typing import Any

import numpy as np

_Z_FLAG = 0x80000000
_M_FLAG = 0x40000000
_SRID_FLAG = 0x20000000


class _Reader:
    __slots__ = ("buf", "pos")

    def __init__(self, buf: bytes) -> None:
        self.buf = buf
        self.pos = 0

    def take(self, fmt: str) -> tuple:
        out = struct.unpack_from(fmt, self.buf, self.pos)
        self.pos += struct.calcsize(fmt)
        return out


def _parse_geom(r: _Reader) -> tuple[str, Any]:
    (byte_order,) = r.take("B")
    endian = "<" if byte_order == 1 else ">"
    (type_code,) = r.take(endian + "I")
    has_z = bool(type_code & _Z_FLAG) or (1000 <= (type_code & 0xFFFF) < 2000)
    has_m = bool(type_code & _M_FLAG) or (2000 <= (type_code & 0xFFFF) < 4000)
    if type_code & _SRID_FLAG:
        r.take(endian + "I")  # skip SRID
    base = type_code & 0xFF
    if base > 1000:
        base %= 1000
    ndim = 2 + int(has_z) + int(has_m)
    pt_fmt = endian + "d" * ndim

    def read_point() -> tuple[float, float]:
        vals = r.take(pt_fmt)
        return (vals[0], vals[1])

    def read_ring() -> np.ndarray:
        (n,) = r.take(endian + "I")
        flat = r.take(endian + "d" * (n * ndim))
        arr = np.asarray(flat, dtype=np.float64).reshape(n, ndim)[:, :2]
        return arr

    if base == 1:  # Point
        return ("point", read_point())
    if base == 2:  # LineString
        return ("lines", [read_ring()])
    if base == 3:  # Polygon
        (nrings,) = r.take(endian + "I")
        return ("polygons", [[read_ring() for _ in range(nrings)]])
    if base in (4, 5, 6, 7):  # Multi* / GeometryCollection
        (n,) = r.take(endian + "I")
        pts: list[tuple[float, float]] = []
        lines: list[np.ndarray] = []
        polys: list[list[np.ndarray]] = []
        for _ in range(n):
            kind, val = _parse_geom(r)
            if kind == "point":
                pts.append(val)
            elif kind == "lines":
                lines.extend(val)
            elif kind == "polygons":
                polys.extend(val)
            elif kind == "mixed":
                p2, l2, g2 = val
                pts.extend(p2)
                lines.extend(l2)
                polys.extend(g2)
        if polys and not pts and not lines:
            return ("polygons", polys)
        if lines and not pts and not polys:
            return ("lines", lines)
        if pts and not lines and not polys:
            return ("multipoint", pts)
        return ("mixed", (pts, lines, polys))
    raise ValueError(f"Unsupported WKB geometry type {type_code}")


def parse_wkb(buf: bytes | bytearray | list[int] | None) -> tuple[str, Any] | None:
    """Parse WKB bytes → internal geometry. The reference also accepts
    WKB as a list of ints (utilities.py:13-21 calls bytes(int_list))."""
    if buf is None:
        return None
    if isinstance(buf, (list, tuple)):
        buf = bytes(bytearray(int(b) & 0xFF for b in buf))
    elif isinstance(buf, (bytearray, memoryview)):
        buf = bytes(buf)
    return _parse_geom(_Reader(buf))


def from_geojson(obj: dict) -> tuple[str, Any]:
    """GeoJSON geometry dict → internal geometry (ST_GeomFromGeoJSON
    analog, reference database_logic.py:441)."""
    t = obj["type"]
    coords = obj.get("coordinates")
    if t == "Point":
        return ("point", (float(coords[0]), float(coords[1])))
    if t == "MultiPoint":
        return ("multipoint", [(float(x), float(y)) for x, y, *_ in coords])
    if t == "LineString":
        return ("lines", [np.asarray([c[:2] for c in coords], dtype=np.float64)])
    if t == "MultiLineString":
        return (
            "lines",
            [np.asarray([c[:2] for c in line], dtype=np.float64) for line in coords],
        )
    if t == "Polygon":
        return (
            "polygons",
            [[np.asarray([c[:2] for c in ring], dtype=np.float64) for ring in coords]],
        )
    if t == "MultiPolygon":
        return (
            "polygons",
            [
                [np.asarray([c[:2] for c in ring], dtype=np.float64) for ring in poly]
                for poly in coords
            ],
        )
    if t == "GeometryCollection":
        pts, lines, polys = [], [], []
        for g in obj.get("geometries", []):
            kind, val = from_geojson(g)
            if kind == "point":
                pts.append(val)
            elif kind == "multipoint":
                pts.extend(val)
            elif kind == "lines":
                lines.extend(val)
            elif kind == "polygons":
                polys.extend(val)
        return ("mixed", (pts, lines, polys))
    raise ValueError(f"Unsupported GeoJSON type {t}")


def to_geojson(geom: tuple[str, Any]) -> dict:
    """Internal geometry → GeoJSON mapping (shapely.geometry.mapping
    analog used in utilities.py:21)."""
    kind, val = geom
    if kind == "point":
        return {"type": "Point", "coordinates": [val[0], val[1]]}
    if kind == "multipoint":
        return {"type": "MultiPoint", "coordinates": [[x, y] for x, y in val]}
    if kind == "lines":
        if len(val) == 1:
            return {"type": "LineString", "coordinates": val[0].tolist()}
        return {"type": "MultiLineString", "coordinates": [l.tolist() for l in val]}
    if kind == "polygons":
        if len(val) == 1:
            return {"type": "Polygon", "coordinates": [r.tolist() for r in val[0]]}
        return {
            "type": "MultiPolygon",
            "coordinates": [[r.tolist() for r in poly] for poly in val],
        }
    raise ValueError(f"Cannot serialize geometry kind {kind}")


# ---------------------------------------------------------------------------
# predicates
# ---------------------------------------------------------------------------

def bounds(geom: tuple[str, Any]) -> tuple[float, float, float, float]:
    """(minx, miny, maxx, maxy) envelope."""
    kind, val = geom
    if kind == "point":
        x, y = val
        return (x, y, x, y)
    if kind == "multipoint":
        xs = [x for x, _ in val]
        ys = [y for _, y in val]
        return (min(xs), min(ys), max(xs), max(ys))
    if kind == "lines":
        arrs = val
    elif kind == "polygons":
        arrs = [r for poly in val for r in poly[:1]]  # outer rings bound the poly
    else:  # mixed
        pts, lines, polys = val
        parts = []
        if pts:
            parts.append(bounds(("multipoint", pts)))
        if lines:
            parts.append(bounds(("lines", lines)))
        if polys:
            parts.append(bounds(("polygons", polys)))
        return (
            min(p[0] for p in parts),
            min(p[1] for p in parts),
            max(p[2] for p in parts),
            max(p[3] for p in parts),
        )
    mins = np.min([a.min(axis=0) for a in arrs], axis=0)
    maxs = np.max([a.max(axis=0) for a in arrs], axis=0)
    return (float(mins[0]), float(mins[1]), float(maxs[0]), float(maxs[1]))


def _point_in_ring(x: float, y: float, ring: np.ndarray) -> bool:
    """Ray-cast (even-odd); boundary treated as inside."""
    xs, ys = ring[:, 0], ring[:, 1]
    x1, y1 = xs[:-1], ys[:-1]
    x2, y2 = xs[1:], ys[1:]
    # boundary check: collinear and within segment bbox
    cross = (x2 - x1) * (y - y1) - (y2 - y1) * (x - x1)
    on = (
        (np.abs(cross) < 1e-12)
        & (np.minimum(x1, x2) - 1e-12 <= x)
        & (x <= np.maximum(x1, x2) + 1e-12)
        & (np.minimum(y1, y2) - 1e-12 <= y)
        & (y <= np.maximum(y1, y2) + 1e-12)
    )
    if on.any():
        return True
    with np.errstate(divide="ignore", invalid="ignore"):
        # horizontal segments are excluded by the (y1>y)!=(y2>y) mask
        crossings = ((y1 > y) != (y2 > y)) & (
            x < (x2 - x1) * (y - y1) / (y2 - y1) + x1
        )
    return bool(crossings.sum() % 2)


def _point_in_polygon(x: float, y: float, rings: list[np.ndarray]) -> bool:
    if not _point_in_ring(x, y, rings[0]):
        return False
    for hole in rings[1:]:
        if _point_in_ring(x, y, hole):
            # on-boundary of a hole counts as inside the polygon
            xs, ys = hole[:, 0], hole[:, 1]
            x1, y1, x2, y2 = xs[:-1], ys[:-1], xs[1:], ys[1:]
            cross = (x2 - x1) * (y - y1) - (y2 - y1) * (x - x1)
            on = (
                (np.abs(cross) < 1e-12)
                & (np.minimum(x1, x2) - 1e-12 <= x)
                & (x <= np.maximum(x1, x2) + 1e-12)
                & (np.minimum(y1, y2) - 1e-12 <= y)
                & (y <= np.maximum(y1, y2) + 1e-12)
            )
            if not on.any():
                return False
    return True


def _segments_intersect(a: np.ndarray, b: np.ndarray) -> bool:
    """Any segment of polyline a intersects any segment of polyline b
    (vectorized all-pairs orientation test)."""
    p1 = a[:-1][:, None, :]
    p2 = a[1:][:, None, :]
    q1 = b[:-1][None, :, :]
    q2 = b[1:][None, :, :]

    def cross(o, d, p):
        return (d[..., 0] - o[..., 0]) * (p[..., 1] - o[..., 1]) - (
            d[..., 1] - o[..., 1]
        ) * (p[..., 0] - o[..., 0])

    d1 = cross(q1, q2, p1)
    d2 = cross(q1, q2, p2)
    d3 = cross(p1, p2, q1)
    d4 = cross(p1, p2, q2)
    proper = ((d1 > 0) != (d2 > 0)) & ((d3 > 0) != (d4 > 0))
    if proper.any():
        return True

    # collinear / endpoint-touching cases
    def on_seg(o, d, p):
        return (
            (np.abs(cross(o, d, p)) < 1e-12)
            & (np.minimum(o[..., 0], d[..., 0]) - 1e-12 <= p[..., 0])
            & (p[..., 0] <= np.maximum(o[..., 0], d[..., 0]) + 1e-12)
            & (np.minimum(o[..., 1], d[..., 1]) - 1e-12 <= p[..., 1])
            & (p[..., 1] <= np.maximum(o[..., 1], d[..., 1]) + 1e-12)
        )

    touch = (
        on_seg(q1, q2, p1)
        | on_seg(q1, q2, p2)
        | on_seg(p1, p2, q1)
        | on_seg(p1, p2, q2)
    )
    return bool(touch.any())


def _poly_poly(a: list[np.ndarray], b: list[np.ndarray]) -> bool:
    for ra in a:
        for rb in b:
            if _segments_intersect(ra, rb):
                return True
    # containment (no boundary crossing): test one vertex each way
    ax, ay = a[0][0]
    if _point_in_polygon(float(ax), float(ay), b):
        return True
    bx, by = b[0][0]
    return _point_in_polygon(float(bx), float(by), a)


def intersects(g1: tuple[str, Any] | None, g2: tuple[str, Any] | None) -> bool:
    """ST_Intersects analog over the internal representation."""
    if g1 is None or g2 is None:
        return False
    # envelope short-circuit
    b1, b2 = bounds(g1), bounds(g2)
    if b1[0] > b2[2] or b2[0] > b1[2] or b1[1] > b2[3] or b2[1] > b1[3]:
        return False

    k1, v1 = g1
    k2, v2 = g2
    # normalize: expand mixed, promote points
    if k1 == "mixed":
        pts, lines, polys = v1
        return any(
            intersects(g, g2)
            for g in (
                [("multipoint", pts)] if pts else []
            )
            + ([("lines", lines)] if lines else [])
            + ([("polygons", polys)] if polys else [])
        )
    if k2 == "mixed":
        return intersects(g2, g1)

    if k1 == "point":
        v1 = [v1]
        k1 = "multipoint"
    if k2 == "point":
        v2 = [v2]
        k2 = "multipoint"

    if k1 == "multipoint" and k2 == "multipoint":
        s = {(round(x, 12), round(y, 12)) for x, y in v1}
        return any((round(x, 12), round(y, 12)) in s for x, y in v2)
    if k1 == "multipoint" and k2 == "lines":
        return any(
            _segments_intersect(np.asarray([[x, y], [x, y]]), line)
            for x, y in v1
            for line in v2
        )
    if k1 == "multipoint" and k2 == "polygons":
        return any(
            _point_in_polygon(x, y, poly) for x, y in v1 for poly in v2
        )
    if k1 == "lines" and k2 == "multipoint":
        return intersects(g2, g1)
    if k1 == "polygons" and k2 == "multipoint":
        return intersects(g2, g1)

    if k1 == "lines" and k2 == "lines":
        return any(_segments_intersect(a, b) for a in v1 for b in v2)
    if k1 == "lines" and k2 == "polygons":
        for line in v1:
            for poly in v2:
                if any(_segments_intersect(line, r) for r in poly):
                    return True
                x, y = line[0]
                if _point_in_polygon(float(x), float(y), poly):
                    return True
        return False
    if k1 == "polygons" and k2 == "lines":
        return intersects(g2, g1)

    return any(_poly_poly(a, b) for a in v1 for b in v2)


# ---------------------------------------------------------------------------
# WKB encoding (little-endian 2-D) — used by fixtures/tests and sinks
# ---------------------------------------------------------------------------

def point_wkb(x: float, y: float) -> bytes:
    return struct.pack("<BIdd", 1, 1, x, y)


def polygon_wkb(rings: list[list[tuple[float, float]]]) -> bytes:
    out = struct.pack("<BII", 1, 3, len(rings))
    for ring in rings:
        out += struct.pack("<I", len(ring))
        for x, y in ring:
            out += struct.pack("<dd", x, y)
    return out


def box_wkb(w: float, s: float, e: float, n: float) -> bytes:
    return polygon_wkb([[(w, s), (e, s), (e, n), (w, n), (w, s)]])


def bbox_to_polygon(west: float, south: float, east: float, north: float) -> tuple[str, Any]:
    """CCW rectangle, mirroring the reference's WKT construction
    (database_logic.py:400)."""
    ring = np.asarray(
        [[west, south], [east, south], [east, north], [west, north], [west, south]],
        dtype=np.float64,
    )
    return ("polygons", [[ring]])
