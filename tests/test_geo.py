"""Unit tests for the pure-Python geometry kernel (functions/geo.py)."""

import struct

import numpy as np
import pytest

from stac_fastapi_duckdb_spark.functions import geo


def test_point_wkb_roundtrip():
    kind, val = geo.parse_wkb(geo.point_wkb(1.5, -2.5))
    assert kind == "point"
    assert val == (1.5, -2.5)


def test_polygon_wkb_roundtrip():
    ring = [(0, 0), (4, 0), (4, 4), (0, 4), (0, 0)]
    kind, val = geo.parse_wkb(geo.polygon_wkb([ring]))
    assert kind == "polygons"
    assert np.allclose(val[0][0], np.asarray(ring, dtype=float))


def test_parse_wkb_accepts_int_list():
    # reference utilities.py:13-21 receives WKB as a list of ints
    buf = list(geo.point_wkb(3.0, 4.0))
    assert geo.parse_wkb(buf) == ("point", (3.0, 4.0))


def test_geojson_roundtrip_polygon():
    gj = {"type": "Polygon", "coordinates": [[[0, 0], [2, 0], [2, 2], [0, 2], [0, 0]]]}
    geom = geo.from_geojson(gj)
    assert geo.to_geojson(geom)["type"] == "Polygon"


def test_bounds():
    g = geo.from_geojson(
        {"type": "Polygon", "coordinates": [[[1, 2], [5, 2], [5, 7], [1, 7], [1, 2]]]}
    )
    assert geo.bounds(g) == (1, 2, 5, 7)


@pytest.mark.parametrize(
    "a,b,expected",
    [
        # overlapping boxes
        ((0, 0, 4, 4), (2, 2, 6, 6), True),
        # disjoint boxes
        ((0, 0, 1, 1), (5, 5, 6, 6), False),
        # touching at an edge counts as intersecting
        ((0, 0, 2, 2), (2, 0, 4, 2), True),
        # containment without edge crossing
        ((0, 0, 10, 10), (3, 3, 4, 4), True),
    ],
)
def test_box_intersects(a, b, expected):
    ga = geo.bbox_to_polygon(*a)
    gb = geo.bbox_to_polygon(*b)
    assert geo.intersects(ga, gb) is expected
    assert geo.intersects(gb, ga) is expected


def test_point_in_polygon_with_hole():
    outer = [(0, 0), (10, 0), (10, 10), (0, 10), (0, 0)]
    hole = [(4, 4), (6, 4), (6, 6), (4, 6), (4, 4)]
    poly = geo.from_geojson(
        {"type": "Polygon", "coordinates": [outer, hole]}
    )
    inside = ("point", (2.0, 2.0))
    in_hole = ("point", (5.0, 5.0))
    outside = ("point", (20.0, 20.0))
    assert geo.intersects(inside, poly)
    assert not geo.intersects(in_hole, poly)
    assert not geo.intersects(outside, poly)


def test_line_polygon_intersects():
    poly = geo.bbox_to_polygon(0, 0, 4, 4)
    crossing = geo.from_geojson(
        {"type": "LineString", "coordinates": [[-1, 2], [5, 2]]}
    )
    inside = geo.from_geojson(
        {"type": "LineString", "coordinates": [[1, 1], [2, 2]]}
    )
    away = geo.from_geojson(
        {"type": "LineString", "coordinates": [[10, 10], [12, 12]]}
    )
    assert geo.intersects(crossing, poly)
    assert geo.intersects(inside, poly)
    assert not geo.intersects(away, poly)


def test_multipolygon_geojson():
    mp = geo.from_geojson(
        {
            "type": "MultiPolygon",
            "coordinates": [
                [[[0, 0], [1, 0], [1, 1], [0, 1], [0, 0]]],
                [[[5, 5], [6, 5], [6, 6], [5, 6], [5, 5]]],
            ],
        }
    )
    probe = geo.bbox_to_polygon(5.2, 5.2, 5.8, 5.8)
    assert geo.intersects(mp, probe)
    assert geo.to_geojson(mp)["type"] == "MultiPolygon"


# ---------------------------------------------------------------------------
# Golden-WKB semantic pinning: a table of hand-verified (item WKB, query
# GeoJSON) → ST_Intersects goldens (OGC semantics: boundary contact
# intersects, holes exclude) that the refine engine must reproduce.
# ---------------------------------------------------------------------------

def _wkb_point(x, y):
    return struct.pack("<BIdd", 1, 1, x, y)


def _wkb_polygon(*rings):
    out = struct.pack("<BII", 1, 3, len(rings))
    for ring in rings:
        out += struct.pack("<I", len(ring))
        for x, y in ring:
            out += struct.pack("<dd", x, y)
    return out


def _wkb_linestring(pts):
    out = struct.pack("<BII", 1, 2, len(pts))
    for x, y in pts:
        out += struct.pack("<dd", x, y)
    return out


_SQ = [(0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0), (0.0, 0.0)]
_HOLE = [(4.0, 4.0), (6.0, 4.0), (6.0, 6.0), (4.0, 6.0), (4.0, 4.0)]

# (name, item WKB, query GeoJSON, expected ST_Intersects result)
GOLDEN_WKB_CASES = [
    ("point_inside", _wkb_point(5, 5),
     {"type": "Polygon", "coordinates": [[[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]]]}, True),
    ("point_outside", _wkb_point(15, 5),
     {"type": "Polygon", "coordinates": [[[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]]]}, False),
    ("point_on_edge", _wkb_point(10, 5),
     {"type": "Polygon", "coordinates": [[[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]]]}, True),
    ("point_on_vertex", _wkb_point(0, 0),
     {"type": "Polygon", "coordinates": [[[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]]]}, True),
    ("point_in_hole", _wkb_polygon(_SQ, _HOLE),
     {"type": "Point", "coordinates": [5, 5]}, False),
    ("point_in_shell", _wkb_polygon(_SQ, _HOLE),
     {"type": "Point", "coordinates": [2, 2]}, True),
    ("polys_overlap", _wkb_polygon(_SQ),
     {"type": "Polygon", "coordinates": [[[5, 5], [15, 5], [15, 15], [5, 15], [5, 5]]]}, True),
    ("polys_touch_edge", _wkb_polygon(_SQ),
     {"type": "Polygon", "coordinates": [[[10, 0], [20, 0], [20, 10], [10, 10], [10, 0]]]}, True),
    ("polys_touch_corner", _wkb_polygon(_SQ),
     {"type": "Polygon", "coordinates": [[[10, 10], [20, 10], [20, 20], [10, 20], [10, 10]]]}, True),
    ("polys_disjoint", _wkb_polygon(_SQ),
     {"type": "Polygon", "coordinates": [[[20, 20], [30, 20], [30, 30], [20, 30], [20, 20]]]}, False),
    ("poly_contains_query", _wkb_polygon(_SQ),
     {"type": "Polygon", "coordinates": [[[2, 2], [3, 2], [3, 3], [2, 3], [2, 2]]]}, True),
    ("line_crosses", _wkb_linestring([(-5.0, 5.0), (15.0, 5.0)]),
     {"type": "Polygon", "coordinates": [[[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]]]}, True),
    ("line_outside", _wkb_linestring([(-5.0, -5.0), (-1.0, -1.0)]),
     {"type": "Polygon", "coordinates": [[[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]]]}, False),
    ("line_touches_boundary", _wkb_linestring([(10.0, -5.0), (10.0, 15.0)]),
     {"type": "Polygon", "coordinates": [[[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]]]}, True),
    ("multipolygon_query", _wkb_point(25, 25),
     {"type": "MultiPolygon", "coordinates": [
         [[[0, 0], [10, 0], [10, 10], [0, 10], [0, 0]]],
         [[[20, 20], [30, 20], [30, 30], [20, 30], [20, 20]]]]}, True),
]


def test_pure_refine_matches_golden_wkb():
    for name, wkb, query, want in GOLDEN_WKB_CASES:
        got = geo.intersects(geo.parse_wkb(wkb), geo.from_geojson(query))
        assert got == want, f"{name}: pure refine says {got}, golden {want}"
