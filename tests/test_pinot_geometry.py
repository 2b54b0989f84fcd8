"""functions/pinot_geometry.py library-level tests: GeometrySerializer
byte layout (GeometrySerializer.java), JTS predicate semantics, measure
functions, and the exact-rational overlay union.  The dialect-level
GeoSpatialTest goldens live in tests/test_custom_suites.py; these pin
the library surface directly (no Spark session needed).
"""

from __future__ import annotations

import math
import struct

import pytest

from pinot_spark.functions import pinot_geometry as pg

ALL_KINDS_WKT = [
    "POINT (25 25)",
    "POINT EMPTY",
    "MULTIPOINT (25 25, 31 31)",
    "LINESTRING (25 25, 27 27)",
    "LINESTRING EMPTY",
    "MULTILINESTRING ((3 4, 4 4), (2 1, 6 1))",
    "POLYGON ((1 1, 1 2, 2 2, 2 1, 1 1))",
    "POLYGON ((90 0, 0 0, 0 90, 90 0), (89 1, 1 1, 1 89, 89 1))",
    "POLYGON EMPTY",
    "MULTIPOLYGON (((0 0, 0 2, 2 2, 2 0, 0 0)), ((2 2, 2 4, 4 4, 4 2, 2 2)))",
    "GEOMETRYCOLLECTION (POINT (8 8), LINESTRING (5 5, 6 6), "
    "POLYGON ((1 1, 3 1, 3 4, 1 4, 1 1)))",
    "GEOMETRYCOLLECTION EMPTY",
]


@pytest.mark.parametrize("wkt", ALL_KINDS_WKT)
@pytest.mark.parametrize("geog", [False, True])
def test_serde_roundtrip(wkt, geog):
    g = pg.parse_wkt(wkt, geog=geog)
    rt = pg.deserialize(pg.serialize(g))
    assert rt[0] == g[0] and rt[2] == geog
    # semantic identity: same point multiset per component (polygon ring
    # orientation is canonicalized by serialize, so compare via equals
    # for areal kinds and exact data otherwise)
    if g[0] in ("POLYGON", "MULTIPOLYGON") and not pg.is_empty(g):
        assert pg.equals(g, rt)
    elif g[0] != "GEOMETRYCOLLECTION":
        assert rt[1] == g[1]


def test_point_bytes_layout():
    """Type byte (GeometryType id | 0x80 geography bit) + two big-endian
    doubles — GeometrySerializer.writePoint."""
    assert pg.serialize(("POINT", (20.0, 10.0), False)) == bytes([0]) + struct.pack(
        ">dd", 20.0, 10.0
    )
    assert pg.serialize(("POINT", (20.0, 10.0), True))[0] == 0x80
    # empty point serializes as NaN NaN and reads back empty
    b = pg.serialize(("POINT", None, False))
    assert len(b) == 17 and pg.deserialize(b) == ("POINT", None, False)


def test_empty_polyline_write_read_asymmetry():
    """The reference WRITES part+point counts for empty polylines/
    polygons but READS only the part count
    (GeometrySerializer.java:139-146,176-183) — replicated byte-for-byte."""
    for kind in ("LINESTRING", "POLYGON"):
        b = pg.serialize((kind, [], False))
        assert len(b) == 9  # type + two ints, matching getByteSize
        assert pg.deserialize(b) == (kind, [], False)


def test_polygon_ring_canonicalization():
    """Shells satisfy the serializer's isClockwise test, holes don't —
    regardless of input winding (canonicalizePolygonCoordinates)."""
    ccw_shell = [(0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0), (0.0, 0.0)]
    cw_hole = [(1.0, 1.0), (1.0, 2.0), (2.0, 2.0), (2.0, 1.0), (1.0, 1.0)]
    g = ("POLYGON", [ccw_shell, cw_hole], False)
    rt = pg.deserialize(pg.serialize(g))
    assert len(rt[1]) == 2  # shell + hole reconstructed, not two shells
    assert pg.planar_area(rt) == 15.0


def test_within_dimension_and_empties():
    sq = pg.parse_wkt("POLYGON ((0 0, 0 4, 4 4, 4 0, 0 0))")
    line = pg.parse_wkt("LINESTRING (20 20, 30 30)")
    assert not pg.within(sq, line)  # dim(A) > dim(B)
    assert not pg.within(pg.parse_wkt("POLYGON EMPTY"), line)
    assert not pg.within(sq, pg.parse_wkt("LINESTRING EMPTY"))


def test_within_boundary_semantics():
    """JTS within needs interiors to intersect: a point ON a polygon
    boundary or a line ALONG it is not within."""
    sq = pg.parse_wkt("POLYGON ((0 0, 0 4, 4 4, 4 0, 0 0))")
    assert not pg.within(pg.parse_wkt("POINT (0 2)"), sq)  # on edge
    assert pg.within(pg.parse_wkt("POINT (1 2)"), sq)
    edge_line = pg.parse_wkt("LINESTRING (0 1, 0 3)")  # along boundary
    assert not pg.within(edge_line, sq)
    dip_line = pg.parse_wkt("LINESTRING (0 1, 2 2, 0 3)")  # dips inside
    assert pg.within(dip_line, sq)
    # equal polygons are within each other
    assert pg.within(sq, sq) and pg.contains(sq, sq) and pg.equals(sq, sq)
    # a polygon is NOT within the same polygon with a hole punched in it
    holed = pg.parse_wkt("POLYGON ((0 0, 0 4, 4 4, 4 0, 0 0), (1 1, 3 1, 3 3, 1 3, 1 1))")
    assert not pg.within(sq, holed)
    assert pg.within(holed, sq)


def test_distance_semantics():
    p = pg.parse_wkt("POINT (3 4)")
    o = pg.parse_wkt("POINT (0 0)")
    assert pg.distance(p, o) == 5.0
    assert math.isnan(pg.distance(p, pg.parse_wkt("POINT EMPTY")))
    sq = pg.parse_wkt("POLYGON ((0 0, 0 2, 2 2, 2 0, 0 0))")
    assert pg.distance(pg.parse_wkt("POINT (1 1)"), sq) == 0.0  # inside
    assert pg.distance(pg.parse_wkt("POINT (4 0)"), sq) == 2.0
    # overlapping polygons → 0
    sq2 = pg.parse_wkt("POLYGON ((1 1, 1 3, 3 3, 3 1, 1 1))")
    assert pg.distance(sq, sq2) == 0.0
    # geography dispatch requires matching flags
    with pytest.raises(ValueError):
        pg.distance(p, pg.set_geography(o))
    # quarter arc pole-to-equator = (π/2)·R
    d = pg.distance(
        pg.parse_wkt("POINT (0 0)", geog=True), pg.parse_wkt("POINT (0 90)", geog=True)
    )
    assert d == math.pi / 2 * pg.EARTH_RADIUS_M
    # empty GEOGRAPHY point raises like the reference (Point.getX()
    # throws on a JTS empty point); the planar empty case stays NaN
    with pytest.raises(ValueError, match="empty"):
        pg.distance(
            pg.parse_wkt("POINT (0 0)", geog=True),
            pg.parse_wkt("POINT EMPTY", geog=True),
        )


def test_union_exact_overlay_touching():
    """Edge-sharing squares merge to one polygon; the hole of one input
    filled by another input vanishes; separate components stay members."""
    a = pg.parse_wkt("POLYGON ((0 0, 0 1, 1 1, 1 0, 0 0))")
    b = pg.parse_wkt("POLYGON ((1 0, 1 1, 2 1, 2 0, 1 0))")
    u = pg.union([a, b])
    assert u[0] == "POLYGON" and pg.planar_area(u) == 2.0
    holed = pg.parse_wkt("POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (4 4, 6 4, 6 6, 4 6, 4 4))")
    plug = pg.parse_wkt("POLYGON ((4 4, 6 4, 6 6, 4 6, 4 4))")
    u2 = pg.union([holed, plug])
    assert u2[0] == "POLYGON" and pg.planar_area(u2) == 100.0
    far = pg.parse_wkt("POLYGON ((100 100, 101 100, 101 101, 100 101, 100 100))")
    u3 = pg.union([a, far])
    assert u3[0] == "MULTIPOLYGON" and pg.planar_area(u3) == 2.0


def test_union_creates_hole():
    """Two interlocking C-shapes whose union encloses a void → polygon
    with a genuine hole ring."""
    c1 = pg.parse_wkt("POLYGON ((0 0, 6 0, 6 1, 1 1, 1 5, 0 5, 0 0))")
    c2 = pg.parse_wkt("POLYGON ((5 0, 6 0, 6 5, 0 5, 0 4, 5 4, 5 0))")
    u = pg.union([c1, c2])
    assert u[0] == "POLYGON" and len(u[1]) == 2  # shell + hole
    assert pg.planar_area(u) == 6 * 5 - 4 * 3


def test_canonical_is_order_invariant():
    polys = [
        pg.parse_wkt("POLYGON ((0 0, 0 1, 1 1, 1 0, 0 0))", geog=True),
        pg.parse_wkt("POLYGON ((90 0, 0 0, 0 90, 90 0))", geog=True),
        pg.parse_wkt("POLYGON ((90 0, 0 0, 0 90, 90 0), (89 1, 1 1, 1 89, 89 1))", geog=True),
    ]
    a = pg.serialize(pg.canonical(pg.union(polys)))
    b = pg.serialize(pg.canonical(pg.union(list(reversed(polys)))))
    assert a == b


def test_geometry_type_names():
    assert pg.geometry_type(pg.parse_wkt("POINT (1 2)")) == "Point"
    assert pg.geometry_type(pg.parse_wkt("MULTIPOLYGON EMPTY")) == "MultiPolygon"
    assert pg.geometry_type(pg.parse_wkt("GEOMETRYCOLLECTION EMPTY")) == "GeometryCollection"


def test_union_random_integer_rectangles_area():
    """Property: exact-overlay union area of random INTEGER-coordinate
    rectangles equals the area computed by brute-force unit-cell
    counting.  Integer grids make touching edges, shared corners and
    collinear overlaps the COMMON case — the exact configurations the
    Greiner-Hormann fast path rejects as degenerate."""
    import random

    rng = random.Random(1307)
    for trial in range(25):
        rects = []
        for _ in range(rng.randint(2, 5)):
            x, y = rng.randint(0, 8), rng.randint(0, 8)
            w, h = rng.randint(1, 5), rng.randint(1, 5)
            rects.append((x, y, x + w, y + h))
        polys = [
            pg.parse_wkt(
                f"POLYGON (({x1} {y1}, {x2} {y1}, {x2} {y2}, {x1} {y2}, {x1} {y1}))"
            )
            for x1, y1, x2, y2 in rects
        ]
        u = pg.union(polys)
        # ground truth: count unit cells covered by any rectangle
        cells = {
            (i, j)
            for x1, y1, x2, y2 in rects
            for i in range(x1, x2)
            for j in range(y1, y2)
        }
        assert pg.planar_area(u) == float(len(cells)), (trial, rects)
        # every rectangle is within the union; the union contains each
        for p in polys:
            assert pg.within(p, u) and pg.contains(u, p), (trial, rects)


# ---------------------------------------------------------------------------
# Hypothesis property tests — serde and predicate invariants over random
# integer-grid geometries (the grid makes degenerate touching/collinear
# configurations the common case).
# ---------------------------------------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st

_coord = st.integers(min_value=-8, max_value=8).map(float)
_point = st.tuples(_coord, _coord)


def _rect_wkt(x, y, w, h):
    return (
        f"POLYGON (({x} {y}, {x + w} {y}, {x + w} {y + h}, {x} {y + h}, {x} {y}))"
    )


_rect = st.tuples(
    st.integers(-5, 5), st.integers(-5, 5), st.integers(1, 6), st.integers(1, 6)
)


@settings(max_examples=60, deadline=None)
@given(pts=st.lists(_point, min_size=1, max_size=6, unique=True), geog=st.booleans())
def test_prop_multipoint_serde_roundtrip(pts, geog):
    g = ("MULTIPOINT", sorted(pts), geog)
    assert pg.deserialize(pg.serialize(g)) == g


@settings(max_examples=60, deadline=None)
@given(r=_rect, geog=st.booleans())
def test_prop_polygon_serde_roundtrip_semantic(r, geog):
    g = pg.parse_wkt(_rect_wkt(*r), geog=geog)
    rt = pg.deserialize(pg.serialize(g))
    assert rt[2] == geog and pg.equals(g, rt)
    assert pg.planar_area(rt) == pg.planar_area(g)


@settings(max_examples=80, deadline=None)
@given(a=_rect, b=_rect)
def test_prop_within_contains_duality_and_area(a, b):
    ga, gb = pg.parse_wkt(_rect_wkt(*a)), pg.parse_wkt(_rect_wkt(*b))
    w = pg.within(ga, gb)
    assert w == pg.contains(gb, ga)
    if w:
        # containment implies area and bbox ordering
        assert pg.planar_area(ga) <= pg.planar_area(gb)
    # ground truth for axis-aligned rects: closed-interval containment
    ax, ay, aw, ah = a
    bx, by, bw, bh = b
    truth = bx <= ax and by <= ay and ax + aw <= bx + bw and ay + ah <= by + bh
    assert w == truth, (a, b)


@settings(max_examples=40, deadline=None)
@given(rects=st.lists(_rect, min_size=1, max_size=4))
def test_prop_union_contains_inputs_and_is_idempotent(rects):
    polys = [pg.parse_wkt(_rect_wkt(*r)) for r in rects]
    u = pg.union(polys)
    for p in polys:
        assert pg.within(p, u), (rects,)
    # union of the union with the inputs changes nothing (semantically)
    u2 = pg.union([u, *polys])
    assert pg.planar_area(u2) == pg.planar_area(u)
    assert pg.equals(u, u2)


@settings(max_examples=60, deadline=None)
@given(p=_point, r=_rect)
def test_prop_point_location_matches_interval_test(p, r):
    ga = pg.parse_wkt(f"POINT ({p[0]} {p[1]})")
    gb = pg.parse_wkt(_rect_wkt(*r))
    x, y, w, h = r
    strictly_inside = x < p[0] < x + w and y < p[1] < y + h
    assert pg.within(ga, gb) == strictly_inside
    on_or_in = x <= p[0] <= x + w and y <= p[1] <= y + h
    assert (pg.distance(ga, gb) == 0.0) == on_or_in


def test_mixed_point_polygon_union():
    """BOUNDARY RETIRED round 13: ST_Union of puntal + areal members —
    points covered by the areal union (interior OR boundary) are
    absorbed, uncovered points survive as a collection member (JTS
    semantics); lines still raise by name."""
    def union_wkt(a, b):
        return pg.format_wkt(pg.union([pg.parse_wkt(a), pg.parse_wkt(b)]))

    sq = "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))"
    assert union_wkt("POINT (1 1)", sq) == sq          # interior absorbed
    assert union_wkt("POINT (0 1)", sq) == sq          # boundary absorbed
    assert (
        union_wkt("MULTIPOINT (1 1, 5 5, 6 6)", sq)
        == "GEOMETRYCOLLECTION (POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0)), "
        "MULTIPOINT (5 5, 6 6))"
    )
    with pytest.raises(NotImplementedError):
        union_wkt("LINESTRING (0 0, 1 1)", sq)
    # collection output roundtrips through the Pinot byte layout
    u = pg.union([pg.parse_wkt("POINT (5 5)"), pg.parse_wkt(sq)])
    rt = pg.deserialize(pg.serialize(u))
    assert rt[0] == "GEOMETRYCOLLECTION" and len(rt[1]) == 2


def test_within_invalid_multipolygon_shared_edge():
    """ADVICE r13: B as an (OGC-invalid) MULTIPOLYGON whose members
    share a full edge — the shared edge is 'on' the member boundaries
    but interior to the B union, so it must not be treated as a hole
    crossing.  The union rectangle is within that multipolygon."""
    a = pg.parse_wkt("POLYGON ((0 0, 0 1, 2 1, 2 0, 0 0))")
    b = pg.parse_wkt(
        "MULTIPOLYGON (((0 0, 0 1, 1 1, 1 0, 0 0)), "
        "((1 0, 1 1, 2 1, 2 0, 1 0)))"
    )
    assert pg.within(a, b)
    assert pg.within(b, a)
    assert pg.equals(a, b)
    # real holes still detected through the side-sample guard
    holed = pg.parse_wkt(
        "POLYGON ((0 0, 0 4, 4 4, 4 0, 0 0), (1 1, 3 1, 3 3, 1 3, 1 1))"
    )
    sq = pg.parse_wkt("POLYGON ((0 0, 0 4, 4 4, 4 0, 0 0))")
    assert not pg.within(sq, holed)
    assert pg.within(holed, sq)
