"""Polygon union (functions/pinot_geometry.union, the exact-rational
overlay every STUnion surface folds with): analytic rectangle
identities, point-sampling equivalence (the strongest oracle:
containment in the union must equal the OR of the input
containments), hole formation, and the distributed fold in
operators/geo.py."""

from __future__ import annotations

from hypothesis import given, settings, strategies as st

from pinot_spark.functions import pinot_geometry as pg


def _rect(x0, y0, w, h):
    return [(x0, y0), (x0 + w, y0), (x0 + w, y0 + h), (x0, y0 + h)]


def _poly(*rings):
    return ("POLYGON", [list(r) + [r[0]] for r in rings], False)


def _union(a, b):
    return pg.union([_poly(a), _poly(b)])


_coord = st.floats(-50, 50).map(lambda v: round(v, 3))
_size = st.floats(1, 40).map(lambda v: round(v, 3))


@given(x0=_coord, y0=_coord, w0=_size, h0=_size, x1=_coord, y1=_coord, w1=_size, h1=_size)
@settings(max_examples=300, deadline=None)
def test_rect_union_analytic(x0, y0, w0, h0, x1, y1, w1, h1):
    """Inclusion-exclusion area, touching and collinear pairs included
    (the overlay is exact on them)."""
    a, b = _rect(x0, y0, w0, h0), _rect(x1, y1, w1, h1)
    ox = max(0.0, min(x0 + w0, x1 + w1) - max(x0, x1))
    oy = max(0.0, min(y0 + h0, y1 + h1) - max(y0, y1))
    overlap = ox * oy
    assert abs(pg.planar_area(_union(a, b)) - (w0 * h0 + w1 * h1 - overlap)) < 1e-6


@given(
    x0=_coord, y0=_coord, w0=_size, h0=_size,
    x1=_coord, y1=_coord, w1=_size, h1=_size,
    samples=st.lists(st.tuples(st.floats(0.01, 0.99), st.floats(0.01, 0.99)), min_size=8, max_size=8),
)
@settings(max_examples=150, deadline=None)
def test_point_sampling_equivalence(x0, y0, w0, h0, x1, y1, w1, h1, samples):
    """For sampled points p: p ∈ union ⇔ p∈A or p∈B — catches any
    traversal bug."""
    a, b = _rect(x0, y0, w0, h0), _rect(x1, y1, w1, h1)
    uni = _union(a, b)
    lo_x, hi_x = min(x0, x1) - 1, max(x0 + w0, x1 + w1) + 1
    lo_y, hi_y = min(y0, y1) - 1, max(y0 + h0, y1 + h1) + 1
    for fx, fy in samples:
        px, py = lo_x + fx * (hi_x - lo_x), lo_y + fy * (hi_y - lo_y)
        in_a = x0 < px < x0 + w0 and y0 < py < y0 + h0
        in_b = x1 < px < x1 + w1 and y1 < py < y1 + h1
        # skip points exactly on any boundary (measure-zero)
        if any(abs(px - v) < 1e-9 for v in (x0, x0 + w0, x1, x1 + w1)):
            continue
        if any(abs(py - v) < 1e-9 for v in (y0, y0 + h0, y1, y1 + h1)):
            continue
        in_union = pg.contains(uni, ("POINT", (px, py), False))
        assert in_union == (in_a or in_b), (px, py)


def test_concave_hole_formation():
    """Union of a U-shape with a capping bar enclosing a void: the void
    must come back as a hole ring (negative contribution to area)."""
    u_shape = [(0, 0), (6, 0), (6, 5), (4, 5), (4, 2), (2, 2), (2, 5), (0, 5)]
    cap = [(-1, 3), (7, 3), (7, 4.5), (-1, 4.5)]
    u = _union(u_shape, cap)
    # u area = 6*5 - 2*3 = 24; cap = 8*1.5 = 12; overlap = strips of the
    # two 2-wide columns x:[0,2],[4,6] over y:[3,4.5] → 2*(2*1.5) = 6
    # union NET area (outer minus enclosed hole) analytic:
    # covered = 24 + 12 - 6 = 30; the hole x:[2,4] y:[2,3] (area 2) is void
    assert abs(pg.planar_area(u) - 30) < 1e-9
    assert u[0] == "POLYGON" and len(u[1]) == 2  # outer + one hole


def test_st_union_geoms_aggregate(spark):
    """Distributed union fold (operators/geo.py ←
    StUnionAggregationFunction): partition-count independent, correct
    area for a mix of overlapping and disjoint members."""
    from pinot_spark.operators.geo import st_union_geoms

    rows = [
        ("POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))",),     # 16
        ("POLYGON ((2 2, 6 2, 6 6, 2 6, 2 2))",),     # 16, overlap 4
        ("POLYGON ((10 10, 13 10, 13 13, 10 13, 10 10))",),  # 9, disjoint
        (None,),
    ]
    for n_parts in (1, 3, 40):  # 40 > _TREE_FANOUT → exercises tree rounds
        df = spark.createDataFrame(rows, "wkt string").repartition(n_parts)
        u = st_union_geoms(df, "wkt")
        assert u is not None and u.startswith("MULTIPOLYGON")
        assert abs(pg.planar_area(pg.parse_wkt(u)) - (16 + 16 - 4 + 9)) < 1e-9


def test_st_union_driver_payload_bounded(spark):
    """The driver fold must see at most _TREE_FANOUT partials however many
    partitions the input has — the tree rounds reduce executor-side."""
    import pinot_spark.operators.geo as G

    rows = [(f"POINT ({i} {i})",) for i in range(64)]
    df = spark.createDataFrame(rows, "wkt string").repartition(64)
    partials = G._tree_partials(df, "wkt")
    # each partition emits ≤1 partial row, so the driver payload is
    # bounded by the post-tree partition count
    assert partials.rdd.getNumPartitions() <= G._TREE_FANOUT
    collected = partials.collect()
    assert len(collected) <= G._TREE_FANOUT
    u = G.st_union_geoms(df, "wkt")
    assert u is not None and u.startswith("MULTIPOINT")
    assert u.count(",") == 63  # all 64 distinct points survive the tree
    # points fold to a MULTIPOINT through the same surface
    pts = spark.createDataFrame(
        [("POINT (1 2)",), ("POINT (3 4)",), ("POINT (1 2)",)], "wkt string"
    )
    assert G.st_union_geoms(pts, "wkt") == "MULTIPOINT (1 2, 3 4)"
    # empty input
    empty = spark.createDataFrame([], "wkt string")
    assert G.st_union_geoms(empty, "wkt") is None
