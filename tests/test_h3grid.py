"""H3-surface hex grid (functions/h3grid.py): pure-core properties the
true H3 grid also satisfies — disk sizes 1+3k(k+1), metric axioms for
gridDistance, center round-trips, aperture-7 hierarchy containment —
plus the Spark UDF surface (geoToH3 / gridDisk / gridDistance names,
reference GeoToH3Function.java / GridDiskFunction.java /
GridDistanceFunction.java)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from hypothesis import given, settings, strategies as st

from pinot_spark.functions.h3grid import (
    cell_to_geo, geo_to_cell, grid_disk, grid_distance, pack_cell, unpack_cell,
)
from pinot_spark.functions.scalar import call

_lat = st.floats(-80, 80)   # away from pole distortion, like geohash use
_lng = st.floats(-180, 180)
_res = st.integers(0, 15)   # full range: every cell id must fit int64


@given(lng=_lng, lat=_lat, res=_res)
@settings(max_examples=300, deadline=None)
def test_pack_roundtrip_and_center_stability(lng, lat, res):
    cell = geo_to_cell(lng, lat, res)
    assert -(2**63) <= cell < 2**63  # fits a Spark LONG at every res
    r, q, rr = unpack_cell(cell)
    assert r == res and pack_cell(r, q, rr) == cell
    # a cell's center maps back to the same cell (fixed point)
    clng, clat = cell_to_geo(cell)
    assert geo_to_cell(clng, clat, res) == cell


@given(lng=_lng, lat=_lat, res=st.integers(1, 15))
@settings(max_examples=200, deadline=None)
def test_resolution_refines(lng, lat, res):
    """Finer cells are smaller: the res-cell center is within the coarse
    cell's neighborhood — and the same point never maps to two cells."""
    coarse = geo_to_cell(lng, lat, res - 1)
    fine = geo_to_cell(lng, lat, res)
    clng, clat = cell_to_geo(fine)
    # fine center re-bins into the coarse cell or an immediate neighbor
    # (aperture-7 children can straddle the parent boundary, like H3)
    re_coarse = geo_to_cell(clng, clat, res - 1)
    assert grid_distance(coarse, re_coarse) <= 1


@given(lng=_lng, lat=_lat, res=_res, k=st.integers(0, 4))
@settings(max_examples=200, deadline=None)
def test_grid_disk_properties(lng, lat, res, k):
    cell = geo_to_cell(lng, lat, res)
    disk = grid_disk(cell, k)
    assert len(disk) == 1 + 3 * k * (k + 1)          # exact hex disk size
    assert len(set(disk)) == len(disk)               # no duplicates
    assert disk[0] == cell                           # origin first
    for d in disk:
        assert grid_distance(cell, d) <= k
        assert grid_distance(cell, d) == grid_distance(d, cell)  # symmetry


@given(lng=_lng, lat=_lat, lng2=_lng, lat2=_lat, res=_res)
@settings(max_examples=200, deadline=None)
def test_grid_distance_metric(lng, lat, lng2, lat2, res):
    a, b = geo_to_cell(lng, lat, res), geo_to_cell(lng2, lat2, res)
    assert grid_distance(a, a) == 0
    assert grid_distance(a, b) == grid_distance(b, a)
    origin = pack_cell(res, 0, 0)
    assert grid_distance(a, b) <= grid_distance(a, origin) + grid_distance(origin, b)


def test_grid_distance_res_mismatch():
    with pytest.raises(ValueError):
        grid_distance(pack_cell(3, 0, 0), pack_cell(4, 0, 0))


def test_spark_udf_surface(spark):
    df = spark.createDataFrame(
        [(1, -122.4183, 37.7753), (2, -122.4183, 37.7753), (3, 2.3522, 48.8566)],
        "id int, lng double, lat double",
    )
    out = df.select(
        "id",
        call("geoToH3", F.col("lng"), F.col("lat"), F.lit(7)).alias("cell"),
    )
    rows = {r.id: r.cell for r in out.collect()}
    assert rows[1] == rows[2] != rows[3]            # same point, same cell
    assert rows[1] == geo_to_cell(-122.4183, 37.7753, 7)
    # 2-arg (point WKT, res) form
    wkt = df.selectExpr("id", "concat('POINT (', lng, ' ', lat, ')') AS p")
    r2 = wkt.select("id", call("geoToH3", F.col("p"), F.lit(7)).alias("cell")).collect()
    assert {r.id: r.cell for r in r2} == rows
    # gridDisk / gridDistance over columns
    two = spark.createDataFrame(
        [(geo_to_cell(0.0, 0.0, 5), geo_to_cell(1.0, 1.0, 5))], "a long, b long"
    )
    r3 = two.select(
        call("gridDistance", F.col("a"), F.col("b")).alias("d"),
        F.size(call("gridDisk", F.col("a"), F.lit(2))).alias("n"),
    ).collect()[0]
    assert r3.d == grid_distance(geo_to_cell(0.0, 0.0, 5), geo_to_cell(1.0, 1.0, 5))
    assert r3.n == 19
    # NULL cells and coordinates next to values in one Arrow batch give
    # NULL, as the SQL surface does
    nulls = spark.createDataFrame(
        [(geo_to_cell(0.0, 0.0, 5), geo_to_cell(1.0, 1.0, 5), 0.0, 0.0), (None, None, None, None)],
        "a long, b long, lng double, lat double",
    ).coalesce(1)
    r4 = nulls.select(
        call("gridDistance", F.col("a"), F.col("b")).alias("d"),
        call("gridDisk", F.col("a"), F.lit(2)).alias("disk"),
        call("geoToH3", F.col("lng"), F.col("lat"), F.lit(5)).alias("cell"),
    ).collect()
    assert (r4[0].d, len(r4[0].disk), r4[0].cell) == (r3.d, 19, geo_to_cell(0.0, 0.0, 5))
    assert (r4[1].d, r4[1].disk, r4[1].cell) == (None, None, None)


@given(
    lngs=st.lists(st.tuples(_lng, _lat), min_size=1, max_size=50),
    res=_res,
)
@settings(max_examples=100, deadline=None)
def test_vectorized_matches_scalar(lngs, res):
    """The numpy batch path (geo_to_cell_np, the 100TB hot path) must be
    bit-identical to the scalar reference implementation — including
    cube-rounding tie behavior (both round half-to-even)."""
    import numpy as np
    from pinot_spark.functions.h3grid import geo_to_cell_np

    lng = np.array([p[0] for p in lngs])
    lat = np.array([p[1] for p in lngs])
    vec = geo_to_cell_np(lng, lat, res)
    ref = [geo_to_cell(float(lo), float(la), res) for lo, la in lngs]
    assert vec.tolist() == ref
