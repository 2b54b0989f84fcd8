"""Hexagonal hierarchical grid functions: geoToH3 / gridDisk /
gridDistance.

Reference surface: pinot-core/.../geospatial/transform/function/
GeoToH3Function.java, GridDiskFunction.java, GridDistanceFunction.java
(Pinot wraps Uber's H3 library).

WIRE-FORMAT NOTE (declared gap, same stance as the sketch RAW bytes):
this is an APERTURE-7 hexagonal grid implemented in pure math — the same
cell topology H3 has (seven children per cell, ~19.107° rotation per
resolution, hex grid distances, 1+3k(k+1) disk sizes) — but cell ids are
the ENGINE'S OWN numbering over an equirectangular lng/lat projection,
not H3's icosahedral indexing: H3's 122 base cells and face tables are
large empirical constant tables we cannot reproduce (and, with no h3
library in this environment, could not validate).  Cells therefore bin,
aggregate, and neighbor-query consistently at any scale, but ids do not
interoperate with externally-produced H3 ids.  Like geohash (and unlike
true H3), planar hex binning distorts near the poles.

Cell id layout (64-bit long, like H3's res+index packing):
  [4 bits resolution 0..15][29 bits q + 2^28][29 bits r + 2^28]
with (q, r) axial hex coordinates at that resolution — 62 bits total so
every cell id fits a SIGNED 64-bit column at every resolution (±2^28
coordinate range ≥ 10x the res-15 maximum).

All functions are pure-Python cores (property-tested without Spark);
functions/geo_udfs.py runs them as rows of its geometry-UDF table.
"""

from __future__ import annotations

import math

_SQRT3 = math.sqrt(3.0)
_SQRT7 = math.sqrt(7.0)
# base hex circumradius in degrees at resolution 0 (~122 cells over the
# 360x180 rectangle — matching H3's res-0 cell count order of magnitude)
_SIZE0 = 20.0
# aperture-7 substitution rotation: atan(sqrt(3)/5) ≈ 19.1066°, the same
# per-resolution rotation H3's class-II/class-III alternation produces
_ROT = math.atan2(_SQRT3, 5.0)

_OFF = 1 << 28
_MASK29 = (1 << 29) - 1


def _res_params(res: int) -> tuple[float, float, float]:
    size = _SIZE0 / (_SQRT7 ** res)
    ang = _ROT * res
    return size, math.cos(ang), math.sin(ang)


def _axial_round(qf: float, rf: float) -> tuple[int, int]:
    """Cube-coordinate rounding to the nearest hex center."""
    x, z = qf, rf
    y = -x - z
    rx, ry, rz = round(x), round(y), round(z)
    dx, dy, dz = abs(rx - x), abs(ry - y), abs(rz - z)
    if dx > dy and dx > dz:
        rx = -ry - rz
    elif dy > dz:
        ry = -rx - rz
    else:
        rz = -rx - ry
    return int(rx), int(rz)


def pack_cell(res: int, q: int, r: int) -> int:
    if not 0 <= res <= 15:
        raise ValueError(f"resolution must be 0..15, got {res}")
    if not (-_OFF <= q < _OFF and -_OFF <= r < _OFF):
        raise ValueError(f"axial coordinate out of 29-bit range: ({q}, {r})")
    return (res << 58) | ((q + _OFF) << 29) | (r + _OFF)


def unpack_cell(cell: int) -> tuple[int, int, int]:
    return (cell >> 58) & 0xF, ((cell >> 29) & _MASK29) - _OFF, (cell & _MASK29) - _OFF


def geo_to_cell(lng: float, lat: float, res: int) -> int:
    """lng/lat degrees → cell id at ``res`` (pointy-top axial grid,
    rotated ~19.107° per resolution like H3's aperture-7 hierarchy)."""
    size, c, s = _res_params(res)
    x = lng * c + lat * s  # rotate by -ang
    y = -lng * s + lat * c
    qf = (_SQRT3 / 3.0 * x - y / 3.0) / size
    rf = (2.0 / 3.0 * y) / size
    q, r = _axial_round(qf, rf)
    return pack_cell(res, q, r)


def cell_to_geo(cell: int) -> tuple[float, float]:
    """Cell center as (lng, lat) degrees."""
    res, q, r = unpack_cell(cell)
    size, c, s = _res_params(res)
    x = size * (_SQRT3 * q + _SQRT3 / 2.0 * r)
    y = size * (1.5 * r)
    return x * c - y * s, x * s + y * c  # rotate back by +ang


def grid_distance(a: int, b: int) -> int:
    """Hex grid distance (GridDistanceFunction); cells must share a
    resolution."""
    res_a, qa, ra = unpack_cell(a)
    res_b, qb, rb = unpack_cell(b)
    if res_a != res_b:
        raise ValueError(f"gridDistance needs equal resolutions, got {res_a} vs {res_b}")
    dq, dr = qa - qb, ra - rb
    return (abs(dq) + abs(dr) + abs(dq + dr)) // 2


def grid_disk(cell: int, k: int) -> list[int]:
    """All cells within grid distance ``k`` (GridDiskFunction);
    |disk| = 1 + 3k(k+1), origin first, then rings by distance."""
    if k < 0:
        raise ValueError("k must be >= 0")
    res, q, r = unpack_cell(cell)
    out = []
    for dist in range(k + 1):
        for dq in range(-dist, dist + 1):
            for dr in range(max(-dist, -dq - dist), min(dist, -dq + dist) + 1):
                if (abs(dq) + abs(dr) + abs(dq + dr)) // 2 == dist:
                    out.append(pack_cell(res, q + dq, r + dr))
    return out


def geo_to_cell_np(lng, lat, res):
    """Vectorized geo_to_cell over numpy arrays (the Arrow-batch hot
    path: rotation + axial transform + cube rounding, no per-row
    Python). ``res`` must be a single int (the overwhelmingly common
    literal-resolution case)."""
    import numpy as np

    size, c, s = _res_params(int(res))
    lng = np.asarray(lng, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    x = lng * c + lat * s
    y = -lng * s + lat * c
    qf = (_SQRT3 / 3.0 * x - y / 3.0) / size
    rf = (2.0 / 3.0 * y) / size
    # cube rounding, vectorized
    xf, zf = qf, rf
    yf = -xf - zf
    rx, ry, rz = np.rint(xf), np.rint(yf), np.rint(zf)
    dx, dy, dz = np.abs(rx - xf), np.abs(ry - yf), np.abs(rz - zf)
    fix_x = (dx > dy) & (dx > dz)
    fix_y = ~fix_x & (dy > dz)
    rx = np.where(fix_x, -ry - rz, rx)
    ry = np.where(fix_y, -rx - rz, ry)
    rz = np.where(~fix_x & ~fix_y, -rx - ry, rz)
    q = rx.astype(np.int64)
    r = rz.astype(np.int64)
    return (np.int64(int(res)) << 58) | ((q + _OFF) << 29) | (r + _OFF)
