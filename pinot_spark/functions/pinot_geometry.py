"""Pinot-parity geometry engine: serialized-bytes format, topological
predicates, planar/spherical measures, and an exact polygon-overlay union.

Reference semantics (parity targets, no code reuse — the reference wraps
JTS; everything here is original pure-Python):

- ``pinot-segment-local/.../utils/GeometrySerializer.java`` — the byte
  layout: 1 type byte (``GeometryType.id()``, ``0x80`` geography bit —
  ``GeometryUtils.java:40``), big-endian ints/doubles, polyline/polygon
  part-index tables, polygon rings canonicalized so shells satisfy the
  serializer's ``isClockwise`` test and holes don't
  (``GeometrySerializer.java:467-493``).  Two reference write/read
  asymmetries are replicated byte-for-byte: empty polylines/polygons
  WRITE both the part and point counts but READ only the part count
  (``GeometrySerializer.java:139-146,176-183``).
- ``pinot-core/.../function/StAreaFunction.java`` — planar JTS area
  (shoelace, holes subtract, collections sum) and the geography
  spherical-excess calculator with pole correction, R = 6371.01 km
  (``GeometryUtils.java:59``).
- ``StDistanceFunction.java:77-110`` — geography great-circle distance
  (Vincenty arctan form) on points; planar JTS min-distance otherwise,
  NaN for empty inputs.
- ``StWithinFunction.java`` / ``StContainsFunction.java`` — JTS
  ``within``/``contains`` semantics: interiors must intersect and
  nothing of the inner geometry may leave the outer one.  Decided here
  with EXACT rational arithmetic (``fractions.Fraction`` — every float
  is an exact rational), so vertex-on-edge / collinear-overlap
  configurations are resolved exactly, never by epsilon.

Geometry model: ``(kind, data, geog)`` tuples —
``("POINT", (x, y) | None, bool)``, ``("MULTIPOINT", [pt], bool)``,
``("LINESTRING", [pt], bool)``, ``("MULTILINESTRING", [[pt]], bool)``,
``("POLYGON", [ring], bool)`` (ring 0 = shell, rest holes, closing
duplicate retained), ``("MULTIPOLYGON", [[ring]], bool)``,
``("GEOMETRYCOLLECTION", [child], bool)``.
"""

from __future__ import annotations

import math
import re
import struct
from fractions import Fraction

EARTH_RADIUS_M = 6371.01 * 1000.0  # GeometryUtils.EARTH_RADIUS_M

_KIND_ID = {
    "POINT": 0,
    "MULTIPOINT": 1,
    "LINESTRING": 2,
    "MULTILINESTRING": 3,
    "POLYGON": 4,
    "MULTIPOLYGON": 5,
    "GEOMETRYCOLLECTION": 6,
}
_ID_KIND = {v: k for k, v in _KIND_ID.items()}

# JTS Geometry.getGeometryType() names (StGeometryTypeFunction.java:71)
_JTS_NAME = {
    "POINT": "Point",
    "MULTIPOINT": "MultiPoint",
    "LINESTRING": "LineString",
    "MULTILINESTRING": "MultiLineString",
    "POLYGON": "Polygon",
    "MULTIPOLYGON": "MultiPolygon",
    "GEOMETRYCOLLECTION": "GeometryCollection",
}


# ---------------------------------------------------------------------------
# WKT parse / print (covers EMPTY and GEOMETRYCOLLECTION, which the
# lighter wkb.py parser does not)
# ---------------------------------------------------------------------------


def _split_top(body: str) -> list[str]:
    out, depth, start = [], 0, 0
    for i, ch in enumerate(body):
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        elif ch == "," and depth == 0:
            out.append(body[start:i])
            start = i + 1
    out.append(body[start:])
    return out


def _coords(txt: str) -> list[tuple[float, float]]:
    pts = []
    for pair in txt.split(","):
        xy = pair.split()
        pts.append((float(xy[0]), float(xy[1])))
    return pts


_WKT_RE = re.compile(r"\s*([A-Za-z]+)\s*(EMPTY|\(.*\))\s*$", re.DOTALL)


def parse_wkt(wkt: str, geog: bool = False):
    m = _WKT_RE.match(wkt or "")
    if not m:
        raise ValueError(f"unparseable WKT: {wkt!r}")
    kind, body = m.group(1).upper(), m.group(2)
    if kind not in _KIND_ID:
        raise ValueError(f"unsupported WKT geometry type {kind}")
    if body == "EMPTY":
        empty = {"POINT": None, "GEOMETRYCOLLECTION": []}.get(kind, [])
        return (kind, empty, geog)
    body = body.strip()[1:-1]
    if kind == "POINT":
        (pt,) = _coords(body)
        return (kind, pt, geog)
    if kind == "LINESTRING":
        return (kind, _coords(body), geog)
    if kind == "MULTIPOINT":
        # both "MULTIPOINT (1 2, 3 4)" and "MULTIPOINT ((1 2), (3 4))"
        return (kind, _coords(body.replace("(", " ").replace(")", " ")), geog)
    if kind == "MULTILINESTRING":
        return (kind, [_coords(p.strip()[1:-1]) for p in _split_top(body)], geog)
    if kind == "POLYGON":
        return (kind, [_coords(r.strip()[1:-1]) for r in _split_top(body)], geog)
    if kind == "MULTIPOLYGON":
        polys = []
        for poly in _split_top(body):
            inner = poly.strip()[1:-1]
            polys.append([_coords(r.strip()[1:-1]) for r in _split_top(inner)])
        return (kind, polys, geog)
    # GEOMETRYCOLLECTION — children parsed recursively
    return (kind, [parse_wkt(p.strip(), geog) for p in _split_top(body)], geog)


def _fmt(v: float) -> str:
    return repr(int(v)) if float(v).is_integer() else repr(float(v))


def _pts_txt(seq) -> str:
    return ", ".join(f"{_fmt(x)} {_fmt(y)}" for x, y in seq)


def format_wkt(g) -> str:
    kind, data, _ = g
    if data is None or data == []:
        return f"{kind} EMPTY"
    if kind == "POINT":
        return f"POINT ({_fmt(data[0])} {_fmt(data[1])})"
    if kind in ("LINESTRING", "MULTIPOINT"):
        return f"{kind} ({_pts_txt(data)})"
    if kind == "MULTILINESTRING":
        return "MULTILINESTRING (" + ", ".join(f"({_pts_txt(p)})" for p in data) + ")"
    if kind == "POLYGON":
        return "POLYGON (" + ", ".join(f"({_pts_txt(r)})" for r in data) + ")"
    if kind == "MULTIPOLYGON":
        return (
            "MULTIPOLYGON ("
            + ", ".join("(" + ", ".join(f"({_pts_txt(r)})" for r in rings) + ")" for rings in data)
            + ")"
        )
    return "GEOMETRYCOLLECTION (" + ", ".join(format_wkt(c) for c in data) + ")"


# ---------------------------------------------------------------------------
# Pinot serialized-bytes codec (GeometrySerializer.java byte layout)
# ---------------------------------------------------------------------------


def _is_clockwise(coords, start: int = 0, end: int | None = None) -> bool:
    """GeometrySerializer.isClockwise — Σ(x2−x1)(y2+y1) > 0."""
    if end is None:
        end = len(coords)
    area = 0.0
    for i in range(start + 1, end):
        area += (coords[i][0] - coords[i - 1][0]) * (coords[i][1] + coords[i - 1][1])
    area += (coords[start][0] - coords[end - 1][0]) * (coords[start][1] + coords[end - 1][1])
    return area > 0


def serialize(g) -> bytes:
    kind, data, geog = g
    type_byte = _KIND_ID[kind] | (0x80 if geog else 0)
    out = bytearray()
    if kind == "GEOMETRYCOLLECTION":
        out.append(type_byte)
        for child in data:
            out += serialize(child)
        return bytes(out)
    out.append(type_byte)
    if kind == "POINT":
        x, y = data if data is not None else (math.nan, math.nan)
        out += struct.pack(">dd", x, y)
    elif kind == "MULTIPOINT":
        out += struct.pack(">i", len(data))
        for x, y in data:
            out += struct.pack(">dd", x, y)
    elif kind in ("LINESTRING", "MULTILINESTRING"):
        parts = [data] if kind == "LINESTRING" and data else (data if kind != "LINESTRING" else [])
        n_pts = sum(len(p) for p in parts)
        out += struct.pack(">ii", len(parts), n_pts)
        idx = 0
        for p in parts:
            out += struct.pack(">i", idx)
            idx += len(p)
        for p in parts:
            for x, y in p:
                out += struct.pack(">dd", x, y)
    else:  # POLYGON / MULTIPOLYGON
        polys = [data] if kind == "POLYGON" else data
        rings: list[tuple[list, bool]] = []  # (coords, is_shell)
        for poly in polys:
            if poly and poly[0]:
                rings.append((list(poly[0]), True))
                for hole in poly[1:]:
                    rings.append((list(hole), False))
        n_pts = sum(len(r) for r, _ in rings)
        out += struct.pack(">ii", len(rings), n_pts)
        if rings:
            idx = 0
            for r, _ in rings:
                out += struct.pack(">i", idx)
                idx += len(r)
            for r, is_shell in rings:
                # canonicalize: shells pass isClockwise, holes don't
                # (GeometrySerializer.canonicalizePolygonCoordinates)
                cw = _is_clockwise(r)
                if (is_shell and not cw) or (not is_shell and cw):
                    r = list(reversed(r))
                for x, y in r:
                    out += struct.pack(">dd", x, y)
    return bytes(out)


class _Buf:
    def __init__(self, b: bytes):
        self.b, self.pos = b, 0

    def remaining(self) -> bool:
        return self.pos < len(self.b)

    def u8(self) -> int:
        v = self.b[self.pos]
        self.pos += 1
        return v

    def i32(self) -> int:
        (v,) = struct.unpack_from(">i", self.b, self.pos)
        self.pos += 4
        return v

    def f64(self) -> float:
        (v,) = struct.unpack_from(">d", self.b, self.pos)
        self.pos += 8
        return v


def _read_parts(buf: _Buf):
    """Shared polyline/polygon part-table reader → list of coord runs."""
    part_count = buf.i32()
    if part_count == 0:
        # reference read stops here (write emitted a point count too —
        # replicated asymmetry, see module docstring)
        return None
    point_count = buf.i32()
    starts = [buf.i32() for _ in range(part_count)]
    lengths = []
    for i in range(part_count):
        nxt = starts[i + 1] if i + 1 < part_count else point_count
        lengths.append(nxt - starts[i])
    return [[(buf.f64(), buf.f64()) for _ in range(n)] for n in lengths]


def _read_geom(buf: _Buf):
    type_byte = buf.u8()
    geog = bool(type_byte & 0x80)
    kind = _ID_KIND[type_byte & 0x7F]
    if kind == "POINT":
        x, y = buf.f64(), buf.f64()
        return (kind, None if (math.isnan(x) or math.isnan(y)) else (x, y), geog)
    if kind == "MULTIPOINT":
        n = buf.i32()
        return (kind, [(buf.f64(), buf.f64()) for _ in range(n)], geog)
    if kind == "LINESTRING":
        parts = _read_parts(buf)
        return (kind, parts[0] if parts else [], geog)
    if kind == "MULTILINESTRING":
        parts = _read_parts(buf)
        return (kind, parts or [], geog)
    if kind in ("POLYGON", "MULTIPOLYGON"):
        parts = _read_parts(buf)
        if not parts:
            return (kind, [], geog)
        polys, cur = [], None
        for r in parts:
            if _is_clockwise(r):  # canonical shell marker
                if cur is not None:
                    polys.append(cur)
                cur = [r]
            elif cur is None:
                # hole before any shell cannot happen in canonical bytes
                raise ValueError("hole ring precedes shell in serialized polygon")
            else:
                cur.append(r)
        polys.append(cur)
        if kind == "POLYGON":
            if len(polys) != 1:
                raise ValueError("POLYGON bytes contained multiple shells")
            return (kind, polys[0], geog)
        return (kind, polys, geog)
    # GEOMETRYCOLLECTION — children until buffer end (reference reads
    # until hasRemaining() is false)
    children = []
    while buf.remaining():
        children.append(_read_geom(buf))
    return (kind, children, geog)


def deserialize(b: bytes):
    return _read_geom(_Buf(bytes(b)))


def is_geography(g) -> bool:
    return bool(g[2])


def set_geography(g, geog: bool = True):
    kind, data, _ = g
    if kind == "GEOMETRYCOLLECTION":
        return (kind, [set_geography(c, geog) for c in data], geog)
    return (kind, data, geog)


def geometry_type(g) -> str:
    return _JTS_NAME[g[0]]


def is_empty(g) -> bool:
    kind, data, _ = g
    if kind == "POINT":
        return data is None
    if kind == "GEOMETRYCOLLECTION":
        return all(is_empty(c) for c in data) if data else True
    return not data


def dimension(g) -> int:
    kind, data, _ = g
    if kind in ("POINT", "MULTIPOINT"):
        return 0
    if kind in ("LINESTRING", "MULTILINESTRING"):
        return 1
    if kind in ("POLYGON", "MULTIPOLYGON"):
        return 2
    return max((dimension(c) for c in data), default=-1)


# ---------------------------------------------------------------------------
# Exact rational primitives
# ---------------------------------------------------------------------------


def _fr(p) -> tuple[Fraction, Fraction]:
    return (Fraction(p[0]), Fraction(p[1]))


def _orient(a, b, c) -> int:
    v = (b[0] - a[0]) * (c[1] - a[1]) - (b[1] - a[1]) * (c[0] - a[0])
    return 0 if v == 0 else (1 if v > 0 else -1)


def _on_segment(p, a, b) -> bool:
    """Exact: p on closed segment [a, b] (all Fraction pairs)."""
    if _orient(a, b, p) != 0:
        return False
    return min(a[0], b[0]) <= p[0] <= max(a[0], b[0]) and min(a[1], b[1]) <= p[1] <= max(a[1], b[1])


def _ring_segments(ring):
    """Closed ring (closing dup optional) → list of (a, b) Fraction segments."""
    pts = [_fr(p) for p in ring]
    if len(pts) > 1 and pts[0] == pts[-1]:
        pts = pts[:-1]
    return [(pts[i], pts[(i + 1) % len(pts)]) for i in range(len(pts)) if pts[i] != pts[(i + 1) % len(pts)]]


def _poly_rings(g):
    """Areal geometry → list of polygons, each a list of rings (segment
    lists come from _ring_segments on demand)."""
    kind, data, _ = g
    if kind == "POLYGON":
        return [data] if data else []
    if kind == "MULTIPOLYGON":
        return [p for p in data if p]
    raise ValueError(f"not an areal geometry: {kind}")


def _location_in_polygon(p, rings) -> str:
    """'in' / 'on' / 'out' for Fraction point vs one polygon (even-odd
    across its rings — shell XOR holes), exact ray cast."""
    return _location_in_segments(p, [_ring_segments(ring) for ring in rings])


def _location_in_segments(p, ring_segs) -> str:
    """_location_in_polygon over rings already cut into segments."""
    inside = False
    for segs in ring_segs:
        for a, b in segs:
            if _on_segment(p, a, b):
                return "on"
            # half-open rule, exact: edge crosses the horizontal ray
            if (a[1] > p[1]) != (b[1] > p[1]):
                xint = a[0] + (p[1] - a[1]) * (b[0] - a[0]) / (b[1] - a[1])
                if p[0] < xint:
                    inside = not inside
    return "in" if inside else "out"


def _location_in_areal(p, g) -> str:
    """'in' / 'on' / 'out' vs a (multi)polygon: ON any member boundary →
    'on' unless strictly inside another member (union semantics)."""
    best = "out"
    for rings in _poly_rings(g):
        loc = _location_in_polygon(p, rings)
        if loc == "in":
            return "in"
        if loc == "on":
            best = "on"
    return best


def _line_segments(g):
    kind, data, _ = g
    if kind == "LINESTRING":
        parts = [data]
    elif kind == "MULTILINESTRING":
        parts = data
    else:
        raise ValueError(f"not a lineal geometry: {kind}")
    segs = []
    for part in parts:
        pts = [_fr(p) for p in part]
        segs += [(pts[i], pts[i + 1]) for i in range(len(pts) - 1) if pts[i] != pts[i + 1]]
    return segs


def _line_boundary(segs) -> set:
    """Mod-2 boundary rule: endpoints with odd incidence count."""
    deg: dict = {}
    for a, b in segs:
        deg[a] = deg.get(a, 0) + 1
        deg[b] = deg.get(b, 0) + 1
    return {p for p, d in deg.items() if d % 2 == 1}


def _points_of(g) -> list:
    kind, data, _ = g
    if kind == "POINT":
        return [] if data is None else [_fr(data)]
    if kind == "MULTIPOINT":
        return [_fr(p) for p in data]
    raise ValueError(f"not a puntal geometry: {kind}")


def _split_at(a, b, cuts):
    """Segment (a, b) split at the param list 'cuts' (Fractions in (0,1))
    → ordered sub-segment endpoints."""
    ts = sorted(set(cuts) | {Fraction(0), Fraction(1)})
    pts = [(a[0] + t * (b[0] - a[0]), a[1] + t * (b[1] - a[1])) for t in ts]
    return [(pts[i], pts[i + 1]) for i in range(len(pts) - 1)]


def _seg_cut_params(a, b, c, d) -> list:
    """Params t on (a, b) where it meets segment (c, d) — exact; includes
    collinear-overlap endpoints."""
    r = (b[0] - a[0], b[1] - a[1])
    s = (d[0] - c[0], d[1] - c[1])
    denom = r[0] * s[1] - r[1] * s[0]
    if denom == 0:
        if _orient(a, b, c) != 0:
            return []
        # collinear: project c, d onto (a,b)
        out = []
        den = r[0] * r[0] + r[1] * r[1]
        for p in (c, d):
            t = ((p[0] - a[0]) * r[0] + (p[1] - a[1]) * r[1]) / den
            if 0 < t < 1:
                out.append(t)
        return out
    t = ((c[0] - a[0]) * s[1] - (c[1] - a[1]) * s[0]) / denom
    u = ((c[0] - a[0]) * r[1] - (c[1] - a[1]) * r[0]) / denom
    return [t] if 0 < t < 1 and 0 <= u <= 1 else []


def _noded_subsegments(segs, against):
    """Split every segment in 'segs' at its intersections with segments
    in 'against' → flat sub-segment list."""
    out = []
    for a, b in segs:
        cuts = []
        for c, d in against:
            cuts += _seg_cut_params(a, b, c, d)
        out += _split_at(a, b, cuts)
    return out


def _mid(a, b):
    return ((a[0] + b[0]) / 2, (a[1] + b[1]) / 2)


def _areal_boundary_segs(g):
    segs = []
    for rings in _poly_rings(g):
        for ring in rings:
            segs += _ring_segments(ring)
    return segs


def _covered_by_lines(a_segs, b_segs) -> bool:
    """Every segment of A collinear-covered by the union of B segments."""
    for a, b in a_segs:
        r = (b[0] - a[0], b[1] - a[1])
        den = r[0] * r[0] + r[1] * r[1]
        ivals = []
        for c, d in b_segs:
            if _orient(a, b, c) != 0 or _orient(a, b, d) != 0:
                continue
            t1 = ((c[0] - a[0]) * r[0] + (c[1] - a[1]) * r[1]) / den
            t2 = ((d[0] - a[0]) * r[0] + (d[1] - a[1]) * r[1]) / den
            lo, hi = min(t1, t2), max(t1, t2)
            if hi > 0 and lo < 1:
                ivals.append((max(lo, Fraction(0)), min(hi, Fraction(1))))
        ivals.sort()
        reach = Fraction(0)
        for lo, hi in ivals:
            if lo > reach:
                return False
            reach = max(reach, hi)
        if reach < 1:
            return False
    return True


# ---------------------------------------------------------------------------
# within / contains / equals (JTS semantics)
# ---------------------------------------------------------------------------


def within(a, b) -> bool:
    """JTS ``a.within(b)``: a ∩ b == a AND interior(a) ∩ interior(b) ≠ ∅.

    Supported operand kinds: all non-collection pairs the reference's
    GeoSpatialTest exercises (puntal/lineal/areal in any combination).
    GEOMETRYCOLLECTION operands raise NotImplementedError by name —
    matching the reference, where JTS's relate() itself throws
    IllegalArgumentException for GeometryCollection arguments.
    """
    if a[0] == "GEOMETRYCOLLECTION" or b[0] == "GEOMETRYCOLLECTION":
        raise NotImplementedError("ST_Within over GEOMETRYCOLLECTION is unsupported")
    if is_empty(a) or is_empty(b):
        return False
    if dimension(a) > dimension(b):
        return False

    b_kind = b[0]
    if b_kind in ("POINT", "MULTIPOINT"):
        bp = set(_points_of(b))
        return all(p in bp for p in _points_of(a))

    if b_kind in ("LINESTRING", "MULTILINESTRING"):
        b_segs = _line_segments(b)
        boundary = _line_boundary(b_segs)
        if a[0] in ("POINT", "MULTIPOINT"):
            pts = _points_of(a)
            on = all(any(_on_segment(p, *s) for s in b_segs) for p in pts)
            interior_hit = any(p not in boundary for p in pts)
            return on and interior_hit
        # lineal within lineal: coverage ⇒ interiors intersect
        return _covered_by_lines(_line_segments(a), b_segs)

    # B areal
    b_boundary = _areal_boundary_segs(b)
    if a[0] in ("POINT", "MULTIPOINT"):
        locs = [_location_in_areal(p, b) for p in _points_of(a)]
        return all(loc != "out" for loc in locs) and any(loc == "in" for loc in locs)
    if a[0] in ("LINESTRING", "MULTILINESTRING"):
        subs = _noded_subsegments(_line_segments(a), b_boundary)
        locs = [_location_in_areal(_mid(u, v), b) for u, v in subs]
        return all(loc != "out" for loc in locs) and any(loc == "in" for loc in locs)
    # areal within areal: every A-boundary sub-segment stays in/on B, and
    # no UNION-boundary piece of B runs through A's interior (catches a
    # hole of B inside A)
    a_boundary = _areal_boundary_segs(a)
    for u, v in _noded_subsegments(a_boundary, b_boundary):
        if _location_in_areal(_mid(u, v), b) == "out":
            return False
    all_segs = list(a_boundary) + list(b_boundary)
    for u, v in _noded_subsegments(b_boundary, a_boundary):
        m = _mid(u, v)
        if _location_in_areal(m, b) == "on" and _location_in_areal(m, a) == "in":
            # an edge shared by two members of an (OGC-invalid)
            # MULTIPOLYGON lies 'on' the member boundaries but INSIDE
            # the B union — both exact side samples land in B, so it is
            # not a union-boundary piece and cannot witness a hole
            # (ADVICE r13: previously a false negative)
            left = _side_point(u, v, all_segs, True)
            right = _side_point(u, v, all_segs, False)
            if (
                _location_in_areal(left, b) != "out"
                and _location_in_areal(right, b) != "out"
            ):
                continue
            return False
    return True


def contains(a, b) -> bool:
    return within(b, a)


def equals(a, b) -> bool:
    """JTS ST_Equals (topological equality). Puntal/lineal/areal pairs of
    the SAME dimension via mutual coverage."""
    if is_empty(a) or is_empty(b):
        return is_empty(a) and is_empty(b)
    da, db = dimension(a), dimension(b)
    if da != db:
        return False
    if da == 0:
        return set(_points_of(a)) == set(_points_of(b))
    if da == 1:
        return _covered_by_lines(_line_segments(a), _line_segments(b)) and _covered_by_lines(
            _line_segments(b), _line_segments(a)
        )
    return within(a, b) and within(b, a)


# ---------------------------------------------------------------------------
# area (planar JTS / geography spherical excess)
# ---------------------------------------------------------------------------


def _shoelace(ring) -> float:
    s = 0.0
    pts = list(ring)
    if len(pts) > 1 and pts[0] == pts[-1]:
        pts = pts[:-1]
    for i in range(len(pts)):
        x1, y1 = pts[i]
        x2, y2 = pts[(i + 1) % len(pts)]
        s += x1 * y2 - x2 * y1
    return abs(s) / 2.0


def planar_area(g) -> float:
    kind, data, _ = g
    if kind == "POLYGON":
        if not data:
            return 0.0
        return _shoelace(data[0]) - sum(_shoelace(r) for r in data[1:])
    if kind == "MULTIPOLYGON":
        return sum(planar_area(("POLYGON", p, False)) for p in data)
    if kind == "GEOMETRYCOLLECTION":
        return sum(planar_area(c) for c in data)
    return 0.0


def _spherical_excess(ring) -> float:
    """StAreaFunction.SphericalExcessCalculator — identical operation
    order so doubles track the reference within float noise."""
    pts = list(ring)
    if len(pts) < 3:
        raise ValueError("Polygon is not valid: a loop contains less then 3 vertices.")
    two_pi, three_pi = 2 * math.pi, 3 * math.pi
    # initialize with the END point, then add points 1..n-1 (ring closed:
    # point 0 == point n-1, so this walks every edge exactly once)
    end = pts[-1]
    prev_phi = math.radians(end[1])
    prev_sin, prev_cos = math.sin(prev_phi), math.cos(prev_phi)
    prev_tan = math.tan(prev_phi / 2)
    prev_lng = math.radians(end[0])
    excess = 0.0
    course_delta = 0.0
    first = True
    first_initial_bearing = 0.0
    prev_final_bearing = 0.0
    for px, py in pts[1:]:
        phi = math.radians(py)
        tan = math.tan(phi / 2)
        lng = math.radians(px)
        if lng == prev_lng and phi == prev_phi:
            raise ValueError("Polygon is not valid: it has two identical consecutive vertices")
        d_lng = lng - prev_lng
        excess += 2 * math.atan2(math.tan(d_lng / 2) * (prev_tan + tan), 1 + prev_tan * tan)
        cos, sin = math.cos(phi), math.sin(phi)
        sin_d, cos_d = math.sin(d_lng), math.cos(d_lng)
        initial_bearing = (math.atan2(sin_d * cos, prev_cos * sin - prev_sin * cos * cos_d) + two_pi) % two_pi
        final_bearing = (math.atan2(-sin_d * prev_cos, prev_sin * cos - prev_cos * sin * cos_d) + math.pi) % two_pi
        if first:
            first_initial_bearing = initial_bearing
            first = False
        else:
            course_delta += (initial_bearing - prev_final_bearing + three_pi) % two_pi - math.pi
        course_delta += (final_bearing - initial_bearing + three_pi) % two_pi - math.pi
        prev_final_bearing = final_bearing
        prev_cos, prev_sin, prev_phi, prev_tan, prev_lng = cos, sin, phi, tan, lng
    course_delta += (first_initial_bearing - prev_final_bearing + three_pi) % two_pi - math.pi
    if abs(course_delta) < math.pi / 4:  # pole enclosed
        excess = abs(excess) - two_pi
    return excess


def geography_area(g) -> float:
    kind, data, _ = g
    if kind != "POLYGON":
        raise ValueError("geography ST_Area requires a polygon")
    excess = abs(_spherical_excess(data[0]))
    for hole in data[1:]:
        excess -= abs(_spherical_excess(hole))
    return abs(excess * EARTH_RADIUS_M * EARTH_RADIUS_M)


def area(g) -> float:
    return geography_area(g) if is_geography(g) else planar_area(g)


# ---------------------------------------------------------------------------
# distance (planar JTS min-distance / geography great-circle)
# ---------------------------------------------------------------------------


def great_circle_distance(lng1: float, lat1: float, lng2: float, lat2: float) -> float:
    """StDistanceFunction.greatCircleDistance (Vincenty arctan form)."""
    for lat in (lat1, lat2):
        if not -90.0 <= lat <= 90.0:
            raise ValueError("Latitude must be between -90 and 90")
    for lng in (lng1, lng2):
        if not -180.0 <= lng <= 180.0:
            raise ValueError("Longitude must be between -180 and 180")
    r1, r2 = math.radians(lat1), math.radians(lat2)
    sin1, cos1 = math.sin(r1), math.cos(r1)
    sin2, cos2 = math.sin(r2), math.cos(r2)
    d_lng = math.radians(lng1) - math.radians(lng2)
    cos_d = math.cos(d_lng)
    t1 = cos2 * math.sin(d_lng)
    t2 = cos1 * sin2 - sin1 * cos2 * cos_d
    t3 = sin1 * sin2 + cos1 * cos2 * cos_d
    return math.atan2(math.sqrt(t1 * t1 + t2 * t2), t3) * EARTH_RADIUS_M


def _prim_segments(g):
    """All segments of a geometry's boundary/path as float pairs."""
    kind = g[0]
    if kind in ("LINESTRING", "MULTILINESTRING"):
        return _line_segments(g)
    if kind in ("POLYGON", "MULTIPOLYGON"):
        return _areal_boundary_segs(g)
    return []


def _pt_seg_dist2(p, a, b) -> Fraction:
    r = (b[0] - a[0], b[1] - a[1])
    den = r[0] * r[0] + r[1] * r[1]
    if den == 0:
        dx, dy = p[0] - a[0], p[1] - a[1]
        return dx * dx + dy * dy
    t = ((p[0] - a[0]) * r[0] + (p[1] - a[1]) * r[1]) / den
    t = max(Fraction(0), min(Fraction(1), t))
    cx, cy = a[0] + t * r[0], a[1] + t * r[1]
    dx, dy = p[0] - cx, p[1] - cy
    return dx * dx + dy * dy


def _segs_cross(a, b, c, d) -> bool:
    o1, o2 = _orient(a, b, c), _orient(a, b, d)
    o3, o4 = _orient(c, d, a), _orient(c, d, b)
    if o1 != o2 and o3 != o4:
        return True
    return any(_on_segment(p, q1, q2) for p, q1, q2 in ((c, a, b), (d, a, b), (a, c, d), (b, c, d)))


def planar_distance(a, b) -> float:
    """JTS geometry.distance: 0 when the geometries intersect, else min
    distance between their primitives. Empty operand → NaN
    (StDistanceFunction.java:63)."""
    if is_empty(a) or is_empty(b):
        return math.nan
    pts_a = _points_of(a) if a[0] in ("POINT", "MULTIPOINT") else []
    pts_b = _points_of(b) if b[0] in ("POINT", "MULTIPOINT") else []
    segs_a, segs_b = _prim_segments(a), _prim_segments(b)
    # containment / crossing ⇒ distance 0
    for p, other in ((p, b) for p in pts_a):
        if other[0] in ("POLYGON", "MULTIPOLYGON") and _location_in_areal(p, other) != "out":
            return 0.0
    for p in pts_b:
        if a[0] in ("POLYGON", "MULTIPOLYGON") and _location_in_areal(p, a) != "out":
            return 0.0
    for s1 in segs_a:
        for s2 in segs_b:
            if _segs_cross(*s1, *s2):
                return 0.0
    if segs_a and b[0] in ("POLYGON", "MULTIPOLYGON") and _location_in_areal(segs_a[0][0], b) == "in":
        return 0.0
    if segs_b and a[0] in ("POLYGON", "MULTIPOLYGON") and _location_in_areal(segs_b[0][0], a) == "in":
        return 0.0
    best: Fraction | None = None

    def upd(d2):
        nonlocal best
        if best is None or d2 < best:
            best = d2

    for p in pts_a:
        for q in pts_b:
            upd((p[0] - q[0]) ** 2 + (p[1] - q[1]) ** 2)
        for s in segs_b:
            upd(_pt_seg_dist2(p, *s))
    for q in pts_b:
        for s in segs_a:
            upd(_pt_seg_dist2(q, *s))
    for s1 in segs_a:
        for s2 in segs_b:
            upd(_pt_seg_dist2(s1[0], *s2))
            upd(_pt_seg_dist2(s1[1], *s2))
            upd(_pt_seg_dist2(s2[0], *s1))
            upd(_pt_seg_dist2(s2[1], *s1))
    return math.sqrt(float(best)) if best is not None else math.nan


def distance(a, b) -> float:
    """ST_Distance dispatch (StDistanceFunction.transformGeometryToDouble):
    both geography → great-circle on points; both geometry → planar;
    mixed → error."""
    if is_geography(a) != is_geography(b):
        raise ValueError("The first and second arguments shall either all be geometry or all geography")
    if is_geography(a):
        if a[0] != "POINT" or b[0] != "POINT":
            raise ValueError("geography ST_Distance requires points")
        if a[1] is None or b[1] is None:
            # the reference calls Point.getX() on the operand, which
            # throws on a JTS empty point (ADVICE r13: returning NaN
            # here was a silent divergence from that failure mode)
            raise ValueError(
                "geography ST_Distance on an empty point "
                "(getX called on empty Point)"
            )
        return great_circle_distance(a[1][0], a[1][1], b[1][0], b[1][1])
    return planar_distance(a, b)


# ---------------------------------------------------------------------------
# Exact overlay union (touching / collinear / hole-bearing inputs
# included): the one polygon union every STUnion surface folds with
# ---------------------------------------------------------------------------


def _min_clearance(m, all_segs) -> Fraction:
    """Min squared distance from m to any segment NOT passing through m —
    the safe perturbation radius for side sampling.  Exact bbox-distance
    lower bounds prune segments that cannot beat the running best (all
    rational arithmetic — pruning never changes the result, only skips
    provably-losing candidates)."""
    mx, my = m
    best = None
    for a, b in all_segs:
        if best is not None:
            # exact squared distance from m to the segment's bbox is a
            # lower bound on the true squared distance
            dx = max(min(a[0], b[0]) - mx, mx - max(a[0], b[0]), 0)
            dy = max(min(a[1], b[1]) - my, my - max(a[1], b[1]), 0)
            if dx * dx + dy * dy >= best:
                continue
        if _on_segment(m, a, b):
            continue
        d2 = _pt_seg_dist2(m, a, b)
        if best is None or d2 < best:
            best = d2
    return best if best is not None else Fraction(1)


def _side_point(u, v, all_segs, left: bool):
    """Point strictly on one side of segment (u,v) at its midpoint,
    closer to the segment than any other feature (so its in/out status
    equals the limit status of that side)."""
    m = _mid(u, v)
    d2 = _min_clearance(m, all_segs)
    # offset length ≤ sqrt(d2)/2: use rational bound r ≤ sqrt(d2)/2 via
    # r = d2 / (2 * (d2 + 1)) ... simpler: shrink until inside clearance
    nx, ny = -(v[1] - u[1]), (v[0] - u[0])
    if not left:
        nx, ny = -nx, -ny
    norm2 = nx * nx + ny * ny
    # choose rational scale s with s^2 * norm2 < d2  → offset strictly
    # inside the clearance disk
    s = Fraction(1, 2)
    while s * s * norm2 >= d2:
        s /= 2
    return (m[0] + s * nx, m[1] + s * ny)


def union_polygons(polys_rings: list, geog: bool = False):
    """Exact n-way union of polygons (each a ring list: shell + holes) →
    ("POLYGON" | "MULTIPOLYGON", rings, geog).

    Plain planar-subdivision overlay with exact rational arithmetic:
    node every edge at every intersection, keep each unique sub-segment
    iff exactly one side lies inside the union (side status sampled at
    an exactly-clearance-bounded offset point), orient interior-left,
    stitch rings by rightmost-turn walking, classify shells/holes by
    signed area, attach holes to their containing shells.  O((ΣE)²) —
    ST_Union partials are small; the 100 TB path tree-reduces partials
    executor-side first (operators/geo.py)."""
    inputs = [p for p in polys_rings if p and p[0]]
    if not inputs:
        return ("POLYGON", [], geog)

    # each input's segments and closed bbox, built once: a point outside
    # the bbox is neither in nor on that polygon (exact pruning)
    located = []
    for rings in inputs:
        ring_segs = [_ring_segments(ring) for ring in rings]
        xs = [c[0] for segs in ring_segs for seg in segs for c in seg]
        ys = [c[1] for segs in ring_segs for seg in segs for c in seg]
        if xs:  # a polygon with no segment is never in or on
            located.append(((min(xs), max(xs), min(ys), max(ys)), ring_segs))

    def loc_in_union(p) -> str:
        best = "out"
        for (x0, x1, y0, y1), ring_segs in located:
            if p[0] < x0 or p[0] > x1 or p[1] < y0 or p[1] > y1:
                continue
            loc = _location_in_segments(p, ring_segs)
            if loc == "in":
                return "in"
            if loc == "on":
                best = "on"
        return best

    all_segs = [seg for _, ring_segs in located for segs in ring_segs for seg in segs]

    # node all edges against each other, dedup as undirected
    # sub-segments.  Exact bbox interval checks prune non-overlapping
    # pairs before the rational intersection math — pure pruning, the
    # candidate set provably contains every intersecting pair.
    boxes = [
        (min(a[0], b[0]), max(a[0], b[0]), min(a[1], b[1]), max(a[1], b[1]))
        for a, b in all_segs
    ]
    unique: set = set()
    for i, (a, b) in enumerate(all_segs):
        x0, x1, y0, y1 = boxes[i]
        cuts = []
        for j, (c, d) in enumerate(all_segs):
            if i == j:
                continue
            bx0, bx1, by0, by1 = boxes[j]
            if bx0 > x1 or bx1 < x0 or by0 > y1 or by1 < y0:
                continue
            cuts += _seg_cut_params(a, b, c, d)
        for u, v in _split_at(a, b, cuts):
            unique.add((u, v) if (u <= v) else (v, u))

    # keep boundary sub-segments, oriented interior-left
    directed = []
    for u, v in unique:
        in_left = loc_in_union(_side_point(u, v, all_segs, True)) == "in"
        in_right = loc_in_union(_side_point(u, v, all_segs, False)) == "in"
        if in_left == in_right:
            continue
        directed.append((u, v) if in_left else (v, u))

    # stitch rings: at each node take the most-counterclockwise turn
    # (tightest left wrap keeps the interior-on-left rings simple at
    # pinch vertices — two squares touching at a corner trace as two
    # rings, not one figure-eight)
    out_edges: dict = {}
    for u, v in directed:
        out_edges.setdefault(u, []).append(v)

    def leftmost(prev, cur, options):
        if len(options) == 1:
            return options[0]
        i = (cur[0] - prev[0], cur[1] - prev[1])

        def region(o) -> int:
            # 2 = left turn, 1 = straight, 0 = right turn (exact; a
            # u-turn edge cannot exist among unique boundary sub-segs)
            c = i[0] * o[1] - i[1] * o[0]
            if c > 0:
                return 2
            if c == 0 and i[0] * o[0] + i[1] * o[1] > 0:
                return 1
            return 0

        def ccw_greater(o1, o2) -> bool:
            r1, r2 = region(o1), region(o2)
            if r1 != r2:
                return r1 > r2
            if r1 == 1:
                return False
            # same half-plane: o1 turns further CCW iff o1 is CCW of o2
            return o2[0] * o1[1] - o2[1] * o1[0] > 0

        best = options[0]
        best_o = (best[0] - cur[0], best[1] - cur[1])
        for cand in options[1:]:
            o = (cand[0] - cur[0], cand[1] - cur[1])
            if ccw_greater(o, best_o):
                best, best_o = cand, o
        return best

    used: set = set()
    rings_out = []
    for start_u, start_v in directed:
        if (start_u, start_v) in used:
            continue
        ring = [start_u, start_v]
        used.add((start_u, start_v))
        prev, cur = start_u, start_v
        while cur != start_u:
            options = [v for v in out_edges.get(cur, []) if (cur, v) not in used]
            if not options:
                raise ValueError("open boundary chain in exact overlay (inconsistent input)")
            nxt = leftmost(prev, cur, options)
            used.add((cur, nxt))
            ring.append(nxt)
            prev, cur = cur, nxt
        rings_out.append(ring)

    # classify: signed area > 0 (CCW, interior-left walk) = shell
    def signed_area2(ring):
        s = Fraction(0)
        for i in range(len(ring) - 1):
            s += ring[i][0] * ring[i + 1][1] - ring[i + 1][0] * ring[i][1]
        return s

    shells, holes = [], []
    for ring in rings_out:
        (shells if signed_area2(ring) > 0 else holes).append(ring)
    if not shells:
        return ("POLYGON", [], geog)

    def to_float_ring(ring):
        return [(float(x), float(y)) for x, y in ring]

    polys = [[to_float_ring(s)] for s in shells]
    for hole in holes:
        # attach to the smallest shell strictly containing a hole point
        candidates = []
        probe = hole[0]
        for idx, shell in enumerate(shells):
            if _location_in_polygon(probe, [shell]) != "out":
                candidates.append((abs(signed_area2(shell)), idx))
        if not candidates:
            raise ValueError("unattached hole ring in exact overlay")
        polys[min(candidates)[1]].append(to_float_ring(hole))

    if len(polys) == 1:
        return ("POLYGON", polys[0], geog)
    return ("MULTIPOLYGON", polys, geog)


def canonical(g):
    """Deterministic normal form for comparing areal geometries at the
    byte level: each ring rotated to start at its lexicographically
    smallest vertex (orientation is already canonicalized by
    serialize()), member polygons sorted by shell start vertex.  Two
    geometries with identical point sets per ring — e.g. our exact
    overlay's output vs JTS's iterative-union output in the reference
    GeoSpatialTest STUnion golden — serialize to identical bytes after
    canonical()."""
    kind, data, geog = g

    def rot(ring):
        pts = list(ring)
        if len(pts) > 1 and pts[0] == pts[-1]:
            pts = pts[:-1]
        k = min(range(len(pts)), key=lambda i: pts[i])
        pts = pts[k:] + pts[:k]
        return pts + [pts[0]]

    def norm_poly(rings):
        out = [rot(rings[0])]
        out += sorted((rot(h) for h in rings[1:]), key=lambda r: r[0])
        return out

    if kind == "POLYGON":
        return (kind, norm_poly(data) if data else [], geog)
    if kind == "MULTIPOLYGON":
        polys = [norm_poly(p) for p in data]
        return (kind, sorted(polys, key=lambda p: p[0][0]), geog)
    return g


def union(geoms: list):
    """N-way union of puntal and areal geometries — the STUnion path
    (exact overlay for the areal part).  JTS semantics for mixed inputs: points COVERED by the
    areal union (interior or boundary) are absorbed; uncovered points
    survive as a puntal component alongside the polygons
    (GEOMETRYCOLLECTION).  Lineal members raise by name (unchanged
    boundary — the reference's STUnion over linework has no driver
    usage and a wrong line union is worse than a loud one).  Purely
    puntal folds take the set-union fast path in
    functions/geo_udfs.union_chunk first."""
    if not geoms:
        raise ValueError("union of zero geometries")
    geog = is_geography(geoms[0])
    pts, polys = [], []
    for g in geoms:
        kind = g[0]
        if kind in ("POINT", "MULTIPOINT"):
            if not is_empty(g):
                pts += [g[1]] if kind == "POINT" else list(g[1])
        elif kind in ("POLYGON", "MULTIPOLYGON"):
            polys += _poly_rings(g)
        else:
            raise NotImplementedError(f"ST_Union over {kind} members is unsupported")
    if not polys:
        uniq = sorted(set(pts))
        if len(uniq) == 1:
            return ("POINT", uniq[0], geog)
        return ("MULTIPOINT", uniq, geog)
    areal = union_polygons(polys, geog)
    leftover = sorted(
        {p for p in pts if _location_in_areal(_fr(p), areal) == "out"}
    )
    if not leftover:
        return areal
    puntal = (
        ("POINT", leftover[0], geog)
        if len(leftover) == 1
        else ("MULTIPOINT", leftover, geog)
    )
    return ("GEOMETRYCOLLECTION", [areal, puntal], geog)
