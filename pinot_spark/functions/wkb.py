"""WKB and GeoJSON geometry constructors / serializers.

Reference surface: pinot-core/.../geospatial/transform/function/
StGeomFromWKBFunction.java, StAsBinaryFunction.java,
ConstructFromGeoJsonFunction.java, StAsGeoJsonFunction.java — Pinot
wraps JTS; here both formats are decoded/encoded in pure Python against
their PUBLIC specs (OGC WKB byte layout, RFC 7946 GeoJSON) into this
engine's WKT-string geometry representation.

Supported geometry types: POINT, LINESTRING, POLYGON (with holes),
MULTIPOINT, MULTIPOLYGON.  WKB is read in either byte order and written
little-endian (the JTS default).  Z/M coordinates and
GeometryCollections are not supported (ValueError).
"""

from __future__ import annotations

import json
import re
import struct

_WKB_POINT, _WKB_LINESTRING, _WKB_POLYGON = 1, 2, 3
_WKB_MULTIPOINT, _WKB_MULTILINESTRING, _WKB_MULTIPOLYGON = 4, 5, 6

# internal shape: (type_name, coords) with coords nested per type —
# POINT (x, y); LINESTRING/MULTIPOINT [pts]; POLYGON [rings];
# MULTIPOLYGON [[rings]]


def _fmt(v: float) -> str:
    return repr(int(v)) if float(v).is_integer() else repr(float(v))


def _pts(seq) -> str:
    return ", ".join(f"{_fmt(x)} {_fmt(y)}" for x, y in seq)


def to_wkt(geom) -> str:
    kind, c = geom
    if kind == "POINT":
        return f"POINT ({_fmt(c[0])} {_fmt(c[1])})"
    if kind == "LINESTRING":
        return f"LINESTRING ({_pts(c)})"
    if kind == "MULTIPOINT":
        return f"MULTIPOINT ({_pts(c)})"
    if kind == "POLYGON":
        return "POLYGON (" + ", ".join(f"({_pts(r)})" for r in c) + ")"
    if kind == "MULTIPOLYGON":
        return (
            "MULTIPOLYGON ("
            + ", ".join("(" + ", ".join(f"({_pts(r)})" for r in rings) + ")" for rings in c)
            + ")"
        )
    raise ValueError(f"unsupported geometry type {kind}")


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


def _coords(txt: str):
    pts = []
    for pair in txt.split(","):
        xy = pair.split()
        pts.append((float(xy[0]), float(xy[1])))
    return pts


def from_wkt(wkt: str):
    m = re.match(r"\s*([A-Za-z]+)\s*\((.*)\)\s*$", wkt or "", re.DOTALL)
    if not m:
        raise ValueError(f"unparseable WKT: {wkt!r}")
    kind, body = m.group(1).upper(), m.group(2)
    if kind == "POINT":
        (pt,) = _coords(body)
        return ("POINT", pt)
    if kind == "LINESTRING":
        return ("LINESTRING", _coords(body))
    if kind == "MULTIPOINT":
        # both "MULTIPOINT (1 2, 3 4)" and "MULTIPOINT ((1 2), (3 4))"
        return ("MULTIPOINT", _coords(body.replace("(", " ").replace(")", " ")))
    if kind == "POLYGON":
        return ("POLYGON", [_coords(r.strip()[1:-1]) for r in _split_top(body)])
    if kind == "MULTIPOLYGON":
        polys = []
        for poly in _split_top(body):
            inner = poly.strip()[1:-1]
            polys.append([_coords(r.strip()[1:-1]) for r in _split_top(inner)])
        return ("MULTIPOLYGON", polys)
    raise ValueError(f"unsupported WKT geometry type {kind}")


# --- WKB codec (OGC 99-049 / ISO 13249-3 byte layout) ----------------------


class _Reader:
    def __init__(self, b: bytes):
        self.b, self.i = b, 0

    def u8(self) -> int:
        v = self.b[self.i]
        self.i += 1
        return v

    def u32(self, bo: str) -> int:
        v = struct.unpack_from(bo + "I", self.b, self.i)[0]
        self.i += 4
        return v

    def f64(self, bo: str, n: int = 1):
        v = struct.unpack_from(f"{bo}{n}d", self.b, self.i)
        self.i += 8 * n
        return v


def _read_geom(r: _Reader):
    bo = "<" if r.u8() == 1 else ">"
    gtype = r.u32(bo)
    if gtype & 0xE0000000 or gtype > 6:  # Z/M/SRID flags or unsupported
        raise ValueError(f"unsupported WKB geometry type code {gtype:#x}")
    if gtype == _WKB_POINT:
        x, y = r.f64(bo, 2)
        return ("POINT", (x, y))
    if gtype == _WKB_LINESTRING:
        n = r.u32(bo)
        return ("LINESTRING", [tuple(r.f64(bo, 2)) for _ in range(n)])
    if gtype == _WKB_POLYGON:
        rings = []
        for _ in range(r.u32(bo)):
            n = r.u32(bo)
            rings.append([tuple(r.f64(bo, 2)) for _ in range(n)])
        return ("POLYGON", rings)
    if gtype == _WKB_MULTIPOINT:
        pts = []
        for _ in range(r.u32(bo)):
            kind, pt = _read_geom(r)
            if kind != "POINT":
                raise ValueError("MULTIPOINT member is not a POINT")
            pts.append(pt)
        return ("MULTIPOINT", pts)
    if gtype == _WKB_MULTIPOLYGON:
        polys = []
        for _ in range(r.u32(bo)):
            kind, rings = _read_geom(r)
            if kind != "POLYGON":
                raise ValueError("MULTIPOLYGON member is not a POLYGON")
            polys.append(rings)
        return ("MULTIPOLYGON", polys)
    raise ValueError(f"unsupported WKB geometry type {gtype}")


def wkb_to_wkt(b: bytes) -> str:
    return to_wkt(_read_geom(_Reader(bytes(b))))


def _w_pts(seq) -> bytes:
    return struct.pack("<I", len(seq)) + b"".join(struct.pack("<2d", x, y) for x, y in seq)


def _write_geom(geom) -> bytes:
    kind, c = geom
    if kind == "POINT":
        return struct.pack("<bI2d", 1, _WKB_POINT, c[0], c[1])
    if kind == "LINESTRING":
        return struct.pack("<bI", 1, _WKB_LINESTRING) + _w_pts(c)
    if kind == "POLYGON":
        return (
            struct.pack("<bII", 1, _WKB_POLYGON, len(c)) + b"".join(_w_pts(r) for r in c)
        )
    if kind == "MULTIPOINT":
        return struct.pack("<bII", 1, _WKB_MULTIPOINT, len(c)) + b"".join(
            _write_geom(("POINT", p)) for p in c
        )
    if kind == "MULTIPOLYGON":
        return struct.pack("<bII", 1, _WKB_MULTIPOLYGON, len(c)) + b"".join(
            _write_geom(("POLYGON", rings)) for rings in c
        )
    raise ValueError(f"unsupported geometry type {kind}")


def wkt_to_wkb(wkt: str) -> bytes:
    return _write_geom(from_wkt(wkt))


# --- GeoJSON codec (RFC 7946) ----------------------------------------------

_GJ_TYPES = {
    "Point": "POINT",
    "LineString": "LINESTRING",
    "Polygon": "POLYGON",
    "MultiPoint": "MULTIPOINT",
    "MultiPolygon": "MULTIPOLYGON",
}


def geojson_to_wkt(s: str) -> str:
    obj = json.loads(s)
    if obj.get("type") == "Feature":
        obj = obj["geometry"]
    kind = _GJ_TYPES.get(obj.get("type"))
    if kind is None:
        raise ValueError(f"unsupported GeoJSON type {obj.get('type')!r}")
    c = obj["coordinates"]
    if kind == "POINT":
        return to_wkt(("POINT", (float(c[0]), float(c[1]))))
    if kind in ("LINESTRING", "MULTIPOINT"):
        return to_wkt((kind, [(float(x), float(y)) for x, y in c]))
    if kind == "POLYGON":
        return to_wkt((kind, [[(float(x), float(y)) for x, y in r] for r in c]))
    return to_wkt(
        (kind, [[[(float(x), float(y)) for x, y in r] for r in poly] for poly in c])
    )


def _jnum(v: float):
    """Integral coords serialize as JSON ints (same canonicalization as
    the WKT writer's _fmt)."""
    return int(v) if float(v).is_integer() else float(v)


def wkt_to_geojson(wkt: str) -> str:
    kind, c = from_wkt(wkt)
    gj_type = {v: k for k, v in _GJ_TYPES.items()}[kind]
    if kind == "POINT":
        coords = [_jnum(c[0]), _jnum(c[1])]
    elif kind in ("LINESTRING", "MULTIPOINT"):
        coords = [[_jnum(x), _jnum(y)] for x, y in c]
    elif kind == "POLYGON":
        coords = [[[_jnum(x), _jnum(y)] for x, y in r] for r in c]
    else:
        coords = [[[[_jnum(x), _jnum(y)] for x, y in r] for r in rings] for rings in c]
    return json.dumps({"type": gj_type, "coordinates": coords}, separators=(",", ":"))
