"""Geometry functions — the reference's geospatial set (GeohashFunctions,
the ST_* transform functions, TransformFunctionType:195-229, and H3
geoToH3 / gridDisk / gridDistance) on both query surfaces.

``GEO_UDFS`` is the one table of geometry UDFs, in the row shape of
``sketches.SKETCH_UDFS``: a name, a Spark return type, a kind (scalar,
or grouped aggregate) and a plain-Python body over one Arrow batch's
arguments as lists (``scalar.arrow_rows_udf``: NULL arrives as None).
The SQL surface registers the rows a translated statement calls
(``dialect._ensure_udfs``); the Column builders below call the same
rows.

Carriers: the SQL surface keeps geometries as Pinot serialized bytes
(functions/pinot_geometry.py: GeometrySerializer byte layout, 0x80
geography bit).  Every geometry argument is sniffed per value — Pinot
type bytes are 0x00-0x06 (0x80 bit for geography) while WKT text
begins with an ASCII letter or space — so the Column surface's WKT
text (the 2-arg ``stPoint``, WKT literals and columns) reads the same.
The Column forms that return text (``stUnion``, ``stGeomFromWKB``,
``stGeomFromGeoJson``) keep the engine's WKT-text carrier.
"""

from __future__ import annotations

import struct

import numpy as np
import pyspark.sql.functions as F

from pinot_spark.functions import h3grid
from pinot_spark.functions import pinot_geometry as pgeo
from pinot_spark.functions import wkb
from pinot_spark.functions.scalar import UdfRow, _c, _reg, row_udf


def parse_any(v):
    """A geometry from Pinot bytes or WKT text (str or UTF-8 bytes)."""
    if v is None:
        return None
    if isinstance(v, str):
        return pgeo.parse_wkt(v)
    b = bytes(v)
    if b and (b[0] & 0x7F) <= 6:
        return pgeo.deserialize(b)
    return pgeo.parse_wkt(b.decode("utf-8"))


def _as_text(v):
    return v if isinstance(v, str) else bytes(v).decode("utf-8")


def _rows(fn):
    """A row body applying ``fn`` per row; NULL in any argument → NULL."""
    return lambda *cols: [
        None if any(v is None for v in vals) else fn(*vals) for vals in zip(*cols)
    ]


def _from_wkt_carrier(wkt: str, geog: bool) -> bytes:
    return pgeo.serialize(pgeo.parse_wkt(wkt, geog=geog))


def _geojson_in(v, g):
    return _from_wkt_carrier(wkb.geojson_to_wkt(_as_text(v)), bool(g))


def _geojson_out(v):
    return wkb.wkt_to_geojson(pgeo.format_wkt(parse_any(v)))


def _wkb_in(v, g):
    # input is OGC WKB by contract (no sniffing — a big-endian WKB
    # header byte 0x00 collides with the Pinot POINT type byte)
    return _from_wkt_carrier(wkb.wkb_to_wkt(bytes(v)), bool(g))


def _wkb_out(v):
    return wkb.wkt_to_wkb(pgeo.format_wkt(parse_any(v)))


def _h3_point(v, res):
    g = parse_any(v)
    if g[0] != "POINT" or g[1] is None:
        raise ValueError("geoToH3 needs a non-empty point")
    return h3grid.geo_to_cell(float(g[1][0]), float(g[1][1]), int(res))


def geo_to_h3_coords(lngs, lats, ress):
    """geoToH3(lng, lat, res): one numpy pass (h3grid.geo_to_cell_np)
    over a batch with no NULL, no non-finite coordinate and a single
    resolution; row by row otherwise."""
    if lngs and None not in lngs and None not in lats and len(set(ress)) == 1 and None not in ress:
        lng = np.asarray(lngs, dtype=np.float64)
        lat = np.asarray(lats, dtype=np.float64)
        if np.isfinite(lng).all() and np.isfinite(lat).all():
            return h3grid.geo_to_cell_np(lng, lat, ress[0])
    return _rows(lambda lng, lat, res: h3grid.geo_to_cell(float(lng), float(lat), int(res)))(
        lngs, lats, ress
    )


def union_chunk(acc, chunk):
    """Fold ``chunk`` (parsed geometries) into accumulator ``acc`` (one
    geometry or None).  Pure-point runs stay on the sorted set-union
    fast path; anything areal goes through the exact overlay
    (pgeo.union).  Union is associative/commutative, so chunked folding
    matches the one-shot fold bit-for-bit after canonicalization (pinned
    by test_geo_st_union_golden)."""
    geoms = ([acc] if acc is not None else []) + chunk
    if all(g[0] in ("POINT", "MULTIPOINT") for g in geoms):
        pts = sorted({p for g in geoms for p in ([g[1]] if g[0] == "POINT" else g[1]) if p})
        kind = "POINT" if len(pts) == 1 else "MULTIPOINT"
        return (kind, pts[0] if kind == "POINT" else pts, geoms[0][2])
    return pgeo.union(geoms)


def geo_union_fold(groups):
    """STUNION fold over collect_list(geometry): the ``stunion`` family's
    merge over ≤ 64 partials, and FUNCTION_MAP's single-buffer fallback
    where no restructure applies (window position, native aggregates in
    a non-canonical statement)."""

    def run(lst):
        geoms = [parse_any(v) for v in lst if v is not None]
        return pgeo.serialize(union_chunk(None, geoms)) if geoms else None

    return [run(lst) for lst in groups]


def geo_union_agg(vals):
    """Incremental STUNION fold — the aggregation state is ONE geometry
    plus a ≤64-element parse buffer, never a group-sized list (the
    reference accumulates a single growing union,
    StUnionAggregationFunction.java aggregate()).  The partial of the
    ``stunion`` raw-sketch family: the bucketed inner level runs it over
    a hash-bucketed slice of each group, and ``__geo_union_fold`` merges
    the ≤ 64 partials; non-canonical statements run it in place over the
    whole group.  ``vals`` may be any iterable (operators/geo.py streams
    a partition through it)."""
    acc, buf = None, []
    # union is idempotent: skip byte-identical blobs (telemetry columns
    # repeat shapes heavily — a grid-cell column has thousands of copies
    # of each square).  The seen-set holds raw values only and is capped
    # so a pathological all-distinct stream degrades to plain folding,
    # never OOM.
    seen: set = set()
    for v in vals:
        if v is None or v in seen:
            continue
        if len(seen) < 4096:
            seen.add(v)
        buf.append(parse_any(v))
        if len(buf) >= 64:
            acc, buf = union_chunk(acc, buf), []
    if buf:
        acc = union_chunk(acc, buf)
    return pgeo.serialize(acc) if acc is not None else None


_GEOHASH32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def geohash_encode(lng, lat, precision) -> str:
    """GeohashFunctions.encodeGeoHash: interleaved lng/lat bisection
    bits, five per base-32 character."""
    lat_iv, lng_iv = [-90.0, 90.0], [-180.0, 180.0]
    bits, ch, even, out = 0, 0, True, []
    while len(out) < int(precision):
        iv, v = (lng_iv, lng) if even else (lat_iv, lat)
        mid = (iv[0] + iv[1]) / 2
        if v >= mid:
            ch = (ch << 1) | 1
            iv[0] = mid
        else:
            ch <<= 1
            iv[1] = mid
        even = not even
        bits += 1
        if bits == 5:
            out.append(_GEOHASH32[ch])
            bits, ch = 0, 0
    return "".join(out)


def geohash_decode(gh: str) -> tuple[float, float]:
    """GeohashFunctions.decodeGeoHash: the cell centre as (lng, lat)."""
    lat_iv, lng_iv = [-90.0, 90.0], [-180.0, 180.0]
    even = True
    for ch in gh:
        cd = _GEOHASH32.index(ch)
        for bit in (16, 8, 4, 2, 1):
            iv = lng_iv if even else lat_iv
            mid = (iv[0] + iv[1]) / 2
            if cd & bit:
                iv[0] = mid
            else:
                iv[1] = mid
            even = not even
    return (lng_iv[0] + lng_iv[1]) / 2, (lat_iv[0] + lat_iv[1]) / 2


# --- the geometry-UDF table ---------------------------------------------------

GEO_UDFS: dict[str, UdfRow] = {
    # the SQL names FUNCTION_MAP's geo templates call
    "__geo_from_text": UdfRow(
        "binary", _rows(lambda w, g: _from_wkt_carrier(_as_text(w), bool(g)))
    ),
    "__geo_point": UdfRow(
        "binary", _rows(lambda x, y, g: pgeo.serialize(("POINT", (float(x), float(y)), bool(g))))
    ),
    "__geo_as_text": UdfRow("string", _rows(lambda v: pgeo.format_wkt(parse_any(v)))),
    "__geo_geometry_type": UdfRow("string", _rows(lambda v: pgeo.geometry_type(parse_any(v)))),
    "__geo_area": UdfRow("double", _rows(lambda v: pgeo.area(parse_any(v)))),
    "__geo_x": UdfRow(
        "double", _rows(lambda v: None if parse_any(v)[1] is None else float(parse_any(v)[1][0]))
    ),
    "__geo_y": UdfRow(
        "double", _rows(lambda v: None if parse_any(v)[1] is None else float(parse_any(v)[1][1]))
    ),
    "__geo_distance": UdfRow("double", _rows(lambda a, b: pgeo.distance(parse_any(a), parse_any(b)))),
    "__geo_within": UdfRow("boolean", _rows(lambda a, b: pgeo.within(parse_any(a), parse_any(b)))),
    "__geo_contains": UdfRow("boolean", _rows(lambda a, b: pgeo.contains(parse_any(a), parse_any(b)))),
    "__geo_equals": UdfRow("boolean", _rows(lambda a, b: pgeo.equals(parse_any(a), parse_any(b)))),
    "__geo_from_geojson": UdfRow("binary", _rows(_geojson_in)),
    "__geo_as_geojson": UdfRow("string", _rows(_geojson_out)),
    "__geo_from_wkb": UdfRow("binary", _rows(_wkb_in)),
    "__geo_as_wkb": UdfRow("binary", _rows(_wkb_out)),
    "__geo_to_h3_coords": UdfRow("long", geo_to_h3_coords),
    "__geo_to_h3_point": UdfRow("long", _rows(_h3_point)),
    "__h3_grid_distance": UdfRow("long", _rows(lambda a, b: h3grid.grid_distance(int(a), int(b)))),
    "__h3_grid_disk": UdfRow("array<long>", _rows(lambda c, k: h3grid.grid_disk(int(c), int(k)))),
    "__geo_union_fold": UdfRow("binary", geo_union_fold),
    "__geo_union_agg": UdfRow("binary", geo_union_agg, agg=True),
    # the Column surface's own rows (no SQL template emits them)
    "__geo_union": UdfRow(
        "binary",
        _rows(lambda a, b: pgeo.serialize(union_chunk(None, [parse_any(a), parse_any(b)]))),
    ),
    "__wkb_to_wkt": UdfRow("string", _rows(lambda b: wkb.wkb_to_wkt(bytes(b)))),
    "__geojson_to_wkt": UdfRow("string", _rows(lambda s: wkb.geojson_to_wkt(_as_text(s)))),
    "__geohash_encode": UdfRow("string", _rows(geohash_encode)),
    "__geohash_lng": UdfRow("double", _rows(lambda gh: geohash_decode(gh)[0])),
    "__geohash_lat": UdfRow("double", _rows(lambda gh: geohash_decode(gh)[1])),
}


def geo_udf(name: str):
    """The table row ``name`` as a Spark UDF (built once per process)."""
    return row_udf(name, GEO_UDFS[name])


# decoders of foreign formats: an undecodable value is NULL on the
# Column surface, like a JTS parse failure
_DECODE_ERRORS = (ValueError, IndexError, KeyError, TypeError, struct.error)


def _null_on_error(body):
    def run(*cols):
        out = []
        for vals in zip(*cols):
            try:
                out += body(*([v] for v in vals))
            except _DECODE_ERRORS:
                out.append(None)
        return out

    return run


def _decoder_udf(name: str):
    """Row ``name``, NULL for a value its body cannot decode."""
    row = GEO_UDFS[name]
    return row_udf(f"{name}?null", row._replace(body=_null_on_error(row.body)))


# --- Column surface -----------------------------------------------------------


def _geo1(name: str):
    return lambda g: geo_udf(name)(_c(g))


def _geo2(name: str):
    return lambda a, b: geo_udf(name)(_c(a), _c(b))


@_reg("stPoint")
def _st_point(x, y, *geog):
    """ST_Point (StPointFunction.java): the 2-arg form stays on the WKT
    text carrier (a native Column concat, used by the planar point
    rows); the 3-arg form ST_Point(x, y, isGeog) emits Pinot serialized
    BYTES with the geography bit, byte-identical to the SQL surface."""
    if geog:
        return geo_udf("__geo_point")(
            _c(x).cast("double"), _c(y).cast("double"), _c(geog[0]).cast("boolean")
        )
    return F.concat(
        F.lit("POINT ("), _c(x).cast("string"), F.lit(" "), _c(y).cast("string"), F.lit(")")
    )


_reg("stGeomFromText", "stPolygon")(
    lambda w: geo_udf("__geo_from_text")(_c(w), F.lit(False))
)
_reg("stGeogFromText")(lambda w: geo_udf("__geo_from_text")(_c(w), F.lit(True)))
_reg("stAsText")(_geo1("__geo_as_text"))
_reg("stGeometryType")(_geo1("__geo_geometry_type"))
_reg("stArea")(_geo1("__geo_area"))
_reg("stX")(_geo1("__geo_x"))
_reg("stY")(_geo1("__geo_y"))
_reg("stDistance")(_geo2("__geo_distance"))
_reg("stWithin")(_geo2("__geo_within"))
_reg("stContains")(_geo2("__geo_contains"))
_reg("stEquals")(_geo2("__geo_equals"))
# scalar two-geometry union, WKT text out
_reg("stUnion")(lambda a, b: geo_udf("__geo_as_text")(geo_udf("__geo_union")(_c(a), _c(b))))

# WKB / GeoJSON (StGeomFromWKBFunction.java, StAsBinaryFunction.java,
# ConstructFromGeoJsonFunction.java, StAsGeoJsonFunction.java): the
# decoders return the decoded WKT text, NULL when undecodable
_reg("stGeomFromWKB", "stGeogFromWKB")(
    lambda b: _decoder_udf("__wkb_to_wkt")(_c(b).cast("binary"))
)
_reg("stGeomFromGeoJson", "stGeogFromGeoJson")(
    lambda s: _decoder_udf("__geojson_to_wkt")(_c(s).cast("string"))
)
_reg("stAsBinary")(_geo1("__geo_as_wkb"))
_reg("stAsGeoJson")(_geo1("__geo_as_geojson"))


# great-circle metres between POINT(lng lat) WKTs as Column arithmetic
# (the geography mode of ST_Distance over the WKT-text carrier)
_EARTH_RADIUS_M = 6371008.8
_POINT_RE = r"POINT \(([-0-9.eE]+) ([-0-9.eE]+)\)"


@_reg("stDistanceHaversine", "haversineDistance")
def _st_haversine(a, b):
    def xy(p):
        return (
            F.radians(F.regexp_extract(_c(p), _POINT_RE, 1).cast("double")),
            F.radians(F.regexp_extract(_c(p), _POINT_RE, 2).cast("double")),
        )

    (lng1, lat1), (lng2, lat2) = xy(a), xy(b)
    dlat, dlng = lat2 - lat1, lng2 - lng1
    h = F.pow(F.sin(dlat / 2), 2) + F.cos(lat1) * F.cos(lat2) * F.pow(F.sin(dlng / 2), 2)
    return F.lit(2.0 * _EARTH_RADIUS_M) * F.asin(F.sqrt(h))


# geohash (GeohashFunctions.java)
_reg("encodeGeohash", "stGeohash")(
    lambda lng, lat, precision=7: geo_udf("__geohash_encode")(
        _c(lng).cast("double"), _c(lat).cast("double"), _c(precision).cast("int")
    )
)
_reg("decodeGeohashLatitude", "decodeGeohashLat")(
    lambda gh: geo_udf("__geohash_lat")(_c(gh).cast("string"))
)
_reg("decodeGeohashLongitude", "decodeGeohashLon")(
    lambda gh: geo_udf("__geohash_lng")(_c(gh).cast("string"))
)
_reg("decodeGeohash")(
    lambda gh: F.array(
        geo_udf("__geohash_lng")(_c(gh).cast("string")),
        geo_udf("__geohash_lat")(_c(gh).cast("string")),
    )
)


# H3 surface (functions/h3grid.py: engine-own aperture-7 cell ids);
# geoToH3 takes (lng, lat, res) or (point, res)
@_reg("geoToH3")
def _geo_to_h3(*a):
    if len(a) == 3:
        lng, lat, res = a
        return geo_udf("__geo_to_h3_coords")(
            _c(lng).cast("double"), _c(lat).cast("double"), _c(res).cast("int")
        )
    point, res = a
    return geo_udf("__geo_to_h3_point")(_c(point), _c(res).cast("int"))


_reg("gridDistance")(
    lambda a, b: geo_udf("__h3_grid_distance")(_c(a).cast("long"), _c(b).cast("long"))
)
_reg("gridDisk", "kRing")(
    lambda c, k: geo_udf("__h3_grid_disk")(_c(c).cast("long"), _c(k).cast("int"))
)
