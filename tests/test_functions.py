"""Function-registry tests: Pinot-name → Spark expression mapping
(functions/scalar.py, functions/aggregate.py), spot-checked against
literal expected values.
"""

from __future__ import annotations

import pytest
import pyspark.sql.functions as F

from pinot_spark.functions import AGG_FUNCTIONS, SCALAR_FUNCTIONS, agg_call, call


@pytest.fixture(scope="module")
def one(spark):
    return spark.range(1)


def ev(one, col):
    return one.select(col.alias("v")).collect()[0]["v"]


# (name, args, expected) — scalar spot checks
SCALAR_CASES = [
    ("upper", lambda: [F.lit("abc")], "ABC"),
    ("lower", lambda: [F.lit("AbC")], "abc"),
    ("reverse", lambda: [F.lit("abc")], "cba"),
    # Pinot substr: 0-based start, 3rd arg = END index, -1 = rest
    # (StringFunctions.java:112-130)
    ("substr", lambda: [F.lit("hello"), 1, 3], "el"),
    ("substr", lambda: [F.lit("hello"), 3], "lo"),
    ("substr", lambda: [F.lit("hello"), 1, -1], "ello"),
    # Pinot substring: 1-based start, 3rd arg = LENGTH (ibid:136-152)
    ("substring", lambda: [F.lit("hello"), 1], "hello"),
    ("substring", lambda: [F.lit("hello"), 2, 3], "ell"),
    ("strpos", lambda: [F.lit("hello"), F.lit("llo")], 2),  # Pinot 0-based
    ("strpos", lambda: [F.lit("hello"), F.lit("zz")], -1),  # -1 on miss
    ("dayofweek", lambda: [F.lit("2024-01-07").cast("timestamp")], 7),  # ISO Sun=7
    ("dayofweek", lambda: [F.lit("2024-01-01").cast("timestamp")], 1),  # ISO Mon=1
    # 3-arg concat(s1, s2, separator) puts the separator BETWEEN
    # (string/StringFunctions.java:33) — "a" + "c" + "b"
    ("concat", lambda: [F.lit("a"), F.lit("b"), F.lit("c")], "acb"),
    ("trim", lambda: [F.lit("  x ")], "x"),
    ("length", lambda: [F.lit("abcd")], 4),
    ("replace", lambda: [F.lit("banana"), F.lit("na"), F.lit("NA")], "baNANA"),
    ("lpad", lambda: [F.lit("7"), 3, "0"], "007"),
    ("codepoint", lambda: [F.lit("A")], 65),
    ("chr", lambda: [F.lit(66)], "B"),
    ("startswith", lambda: [F.lit("spark"), F.lit("sp")], True),
    ("endswith", lambda: [F.lit("spark"), F.lit("rk")], True),
    ("splitpart", lambda: [F.lit("a,b,c"), F.lit(","), F.lit(1)], "b"),  # Pinot 0-based
    ("repeat", lambda: [F.lit("ab"), F.lit(3)], "ababab"),
    ("remove", lambda: [F.lit("a-b-c"), F.lit("-")], "abc"),
    ("levenshtein", lambda: [F.lit("kitten"), F.lit("sitting")], 3),
    ("strleft", lambda: [F.lit("abcdef"), F.lit(2)], "ab"),
    ("strright", lambda: [F.lit("abcdef"), F.lit(2)], "ef"),
    ("hammingdistance", lambda: [F.lit("abcd"), F.lit("abed")], 1),
    ("ngrams", lambda: [F.lit("abcd"), F.lit(2)], ["ab", "bc", "cd"]),
    # datetime (engine runs UTC)
    ("toepochseconds", lambda: [F.lit("2024-01-01 00:00:10").cast("timestamp")], 1704067210),
    ("toepochmillis", lambda: [F.lit("2024-01-01 00:00:00.5").cast("timestamp")], 1704067200500),
    ("fromepochseconds", lambda: [F.lit(1704067200)], None),  # type-checked below
    ("year", lambda: [F.lit("2024-03-05").cast("timestamp")], 2024),
    ("month", lambda: [F.lit("2024-03-05").cast("timestamp")], 3),
    ("day", lambda: [F.lit("2024-03-05").cast("timestamp")], 5),
    ("hour", lambda: [F.lit("2024-03-05 07:08:09").cast("timestamp")], 7),
    ("timeconvert", lambda: [F.lit(3600), "SECONDS", "MINUTES"], 60),
    # math
    ("add", lambda: [F.lit(2), F.lit(3)], 5),
    ("div", lambda: [F.lit(7), F.lit(2)], 3.5),
    ("intdiv", lambda: [F.lit(7), F.lit(2)], 3),
    ("mod", lambda: [F.lit(7), F.lit(3)], 1),
    ("abs", lambda: [F.lit(-4.5)], 4.5),
    ("ceil", lambda: [F.lit(1.2)], 2),
    ("floor", lambda: [F.lit(1.8)], 1),
    ("power", lambda: [F.lit(2.0), F.lit(10.0)], 1024.0),
    ("sqrt", lambda: [F.lit(16.0)], 4.0),
    ("sign", lambda: [F.lit(-3.0)], -1.0),
    ("least", lambda: [F.lit(3), F.lit(1), F.lit(2)], 1),
    ("greatest", lambda: [F.lit(3), F.lit(1), F.lit(2)], 3),
    ("rounddecimal", lambda: [F.lit(3.14159), 2], 3.14),
    ("truncate", lambda: [F.lit(3.19), 1], 3.1),
    # json
    ("jsonextractscalar", lambda: [F.lit('{"k": 42}'), "$.k", "INT"], 42),
    ("jsonextractscalar", lambda: [F.lit('{"k": 42}'), "$.m", "INT", 7], 7),
    ("jsonpathstring", lambda: [F.lit('{"a": {"b": "x"}}'), "$.a.b"], "x"),
    # array
    ("arraylength", lambda: [F.array(F.lit(1), F.lit(2))], 2),
    ("arrayreverse", lambda: [F.array(F.lit(1), F.lit(2))], [2, 1]),
    ("arraysort", lambda: [F.array(F.lit(3), F.lit(1))], [1, 3]),
    ("arraydistinct", lambda: [F.array(F.lit(1), F.lit(1), F.lit(2))], [1, 2]),
    ("arraycontains", lambda: [F.array(F.lit("a"), F.lit("b")), "a"], True),
    ("arrayindexof", lambda: [F.array(F.lit("a"), F.lit("b")), "b"], 1),  # 0-based
    ("arrayslice", lambda: [F.array(F.lit(1), F.lit(2), F.lit(3), F.lit(4)), F.lit(1), F.lit(3)], [2, 3]),
    ("arraymin", lambda: [F.array(F.lit(3), F.lit(1))], 1),
    ("arraymax", lambda: [F.array(F.lit(3), F.lit(1))], 3),
    ("arraysum", lambda: [F.array(F.lit(1.0), F.lit(2.5))], 3.5),
    ("arrayaverage", lambda: [F.array(F.lit(1.0), F.lit(3.0))], 2.0),
    ("valuein", lambda: [F.array(F.lit(1), F.lit(2), F.lit(3)), 1, 3], [1, 3]),
    ("item", lambda: [F.array(F.lit("x"), F.lit("y")), F.lit(1)], "x"),  # 1-based element_at
    # hash / conversion
    ("md5", lambda: [F.lit("abc")], "900150983cd24fb0d6963f7d28e17f72"),
    ("sha256", lambda: [F.lit("abc")], "ba7816bf8f01cfea414140de5dae2223b00361a396177a9cb410ff61f20015ad"),
    ("hex", lambda: [F.lit("AB")], "4142"),
    ("tobase64", lambda: [F.lit("abc")], "YWJj"),
    ("frombase64", lambda: [F.lit("YWJj")], b"abc"),
    # url
    ("urlprotocol", lambda: [F.lit("https://x.io/p?q=1")], "https"),
    ("urldomain", lambda: [F.lit("https://x.io/p?q=1")], "x.io"),
    ("urlpath", lambda: [F.lit("https://x.io/p?q=1")], "/p"),
    ("urlparameter", lambda: [F.lit("https://x.io/p?q=1&r=2"), F.lit("r")], "2"),
    ("encodeurl", lambda: [F.lit("a b")], "a+b"),
    # object / null
    ("coalesce", lambda: [F.lit(None).cast("int"), F.lit(5)], 5),
    ("nullif", lambda: [F.lit(3), F.lit(3)], None),
    ("isnull", lambda: [F.lit(None).cast("int")], True),
    ("isdistinctfrom", lambda: [F.lit(1), F.lit(2)], True),
    ("casewhen", lambda: [F.lit(True), F.lit("y"), F.lit("n")], "y"),
    # vector
    ("innerproduct", lambda: [F.array(F.lit(1.0), F.lit(2.0)), F.array(F.lit(3.0), F.lit(4.0))], 11.0),
    ("vectornorm", lambda: [F.array(F.lit(3.0), F.lit(4.0))], 5.0),
    ("vectordims", lambda: [F.array(F.lit(1.0), F.lit(2.0))], 2),
    ("l1distance", lambda: [F.array(F.lit(1.0), F.lit(2.0)), F.array(F.lit(2.0), F.lit(0.0))], 3.0),
    ("l2distance", lambda: [F.array(F.lit(0.0), F.lit(0.0)), F.array(F.lit(3.0), F.lit(4.0))], 5.0),
    # regex
    ("regexpextract", lambda: [F.lit("ab123cd"), r"(\d+)", 1], "123"),
    ("regexplike", lambda: [F.lit("hello"), "ell"], True),
    ("regexpreplace", lambda: [F.lit("a1b2"), r"\d", "#"], "a#b#"),
]


@pytest.mark.parametrize("name,args,expected", SCALAR_CASES, ids=[f"{i}_{c[0]}" for i, c in enumerate(SCALAR_CASES)])
def test_scalar_function(one, name, args, expected):
    got = ev(one, call(name, *args()))
    if expected is None:
        return  # existence/type check only
    if isinstance(expected, float):
        assert got == pytest.approx(expected, rel=1e-9)
    elif isinstance(expected, list):
        assert list(got) == expected
    else:
        assert got == expected


def test_cosine_distance(one):
    got = ev(one, call("cosinedistance", F.array(F.lit(1.0), F.lit(0.0)), F.array(F.lit(0.0), F.lit(1.0))))
    assert got == pytest.approx(1.0)


def test_registry_size():
    # the mapping table must stay broad: §2.8 families all present
    assert len(SCALAR_FUNCTIONS) >= 140
    assert len(AGG_FUNCTIONS) >= 45


AGG_CASES = [
    ("sum", lambda: ["v"], 10.0),
    ("min", lambda: ["v"], 1.0),
    ("max", lambda: ["v"], 4.0),
    ("avg", lambda: ["v"], 2.5),
    ("minmaxrange", lambda: ["v"], 3.0),
    ("distinctcount", lambda: ["g"], 2),
    ("distinctsum", lambda: ["v"], 10.0),
    ("percentile", lambda: ["v", 50], 2.5),
    ("median", lambda: ["v"], 2.5),
    ("varpop", lambda: ["v"], 1.25),
    ("stddevpop", lambda: ["v"], 1.1180339887),
    ("booland", lambda: [F.col("v") > 0], True),
    ("boolor", lambda: [F.col("v") > 3], True),
    ("listagg", lambda: ["g"], "a,a,b,b"),
    ("mode", lambda: ["g"], None),  # existence check (ties possible)
    ("fourthmoment", lambda: ["v"], 2.5625),
]


@pytest.mark.parametrize("name,args,expected", AGG_CASES, ids=[c[0] for c in AGG_CASES])
def test_agg_function(spark, name, args, expected):
    df = spark.createDataFrame(
        [(1.0, "a"), (2.0, "a"), (3.0, "b"), (4.0, "b")], ["v", "g"]
    )
    got = df.agg(agg_call(name, *args()).alias("r")).collect()[0]["r"]
    if expected is None:
        return
    if isinstance(expected, float):
        assert got == pytest.approx(expected, rel=1e-6)
    else:
        assert got == expected


def test_agg_mv_variants(spark):
    df = spark.createDataFrame([([1.0, 2.0],), ([3.0],)], ["arr"])
    out = df.agg(
        agg_call("countmv", "arr").alias("cnt"),
        agg_call("summv", "arr").alias("s"),
        agg_call("minmv", "arr").alias("mn"),
        agg_call("maxmv", "arr").alias("mx"),
        agg_call("avgmv", "arr").alias("av"),
    ).collect()[0]
    assert out["cnt"] == 3 and out["s"] == 6.0 and out["mn"] == 1.0 and out["mx"] == 3.0
    assert out["av"] == pytest.approx(2.0)


def test_agg_sumarray(spark):
    df = spark.createDataFrame([([1.0, 2.0],), ([3.0, 4.0],)], ["arr"])
    got = df.agg(agg_call("sumarraydouble", "arr").alias("r")).collect()[0]["r"]
    assert list(got) == [4.0, 6.0]


def test_firstlast_withtime(spark):
    df = spark.createDataFrame([(1, 10, "x"), (1, 20, "y")], ["k", "t", "v"])
    out = df.groupBy("k").agg(
        agg_call("lastwithtime", "v", "t").alias("last"),
        agg_call("firstwithtime", "v", "t").alias("first"),
    ).collect()[0]
    assert out["last"] == "y" and out["first"] == "x"


def test_ip_subnet(one):
    assert ev(one, call("isSubnetOf", F.lit("10.1.0.0/16"), F.lit("10.1.200.3"))) is True
    assert ev(one, call("isSubnetOf", F.lit("10.1.0.0/16"), F.lit("10.2.0.1"))) is False
    assert ev(one, call("isSubnetOf", F.lit("0.0.0.0/0"), F.lit("200.1.2.3"))) is True
    assert ev(one, call("isSubnetOf", F.lit("192.168.1.8/32"), F.lit("192.168.1.8"))) is True
    assert ev(one, call("ipv4ToLong", F.lit("0.0.1.0"))) == 256


def test_adler32_murmur2(one):
    import zlib

    assert ev(one, call("adler32", F.lit("hello"))) == zlib.adler32(b"hello")
    # Kafka reference value: murmur2("21".getBytes) with default seed = -973932308
    assert ev(one, call("murmur2", F.lit("21"))) == -973932308


def test_geohash_encode(one):
    # canonical example from the public geohash spec
    assert ev(one, call("encodeGeohash", F.lit(-5.6), F.lit(42.6), F.lit(5))) == "ezs42"
    assert ev(
        one, call("encodeGeohash", F.lit(-74.006), F.lit(40.7128), F.lit(7))
    ) == "dr5regw"
    # a NULL coordinate next to a value in one Arrow batch stays NULL
    df = one.sparkSession.createDataFrame([(-5.6,), (None,)], "lng double").coalesce(1)
    got = df.select(call("encodeGeohash", F.col("lng"), F.lit(42.6), F.lit(5)).alias("g"))
    assert [r.g for r in got.collect()] == ["ezs42", None]


def test_geo_points(one):
    assert ev(one, call("stPoint", F.lit(1.5), F.lit(-2.0))) == "POINT (1.5 -2.0)"
    p1 = call("stPoint", F.lit(0.0), F.lit(0.0))
    p2 = call("stPoint", F.lit(3.0), F.lit(4.0))
    assert ev(one, call("stDistance", p1, p2)) == 5.0
    assert ev(one, call("stX", p2)) == 3.0 and ev(one, call("stY", p2)) == 4.0
    # spherical quarter meridian = R*pi/2 ≈ 10,007.54 km
    q = call("stDistanceHaversine", call("stPoint", F.lit(0.0), F.lit(0.0)),
             call("stPoint", F.lit(0.0), F.lit(90.0)))
    assert abs(ev(one, q) - 10_007_543) < 1_000
    # the 3-arg (Pinot bytes) form: NULL coordinates next to a value
    # in one Arrow batch give NULL, not a POINT (NaN NaN)
    df = one.sparkSession.createDataFrame([(1.0, 2.0), (None, None)], "x double, y double")
    got = df.coalesce(1).select(
        call("stAsText", call("stPoint", F.col("x"), F.col("y"), F.lit(True))).alias("p")
    )
    assert [r.p for r in got.collect()] == ["POINT (1 2)", None]


def test_geo_polygon_ops(one):
    sq = "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))"
    assert ev(one, call("stContains", F.lit(sq), call("stPoint", F.lit(5.0), F.lit(5.0)))) is True
    assert ev(one, call("stContains", F.lit(sq), call("stPoint", F.lit(15.0), F.lit(5.0)))) is False
    assert ev(one, call("stWithin", call("stPoint", F.lit(1.0), F.lit(9.0)), F.lit(sq))) is True
    assert ev(one, call("stArea", F.lit(sq))) == 100.0
    tri = "POLYGON ((0 0, 4 0, 0 3, 0 0))"
    assert ev(one, call("stArea", F.lit(tri))) == 6.0


def test_geo_polygon_holes(one):
    """Even-odd ray casting with holes (StContainsFunction planar):
    a point inside the hole is outside the polygon; hole area subtracts."""
    donut = "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (4 4, 6 4, 6 6, 4 6, 4 4))"
    inside = call("stPoint", F.lit(2.0), F.lit(2.0))
    in_hole = call("stPoint", F.lit(5.0), F.lit(5.0))
    assert ev(one, call("stContains", F.lit(donut), inside)) is True
    assert ev(one, call("stContains", F.lit(donut), in_hole)) is False
    assert ev(one, call("stWithin", in_hole, F.lit(donut))) is False
    assert ev(one, call("stArea", F.lit(donut))) == 96.0  # 100 - 4


def test_geo_multipolygon(one):
    two = (
        "MULTIPOLYGON (((0 0, 2 0, 2 2, 0 2, 0 0)), "
        "((10 10, 14 10, 14 14, 10 14, 10 10), (11 11, 12 11, 12 12, 11 12, 11 11)))"
    )
    assert ev(one, call("stContains", F.lit(two), call("stPoint", F.lit(1.0), F.lit(1.0)))) is True
    assert ev(one, call("stContains", F.lit(two), call("stPoint", F.lit(12.5), F.lit(12.5)))) is True
    assert ev(one, call("stContains", F.lit(two), call("stPoint", F.lit(11.5), F.lit(11.5)))) is False
    assert ev(one, call("stContains", F.lit(two), call("stPoint", F.lit(5.0), F.lit(5.0)))) is False
    assert ev(one, call("stArea", F.lit(two))) == 4.0 + 16.0 - 1.0


def test_st_union_points_and_disjoint_polygons(one):
    # point ∪ point → MULTIPOINT (set union, sorted)
    u = ev(one, call("stUnion", F.lit("POINT (3 4)"), F.lit("POINT (1 2)")))
    assert u == "MULTIPOINT (1 2, 3 4)"
    assert ev(one, call("stUnion", F.lit("POINT (1 2)"), F.lit("POINT (1 2)"))) == "POINT (1 2)"
    # disjoint polygons → MULTIPOLYGON; area is additive
    a = "POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))"
    b = "POLYGON ((5 5, 7 5, 7 7, 5 7, 5 5))"
    u2 = ev(one, call("stUnion", F.lit(a), F.lit(b)))
    assert u2.startswith("MULTIPOLYGON")
    assert ev(one, call("stArea", call("stUnion", F.lit(a), F.lit(b)))) == 8.0


def test_st_union_overlapping_polygons(one):
    """Overlapping polygon union (exact overlay): area is the
    inclusion-exclusion value, containment matches in-A-or-in-B."""
    a = "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"
    b = "POLYGON ((2 2, 6 2, 6 6, 2 6, 2 2))"     # crosses a; overlap 2x2
    u = call("stUnion", F.lit(a), F.lit(b))
    pts = [(1, 1, True), (5, 5, True), (3, 3, True), (5, 1, False), (1.5, 5.5, False)]
    # containment: union of a and a contained polygon = the outer
    c = "POLYGON ((1 1, 2 1, 2 2.5, 1 2.5, 1 1))"
    # concave: L-shape u rect (analytic 20 + 16 - 7 = 29)
    L = "POLYGON ((0 0, 6 0, 6 2, 2 2, 2 6, 0 6, 0 0))"
    R = "POLYGON ((1 1, 5 1, 5 5, 1 5, 1 1))"
    row = one.select(
        call("stArea", u).alias("area"),
        *[
            call("stContains", u, call("stPoint", F.lit(float(px)), F.lit(float(py)), F.lit(False)))
            .alias(f"in{i}")
            for i, (px, py, _) in enumerate(pts)
        ],
        call("stArea", call("stUnion", F.lit(a), F.lit(c))).alias("area_ac"),
        call("stArea", call("stUnion", F.lit(L), F.lit(R))).alias("area_lr"),
    ).collect()[0]
    assert abs(row.area - (16 + 16 - 4)) < 1e-9
    for i, (px, py, want) in enumerate(pts):
        assert row[f"in{i}"] == want, (px, py)
    assert abs(row.area_ac - 16) < 1e-9
    assert abs(row.area_lr - 29) < 1e-9
    # every ring of the union is closed (first vertex == last)
    from pinot_spark.functions.pinot_geometry import parse_wkt

    sq = ev(one, call(
        "stUnion",
        F.lit("POLYGON ((0 0, 2 0, 2 2, 0 2, 0 0))"),
        F.lit("POLYGON ((1 1, 3 1, 3 3, 1 3, 1 1))"),
    ))
    kind, rings, _ = parse_wkt(sq)
    assert kind == "POLYGON" and all(r[0] == r[-1] for r in rings), sq


def test_st_union_degenerate_exact_overlay(one):
    """Exact degeneracy (shared edges / vertex-on-edge / collinear
    overlap) goes through the exact-rational overlay in
    functions/pinot_geometry.py."""
    from pinot_spark.functions.pinot_geometry import parse_wkt, planar_area

    a = "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"
    pairs = [
        # triangle with a vertex exactly ON a's bottom edge, crossing
        # into a: areas 16 + 8, overlap ∫₂⁴ 0.5(x−2) dx = 1 → union 23
        (a, "POLYGON ((2 0, 6 -2, 6 2, 2 0))"),
        # edge-sharing squares merge into ONE polygon (JTS semantics),
        # not a two-member MULTIPOLYGON
        ("POLYGON ((0 0, 0 1, 1 1, 1 0, 0 0))", "POLYGON ((1 0, 1 1, 2 1, 2 0, 1 0))"),
        # point-touching triangles stay a valid two-member MULTIPOLYGON
        ("POLYGON ((0 0, 2 0, 1 1, 0 0))", "POLYGON ((1 1, 2 2, 0 2, 1 1))"),
        # hole-bearing overlapping input: hole filled by the second polygon
        (
            "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (4 4, 6 4, 6 6, 4 6, 4 4))",
            "POLYGON ((3 3, 7 3, 7 7, 3 7, 3 3))",
        ),
    ]
    row = one.select(
        *[call("stUnion", F.lit(x), F.lit(y)).alias(f"u{i}") for i, (x, y) in enumerate(pairs)]
    ).collect()[0]
    u, u2, u3, u4 = (parse_wkt(row[f"u{i}"]) for i in range(4))
    assert planar_area(u) == 23.0
    assert u2[0] == "POLYGON" and planar_area(u2) == 2.0
    assert u3[0] == "MULTIPOLYGON" and planar_area(u3) == 2.0
    assert u4[0] == "POLYGON" and planar_area(u4) == 100.0


# One case list per geo name that both surfaces serve.  An argument is a
# column of ``geo_parity_t``, ``g:<col>`` for ST_GeomFromText(<col>), or
# an integer literal.  The flag marks a geometry output.
_GEO_PARITY_CASES = {
    "stpoint": [(["x", "y"], True), (["x", "y", 1], True)],
    "stpolygon": [(["poly"], True)],
    "stgeomfromtext": [(["poly"], True)],
    "stgeogfromtext": [(["pt"], True)],
    "stgeomfromwkb": [(["wkb"], True)],
    "stgeogfromwkb": [(["wkb"], True)],
    "stgeomfromgeojson": [(["gj"], True)],
    "stgeogfromgeojson": [(["gj"], True)],
    "stastext": [(["g:poly"], False)],
    "stasbinary": [(["g:poly"], False)],
    "stasgeojson": [(["g:poly"], False)],
    "stgeometrytype": [(["g:poly"], False), (["g:pt"], False)],
    "starea": [(["g:poly"], False)],
    "stx": [(["g:pt"], False)],
    "sty": [(["g:pt"], False)],
    "stdistance": [(["g:pt", "g:poly2"], False)],
    "stcontains": [(["g:poly", "g:pt"], False)],
    "stwithin": [(["g:pt", "g:poly"], False)],
    "stequals": [(["g:poly", "g:poly2"], False), (["g:poly", "g:poly"], False)],
    "geotoh3": [(["x", "y", 5], False), (["g:pt", 5], False)],
    "griddistance": [(["cell", "cell2"], False)],
    "griddisk": [(["cell", 1], False)],
}


def test_geo_column_and_sql_surfaces_agree(spark):
    """Every geo name the Column registry and FUNCTION_MAP both serve
    (``stunion`` is an aggregate in SQL) returns the same values on
    both surfaces, over one partition that holds a NULL row.  Geometry
    outputs are compared as ST_AsText of their Pinot-bytes form: the
    Column forms that return WKT text keep the input's ring order,
    where Pinot bytes orient shells clockwise."""
    from pinot_spark.dialect import FUNCTION_MAP, PinotEngine
    from pinot_spark.functions import geo_udfs
    from pinot_spark.functions.h3grid import geo_to_cell
    from pinot_spark.functions.wkb import wkt_to_geojson, wkt_to_wkb

    names = {
        n for n, f in SCALAR_FUNCTIONS.items() if f.__module__ == geo_udfs.__name__
    } & set(FUNCTION_MAP) - {"stunion"}
    assert names == set(_GEO_PARITY_CASES)

    sq = "POLYGON ((0 0, 4 0, 4 4, 0 4, 0 0))"
    rows = [
        (1, 1.5, 2.5, "POINT (1.5 2.5)", sq, "POLYGON ((4 0, 4 4, 0 4, 0 0, 4 0))",
         wkt_to_wkb(sq), wkt_to_geojson(sq), geo_to_cell(1.5, 2.5, 5), geo_to_cell(9.0, 9.0, 5)),
        (2, None, None, None, None, None, None, None, None, None),
        (3, 7.25, -3.0, "POINT (7.25 -3)", "POLYGON ((5 5, 6 5, 6 7, 5 5))",
         "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))", wkt_to_wkb("POINT (7.25 -3)"),
         wkt_to_geojson("POINT (7.25 -3)"), geo_to_cell(7.25, -3.0, 5), geo_to_cell(7.0, -3.0, 5)),
    ]
    spark.createDataFrame(
        rows,
        "id int, x double, y double, pt string, poly string, poly2 string, "
        "wkb binary, gj string, cell bigint, cell2 bigint",
    ).coalesce(1).createOrReplaceTempView("geo_parity_t")

    def col_arg(a):
        if isinstance(a, int):
            return F.lit(a)
        if a.startswith("g:"):
            return call("stgeomfromtext", F.col(a[2:]))
        return F.col(a)

    def sql_arg(a):
        if isinstance(a, int):
            return str(a)
        return f"STGEOMFROMTEXT({a[2:]})" if a.startswith("g:") else a

    cols, sqls = [], []
    for name in sorted(names):
        for i, (args, geom) in enumerate(_GEO_PARITY_CASES[name]):
            c = call(name, *map(col_arg, args))
            q = f"{name.upper()}({', '.join(map(sql_arg, args))})"
            if geom:
                c = call("stastext", call("stgeomfromtext", call("stastext", c)))
                q = f"STASTEXT(STGEOMFROMTEXT(STASTEXT({q})))"
            cols.append(c.alias(f"{name}_{i}"))
            sqls.append(f"{q} AS {name}_{i}")
    by_column = spark.table("geo_parity_t").select("id", *cols).orderBy("id").collect()
    by_sql = (
        PinotEngine(spark)
        .sql(f"SELECT id, {', '.join(sqls)} FROM geo_parity_t ORDER BY id")
        .collect()
    )
    assert [r.asDict() for r in by_column] == [r.asDict() for r in by_sql]
    assert by_column[1].asDict() == {k: (2 if k == "id" else None) for k in by_column[1].asDict()}


# One case list per aggregate name that both surfaces serve.  An argument
# is a column of ``agg_parity_t`` or a literal (a ``str`` in quotes is a
# string literal).  ``mv`` is a bigint MV array with NULL elements and
# NULL arrays, ``dmv`` a double one; ``tup`` holds integer-sum tuple
# sketches.
_D, _B, _MV, _DMV = ["d"], ["b"], ["mv"], ["dmv"]
_AGG_PARITY_CASES = {
    "sumint": [_B], "sumlong": [_B], "minlong": [_B, _D], "maxlong": [_B, _D],
    "minstring": [["s"], _B], "maxstring": [["s"]], "sumprecision": [_D, _B],
    "minmaxrange": [_D, _B], "anyvalue": [["g"]],
    "firstwithtime": [["s", "t", "'STRING'"]], "lastwithtime": [["d", "t", "'DOUBLE'"]],
    "exprmin": [["s", "t"]], "exprmax": [["b", "t"]],
    "distinctcount": [_B, ["s"]], "distinctcountbitmap": [_B],
    "distinctcountoffheap": [_B], "segmentpartitioneddistinctcount": [_B],
    "distinctsum": [_B, _D], "distinctavg": [_D],
    "distinctcounthll": [_B], "distinctcounthllplus": [_B], "distinctcountull": [_B],
    "distinctcountsmarthll": [_B], "distinctcountrawhll": [_B, ["s"]],
    "distinctcountrawhllplus": [_B, ["s"]], "distinctcountcpcsketch": [_B, ["s"]],
    "distinctcounttuplesketch": [["tup"]],
    "distinctcountrawthetasketch": [_B, ["b", "'nominalEntries=100'"]],
    "distinctcountthetasketch": [_B],
    "percentile": [["d", 50]], "percentileest": [["d", 90]],
    "percentiletdigest": [["d", 50]], "percentilekll": [["b", 25]],
    "percentilesmarttdigest": [["d", 50]], "percentilerawtdigest": [["d", 50]],
    "percentilerawkll": [["b", 50]], "percentilerawest": [["d", 50]],
    "fourthmoment": [_D], "arrayagg": [["d", "'DOUBLE'"]], "idset": [_B],
    "sumarraylong": [_MV], "sumarraydouble": [_DMV],
    "frequentstringssketch": [["s"]], "frequentlongssketch": [_B],
    "countmv": [_MV], "summv": [_MV, _DMV], "minmv": [_MV, _DMV], "maxmv": [_MV, _DMV],
    "avgmv": [_MV, _DMV], "minmaxrangemv": [_MV, _DMV],
    "distinctcountmv": [_MV, _DMV], "distinctcounthllmv": [_MV],
    "distinctsummv": [_MV, _DMV],
}


def test_aggregate_column_and_sql_surfaces_agree(spark):
    """Every aggregate name that AGG_FUNCTIONS and FUNCTION_MAP both
    serve gives, grouped over two groups, the same values (RAW sketches
    byte for byte) and the same Spark type as the SQL statement.
    Frequent-items sketches are compared parsed: their bytes may list
    items in another order.  ``stunion`` is left out: its Column form
    returns WKT text and its SQL form geometry bytes (see its
    docstring)."""
    from pinot_spark.dialect import FUNCTION_MAP, PinotEngine
    from pinot_spark.operators.ds_freq import DsFrequentSketch

    assert set(AGG_FUNCTIONS) & set(FUNCTION_MAP) - {"stunion"} == set(_AGG_PARITY_CASES)

    rows = [
        (
            i,
            "ab"[i % 2],
            None if i % 7 == 3 else i * 1.5,
            None if i % 5 == 4 else i * 3 % 17,
            None if i % 9 == 2 else f"s{i % 6}",
            None if i % 11 == 5 else 1000 + 37 * i % 40,
            None if i % 8 == 6 else [i % 4, None, i % 3] if i % 3 else [],
            None if i % 10 == 1 else [i * 0.5, (i % 5) * 1.0],
        )
        for i in range(40)
    ]
    df = (
        spark.createDataFrame(
            rows,
            "i int, g string, d double, b bigint, s string, t bigint, "
            "mv array<bigint>, dmv array<double>",
        )
        .withColumn("tup", call("tointegersumtuplesketch", F.col("s"), F.col("i")))
        .coalesce(1)
        .localCheckpoint()
    )
    df.createOrReplaceTempView("agg_parity_t")
    engine = PinotEngine(spark, null_default_tables=frozenset())

    def col_arg(a):
        if isinstance(a, str) and a.startswith("'"):
            return a.strip("'")
        return a

    def value(v, name):
        if name.startswith("frequent"):
            return DsFrequentSketch.parse(bytes(v), strings=name == "frequentstringssketch")
        return bytes(v) if isinstance(v, (bytes, bytearray)) else v

    def grouped(frame, name):
        rows = sorted(frame.collect(), key=lambda r: r.g)
        return [(r.g, value(r.v, name)) for r in rows], frame.schema["v"].dataType

    diffs = []
    for name, cases in sorted(_AGG_PARITY_CASES.items()):
        for args in cases:
            sql = engine.sql(
                f"SELECT g, {name.upper()}({', '.join(map(str, args))}) AS v "
                "FROM agg_parity_t GROUP BY g"
            )
            col = df.groupBy("g").agg(agg_call(name, *map(col_arg, args)).alias("v"))
            got, want = grouped(col, name), grouped(sql, name)
            if got != want:
                diffs.append((name, args, got, want))
    assert diffs == []


def test_rollup_string_argument_names_any_column(spark):
    """A str argument names a column whatever its spelling; only a
    ``key=value`` params string is a literal."""
    from pinot_spark.sources import IngestionPipeline

    df = spark.createDataFrame(
        [("a", 1, 2, 3), ("a", 2, 2, 3), ("b", 3, 4, 4)], ["k", "user-id", "a b", "1col"]
    )
    rollup = IngestionPipeline(rollup=(["k"], {
        "users": ("distinctcount", "user-id"),
        "spaced": ("distinctcount", "a b"),
        "digit": ("distinctcountthetasketch", "1col"),
    }))
    rows = {r["k"]: (r["users"], r["spaced"], r["digit"]) for r in rollup.apply(df).collect()}
    assert rows == {"a": (2, 1, 1), "b": (1, 1, 1)}
    raw = df.agg(agg_call("distinctcountrawthetasketch", "user-id", "nominalEntries=16").alias("r"))
    assert raw.schema["r"].dataType.simpleString() == "binary"


def test_sumarray_rejects_a_width(spark):
    """SUMARRAY takes the array alone, as in Pinot: a width argument
    would be ignored, so it fails instead."""
    with pytest.raises(TypeError, match="sum_array_grouped"):
        agg_call("sumArrayDouble", "arr", 4)


def test_column_stunion_rejects_non_points(spark):
    """Column STUNION folds POINT WKT only: a polygon row fails the query
    instead of vanishing from the MULTIPOINT."""
    df = spark.createDataFrame(
        [("POLYGON ((0 0, 0 1, 1 1, 1 0, 0 0))",), ("POINT (1 2)",), (None,)], "w string"
    )
    with pytest.raises(Exception, match="operators/geo.st_union_geoms"):
        df.agg(agg_call("stUnion", "w")).collect()
    points = df.filter(F.col("w").startswith("POINT") | F.col("w").isNull())
    assert points.agg(agg_call("stUnion", "w").alias("u")).collect()[0].u == "MULTIPOINT ((1 2))"


def test_datetime_convert_column(one):
    # 2024-01-02T03:00:00Z epoch millis → epoch days and back to a string
    ms = 1704164400000
    assert ev(one, call("dateTimeConvert", F.lit(ms),
                        "1:MILLISECONDS:EPOCH", "1:DAYS:EPOCH", "1:DAYS")) == 19724
    assert ev(one, call("dateTimeConvert", F.lit(ms),
                        "1:MILLISECONDS:EPOCH", "1:HOURS:EPOCH", "1:HOURS")) == ms // 3600000
    s = ev(one, call("dateTimeConvert", F.lit(ms), "1:MILLISECONDS:EPOCH",
                     "1:MILLISECONDS:SIMPLE_DATE_FORMAT:yyyy-MM-dd HH", "1:HOURS"))
    assert s == "2024-01-02 03"
