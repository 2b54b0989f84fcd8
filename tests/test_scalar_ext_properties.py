"""Property tests for the extended scalar surface: round-trips and
invariants that hold for arbitrary inputs (hypothesis-driven, evaluated
in one Spark pass per property)."""

from __future__ import annotations

import pyspark.sql.functions as F
from hypothesis import given, settings, strategies as st

from pinot_spark.functions.scalar import call


def _eval(spark, cols: dict):
    row = spark.range(1).select(*[v.alias(k) for k, v in cols.items()]).collect()[0]
    return row


@settings(max_examples=20, deadline=None)
@given(ms=st.integers(min_value=0, max_value=4_102_444_800_000))  # 1970..2100
def test_iso8601_roundtrip(spark, ms):
    row = _eval(spark, {"back": call("fromIso8601", call("toIso8601", F.lit(ms)))})
    assert row.back == ms


@settings(max_examples=20, deadline=None)
@given(
    ms=st.integers(min_value=0, max_value=4_102_444_800_000),
    bucket=st.integers(min_value=1, max_value=10),
)
def test_epoch_bucket_floor_invariant(spark, ms, bucket):
    row = _eval(
        spark,
        {
            "b": call("toEpochDaysBucket", F.lit(ms), F.lit(bucket)),
            "d": call("toEpochDays", F.timestamp_millis(F.lit(ms))),
        },
    )
    assert row.b == row.d // bucket


@settings(max_examples=20, deadline=None)
@given(s=st.text(alphabet="abcxyz", min_size=0, max_size=12),
       sub=st.text(alphabet="abc", min_size=1, max_size=3))
def test_strpos_strrpos_match_python(spark, s, sub):
    row = _eval(
        spark,
        {"first": call("strpos", F.lit(s), F.lit(sub)),
         "last": call("strrpos", F.lit(s), F.lit(sub))},
    )
    assert row.first == s.find(sub)
    assert row.last == s.rfind(sub)


@settings(max_examples=15, deadline=None)
@given(v=st.text(min_size=0, max_size=30))
def test_hash_determinism_and_width(spark, v):
    from pinot_spark.functions.scalar_ext import (
        _crc32c, _fnv, _murmur2_64a, _murmur3_x86_32, _murmur3_x64_128,
    )

    b = v.encode("utf-8")
    assert 0 <= _murmur3_x86_32(b) < 2**32
    assert 0 <= _crc32c(b) < 2**32
    assert 0 <= _fnv(b, 64, "1a") < 2**64
    assert 0 <= _murmur2_64a(b) < 2**64
    h1, h2 = _murmur3_x64_128(b)
    assert 0 <= h1 < 2**64 and 0 <= h2 < 2**64
    # determinism
    assert _murmur3_x64_128(b) == (h1, h2)


@settings(max_examples=15, deadline=None)
@given(vals=st.lists(st.integers(min_value=-100, max_value=100), min_size=1, max_size=8),
       v=st.integers(min_value=-100, max_value=100))
def test_array_pushback_elementat_0based(spark, vals, v):
    arr = F.array(*[F.lit(x) for x in vals])
    row = _eval(
        spark,
        {"pushed": call("arrayPushBackInt", arr, F.lit(v)),
         "first": call("arrayElementAtInt", arr, F.lit(0)),
         "idx": call("arrayIndexOfInt", arr, F.lit(vals[0]))},
    )
    assert row.pushed == vals + [v]
    assert row.first == vals[0]
    assert row.idx == 0  # first occurrence, 0-based


# --- polygon-with-holes property tests (pure ring math, no Spark) ----------

from hypothesis import assume

from pinot_spark.functions import pinot_geometry as pg


@given(
    x0=st.floats(-100, 100), y0=st.floats(-100, 100),
    w=st.floats(4, 50), h=st.floats(4, 50),
    px=st.floats(-160, 160), py=st.floats(-160, 160),
)
@settings(max_examples=200, deadline=None)
def test_rect_with_hole_containment_property(x0, y0, w, h, px, py):
    """Donut = rect shell with centered rect hole: containment must equal
    the analytic predicate (in shell AND NOT in hole); area must equal
    shell - hole exactly (shoelace is exact for axis-aligned rects)."""
    hx0, hx1 = x0 + w / 4, x0 + 3 * w / 4
    hy0, hy1 = y0 + h / 4, y0 + 3 * h / 4
    wkt = (
        f"POLYGON (({x0} {y0}, {x0 + w} {y0}, {x0 + w} {y0 + h}, {x0} {y0 + h}, {x0} {y0}), "
        f"({hx0} {hy0}, {hx1} {hy0}, {hx1} {hy1}, {hx0} {hy1}, {hx0} {hy0}))"
    )
    poly = pg.parse_wkt(wkt)
    assert poly[0] == "POLYGON" and len(poly[1]) == 2
    # keep clear of ring boundaries — edge behavior is unspecified
    eps = 1e-6
    near = (
        min(abs(px - v) for v in (x0, x0 + w, hx0, hx1)) < eps
        or min(abs(py - v) for v in (y0, y0 + h, hy0, hy1)) < eps
    )
    assume(not near)
    in_shell = x0 < px < x0 + w and y0 < py < y0 + h
    in_hole = hx0 < px < hx1 and hy0 < py < hy1
    assert pg.contains(poly, ("POINT", (px, py), False)) == (in_shell and not in_hole)
    expected_area = w * h - (hx1 - hx0) * (hy1 - hy0)
    assert abs(pg.planar_area(poly) - expected_area) <= 1e-6 * max(1.0, expected_area)


# ---------------------------------------------------------------------------
# Round-15 text-pipeline operators: property tests (driver-side Column
# evaluation through a 1-row DataFrame is slow under hypothesis, so the
# properties evaluate the SAME expressions via spark.sql on literals).
# ---------------------------------------------------------------------------


@given(st.text(max_size=300))
@settings(max_examples=15, deadline=None)
def test_gopher_flags_total_on_arbitrary_text(spark, text):
    """gopher_c4_flags never crashes and always yields a full row of
    booleans + a keep verdict consistent with its conjuncts, for ANY
    unicode input."""
    from pinot_spark.operators.text import gopher_c4_flags

    df = spark.createDataFrame([(text,)], "text string")
    row = gopher_c4_flags(df, "text").first().asDict()
    rules = [v for k, v in row.items()
             if k.startswith("qf_") and isinstance(v, bool) and k != "qf_keep"]
    assert row["qf_keep"] == all(rules)
    assert row["qf_n_words"] >= 0
    assert row["qf_mean_word_len"] >= 0.0


@given(st.text(max_size=200))
@settings(max_examples=15, deadline=None)
def test_classifier_score_bounded_on_arbitrary_text(spark, text):
    """classifier_score stays strictly inside (0, 1) — 0.5 exactly for
    token-free input — for ANY unicode input."""
    from pinot_spark.operators.text import classifier_score

    df = spark.createDataFrame([(text,)], "text string")
    s = classifier_score(df, "text").first().quality_score
    assert 0.0 < s < 1.0
    import re as _re

    if not _re.findall(r"[a-z0-9]+", text.lower()):
        assert s == 0.5
