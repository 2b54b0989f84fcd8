"""Scalar sketch constructors / set operations — the SketchFunctions
surface (reference pinot-core/src/main/java/org/apache/pinot/core/
function/scalar/SketchFunctions.java): toThetaSketch,
thetaSketchToString, toIntegerSumTupleSketch, the int{Sum,Min,Max}
tuple-sketch union/intersect/diff family, getIntTupleSketchEstimate,
avgReduce, and the geometry/geography converters.

Wire formats are ENGINE-OWN (operators/theta.py ThetaSketch for theta;
TupleSketch below adds a parallel int64 summary array) — mergeable and
self-consistent, not DataSketches-binary-compatible (COVERAGE.md Known
gaps). Values are hashed JVM-side with xxhash64 before the Arrow-batched
serializer UDF, so the sketch content matches operators/theta.theta_sketch.

The HLL family additionally gets TRUE wire interop (round 10,
operators/cs_hll.py — clearspring stream-lib, the library the reference
actually serializes): cs_hll_single_series / cs_hllpp_single_series
emit byte-canonical foreign payloads, cs_hll_estimate_series
auto-detects clearspring plain/plus vs engine-own bytes, and
hll_union_series merges within a hash domain (mixed domains raise
loudly).  The CPC family is FULL wire interop since round 11
(operators/ds_cpc.py: build/compress/parse/union, byte-canonical);
ULL (hash4j) byte constructors still raise loudly by name — the
hash4j jar is absent, so parity would be unverifiable.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

import numpy as np
import pandas as _pd
import pyspark.sql.functions as F

from pinot_spark.functions.scalar import _c, _lazy_udf, _reg
from pyspark.sql.functions import pandas_udf as _pandas_udf

_DEFAULT_K = 4096  # 2^DEFAULT_TUPLE_SKETCH_LGK (CommonConstants 16 → 65536 is
# the reference tuple default; 4096 matches our theta default — engine-own
# formats use one K so theta and tuple sketches stay mutually consistent)


def _join_u64(hi, lo) -> int:
    """The order-preserving unsigned hash from the 32-bit halves of a
    signed xxhash64 (``hi`` shifted unsigned)."""
    return ((int(hi) << 32) | int(lo)) ^ (1 << 63)


@dataclass
class TupleSketch:
    """KMV theta sketch with a parallel int64 summary per retained hash
    (the IntegerSummary tuple sketch analog). ``mode`` decides how
    duplicate keys combine: sum / min / max."""

    k: int
    theta_u64: int
    hashes: np.ndarray  # sorted uint64
    values: np.ndarray  # int64, parallel to hashes

    @classmethod
    def singleton(cls, k: int, h_u64: int, value: int) -> "TupleSketch":
        return cls(
            k, 2**64,
            np.array([h_u64], dtype=np.uint64),
            np.array([value], dtype=np.int64),
        )

    @classmethod
    def empty(cls, k: int = _DEFAULT_K) -> "TupleSketch":
        return cls(k, 2**64, np.array([], dtype=np.uint64), np.array([], dtype=np.int64))

    def estimate(self) -> float:
        if self.theta_u64 >= 2**64:
            return float(len(self.hashes))
        return len(self.hashes) / (self.theta_u64 / float(2**64))

    def _combine(self, other: "TupleSketch", keep, mode) -> "TupleSketch":
        th = min(self.theta_u64, other.theta_u64)
        merged: dict[int, int] = {}
        for h, v in zip(self.hashes.tolist(), self.values.tolist()):
            merged[h] = v
        for h, v in zip(other.hashes.tolist(), other.values.tolist()):
            merged[h] = mode(merged[h], v) if h in merged else v
        in_a = set(self.hashes.tolist())
        in_b = set(other.hashes.tolist())
        hs = sorted(h for h in merged if h < th and keep(h in in_a, h in in_b))
        if len(hs) > self.k:
            th = hs[self.k]
            hs = hs[: self.k]
        return TupleSketch(
            self.k, th,
            np.array(hs, dtype=np.uint64),
            np.array([merged[h] for h in hs], dtype=np.int64),
        )

    def union(self, other: "TupleSketch", mode) -> "TupleSketch":
        return self._combine(other, lambda a, b: True, mode)

    def intersect(self, other: "TupleSketch", mode) -> "TupleSketch":
        return self._combine(other, lambda a, b: a and b, mode)

    def a_not_b(self, other: "TupleSketch") -> "TupleSketch":
        return self._combine(other, lambda a, b: a and not b, lambda x, y: x)

    def to_bytes(self) -> bytes:
        th = self.theta_u64 if self.theta_u64 < 2**64 else 0
        return (
            struct.pack("<iQi", self.k, th, len(self.hashes))
            + self.hashes.astype("<u8").tobytes()
            + self.values.astype("<i8").tobytes()
        )

    @classmethod
    def from_bytes(cls, b: bytes) -> "TupleSketch":
        k, th, n = struct.unpack("<iQi", b[:16])
        hashes = np.frombuffer(b[16 : 16 + 8 * n], dtype="<u8").copy()
        values = np.frombuffer(b[16 + 8 * n : 16 + 16 * n], dtype="<i8").copy()
        return cls(k, th if th != 0 else 2**64, hashes, values)


_MODES = {"sum": lambda a, b: a + b, "min": min, "max": max}


# --- theta singleton / to-string ------------------------------------------


def theta_singleton_series(
    hi: _pd.Series, lo: _pd.Series, k: _pd.Series
) -> _pd.Series:
    """One engine-own theta sketch per row: a singleton, or empty for a
    NULL value.  The NULL-masked xxhash64 arrives as 32-bit halves — a
    nullable BIGINT reaches pandas as float64 when a NULL shares the
    Arrow batch, which cannot hold a 64-bit hash; each half can."""
    from pinot_spark.operators.theta import ThetaSketch

    kk = int(k.iloc[0]) if len(k) else _DEFAULT_K
    return _pd.Series(
        [
            ThetaSketch(
                kk, 2**64,
                np.array([] if _pd.isna(h) else [_join_u64(h, l)], dtype=np.uint64),
            ).to_bytes()
            for h, l in zip(hi, lo)
        ]
    )


def _make_theta_to_string():
    from pinot_spark.operators.theta import ThetaSketch

    @_pandas_udf("string")
    def _f(b: _pd.Series) -> _pd.Series:
        from pinot_spark.operators.ds_theta import DsThetaSketch, is_ds_theta_bytes

        def fmt(x):
            if x is None:
                return None
            if is_ds_theta_bytes(bytes(x)):
                return DsThetaSketch.parse(bytes(x)).to_string()
            s = ThetaSketch.from_bytes(bytes(x))
            return (
                f"ThetaSketch(k={s.k}, theta={s.theta:.6f}, "
                f"retained={len(s.hashes)}, estimate={s.estimate():.1f})"
            )

        return b.map(fmt)

    return _f


def ds_theta_single_series(
    v: "_pd.Series", type_name: "str | None" = None
) -> "_pd.Series":
    """Single-item DataSketches-format sketches for a value Series (the
    shared body behind both the registry UDF and the SQL
    ``__ds_theta_single``).

    ``type_name`` is the Spark column type (via ``typeof``): for a true
    DOUBLE/FLOAT column, Java DataSketches update(double) hashes
    Double.doubleToLongBits(d) for ALL values — including integral ones
    — so 2.0 must NOT collapse to update(long 2). Without the type flag
    (None) integral floats keep the long shortcut, which is right for
    nullable int columns riding through pandas as float64. Residual
    ambiguity: a pandas NaN in a double column is indistinguishable from
    NULL, so NaN maps to the empty sketch while Java would hash the
    canonical NaN bits."""
    import numpy as _np

    from pinot_spark.operators.ds_theta import (
        DsThetaSketch,
        update_hash_bytes,
        update_hash_long,
    )

    is_double_col = type_name in ("double", "float")

    def one(x):
        if x is None or (isinstance(x, float) and _np.isnan(x)):
            return DsThetaSketch.empty().serialize()
        if is_double_col and isinstance(x, (int, float, _np.integer, _np.floating)):
            d = float(x)
            if d == 0.0:
                d = 0.0  # Java canonicalizes -0.0 to +0.0 before bits
            h = update_hash_long(int(_np.float64(d).view(_np.int64)))
        elif isinstance(x, (int, _np.integer)):
            h = update_hash_long(int(x))
        elif isinstance(x, (float, _np.floating)):
            # a nullable int column reaches pandas as float64: integral
            # values hash as longs (the Java update(long) domain);
            # true doubles hash their canonical IEEE bit pattern
            # (DataSketches update(double))
            if float(x).is_integer():
                h = update_hash_long(int(x))
            else:
                bits = int(_np.float64(x).view(_np.int64))
                h = update_hash_long(bits)
        else:
            b = bytes(x) if isinstance(x, (bytes, bytearray)) else str(x).encode()
            if not b:
                return DsThetaSketch.empty().serialize()
            h = update_hash_bytes(b)
        return DsThetaSketch(
            (1 << 63) - 1, _np.array([h], dtype=_np.uint64)
        ).serialize()

    return _pd.Series([one(x) for x in v])


def ds_tuple_single_series(k: "_pd.Series", v: "_pd.Series") -> "_pd.Series":
    """Single-item DataSketches integer-tuple sketches for (key, value)
    Series — shared body for the registry UDF and SQL __ds_tuple_single."""
    import numpy as _np

    from pinot_spark.operators.ds_theta import DsTupleSketch

    def one(key, val):
        if (
            key is None
            or val is None
            or (isinstance(key, float) and _np.isnan(key))
            or (isinstance(val, float) and _np.isnan(val))
        ):
            return DsTupleSketch.empty().serialize()
        if isinstance(key, float) and float(key).is_integer():
            key = int(key)
        return DsTupleSketch.build_from_pairs([key], [int(val)]).serialize()

    return _pd.Series([one(a, b) for a, b in zip(k, v)])


def _make_ds_tuple_single():
    @_pandas_udf("binary")
    def _f(k: _pd.Series, v: _pd.Series) -> _pd.Series:
        return ds_tuple_single_series(k, v)

    return _f


# engine extension: single-item integer-tuple sketch in the DataSketches
# wire format (tuple family 9, Sum mode) — for exchanging value-carrying
# sketches with a real Pinot/DataSketches deployment
_reg("todatasketchestuple")(
    lambda k, v: _lazy_udf("ds_tuple_single", _make_ds_tuple_single)(_c(k), _c(v))
)


def _make_ds_theta_single():
    @_pandas_udf("binary")
    def _f(v: _pd.Series, t: _pd.Series) -> _pd.Series:
        return ds_theta_single_series(v, str(t.iloc[0]) if len(t) else None)

    return _f


# engine extension: single-item sketch in the DataSketches COMPACT wire
# format + murmur-9001 update-hash domain (operators/ds_theta.py) — the
# byte-level twin of the reference's toThetaSketch output
# (SketchFunctions.java:98-106), for exchanging sketches with a real
# Pinot/DataSketches deployment. The engine-own toThetaSketch stays the
# fast xxhash64 path; the two domains never mix (consumers auto-detect
# and raise on a mixed pair).
_reg("todatasketchestheta")(
    lambda v: _lazy_udf("ds_theta_single", _make_ds_theta_single)(
        _c(v), F.typeof(_c(v))
    )
)


def _hash_halves(col):
    # xxhash64(NULL) returns the seed, not NULL — mask it so NULL inputs
    # become EMPTY sketches (reference nullableParameters behavior); the
    # hash travels as 32-bit halves (theta_singleton_series)
    c = _c(col)
    h = F.when(c.isNull(), F.lit(None).cast("long")).otherwise(F.xxhash64(c))
    return F.shiftrightunsigned(h, 32), h.bitwiseAND(F.lit(0xFFFFFFFF))


# reference: toThetaSketch(value[, nominalEntries]) — a singleton (or
# empty, for NULL input) serialized sketch for pre-aggregated ingest
_reg("tothetasketch")(
    lambda v, k=_DEFAULT_K: _lazy_udf(
        "theta_singleton", lambda: _pandas_udf(theta_singleton_series, "binary")
    )(*_hash_halves(v), F.lit(int(k)))
)
_reg("thetasketchtostring")(
    lambda b: _lazy_udf("theta_to_string", _make_theta_to_string)(_c(b))
)


# --- integer tuple sketch family ------------------------------------------


def tuple_singleton_series(
    hi: _pd.Series, lo: _pd.Series, vhi: _pd.Series, vlo: _pd.Series,
    k: _pd.Series,
) -> _pd.Series:
    """One integer-sum tuple sketch per row: a singleton, or empty when
    the key or the value is NULL.  Hash and value both arrive as 32-bit
    halves (theta_singleton_series); the value's high half is signed."""
    kk = int(k.iloc[0]) if len(k) else _DEFAULT_K
    return _pd.Series(
        [
            TupleSketch.empty(kk).to_bytes()
            if _pd.isna(h) or _pd.isna(vh)
            else TupleSketch.singleton(
                kk, _join_u64(h, l), (int(vh) << 32) | int(vl)
            ).to_bytes()
            for h, l, vh, vl in zip(hi, lo, vhi, vlo)
        ]
    )


def _make_tuple_binop(op: str, mode: str):
    combine = _MODES[mode]

    @_pandas_udf("binary")
    def _f(a: _pd.Series, b: _pd.Series) -> _pd.Series:
        def run(x, y):
            if x is None or y is None:
                return None
            sa, sb = TupleSketch.from_bytes(bytes(x)), TupleSketch.from_bytes(bytes(y))
            return getattr(sa, op)(sb, mode=combine).to_bytes() if op != "a_not_b" else sa.a_not_b(sb).to_bytes()

        return _pd.Series([run(x, y) for x, y in zip(a, b)])

    return _f


def _make_tuple_estimate():
    @_pandas_udf("bigint")
    def _f(b: _pd.Series) -> _pd.Series:
        return _pd.Series(
            [None if x is None else round(TupleSketch.from_bytes(bytes(x)).estimate()) for x in b],
            dtype="Int64",
        )

    return _f


def _tuple_singleton(key, value, lg_k=None):
    k = _DEFAULT_K if lg_k is None else 2 ** int(lg_k)
    v = _c(value).cast("long")
    return _lazy_udf(
        "tuple_singleton", lambda: _pandas_udf(tuple_singleton_series, "binary")
    )(
        *_hash_halves(key), F.shiftright(v, 32), v.bitwiseAND(F.lit(0xFFFFFFFF)),
        F.lit(int(k)),
    )


_reg("tointegersumtuplesketch")(_tuple_singleton)

for _mode in ("sum", "min", "max"):
    _reg(f"int{_mode}tuplesketchunion")(
        lambda a, b, _m=_mode: _lazy_udf(
            f"tuple_union_{_m}", lambda _m=_m: _make_tuple_binop("union", _m)
        )(_c(a), _c(b))
    )
    _reg(f"int{_mode}tuplesketchintersect")(
        lambda a, b, _m=_mode: _lazy_udf(
            f"tuple_intersect_{_m}", lambda _m=_m: _make_tuple_binop("intersect", _m)
        )(_c(a), _c(b))
    )
_reg("intsumtuplesketchdiff")(
    lambda a, b: _lazy_udf("tuple_diff", lambda: _make_tuple_binop("a_not_b", "sum"))(
        _c(a), _c(b)
    )
)
_reg("getinttuplesketchestimate")(
    lambda b: _lazy_udf("tuple_estimate", _make_tuple_estimate)(_c(b))
)


# --- avgReduce (InternalReduceFunctions.java:34) --------------------------

_reg("avgreduce")(
    lambda s, c: F.when(
        _c(c).isNull() | (_c(c) == 0) | _c(s).isNull(), F.lit(None).cast("double")
    ).otherwise(_c(s).cast("double") / _c(c))
)


# --- geometry/geography converters ----------------------------------------
# The engine keeps ONE WKB representation for both (functions/wkb.py);
# the reference tags a geography bit in its own serialization
# (geospatial ScalarFunctions.java:137-152). Planar-vs-spherical choice
# here is per-function, so the converters are identities on WKB.

_reg("togeometry")(lambda b: _c(b))
_reg("tosphericalgeography")(lambda b: _c(b))


# --- DataSketches register formats: loud boundary --------------------------


def _wire_gap(name: str):
    def f(*_a, **_k):
        raise NotImplementedError(
            f"{name}: DataSketches HLL/ULL/CPC register wire formats are a "
            "documented gap (COVERAGE.md Known gaps) — use "
            "DISTINCTCOUNTHLL/approx_count_distinct for estimates, or the "
            "engine-own theta/tuple sketch bytes for mergeable state"
        )

    return f


for _n in ("toull", "fromull", "cpcsketchtostring"):
    _reg(_n)(_wire_gap(_n))


# --- DataSketches CPC write/read/union (round 11, operators/ds_cpc.py) ----


def _make_ds_cpc_single():
    @_pandas_udf("binary")
    def _f(v: _pd.Series, t: _pd.Series, lgk: _pd.Series) -> _pd.Series:
        return ds_cpc_single_series(
            v,
            str(t.iloc[0]) if len(t) else None,
            int(lgk.iloc[0]) if len(lgk) else 12,
        )

    return _f


def _make_ds_cpc_estimate():
    @_pandas_udf("bigint")
    def _f(b: _pd.Series) -> _pd.Series:
        import math as _math

        from pinot_spark.operators.ds_cpc import DsCpcView

        return _pd.Series(
            [
                None
                if x is None
                else int(_math.floor(DsCpcView.parse(bytes(x)).estimate() + 0.5))
                for x in b
            ],
            dtype="Int64",
        )

    return _f


def _make_ds_cpc_union2():
    @_pandas_udf("binary")
    def _f(a: _pd.Series, b: _pd.Series) -> _pd.Series:
        return ds_cpc_union_series(
            _pd.Series([[x, y] for x, y in zip(a, b)])
        )

    return _f


# byte-identical to SketchFunctions.toCpcSketch / cpcSketchUnion /
# getCpcSketchEstimate (lgK 12 default; union downsamples per CpcUnion)
_reg("tocpcsketch")(
    lambda v, lgk=None: _lazy_udf("ds_cpc_single", _make_ds_cpc_single)(
        _c(v), F.typeof(_c(v)),
        F.lit(int(lgk) if lgk is not None else 12),
    )
)
_reg("getcpcsketchestimate")(
    lambda b: _lazy_udf("ds_cpc_estimate", _make_ds_cpc_estimate)(_c(b))
)
_reg("cpcsketchunion")(
    lambda a, b: _lazy_udf("ds_cpc_union2", _make_ds_cpc_union2)(_c(a), _c(b))
)


# --- TOHLL: clearspring singleton (operators/cs_hll.py) -------------------


def _make_cs_hll_single_udf():
    @_pandas_udf("binary")
    def _f(v: _pd.Series, t: _pd.Series, log2m: _pd.Series) -> _pd.Series:
        return cs_hll_single_series(
            v,
            str(t.iloc[0]) if len(t) else None,
            int(log2m.iloc[0]) if len(log2m) else 8,
        )

    return _f


# reference toHLL(value[, log2m]) (SketchFunctions.java:139-162): a
# singleton (or empty, for NULL) serialized HLL for pre-aggregated
# ingest — since round 11 these are the reference's ACTUAL clearspring
# stream-lib bytes (default log2m 8, CommonConstants), mergeable with
# the clearspring-routed DISTINCTCOUNTRAWHLL output
_reg("tohll")(
    lambda v, log2m=None: _lazy_udf("cs_hll_single", _make_cs_hll_single_udf)(
        _c(v), F.typeof(_c(v)),
        F.lit(int(log2m) if log2m is not None else 8),
    )
)


# ---------------------------------------------------------------------------
# clearspring (stream-lib) HLL / HLL++ wire-format interop
# (operators/cs_hll.py) — the formats a real reference cluster ships for
# its HLL family (ObjectSerDeUtils.HYPER_LOG_LOG_SER_DE /
# HYPER_LOG_LOG_PLUS_SER_DE; SketchFunctions.toHLL builds exactly these
# bytes).  Engine-own blobs (operators/hll.py, xxhash64 domain) are
# still read — consumers auto-detect the format per argument and
# refuse cross-domain unions loudly.
# ---------------------------------------------------------------------------


def cs_hll_single_series(
    v: "_pd.Series", type_name: "str | None", log2m: int
) -> "_pd.Series":
    """Singleton clearspring HyperLogLog bytes per value — byte-identical
    to the reference's ``toHLL(value, log2m)`` (SketchFunctions.java:
    139-162).  ``type_name`` (Spark ``typeof``) picks the stream-lib
    MurmurHash.hash(Object) branch: numerics hash long/IEEE bits, so a
    true DOUBLE column must hash doubleToLongBits even for integral
    values, while a nullable int column riding through pandas as float64
    keeps the long branch; FLOAT hashes floatToIntBits (NOT the widened
    double)."""
    import struct as _struct

    from pinot_spark.operators.cs_hll import CsHll, hash32_bytes, hash32_long

    is_double_col = type_name == "double"
    is_float_col = type_name == "float"

    def one(x):
        s = CsHll.empty(log2m)
        if x is None or (isinstance(x, float) and np.isnan(x)):
            return s.serialize()
        if is_float_col and isinstance(x, (int, float, np.integer, np.floating)):
            bits = _struct.unpack("<i", _struct.pack("<f", float(x)))[0]
            s.offer_hash32(hash32_long(bits))
        elif is_double_col and isinstance(x, (int, float, np.integer, np.floating)):
            bits = _struct.unpack("<q", _struct.pack("<d", float(x)))[0]
            s.offer_hash32(hash32_long(bits))
        elif isinstance(x, (int, np.integer)):
            s.offer_hash32(hash32_long(int(x)))
        elif isinstance(x, (float, np.floating)):
            if float(x).is_integer():
                s.offer_hash32(hash32_long(int(x)))
            else:
                bits = _struct.unpack("<q", _struct.pack("<d", float(x)))[0]
                s.offer_hash32(hash32_long(bits))
        elif isinstance(x, (bytes, bytearray)):
            s.offer_hash32(hash32_bytes(bytes(x)))
        else:
            s.offer_hash32(hash32_bytes(str(x).encode("utf-8")))
        return s.serialize()

    return _pd.Series([one(x) for x in v])


def cs_hllpp_single_series(
    v: "_pd.Series", type_name: "str | None", p: int, sp: int
) -> "_pd.Series":
    """Singleton clearspring HyperLogLogPlus bytes per value.  stream-lib
    hash64(Object) has NO numeric branch — every number hashes its Java
    ``toString()`` bytes (pinned by probes), so a nullable int column's
    integral float64 values format as Java longs, true doubles as Java
    Double.toString."""
    from pinot_spark.operators.cs_hll import CsHllPlus, _java_float_str

    is_double_col = type_name == "double"
    is_float_col = type_name == "float"

    def one(x):
        s = CsHllPlus.empty(p, sp)
        if x is None or (isinstance(x, float) and np.isnan(x)):
            return s.serialize()
        if is_float_col and isinstance(x, (int, float, np.integer, np.floating)):
            # Java hashes Float.toString() — shortest round-trip at
            # FLOAT32 precision, not the widened double's digits.
            # Offering the formatted string hashes identical bytes.
            x = _java_float_str(float(x))
        elif isinstance(x, (float, np.floating)) and not is_double_col:
            # nullable int through pandas float64 → Java Long.toString
            if float(x).is_integer():
                x = int(x)
        elif isinstance(x, (int, np.integer)) and is_double_col:
            x = float(x)
        s.offer(x)
        return s.serialize()

    return _pd.Series([one(x) for x in v])


def _load_any_hll(b: bytes):
    """(domain, sketch) for any HLL payload: clearspring HLL++
    ('cspp'), clearspring plain ('cs'), engine-own ('own')."""
    from pinot_spark.operators.cs_hll import (
        CsHll,
        CsHllPlus,
        is_cs_hll_bytes,
        is_cs_hllpp_bytes,
    )
    from pinot_spark.operators.hll import HllSketch

    if is_cs_hllpp_bytes(b):
        return "cspp", CsHllPlus.parse(b)
    if is_cs_hll_bytes(b):
        return "cs", CsHll.parse(b)
    return "own", HllSketch.from_bytes(b)


def cs_hll_estimate_series(col: "_pd.Series") -> "_pd.Series":
    """GETHLLESTIMATE over any HLL payload — auto-detects clearspring
    plain/plus (Java-identical Math.round cardinalities) vs engine-own
    registers."""
    def one(b):
        if b is None:
            return None
        dom, s = _load_any_hll(bytes(b))
        if dom == "own":
            return round(s.estimate())
        return s.cardinality()

    return _pd.Series([one(b) for b in col], dtype="Int64")


def hll_union_series(a: "_pd.Series", b: "_pd.Series") -> "_pd.Series":
    """HLL_UNION(a, b): merge two serialized HLLs of the SAME domain
    and layout params, emitting the same wire format.  The clearspring
    murmur domains and the engine xxhash64 domain must never mix in one
    union — registers built from different hash functions would merge
    into nonsense — so a mixed pair raises loudly by name."""
    def one(x, y):
        if x is None:
            return None if y is None else bytes(y)
        if y is None:
            return bytes(x)
        da, sa = _load_any_hll(bytes(x))
        db, sb = _load_any_hll(bytes(y))
        if da != db:
            raise ValueError(
                f"HLL_UNION: mixed sketch domains ({da} vs {db}) — "
                "clearspring murmur and engine xxhash64 registers cannot "
                "be merged; re-build one side in the other's format"
            )
        merged = sa.merge(sb)
        return merged.serialize() if da != "own" else merged.to_bytes()

    return _pd.Series([one(x, y) for x, y in zip(a, b)])


# ---------------------------------------------------------------------------
# DataSketches KLL doubles-sketch wire-format interop (operators/ds_kll.py)
# — the layout PERCENTILEKLL exchanges (ObjectSerDeUtils.KLL_SKETCH_SER_DE
# wraps KllDoublesSketch.toByteArray()).  Engine-own t-digest bytes keep
# serving the raw-percentile two-phase; readers auto-detect which format
# a blob carries (the KLL family id 15 preamble vs the t-digest's
# leading IEEE-double compression factor).
# ---------------------------------------------------------------------------


def ds_kll_single_series(v: "_pd.Series", k: int) -> "_pd.Series":
    """Single-item (or empty, for NULL/NaN) KllDoublesSketch bytes per
    value — the single-item serialized form is fully canonical."""
    from pinot_spark.operators.ds_kll import DsKllSketch

    def one(x):
        s = DsKllSketch.empty(k)
        if x is not None and not (isinstance(x, float) and np.isnan(x)):
            s.update(float(x))
        return s.serialize()

    return _pd.Series([one(x) for x in v])


def ds_kll_merge_series(a: "_pd.Series", b: "_pd.Series") -> "_pd.Series":
    from pinot_spark.operators.ds_kll import DsKllSketch

    def one(x, y):
        if x is None:
            return None if y is None else bytes(y)
        if y is None:
            return bytes(x)
        return DsKllSketch.parse(bytes(x)).merge(DsKllSketch.parse(bytes(y))).serialize()

    return _pd.Series([one(x, y) for x, y in zip(a, b)])


def ds_kll_quantile_series(col: "_pd.Series", pct: "_pd.Series") -> "_pd.Series":
    """KLL_QUANTILE(bytes, percentile 0-100) — Java-identical inclusive
    quantiles over parsed KllDoublesSketch bytes."""
    from pinot_spark.operators.ds_kll import DsKllSketch

    def one(b, p):
        if b is None or p is None:
            return None
        s = DsKllSketch.parse(bytes(b))
        if s.n == 0:
            return None
        return s.quantile(float(p) / 100.0)

    return _pd.Series([one(b, p) for b, p in zip(col, pct)], dtype="float64")


def tdigest_quantile_any_series(col: "_pd.Series", pct: "_pd.Series") -> "_pd.Series":
    """GETTDIGESTQUANTILE over any quantile-sketch payload — auto-detects
    foreign DataSketches KLL bytes (family-15 preamble) vs the
    engine-own t-digest blob."""
    from pinot_spark.operators.ds_kll import DsKllSketch, is_ds_kll_bytes
    from pinot_spark.operators.tdigest import TDigest

    def one(b, p):
        if b is None or p is None:
            return None
        bb = bytes(b)
        if is_ds_kll_bytes(bb):
            s = DsKllSketch.parse(bb)
            return None if s.n == 0 else s.quantile(float(p) / 100.0)
        return TDigest.from_bytes(bb).quantile(float(p) / 100.0)

    return _pd.Series([one(b, p) for b, p in zip(col, pct)], dtype="float64")


# ---------------------------------------------------------------------------
# clearspring bounded pair-domain series (the default RAW-HLL wire route:
# DISTINCTCOUNTRAWHLL[PLUS][MV] emit stream-lib bytes — the serialization
# the reference actually ships, ObjectSerDeUtils.java:741-775 — via
# register pairs so every aggregation state stays sketch-sized)
# ---------------------------------------------------------------------------


def _cs_hash32_of(v, type_name: "str | None") -> int:
    """stream-lib MurmurHash.hash(Object) with Pinot column-type
    semantics: int family (and boolean, stored as int in Pinot) hash
    hashLong; FLOAT hashes floatToIntBits, DOUBLE doubleToLongBits;
    string/binary hash their bytes."""
    import struct as _struct

    from pinot_spark.operators.cs_hll import hash32_bytes, hash32_long

    if type_name == "float":
        bits = _struct.unpack("<i", _struct.pack("<f", float(v)))[0]
        return hash32_long(bits)
    if type_name == "double":
        bits = _struct.unpack("<q", _struct.pack("<d", float(v)))[0]
        return hash32_long(bits)
    if isinstance(v, (bool, np.bool_)):
        return hash32_long(int(v))
    if isinstance(v, (int, np.integer)):
        return hash32_long(int(v))
    if isinstance(v, (float, np.floating)):
        # integral float64 = a nullable int column riding through pandas
        if float(v).is_integer():
            return hash32_long(int(v))
        bits = _struct.unpack("<q", _struct.pack("<d", float(v)))[0]
        return hash32_long(bits)
    if isinstance(v, (bytes, bytearray)):
        return hash32_bytes(bytes(v))
    return hash32_bytes(str(v).encode("utf-8"))


def _cs_hash64_of(v, type_name: "str | None") -> int:
    """stream-lib MurmurHash.hash64(Object): numbers hash their Java
    toString() digits (Float.toString for FLOAT columns at float32
    precision), strings/bytes their bytes."""
    from pinot_spark.operators.cs_hll import (
        _java_double_str,
        _java_float_str,
        hash64_bytes,
    )

    if type_name == "float":
        return hash64_bytes(_java_float_str(float(v)).encode())
    if type_name == "double":
        return hash64_bytes(_java_double_str(float(v)).encode())
    if isinstance(v, (bool, np.bool_)):
        return hash64_bytes(str(int(v)).encode())
    if isinstance(v, (int, np.integer)):
        return hash64_bytes(str(int(v)).encode())
    if isinstance(v, (float, np.floating)):
        if float(v).is_integer():
            return hash64_bytes(str(int(v)).encode())
        return hash64_bytes(_java_double_str(float(v)).encode())
    if isinstance(v, (bytes, bytearray)):
        return hash64_bytes(bytes(v))
    return hash64_bytes(str(v).encode("utf-8"))


def cs_hll_pair_series(
    v: "_pd.Series", type_name: "str | None", log2m: int
) -> "_pd.Series":
    """Per-value clearspring register pair (j*64+r, murmur-int domain)
    for the non-integer column types the JVM murmur expression can't
    reach (float/double/string/binary).  Arrow-batched; doubles arrive
    exact in float64."""
    from pinot_spark.operators.cs_hll import hll_pair32

    def one(x):
        if x is None or (isinstance(x, float) and np.isnan(x)):
            return None
        return hll_pair32(_cs_hash32_of(x, type_name), log2m)

    return _pd.Series([one(x) for x in v], dtype="Int64")


def cs_hllpp_pair_series(
    v: "_pd.Series", type_name: "str | None", p: int
) -> "_pd.Series":
    """Per-value clearspring HLL++ NORMAL pair (murmur64-toString
    domain) for non-integer column types."""
    from pinot_spark.operators.cs_hll import hllpp_pair64

    def one(x):
        if x is None or (isinstance(x, float) and np.isnan(x)):
            return None
        return hllpp_pair64(_cs_hash64_of(x, type_name), p)

    return _pd.Series([one(x) for x in v], dtype="Int64")


def cs_hllpp_pair_long_series(
    hi: "_pd.Series", lo: "_pd.Series", p: int
) -> "_pd.Series":
    """HLL++ pair for BIGINT values shipped as exact 32-bit halves (a
    nullable int64 is lossy through pandas float64 past 2^53; the
    halves are exact).  Java hashes Long.toString()."""
    from pinot_spark.operators.cs_hll import hash64_bytes, hllpp_pair64

    def one(h, l):
        if h is None or (isinstance(h, float) and np.isnan(h)):
            return None
        val = (int(h) << 32) | int(l)
        return hllpp_pair64(hash64_bytes(str(val).encode()), p)

    return _pd.Series([one(h, l) for h, l in zip(hi, lo)], dtype="Int64")


def _elem_type_of(array_type_name: "str | None") -> "str | None":
    if array_type_name and array_type_name.startswith("array<"):
        return array_type_name[6:-1]
    return None


def cs_hll_pairs_arr_series(
    arrs: "_pd.Series", type_name: "str | None", log2m: int
) -> "_pd.Series":
    """MV variant: one deduplicated pair array per row (any element
    type — array elements keep their Arrow dtype exactly, so int64
    elements need no split)."""
    from pinot_spark.operators.cs_hll import hll_pair32

    et = _elem_type_of(type_name)

    def one(arr):
        if arr is None:
            return None
        out = {
            hll_pair32(_cs_hash32_of(x, et), log2m)
            for x in arr
            if x is not None and not (isinstance(x, float) and np.isnan(x))
        }
        return list(out)

    return _pd.Series([one(a) for a in arrs])


def cs_hllpp_pairs_arr_series(
    arrs: "_pd.Series", type_name: "str | None", p: int
) -> "_pd.Series":
    from pinot_spark.operators.cs_hll import hllpp_pair64

    et = _elem_type_of(type_name)

    def one(arr):
        if arr is None:
            return None
        out = {
            hllpp_pair64(_cs_hash64_of(x, et), p)
            for x in arr
            if x is not None and not (isinstance(x, float) and np.isnan(x))
        }
        return list(out)

    return _pd.Series([one(a) for a in arrs])


def cs_hll_from_pairs_series(arrs: "_pd.Series", log2m: int) -> "_pd.Series":
    from pinot_spark.operators.cs_hll import cs_hll_from_pairs

    return _pd.Series(
        [
            cs_hll_from_pairs(
                [p for p in (ps if ps is not None else []) if p is not None],
                log2m,
            ).serialize()
            for ps in arrs
        ]
    )


def cs_hllpp_from_pairs_series(
    arrs: "_pd.Series", p: int, sp: int
) -> "_pd.Series":
    from pinot_spark.operators.cs_hll import cs_hllpp_from_pairs

    return _pd.Series(
        [
            cs_hllpp_from_pairs(
                [x for x in (ps if ps is not None else []) if x is not None],
                p,
                sp,
            ).serialize()
            for ps in arrs
        ]
    )


def cs_hll_merge_blobs_series(arrs: "_pd.Series") -> "_pd.Series":
    """Merge a list of clearspring blobs (all-plain or all-plus; the
    engine-own domain and mixed domains raise loudly — registers from
    different hash functions must never max-merge)."""
    from pinot_spark.operators.cs_hll import (
        CsHll,
        CsHllPlus,
        is_cs_hll_bytes,
        is_cs_hllpp_bytes,
    )

    def run(lst):
        acc = None
        for b in lst if lst is not None else []:
            if b is None:
                continue
            bb = bytes(b)
            if is_cs_hllpp_bytes(bb):
                s = CsHllPlus.parse(bb)
            elif is_cs_hll_bytes(bb):
                s = CsHll.parse(bb)
            else:
                raise ValueError(
                    "HLL merge: mixed sketch domains — engine-own register "
                    "blobs cannot union with clearspring wire bytes"
                )
            if acc is None:
                acc = s
            elif type(acc) is not type(s):
                raise ValueError(
                    "HLL merge: mixed sketch domains — clearspring plain "
                    "and plus payloads use different hash functions"
                )
            else:
                acc = acc.merge(s)
        if acc is None:
            from pinot_spark.operators.cs_hll import CsHll as _C

            acc = _C.empty()
        return acc.serialize()

    return _pd.Series([run(lst) for lst in arrs])


# ---------------------------------------------------------------------------
# DataSketches CPC write/union surface (round 11, operators/ds_cpc.py):
# TOCPCSKETCH singletons byte-identical to SketchFunctions.toCpcSketch,
# CPCSKETCHUNION over serialized payloads (full decompress + bit-matrix
# union, CpcUnion.getResult-identical bytes), and the bounded coupon
# domain the DISTINCTCOUNT[RAW]CPCSKETCH aggregations ride: a coupon is
# the (row << 6 | col) int the sketch derives per value — at most
# 64·2^lgK distinct values, so collect_set state stays sketch-scale at
# any row count, and the final merged-format sketch equals Java's
# CpcUnion over the same stream exactly.
# ---------------------------------------------------------------------------


def _cpc_hash_of(v, type_name: "str | None"):
    """(h0, h1) murmur3 x64-128 seed 9001 with CpcSketch.update(Object)
    type semantics: int family update(long), float/double
    update(double) (0.0 canonicalized, NaN canonical bits), strings
    UTF-8 bytes, binary raw bytes; empty string/bytes are no-ops
    (returns None)."""
    import struct as _struct

    from pinot_spark.functions.scalar_ext import _murmur3_x64_128

    if type_name in ("float", "double") or (
        isinstance(v, (float, np.floating)) and not float(v).is_integer()
    ):
        d = float(v)
        if d == 0.0:
            d = 0.0
        if d != d:
            bits = 0x7FF8000000000000
            data = _struct.pack("<q", bits)
        else:
            data = _struct.pack("<d", d)
        return _murmur3_x64_128(data, seed=9001)
    if isinstance(v, (bool, np.bool_)):
        return _murmur3_x64_128(_struct.pack("<q", int(v)), seed=9001)
    if isinstance(v, (int, np.integer)) or (
        isinstance(v, (float, np.floating)) and float(v).is_integer()
    ):
        return _murmur3_x64_128(
            int(v).to_bytes(8, "little", signed=True), seed=9001
        )
    if isinstance(v, (bytes, bytearray)):
        return _murmur3_x64_128(bytes(v), seed=9001) if len(v) else None
    s = str(v).encode("utf-8")
    return _murmur3_x64_128(s, seed=9001) if s else None


def _cpc_coupon_of(h0: int, h1: int, lg_k: int) -> int:
    h1 &= 0xFFFFFFFFFFFFFFFF
    col = 64 - h1.bit_length() if h1 else 64
    if col > 63:
        col = 63
    row = h0 & ((1 << lg_k) - 1)
    row_col = (row << 6) | col
    if row_col == 0xFFFFFFFF:
        row_col ^= 1 << 6
    return row_col


def ds_cpc_coupon_series(
    v: "_pd.Series", type_name: "str | None", lg_k: int
) -> "_pd.Series":
    def one(x):
        if x is None or (isinstance(x, float) and np.isnan(x) and type_name not in ("float", "double")):
            return None
        h = _cpc_hash_of(x, type_name)
        if h is None:
            return None
        return _cpc_coupon_of(h[0], h[1], lg_k)

    return _pd.Series([one(x) for x in v], dtype="Int64")


def ds_cpc_coupon_long_series(
    hi: "_pd.Series", lo: "_pd.Series", lg_k: int
) -> "_pd.Series":
    """Exact BIGINT values as split 32-bit halves (float64-lossy past
    2^53 otherwise)."""
    from pinot_spark.functions.scalar_ext import _murmur3_x64_128

    def one(h, l):
        if h is None or (isinstance(h, float) and np.isnan(h)):
            return None
        val = (int(h) << 32) | int(l)
        h0, h1 = _murmur3_x64_128(
            val.to_bytes(8, "little", signed=True), seed=9001
        )
        return _cpc_coupon_of(h0, h1, lg_k)

    return _pd.Series([one(h, l) for h, l in zip(hi, lo)], dtype="Int64")


def ds_cpc_single_series(
    v: "_pd.Series", type_name: "str | None", lg_k: int
) -> "_pd.Series":
    """TOCPCSKETCH: a flat (HIP) singleton sketch per value —
    byte-identical to SketchFunctions.toCpcSketch; NULL gives the
    empty sketch, as in the reference."""
    from pinot_spark.operators.ds_cpc import DsCpcSketch

    def one(x):
        s = DsCpcSketch(lg_k)
        if x is not None and not (
            isinstance(x, float) and np.isnan(x) and type_name not in ("float", "double")
        ):
            h = _cpc_hash_of(x, type_name)
            if h is not None:
                s._hash_update(h[0], h[1])
        return s.serialize()

    return _pd.Series([one(x) for x in v])


def ds_cpc_single_long_series(
    hi: "_pd.Series", lo: "_pd.Series", lg_k: int
) -> "_pd.Series":
    from pinot_spark.operators.ds_cpc import DsCpcSketch

    def one(h, l):
        s = DsCpcSketch(lg_k)
        if h is not None and not (isinstance(h, float) and np.isnan(h)):
            s.update_long((int(h) << 32) | int(l))
        return s.serialize()

    return _pd.Series([one(h, l) for h, l in zip(hi, lo)])


def ds_cpc_from_coupons_series(arrs: "_pd.Series", lg_k: int) -> "_pd.Series":
    """Merged-format sketch from a coupon set — CpcUnion.getResult
    bytes for the same stream (the distributed aggregation result a
    real cluster's broker merge produces)."""
    from pinot_spark.operators.ds_cpc import DsCpcSketch

    k = 1 << lg_k

    def one(cs):
        matrix = [0] * k
        for c in cs if cs is not None else []:
            if c is None:
                continue
            c = int(c)
            matrix[(c & 0xFFFFFFFF) >> 6] |= 1 << (c & 63)
        return DsCpcSketch.from_bit_matrix(matrix, lg_k).serialize()

    return _pd.Series([one(cs) for cs in arrs])


def ds_cpc_union_series(arrs: "_pd.Series") -> "_pd.Series":
    """CPCSKETCHUNION over serialized payloads: full decompress, bit
    matrices OR'd at the reference's DEFAULT_CPC_SKETCH_LGK=12
    (downsampling to the smallest input lgK, as CpcUnion does)."""
    from pinot_spark.operators.ds_cpc import cpc_union, parse_cpc

    def one(blobs):
        if blobs is None:
            blobs = []
        sketches = [
            parse_cpc(bytes(b)) for b in blobs if b is not None
        ]
        return cpc_union(sketches).serialize()

    return _pd.Series([one(bs) for bs in arrs])
