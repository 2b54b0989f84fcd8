"""Sketch functions — the SketchFunctions surface (reference pinot-core/
src/main/java/org/apache/pinot/core/function/scalar/SketchFunctions.java)
and the Python side of the dialect's sketch aggregations.

``SKETCH_UDFS`` is the one table of sketch UDFs.  Each row names a UDF
and gives its Spark return type, its kind (scalar, or grouped
aggregate) and a plain-Python body over one Arrow batch's arguments as
lists (``scalar.arrow_rows_udf``: NULL arrives as None and a BIGINT
keeps all 64 bits).  The SQL surface registers every row under its name
(``dialect._ensure_sketch_udfs``); the Column builders below call the
same rows, so both surfaces build identical bytes.

Wire formats:

- theta: DataSketches compact bytes (murmur-9001 domain) from
  ``todatasketchestheta`` and Spark's native ``theta_sketch_agg``; the
  engine-own KMV format (xxhash64 domain, operators/theta.py) from
  ``tothetasketch``.  Readers detect the format per argument and refuse
  to mix the two hash domains.
- integer tuple: DataSketches tuple bytes (sum mode) from
  ``todatasketchestuple``; the engine-own ``TupleSketch`` below from
  ``tointegersumtuplesketch``.  Readers detect the format the same way.
- HLL: clearspring stream-lib bytes (operators/cs_hll.py), the bytes
  the reference serializes; engine-own register blobs stay readable.
- CPC: DataSketches bytes (operators/ds_cpc.py), byte-canonical.
- ULL: engine-own bytes; the hash4j byte constructors raise by name.
"""

from __future__ import annotations

import math
import re
import struct
from collections.abc import Callable
from dataclasses import dataclass
from typing import NamedTuple

import numpy as np
import pyspark.sql.functions as F

from pinot_spark.functions.scalar import _c, _lazy_udf, _reg, arrow_rows_udf
from pinot_spark.functions.scalar_ext import _murmur3_x64_128
from pinot_spark.operators.cs_hll import (
    CsHll,
    CsHllPlus,
    _java_double_str,
    _java_float_str,
    cs_hll_from_pairs,
    cs_hllpp_from_pairs,
    hash32_bytes,
    hash32_long,
    hash64_bytes,
    hll_pair32,
    hllpp_pair64,
    is_cs_hll_bytes,
    is_cs_hllpp_bytes,
)

_DEFAULT_K = 4096  # 2^DEFAULT_TUPLE_SKETCH_LGK (CommonConstants 16 → 65536 is
# the reference tuple default; 4096 matches our theta default — engine-own
# formats use one K so theta and tuple sketches stay mutually consistent)


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


def _first(xs: list, default=None):
    """The value of a literal argument (constant over the batch)."""
    return xs[0] if xs else default


def _isnan(x) -> bool:
    return isinstance(x, float) and math.isnan(x)


# --- theta and integer tuple sketches, either wire format -------------------


def _load_any_theta(b: bytes):
    """(domain, sketch): DataSketches compact ('ds') or engine-own ('own')."""
    from pinot_spark.operators.ds_theta import DsThetaSketch, is_ds_theta_bytes
    from pinot_spark.operators.theta import ThetaSketch

    if is_ds_theta_bytes(b):
        return "ds", DsThetaSketch.parse(b)
    return "own", ThetaSketch.from_bytes(b)


def _load_any_tuple(b: bytes):
    """(domain, sketch): DataSketches tuple ('ds') or engine-own ('own')."""
    from pinot_spark.operators.ds_theta import DsTupleSketch, is_ds_tuple_bytes

    if is_ds_tuple_bytes(b):
        return "ds", DsTupleSketch.parse(b)
    return "own", TupleSketch.from_bytes(b)


def _parse_one_domain(load, blobs, what: str):
    """Parse each non-NULL blob in either wire format: (domain, sketches),
    domain None when there is none.  The engine xxhash64 domain and the
    DataSketches murmur-9001 domain must never meet in one operation —
    it would silently double-count — so a mix raises by name."""
    parsed = [load(bytes(b)) for b in blobs if b is not None]
    if len({d for d, _ in parsed}) > 1:
        raise ValueError(
            f"{what} mixes DataSketches-format (murmur-9001) and "
            "engine-native (xxhash64) sketches — the hash domains are "
            "incompatible; rebuild them in one format"
        )
    return (parsed[0][0] if parsed else None), [s for _, s in parsed]


def _domain_bytes(domain, s) -> bytes:
    return s.serialize() if domain == "ds" else s.to_bytes()


def _theta_binop(op: str):
    def body(a, b):
        out = []
        for x, y in zip(a, b):
            if x is None or y is None:
                out.append(None)
                continue
            d, (sa, sb) = _parse_one_domain(_load_any_theta, (x, y), "theta set operation")
            out.append(_domain_bytes(d, getattr(sa, op)(sb)))
        return out

    return body


def _theta_union_all(blobs, what: str):
    """(domain, union) of a list of theta blobs, (None, None) for none."""
    d, sketches = _parse_one_domain(_load_any_theta, blobs or [], what)
    acc = None
    for s in sketches:
        acc = s if acc is None else acc.union(s)
    return d, acc


def _empty_own_theta() -> bytes:
    from pinot_spark.operators.theta import ThetaSketch

    return ThetaSketch(_DEFAULT_K, 2**64, np.array([], dtype=np.uint64)).to_bytes()


def theta_singletons(hashes: list, k: list) -> list:
    """One engine-own theta sketch per row: a singleton of the
    NULL-masked signed xxhash64, or empty for NULL."""
    from pinot_spark.operators.theta import ThetaSketch

    kk = _first(k, _DEFAULT_K)
    return [
        ThetaSketch(
            kk, 2**64,
            # the order-preserving unsigned form of the signed hash
            np.array([] if h is None else [h + 2**63], dtype=np.uint64),
        ).to_bytes()
        for h in hashes
    ]


def theta_to_strings(blobs: list) -> list:
    def fmt(x):
        if x is None:
            return None
        domain, s = _load_any_theta(bytes(x))
        if domain == "ds":
            return s.to_string()
        return (
            f"ThetaSketch(k={s.k}, theta={s.theta:.6f}, "
            f"retained={len(s.hashes)}, estimate={s.estimate():.1f})"
        )

    return [fmt(x) for x in blobs]


def ds_theta_singles(v: list, type_name: "str | None" = None) -> list:
    """Single-item DataSketches-format theta sketches per value.

    ``type_name`` is the Spark column type (via ``typeof``): for a true
    DOUBLE/FLOAT column, Java DataSketches update(double) hashes
    Double.doubleToLongBits(d) for ALL values — including integral ones
    — so 2.0 must NOT collapse to update(long 2).  A NaN reads as NULL
    (the empty sketch), where Java would hash the canonical NaN bits."""
    from pinot_spark.operators.ds_theta import (
        DsThetaSketch,
        update_hash_bytes,
        update_hash_long,
    )

    is_double_col = type_name in ("double", "float")

    def one(x):
        if x is None or _isnan(x):
            return DsThetaSketch.empty().serialize()
        if is_double_col and isinstance(x, (int, float)):
            d = float(x)
            if d == 0.0:
                d = 0.0  # Java canonicalizes -0.0 to +0.0 before bits
            h = update_hash_long(int(np.float64(d).view(np.int64)))
        elif isinstance(x, int):
            h = update_hash_long(x)
        elif isinstance(x, float):
            # a double without its column type: integral values hash as
            # longs (the Java update(long) domain), the rest their
            # canonical IEEE bit pattern (DataSketches update(double))
            if x.is_integer():
                h = update_hash_long(int(x))
            else:
                h = update_hash_long(int(np.float64(x).view(np.int64)))
        else:
            b = bytes(x) if isinstance(x, (bytes, bytearray)) else str(x).encode()
            if not b:
                return DsThetaSketch.empty().serialize()
            h = update_hash_bytes(b)
        return DsThetaSketch((1 << 63) - 1, np.array([h], dtype=np.uint64)).serialize()

    return [one(x) for x in v]


def ds_tuple_singles(k: list, v: list) -> list:
    """Single-item DataSketches integer-tuple sketches per (key, value)."""
    from pinot_spark.operators.ds_theta import DsTupleSketch

    def one(key, val):
        if key is None or val is None or _isnan(key) or _isnan(val):
            return DsTupleSketch.empty().serialize()
        if isinstance(key, float) and key.is_integer():
            key = int(key)
        return DsTupleSketch.build_from_pairs([key], [int(val)]).serialize()

    return [one(a, b) for a, b in zip(k, v)]


def tuple_singletons(hashes: list, values: list, k: list) -> list:
    """One engine-own integer-sum tuple sketch per row: a singleton of the
    NULL-masked signed xxhash64 and the BIGINT value, or empty when
    either is NULL."""
    kk = _first(k, _DEFAULT_K)
    return [
        TupleSketch.empty(kk).to_bytes()
        if h is None or v is None
        else TupleSketch.singleton(kk, h + 2**63, v).to_bytes()
        for h, v in zip(hashes, values)
    ]


def _tuple_op(domain, a, op: str, b, mode: str):
    """``a op b`` (union / intersect / a_not_b) with duplicate keys
    combined by ``mode``.  DataSketches tuple bytes carry sum-mode
    summaries and have no difference here, so anything else over them
    raises by name."""
    if domain == "ds":
        if mode != "sum" or op == "a_not_b":
            raise ValueError(
                f"integer tuple sketch {op} in {mode} mode is not supported "
                "over DataSketches tuple bytes (sum-mode union and "
                "intersect only); build the sketches with "
                "TO_INTEGER_SUM_TUPLE_SKETCH"
            )
        return getattr(a, op)(b)
    if op == "a_not_b":
        return a.a_not_b(b)
    return getattr(a, op)(b, mode=_MODES[mode])


def _tuple_binop(op: str, mode: str):
    def body(a, b):
        out = []
        for x, y in zip(a, b):
            if x is None or y is None:
                out.append(None)
                continue
            d, (sa, sb) = _parse_one_domain(_load_any_tuple, (x, y), "tuple set operation")
            out.append(_domain_bytes(d, _tuple_op(d, sa, op, sb, mode)))
        return out

    return body


def _tuple_union_all(blobs, what: str):
    """Sum-mode union of tuple blobs in either format, or None for none."""
    d, sketches = _parse_one_domain(_load_any_tuple, blobs, what)
    acc = None
    for s in sketches:
        acc = s if acc is None else _tuple_op(d, acc, "union", s, "sum")
    return None if acc is None else _domain_bytes(d, acc)


def tuple_merge_sums(arrs: list) -> list:
    return [
        None
        if lst is None
        else _tuple_union_all(lst, "tuple sketch merge") or TupleSketch.empty().to_bytes()
        for lst in arrs
    ]


def _tuple_stat(fn):
    return lambda blobs: [None if x is None else fn(_load_any_tuple(bytes(x))[1]) for x in blobs]


def _tuple_avg(s):
    return float(s.values.mean()) if len(s.values) else None


def tuple_partial(blobs: list):
    # NULL, not an engine-native empty: a format-less empty partial
    # must not pollute a DataSketches-format merge
    return _tuple_union_all(blobs, "tuple sketch aggregation")


def theta_union_blobs(arrs: list) -> list:
    """Union each list of theta blobs in either wire format — the
    pre-built BYTES-column ingestion path (ThetaSketchTest.java uploads
    datasketches-java compact blobs)."""
    out = []
    for lst in arrs:
        d, acc = _theta_union_all(lst, "theta blob union")
        out.append(_empty_own_theta() if acc is None else _domain_bytes(d, acc))
    return out


def _parse_theta_post_agg(s: str, pos: int):
    while pos < len(s) and s[pos].isspace():
        pos += 1
    if s.startswith("$", pos):
        j = pos + 1
        while j < len(s) and s[j].isdigit():
            j += 1
        return ("ref", int(s[pos + 1 : j])), j
    m = re.match(r"SET_(INTERSECT|UNION|DIFF)\s*\(", s[pos:], re.IGNORECASE)
    if not m:
        raise ValueError(f"bad theta post-aggregation expr at {s[pos:]!r}")
    op = m.group(1).upper()
    j = pos + m.end()
    args = []
    while True:
        node, j = _parse_theta_post_agg(s, j)
        args.append(node)
        while j < len(s) and s[j].isspace():
            j += 1
        if j < len(s) and s[j] == ",":
            j += 1
            continue
        if j < len(s) and s[j] == ")":
            return ("op", op, args), j + 1
        raise ValueError(f"bad theta post-aggregation expr at {s[j:]!r}")


def theta_filtered(exprs: list, groups: list) -> list:
    """DistinctCountThetaSketchAggregationFunction's filtered form:
    $k = the union of the k-th predicate's sketches, combined with
    SET_INTERSECT / SET_UNION / SET_DIFF post-aggregation."""
    from pinot_spark.operators.ds_theta import DsThetaSketch
    from pinot_spark.operators.theta import ThetaSketch

    def run(e, gs):
        sketches = []
        fmt = None
        for g in gs if gs is not None else []:
            kind, acc = _theta_union_all(g, "theta blob union")
            if kind is not None:
                fmt = kind
            sketches.append(acc)

        def empty():
            return (
                DsThetaSketch.empty()
                if fmt == "ds"
                else ThetaSketch(_DEFAULT_K, 2**64, np.array([], dtype=np.uint64))
            )

        def ev(node):
            if node[0] == "ref":
                s = sketches[node[1] - 1]
                return s if s is not None else empty()
            op, args = node[1], node[2]
            acc = ev(args[0])
            for a in args[1:]:
                rhs = ev(a)
                if op == "INTERSECT":
                    acc = acc.intersect(rhs)
                elif op == "UNION":
                    acc = acc.union(rhs)
                else:
                    acc = acc.a_not_b(rhs)
            return acc

        tree, _ = _parse_theta_post_agg(str(e), 0)
        return int(round(ev(tree).estimate()))

    return [run(e, gs) for e, gs in zip(exprs, groups)]


# --- ULL (engine-own, operators/ull.py) -------------------------------------


def ull_from_regs(arrs: list, p: list) -> list:
    from pinot_spark.operators.ull import UllSketch

    pp = _first(p, 12)
    return [
        UllSketch.from_pairs(np.asarray(ps if ps is not None else [], dtype=np.int64), pp).to_bytes()
        for ps in arrs
    ]


def ull_singletons(hashes: list, p: list) -> list:
    from pinot_spark.operators.ull import UllSketch

    pp = _first(p, 12)
    return [
        UllSketch.empty(pp).to_bytes()
        if h is None
        else UllSketch.from_hashes(np.array([h + 2**63], dtype=np.uint64), pp).to_bytes()
        for h in hashes
    ]


def ull_estimates(blobs: list) -> list:
    from pinot_spark.operators.ull import UllSketch

    return [None if x is None else round(UllSketch.from_bytes(bytes(x)).estimate()) for x in blobs]


# ---------------------------------------------------------------------------
# clearspring (stream-lib) HLL / HLL++ wire-format interop
# (operators/cs_hll.py) — the formats a real reference cluster ships for
# its HLL family (ObjectSerDeUtils.HYPER_LOG_LOG_SER_DE /
# HYPER_LOG_LOG_PLUS_SER_DE; SketchFunctions.toHLL builds exactly these
# bytes).  Engine-own blobs (operators/hll.py, xxhash64 domain) are
# still read — consumers auto-detect the format per argument and
# refuse cross-domain unions loudly.
# ---------------------------------------------------------------------------


def cs_hll_singles(v: list, type_name: "str | None", log2m: int) -> list:
    """Singleton clearspring HyperLogLog bytes per value — byte-identical
    to the reference's ``toHLL(value, log2m)`` (SketchFunctions.java:
    139-162).  ``type_name`` (Spark ``typeof``) picks the stream-lib
    MurmurHash.hash(Object) branch: numerics hash long/IEEE bits, so a
    true DOUBLE column must hash doubleToLongBits even for integral
    values; FLOAT hashes floatToIntBits (NOT the widened double)."""
    is_double_col = type_name == "double"
    is_float_col = type_name == "float"

    def one(x):
        s = CsHll.empty(log2m)
        if x is None or _isnan(x):
            return s.serialize()
        if is_float_col and isinstance(x, (int, float)):
            bits = struct.unpack("<i", struct.pack("<f", float(x)))[0]
            s.offer_hash32(hash32_long(bits))
        elif is_double_col and isinstance(x, (int, float)):
            bits = struct.unpack("<q", struct.pack("<d", float(x)))[0]
            s.offer_hash32(hash32_long(bits))
        elif isinstance(x, int):
            s.offer_hash32(hash32_long(x))
        elif isinstance(x, float):
            if x.is_integer():
                s.offer_hash32(hash32_long(int(x)))
            else:
                bits = struct.unpack("<q", struct.pack("<d", x))[0]
                s.offer_hash32(hash32_long(bits))
        elif isinstance(x, (bytes, bytearray)):
            s.offer_hash32(hash32_bytes(bytes(x)))
        else:
            s.offer_hash32(hash32_bytes(str(x).encode("utf-8")))
        return s.serialize()

    return [one(x) for x in v]


def cs_hllpp_singles(v: list, type_name: "str | None", p: int, sp: int) -> list:
    """Singleton clearspring HyperLogLogPlus bytes per value.  stream-lib
    hash64(Object) has NO numeric branch — every number hashes its Java
    ``toString()`` bytes (pinned by probes), so integral values format
    as Java longs and a DOUBLE column's values as Java Double.toString."""
    is_double_col = type_name == "double"
    is_float_col = type_name == "float"

    def one(x):
        s = CsHllPlus.empty(p, sp)
        if x is None or _isnan(x):
            return s.serialize()
        if is_float_col and isinstance(x, (int, float)):
            # Java hashes Float.toString() — shortest round-trip at
            # FLOAT32 precision, not the widened double's digits.
            # Offering the formatted string hashes identical bytes.
            x = _java_float_str(float(x))
        elif isinstance(x, float) and not is_double_col:
            if x.is_integer():
                x = int(x)
        elif isinstance(x, int) and is_double_col:
            x = float(x)
        s.offer(x)
        return s.serialize()

    return [one(x) for x in v]


def _load_any_hll(b: bytes):
    """(domain, sketch) for any HLL payload: clearspring HLL++
    ('cspp'), clearspring plain ('cs'), engine-own ('own')."""
    from pinot_spark.operators.hll import HllSketch

    if is_cs_hllpp_bytes(b):
        return "cspp", CsHllPlus.parse(b)
    if is_cs_hll_bytes(b):
        return "cs", CsHll.parse(b)
    return "own", HllSketch.from_bytes(b)


def hll_estimates(blobs: list) -> list:
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

    return [one(b) for b in blobs]


def hll_unions(a: list, b: list) -> list:
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

    return [one(x, y) for x, y in zip(a, b)]


# ---------------------------------------------------------------------------
# DataSketches KLL doubles-sketch wire-format interop (operators/ds_kll.py)
# — the layout PERCENTILEKLL exchanges (ObjectSerDeUtils.KLL_SKETCH_SER_DE
# wraps KllDoublesSketch.toByteArray()).  Engine-own t-digest bytes keep
# serving the raw-percentile two-phase; readers auto-detect which format
# a blob carries (the KLL family id 15 preamble vs the t-digest's
# leading IEEE-double compression factor).
# ---------------------------------------------------------------------------


def ds_kll_singles(v: list, k: list) -> list:
    """Single-item (or empty, for NULL/NaN) KllDoublesSketch bytes per
    value — the single-item serialized form is fully canonical."""
    from pinot_spark.operators.ds_kll import DsKllSketch

    kk = _first(k, 200)

    def one(x):
        s = DsKllSketch.empty(kk)
        if x is not None and not _isnan(x):
            s.update(float(x))
        return s.serialize()

    return [one(x) for x in v]


def ds_kll_merges(a: list, b: list) -> list:
    from pinot_spark.operators.ds_kll import DsKllSketch

    def one(x, y):
        if x is None:
            return None if y is None else bytes(y)
        if y is None:
            return bytes(x)
        return DsKllSketch.parse(bytes(x)).merge(DsKllSketch.parse(bytes(y))).serialize()

    return [one(x, y) for x, y in zip(a, b)]


def ds_kll_quantiles(blobs: list, pct: list) -> list:
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

    return [one(b, p) for b, p in zip(blobs, pct)]


# t-digest quantile grid: Chebyshev (cosine) spacing — denser at the
# tails, mirroring the t-digest k1 scale function. 129 probes keep the
# percentile_approx result array small while bounding the rank error of
# the reconstructed digest to ~(1/128)/2 mid-range and much tighter at
# the tails.
TDIGEST_GRID = [(1 - math.cos(math.pi * i / 128)) / 2 for i in range(129)]


def tdigest_from_values(arrs: list) -> list:
    from pinot_spark.operators.tdigest import TDigest

    def run(vals):
        td = TDigest()
        if vals:
            td.add([float(v) for v in vals if v is not None])
        return td.to_bytes()

    return [run(vals) for vals in arrs]


def tdigest_from_quantiles(qs: list, n: list) -> list:
    """Reassemble engine-own t-digest bytes from percentile_approx's
    Chebyshev-grid probes (dialect._raw_tdigest_sql): centroid means are
    the grid quantiles; weights apportion the row count by the half-open
    rank interval around each probe."""
    from pinot_spark.operators.tdigest import TDigest

    def run(grid, count):
        td = TDigest()
        if grid is None or count is None or count == 0 or len(grid) == 0:
            return td.to_bytes()
        means = np.asarray(grid, dtype=np.float64)
        k = len(means)
        if k == 1:
            w = np.array([float(count)])
        else:
            qs_grid = np.array(TDIGEST_GRID[:k])
            gaps = np.empty(k)
            gaps[0] = (qs_grid[1] - qs_grid[0]) / 2
            gaps[-1] = (qs_grid[-1] - qs_grid[-2]) / 2
            gaps[1:-1] = (qs_grid[2:] - qs_grid[:-2]) / 2
            w = gaps / gaps.sum() * float(count)
        td.means, td.weights = means, w
        td._compress()
        return td.to_bytes()

    return [run(g, c) for g, c in zip(qs, n)]


def tdigest_merges(arrs: list) -> list:
    """Merge a (bounded) list of engine-own digests — the final level of
    the two-phase MV percentile shape."""
    from pinot_spark.operators.tdigest import TDigest

    def run(lst):
        acc = TDigest()
        for b in lst or []:
            if b is not None:
                acc = acc.merge(TDigest.from_bytes(bytes(b)))
        return acc.to_bytes()

    return [run(lst) for lst in arrs]


def tdigest_quantiles_any(blobs: list, pct: list) -> list:
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

    return [one(b, p) for b, p in zip(blobs, pct)]


def tdigest_partial(arrs: list):
    from pinot_spark.operators.tdigest import TDigest

    td = TDigest()
    for vals in arrs:
        if not vals:
            continue
        v = np.asarray(vals, dtype=np.float64)
        v = v[~np.isnan(v)]
        if len(v):
            td.add(v.tolist())
    return td.to_bytes()


# --- DataSketches frequent items (operators/ds_freq.py) ----------------------


def _freq_partial(strings: bool):
    def body(vals, mm):
        # numeric values update the reverse-purge map; BYTES values are
        # serialized foreign sketches and MERGE (the reference's
        # BYTES-column contract, FrequentLongsSketchAggregationFunction)
        from pinot_spark.operators.ds_freq import DsFrequentSketch

        s = DsFrequentSketch.empty(_first(mm, 256))
        for v in vals:
            if v is None or (not strings and _isnan(v)):
                continue
            if isinstance(v, (bytes, bytearray)):
                s = s.merge(DsFrequentSketch.parse(bytes(v), strings=strings))
            else:
                s.update(str(v) if strings else int(v))
        return s.serialize()

    return body


def _freq_merge(strings: bool):
    def body(arrs):
        from pinot_spark.operators.ds_freq import DsFrequentSketch

        def run(lst):
            acc = None
            for b in lst or []:
                if b is None:
                    continue
                s = DsFrequentSketch.parse(bytes(b), strings=strings)
                acc = s if acc is None else acc.merge(s)
            return (acc or DsFrequentSketch.empty()).serialize()

        return [run(lst) for lst in arrs]

    return body


def _freq_estimate(strings: bool):
    def body(blobs, items):
        from pinot_spark.operators.ds_freq import DsFrequentSketch

        return [
            None
            if x is None or i is None
            else DsFrequentSketch.parse(bytes(x), strings=strings).estimate(
                str(i) if strings else int(i)
            )
            for x, i in zip(blobs, items)
        ]

    return body


# --- JSON key extraction ------------------------------------------------------


def json_all_keys(docs: list, max_depth: list, dot_notation: list) -> list:
    """Recursive key extraction in reference path formats
    (JsonFunctions.extractKeysFromNode:639-669): objects emit
    path['field'] (dot: a.b), arrays emit path[i] (dot: a.0), preorder,
    depth-limited, parse errors yield an empty list."""
    import json

    md = _first(max_depth, 2**31 - 1)
    dot = bool(_first(dot_notation, False))

    def walk(node, path, out, depth):
        if depth > md:
            return
        items = (
            node.items()
            if isinstance(node, dict)
            else enumerate(node) if isinstance(node, list) else ()
        )
        for k, v in items:
            if dot:
                p = str(k) if path == "" else f"{path}.{k}"
            elif isinstance(node, dict):
                p = f"{path}['{k}']"
            else:
                p = f"{path}[{k}]"
            out.append(p)
            if depth < md and isinstance(v, (dict, list)):
                walk(v, p, out, depth + 1)

    def run(doc):
        if doc is None:
            return None
        out: list[str] = []
        try:
            walk(json.loads(doc), "" if dot else "$", out, 1)
        except Exception:
            return []
        return out

    return [run(d) for d in docs]


# ---------------------------------------------------------------------------
# clearspring bounded pair-domain bodies (the default RAW-HLL wire route:
# DISTINCTCOUNTRAWHLL[PLUS][MV] emit stream-lib bytes — the serialization
# the reference actually ships, ObjectSerDeUtils.java:741-775 — via
# register pairs so every aggregation state stays sketch-sized)
# ---------------------------------------------------------------------------


def _cs_hash32_of(v, type_name: "str | None") -> int:
    """stream-lib MurmurHash.hash(Object) with Pinot column-type
    semantics: int family (and boolean, stored as int in Pinot) hash
    hashLong; FLOAT hashes floatToIntBits, DOUBLE doubleToLongBits;
    string/binary hash their bytes."""
    if type_name == "float":
        bits = struct.unpack("<i", struct.pack("<f", float(v)))[0]
        return hash32_long(bits)
    if type_name == "double":
        bits = struct.unpack("<q", struct.pack("<d", float(v)))[0]
        return hash32_long(bits)
    if isinstance(v, int):
        return hash32_long(int(v))
    if isinstance(v, float):
        if v.is_integer():
            return hash32_long(int(v))
        bits = struct.unpack("<q", struct.pack("<d", v))[0]
        return hash32_long(bits)
    if isinstance(v, (bytes, bytearray)):
        return hash32_bytes(bytes(v))
    return hash32_bytes(str(v).encode("utf-8"))


def _cs_hash64_of(v, type_name: "str | None") -> int:
    """stream-lib MurmurHash.hash64(Object): numbers hash their Java
    toString() digits (Float.toString for FLOAT columns at float32
    precision), strings/bytes their bytes."""
    if type_name == "float":
        return hash64_bytes(_java_float_str(float(v)).encode())
    if type_name == "double":
        return hash64_bytes(_java_double_str(float(v)).encode())
    if isinstance(v, int):
        return hash64_bytes(str(int(v)).encode())
    if isinstance(v, float):
        if v.is_integer():
            return hash64_bytes(str(int(v)).encode())
        return hash64_bytes(_java_double_str(v).encode())
    if isinstance(v, (bytes, bytearray)):
        return hash64_bytes(bytes(v))
    return hash64_bytes(str(v).encode("utf-8"))


def cs_hll_pairs(v: list, type_name: "str | None", log2m: int) -> list:
    """Per-value clearspring register pair (j*64+r, murmur-int domain)
    for the non-integer column types the JVM murmur expression can't
    reach (float/double/string/binary)."""
    return [
        None if x is None or _isnan(x) else hll_pair32(_cs_hash32_of(x, type_name), log2m)
        for x in v
    ]


def cs_hllpp_pairs(v: list, type_name: "str | None", p: int) -> list:
    """Per-value clearspring HLL++ NORMAL pair (murmur64-toString
    domain); BIGINT values arrive exact."""
    return [
        None if x is None or _isnan(x) else hllpp_pair64(_cs_hash64_of(x, type_name), p)
        for x in v
    ]


def _elem_type_of(array_type_name: "str | None") -> "str | None":
    if array_type_name and array_type_name.startswith("array<"):
        return array_type_name[6:-1]
    return None


def _pair_arrays(pair_of):
    """MV variant of a pair body: one deduplicated pair array per row."""

    def body(arrs, t, param):
        et = _elem_type_of(_first(t))
        pp = _first(param)
        return [
            None
            if arr is None
            else list({pair_of(x, et, pp) for x in arr if x is not None and not _isnan(x)})
            for arr in arrs
        ]

    return body


def _cs_hll_pair_of(x, type_name, log2m):
    return hll_pair32(_cs_hash32_of(x, type_name), log2m)


def _cs_hllpp_pair_of(x, type_name, p):
    return hllpp_pair64(_cs_hash64_of(x, type_name), p)


def _from_pairs(build):
    """Per-row sketch bytes from a pair array (``build(pairs, *params)``)."""

    def body(arrs, *params):
        ps = [_first(p) for p in params]
        return [
            build([x for x in (lst or []) if x is not None], *ps).serialize()
            for lst in arrs
        ]

    return body


def _mv_partial(build):
    """Grouped-aggregate sketch bytes from every row's pair array."""

    def body(pair_arrs, *params):
        pairs = [int(x) for ps in pair_arrs if ps for x in ps if x is not None]
        return build(pairs, *(_first(p) for p in params)).serialize()

    return body


def cs_hll_merge_blobs(arrs: list) -> list:
    """Merge a list of clearspring blobs (all-plain or all-plus; the
    engine-own domain and mixed domains raise loudly — registers from
    different hash functions must never max-merge)."""
    def run(lst):
        acc = None
        for b in lst or []:
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
        return (acc or CsHll.empty()).serialize()

    return [run(lst) for lst in arrs]


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
    if type_name in ("float", "double") or (isinstance(v, float) and not v.is_integer()):
        d = float(v)
        if d == 0.0:
            d = 0.0
        if d != d:
            data = struct.pack("<q", 0x7FF8000000000000)
        else:
            data = struct.pack("<d", d)
        return _murmur3_x64_128(data, seed=9001)
    if isinstance(v, (int, float)):
        return _murmur3_x64_128(int(v).to_bytes(8, "little", signed=True), seed=9001)
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


def _cpc_skips(x, type_name) -> bool:
    # a NaN outside a float/double column reads as NULL; inside one it
    # is a value (CpcSketch.update(double) hashes the canonical NaN)
    return x is None or (_isnan(x) and type_name not in ("float", "double"))


def ds_cpc_coupons(v: list, type_name: "str | None", lg_k: int) -> list:
    def one(x):
        if _cpc_skips(x, type_name):
            return None
        h = _cpc_hash_of(x, type_name)
        return None if h is None else _cpc_coupon_of(h[0], h[1], lg_k)

    return [one(x) for x in v]


def ds_cpc_singles(v: list, type_name: "str | None", lg_k: int) -> list:
    """TOCPCSKETCH: a flat (HIP) singleton sketch per value —
    byte-identical to SketchFunctions.toCpcSketch; NULL gives the
    empty sketch, as in the reference."""
    from pinot_spark.operators.ds_cpc import DsCpcSketch

    def one(x):
        s = DsCpcSketch(lg_k)
        if not _cpc_skips(x, type_name):
            h = _cpc_hash_of(x, type_name)
            if h is not None:
                s._hash_update(h[0], h[1])
        return s.serialize()

    return [one(x) for x in v]


def ds_cpc_from_coupons(arrs: list, lg_k: int) -> list:
    """Merged-format sketch from a coupon set — CpcUnion.getResult
    bytes for the same stream (the distributed aggregation result a
    real cluster's broker merge produces)."""
    from pinot_spark.operators.ds_cpc import DsCpcSketch

    k = 1 << lg_k

    def one(cs):
        matrix = [0] * k
        for c in cs or []:
            if c is None:
                continue
            matrix[(c & 0xFFFFFFFF) >> 6] |= 1 << (c & 63)
        return DsCpcSketch.from_bit_matrix(matrix, lg_k).serialize()

    return [one(cs) for cs in arrs]


def ds_cpc_unions(arrs: list) -> list:
    """CPCSKETCHUNION over serialized payloads: full decompress, bit
    matrices OR'd at the reference's DEFAULT_CPC_SKETCH_LGK=12
    (downsampling to the smallest input lgK, as CpcUnion does)."""
    from pinot_spark.operators.ds_cpc import cpc_union, parse_cpc

    return [
        cpc_union([parse_cpc(bytes(b)) for b in blobs or [] if b is not None]).serialize()
        for blobs in arrs
    ]


def cpc_estimates(blobs: list) -> list:
    """Math.round(CpcSketch.getEstimate()) over foreign CPC bytes
    (SketchFunctions.java:388-392)."""
    from pinot_spark.operators.ds_cpc import DsCpcView

    return [
        None if x is None else int(math.floor(DsCpcView.parse(bytes(x)).estimate() + 0.5))
        for x in blobs
    ]


# --- the sketch-UDF table -----------------------------------------------------


class SketchUdf(NamedTuple):
    """Spark return type (DDL), body over one batch's argument lists,
    and whether it is a grouped aggregate (one value per group)."""

    rtype: str
    body: Callable
    agg: bool = False


def _with_params(body, *defaults):
    """``body(values, *params)`` for UDFs whose trailing arguments are
    literals: each param is its column's first value, or its default."""
    return lambda v, *ps: body(v, *(_first(p, d) for p, d in zip(ps, defaults)))


SKETCH_UDFS: dict[str, SketchUdf] = {
    # theta (either wire format)
    "__theta_singleton": SketchUdf("binary", theta_singletons),
    "__ds_theta_single": SketchUdf("binary", _with_params(ds_theta_singles, None)),
    "__theta_estimate": SketchUdf(
        "bigint",
        lambda a: [None if x is None else round(_load_any_theta(bytes(x))[1].estimate()) for x in a],
    ),
    "__theta_diff": SketchUdf("binary", _theta_binop("a_not_b")),
    "__theta_union": SketchUdf("binary", _theta_binop("union")),
    "__theta_intersect": SketchUdf("binary", _theta_binop("intersect")),
    "__theta_to_string": SketchUdf("string", theta_to_strings),
    "__theta_union_blobs": SketchUdf("binary", theta_union_blobs),
    "__theta_filtered": SketchUdf("bigint", theta_filtered),
    # integer tuple (either wire format; sum mode unless named)
    "__tuple_singleton": SketchUdf("binary", tuple_singletons),
    "__ds_tuple_single": SketchUdf("binary", ds_tuple_singles),
    "__tuple_estimate": SketchUdf("bigint", _tuple_stat(lambda s: round(s.estimate()))),
    "__tuple_sum_values": SketchUdf("bigint", _tuple_stat(lambda s: int(s.values.sum()))),
    "__tuple_avg_value": SketchUdf("double", _tuple_stat(_tuple_avg)),
    "__tuple_merge_sum": SketchUdf("binary", tuple_merge_sums),
    "__tuple_partial": SketchUdf("binary", tuple_partial, agg=True),
    "__tuple_union": SketchUdf("binary", _tuple_binop("union", "sum")),
    "__tuple_intersect": SketchUdf("binary", _tuple_binop("intersect", "sum")),
    "__tuple_diff": SketchUdf("binary", _tuple_binop("a_not_b", "sum")),
    # ULL (engine-own)
    "__ull_from_regs": SketchUdf("binary", ull_from_regs),
    "__ull_singleton": SketchUdf("binary", ull_singletons),
    "__ull_estimate": SketchUdf("bigint", ull_estimates),
    # HLL (clearspring; engine-own blobs read)
    "__hll_estimate": SketchUdf("bigint", hll_estimates),
    "__hll_union": SketchUdf("binary", hll_unions),
    "__cs_hll_single": SketchUdf("binary", _with_params(cs_hll_singles, None, 8)),
    "__cs_hllpp_single": SketchUdf("binary", _with_params(cs_hllpp_singles, None, 14, 0)),
    "__cs_hll_pair": SketchUdf("bigint", _with_params(cs_hll_pairs, None, 8)),
    "__cs_hllpp_pair": SketchUdf("bigint", _with_params(cs_hllpp_pairs, None, 14)),
    "__cs_hll_pairs_arr": SketchUdf("array<bigint>", _pair_arrays(_cs_hll_pair_of)),
    "__cs_hllpp_pairs_arr": SketchUdf("array<bigint>", _pair_arrays(_cs_hllpp_pair_of)),
    "__cs_hll_from_regs": SketchUdf("binary", _from_pairs(cs_hll_from_pairs)),
    "__cs_hllpp_from_regs": SketchUdf("binary", _from_pairs(cs_hllpp_from_pairs)),
    "__cs_hll_merge_blobs": SketchUdf("binary", cs_hll_merge_blobs),
    "__cs_hll_mv_partial": SketchUdf("binary", _mv_partial(cs_hll_from_pairs), agg=True),
    "__cs_hllpp_mv_partial": SketchUdf("binary", _mv_partial(cs_hllpp_from_pairs), agg=True),
    # CPC (DataSketches)
    "__cpc_coupon": SketchUdf("bigint", _with_params(ds_cpc_coupons, None, 12)),
    "__cpc_from_coupons": SketchUdf("binary", _with_params(ds_cpc_from_coupons, 12)),
    "__ds_cpc_single": SketchUdf("binary", _with_params(ds_cpc_singles, None, 12)),
    "__cpc_union": SketchUdf("binary", ds_cpc_unions),
    "__cpc_estimate": SketchUdf("bigint", cpc_estimates),
    # KLL (DataSketches) and t-digest (engine-own)
    "__ds_kll_single": SketchUdf("binary", ds_kll_singles),
    "__ds_kll_merge": SketchUdf("binary", ds_kll_merges),
    "__ds_kll_quantile": SketchUdf("double", ds_kll_quantiles),
    "__tdigest_from_values": SketchUdf("binary", tdigest_from_values),
    "__tdigest_from_quantiles": SketchUdf("binary", tdigest_from_quantiles),
    "__tdigest_merge": SketchUdf("binary", tdigest_merges),
    "__tdigest_quantile": SketchUdf("double", tdigest_quantiles_any),
    "__tdigest_partial": SketchUdf("binary", tdigest_partial, agg=True),
    # frequent items (DataSketches)
    "__freq_long_partial": SketchUdf("binary", _freq_partial(strings=False), agg=True),
    "__freq_str_partial": SketchUdf("binary", _freq_partial(strings=True), agg=True),
    "__freq_long_merge": SketchUdf("binary", _freq_merge(strings=False)),
    "__freq_str_merge": SketchUdf("binary", _freq_merge(strings=True)),
    "__freq_long_estimate": SketchUdf("bigint", _freq_estimate(strings=False)),
    "__freq_str_estimate": SketchUdf("bigint", _freq_estimate(strings=True)),
    # JSON_EXTRACT_KEY rides the same registration
    "__json_all_keys": SketchUdf("array<string>", json_all_keys),
}
# the Column surface's min/max tuple modes (no SQL name emits them)
for _op in ("union", "intersect"):
    for _mode in ("min", "max"):
        SKETCH_UDFS[f"__tuple_{_op}_{_mode}"] = SketchUdf("binary", _tuple_binop(_op, _mode))


def sketch_udf(name: str):
    """The table row ``name`` as a Spark UDF (built once per process)."""
    row = SKETCH_UDFS[name]
    return _lazy_udf(name, lambda: arrow_rows_udf(row.rtype, row.body, row.agg))


# --- Column surface -----------------------------------------------------------


def _masked_xxhash64(col):
    # xxhash64(NULL) returns the seed, not NULL — mask it so NULL inputs
    # become EMPTY sketches (reference nullableParameters behavior)
    c = _c(col)
    return F.when(c.isNull(), F.lit(None).cast("long")).otherwise(F.xxhash64(c))


# reference: toThetaSketch(value[, nominalEntries]) — a singleton (or
# empty, for NULL input) serialized engine-own sketch for pre-aggregated
# ingest
_reg("tothetasketch")(
    lambda v, k=_DEFAULT_K: sketch_udf("__theta_singleton")(_masked_xxhash64(v), F.lit(int(k)))
)
_reg("thetasketchtostring")(lambda b: sketch_udf("__theta_to_string")(_c(b)))
# engine extension: single-item sketch in the DataSketches COMPACT wire
# format + murmur-9001 update-hash domain (operators/ds_theta.py) — the
# byte-level twin of the reference's toThetaSketch output
# (SketchFunctions.java:98-106), for exchanging sketches with a real
# Pinot/DataSketches deployment.  The two domains never mix (consumers
# auto-detect and raise on a mixed pair).
_reg("todatasketchestheta")(
    lambda v: sketch_udf("__ds_theta_single")(_c(v), F.typeof(_c(v)))
)
# engine extension: single-item integer-tuple sketch in the DataSketches
# wire format (tuple family 9, Sum mode)
_reg("todatasketchestuple")(
    lambda k, v: sketch_udf("__ds_tuple_single")(_c(k), _c(v))
)
_reg("tointegersumtuplesketch")(
    lambda key, value, lg_k=None: sketch_udf("__tuple_singleton")(
        _masked_xxhash64(key),
        _c(value).cast("long"),
        F.lit(_DEFAULT_K if lg_k is None else 2 ** int(lg_k)),
    )
)
for _mode in ("sum", "min", "max"):
    _sfx = "" if _mode == "sum" else f"_{_mode}"
    _reg(f"int{_mode}tuplesketchunion")(
        lambda a, b, _n=f"__tuple_union{_sfx}": sketch_udf(_n)(_c(a), _c(b))
    )
    _reg(f"int{_mode}tuplesketchintersect")(
        lambda a, b, _n=f"__tuple_intersect{_sfx}": sketch_udf(_n)(_c(a), _c(b))
    )
_reg("intsumtuplesketchdiff")(lambda a, b: sketch_udf("__tuple_diff")(_c(a), _c(b)))
_reg("getinttuplesketchestimate")(lambda b: sketch_udf("__tuple_estimate")(_c(b)))

# byte-identical to SketchFunctions.toCpcSketch / cpcSketchUnion /
# getCpcSketchEstimate (lgK 12 default; union downsamples per CpcUnion)
_reg("tocpcsketch")(
    lambda v, lgk=None: sketch_udf("__ds_cpc_single")(
        _c(v), F.typeof(_c(v)), F.lit(12 if lgk is None else int(lgk))
    )
)
# engine-own UltraLogLog singleton (operators/ull.py), as SQL TOULL
_reg("toull")(
    lambda v, p=12: sketch_udf("__ull_singleton")(_masked_xxhash64(v), F.lit(int(p)))
)
_reg("getcpcsketchestimate")(lambda b: sketch_udf("__cpc_estimate")(_c(b)))
_reg("cpcsketchunion")(lambda a, b: sketch_udf("__cpc_union")(F.array(_c(a), _c(b))))

# reference toHLL(value[, log2m]) (SketchFunctions.java:139-162): a
# singleton (or empty, for NULL) serialized HLL for pre-aggregated
# ingest — the reference's ACTUAL clearspring stream-lib bytes (default
# log2m 8, CommonConstants), mergeable with the clearspring-routed
# DISTINCTCOUNTRAWHLL output
_reg("tohll")(
    lambda v, log2m=None: sketch_udf("__cs_hll_single")(
        _c(v), F.typeof(_c(v)), F.lit(8 if log2m is None else int(log2m))
    )
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
            f"{name}: the hash4j ULL wire format and the CPC string form "
            "are documented gaps (COVERAGE.md Known gaps) — use "
            "DISTINCTCOUNTHLL/approx_count_distinct for estimates, or "
            "DataSketches theta/CPC sketch bytes (TODATASKETCHESTHETA, "
            "TOCPCSKETCH) for mergeable state"
        )

    return f


for _n in ("fromull", "cpcsketchtostring"):
    _reg(_n)(_wire_gap(_n))
