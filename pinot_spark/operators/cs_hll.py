"""clearspring (stream-lib) HyperLogLog / HyperLogLogPlus WIRE-FORMAT
interop — read, write, union, and estimate, byte-canonical with the
library the reference actually serializes.

The reference's HLL family is backed by com.clearspring.analytics
stream-lib, NOT DataSketches: ``SketchFunctions.toHLL`` builds a
``HyperLogLog`` and ships ``ObjectSerDeUtils.HYPER_LOG_LOG_SER_DE``
bytes (pinot-core/.../function/scalar/SketchFunctions.java:139-162,
pinot-core/.../common/ObjectSerDeUtils.java:741-775), and
DISTINCTCOUNTHLLPLUS exchanges ``HyperLogLogPlus.getBytes()``
(ObjectSerDeUtils.java:777+).  So real-Pinot HLL exchange means the
stream-lib 2.9.8 formats, implemented here from scratch:

- ``CsHll``: the plain HyperLogLog layout — big-endian ``int log2m``,
  ``int byteSize``, then the RegisterSet words (6 five-bit registers
  per 32-bit word, word count = m/6 rounded up to the library's
  ``getSizeForCount`` quirk).  ``serialize(parse(b)) == b`` for every
  Java-generated golden vector (tests/data/cs_hll_vectors.json) and
  ``build_from_longs`` reproduces the library's bytes exactly.
- ``CsHllPlus``: the HyperLogLogPlus layout — big-endian ``int -2``
  version marker, then varints p, sp, format (0=NORMAL 1=SPARSE);
  NORMAL ships ``int byteSize`` + RegisterSet words, SPARSE ships a
  varint count + delta-encoded sorted encoded-coupon ints.
- ``hash32_*`` / ``hash64_*``: stream-lib MurmurHash semantics,
  bit-exact against 32 Java-generated probes: the int hash used by
  HyperLogLog (``hashLong`` for numerics via their IEEE/long bits, a
  murmur2 with seed -1 and an end-indexed SIGNED-byte tail for
  byte[]/String), and the 64-bit hash used by HyperLogLogPlus (murmur2
  x64 seed 0xe17a1465; numbers hash their ``toString()`` bytes —
  stream-lib's dispatch has no numeric case for hash64).

Empirically pinned facts (reflective probes against stream-lib 2.9.8,
tests/test_cs_hll.py):

- RegisterSet: REGISTER_SIZE=5, 6 registers/word, register j lives at
  word ``j//6`` shift ``5*(j%6)``; word count = ``m//6`` bumped by one
  unless it's a positive multiple of 32 (the library's historical
  size formula).
- HLL offer: ``j = h32 >>> (32-log2m)``;
  ``r = nlz32((h32 << log2m) | ((1 << (log2m-1)) + 1)) + 1``.
- HLL++ sparse encoding: ``idx = h64 >>> (64-sp)``; if the low
  ``sp-p`` bits of idx are zero the coupon is
  ``(idx << 7) | (rfield << 1) | 1`` with
  ``rfield = (p-2) + (64-sp) - min(nlz64(h64 << sp), 64-sp)``
  (so the decoded run length ``63 - rfield`` equals the paper's
  ``(sp-p) + nlz(remainder) + 1``), else ``idx << 1``.
- Sparse sets sort by ``(idx_sp << 7) | (rfield<<1 | run-length-first
  sentinel 127)`` compared unsigned; duplicates keep the first entry
  (= max run length); sparse→normal conversion threshold is
  ``0.75 * 2^p``.
- Estimates: plain HLL uses alpha·m²/Σ2^-M with linear counting below
  2.5m; HLL++ NORMAL subtracts the 6-nearest-neighbor interpolated
  empirical bias (pinot_spark/data/hllpp_bias.json — the public
  Google HLL++ paper appendix tables as embedded by stream-lib) and
  arbitrates via thresholdData; SPARSE linear-counts the sp space.
  Cardinalities round like ``Math.round`` (floor(x+.5)).

DOMAIN SEPARATION: the engine's own fast-path HLL (operators/hll.py)
hashes with xxhash64 into an engine-own register blob; a clearspring
sketch hashes with murmur-int / murmur64-toString.  Estimating either
format works (GETHLLESTIMATE auto-detects), but unions across the two
domains would silently mis-merge, so consumers raise loudly on a mixed
pair instead of guessing.

Hash charset note: stream-lib hashes ``String.getBytes()`` in the JVM
platform charset; this module uses UTF-8, matching any reference
deployment with ``file.encoding=UTF-8`` (the Pinot default).
"""

from __future__ import annotations

import json
import os
import struct
from dataclasses import dataclass

import numpy as np

DEFAULT_LOG2M = 8  # CommonConstants.DEFAULT_HYPERLOGLOG_LOG2M
DEFAULT_HLLPLUS_P = 14  # CommonConstants.DEFAULT_HYPERLOGLOG_PLUS_P
DEFAULT_HLLPLUS_SP = 0  # CommonConstants.DEFAULT_HYPERLOGLOG_PLUS_SP

_M32 = 0xFFFFFFFF
_M64 = 0xFFFFFFFFFFFFFFFF
_MUL32, _R32 = 0x5BD1E995, 24
_MUL64, _R64 = 0xC6A4A7935BD1E995, 47
_SEED64 = 0xE17A1465

NORMAL, SPARSE = 0, 1
_VERSION_MARKER = -2  # HyperLogLogPlus writes -VERSION (VERSION = 2)


# ---------------------------------------------------------------------------
# stream-lib MurmurHash (int + 64-bit), bit-exact vs Java probes
# ---------------------------------------------------------------------------


def hash32_long(v: int) -> int:
    """MurmurHash.hashLong — the int hash HyperLogLog.offer uses for
    Long/Integer (and for Double/Float via their raw IEEE bits)."""
    v &= _M64
    h = 0
    k = ((v & _M32) * _MUL32) & _M32
    k ^= k >> _R32
    h ^= (k * _MUL32) & _M32
    k = (((v >> 32) & _M32) * _MUL32) & _M32
    k ^= k >> _R32
    h = (h * _MUL32) & _M32
    h ^= (k * _MUL32) & _M32
    h ^= h >> 13
    h = (h * _MUL32) & _M32
    h ^= h >> 15
    return h - (1 << 32) if h >= 1 << 31 else h


def hash32_longs(values: np.ndarray) -> np.ndarray:
    """Vectorized hash32_long over an int64 array → int32 hashes."""
    with np.errstate(over="ignore"):
        v = values.astype(np.int64).view(np.uint64)
        mul = np.uint64(_MUL32)
        m32 = np.uint64(_M32)
        h = np.zeros(len(v), dtype=np.uint64)
        k = ((v & m32) * mul) & m32
        k ^= k >> np.uint64(_R32)
        h ^= (k * mul) & m32
        k = ((v >> np.uint64(32)) * mul) & m32
        k ^= k >> np.uint64(_R32)
        h = (h * mul) & m32
        h ^= (k * mul) & m32
        h ^= h >> np.uint64(13)
        h = (h * mul) & m32
        h ^= h >> np.uint64(15)
        return h.astype(np.uint32).view(np.int32)


def hash32_bytes(data: bytes) -> int:
    """MurmurHash.hash(byte[]) — murmur2-int, seed -1, with the
    library's end-indexed SIGNED-byte tail (bytes sign-extend before
    shifting, and the tail indexes run from the end of the buffer)."""
    length = len(data)
    h = (-1 ^ length) & _M32
    i = 0
    while length - i >= 4:
        k = int.from_bytes(data[i : i + 4], "little")
        k = (k * _MUL32) & _M32
        k ^= k >> _R32
        k = (k * _MUL32) & _M32
        h = (h * _MUL32) & _M32
        h ^= k
        i += 4
    left = length - i
    if left:
        if left >= 3:
            b = data[length - 3]
            h ^= ((b - 256 if b >= 128 else b) << 16) & _M32
        if left >= 2:
            b = data[length - 2]
            h ^= ((b - 256 if b >= 128 else b) << 8) & _M32
        b = data[length - 1]
        h ^= (b - 256 if b >= 128 else b) & _M32
        h = (h * _MUL32) & _M32
    h ^= h >> 13
    h = (h * _MUL32) & _M32
    h ^= h >> 15
    return h - (1 << 32) if h >= 1 << 31 else h


def hash64_bytes(data: bytes) -> int:
    """MurmurHash.hash64(byte[]) — murmur2 x64, seed 0xe17a1465."""
    length = len(data)
    h = (_SEED64 ^ ((length * _MUL64) & _M64)) & _M64
    i = 0
    while length - i >= 8:
        k = int.from_bytes(data[i : i + 8], "little")
        k = (k * _MUL64) & _M64
        k ^= k >> _R64
        k = (k * _MUL64) & _M64
        h ^= k
        h = (h * _MUL64) & _M64
        i += 8
    left = length - i
    if left:
        tail = data[i:]
        for j in range(left - 1, -1, -1):
            h ^= tail[j] << (8 * j)
        h = (h * _MUL64) & _M64
    h ^= h >> _R64
    h = (h * _MUL64) & _M64
    h ^= h >> _R64
    return h - (1 << 64) if h >= 1 << 63 else h


def _java_double_str(d: float) -> str:
    """Java Double.toString for finite doubles — faithful to JDK 17's
    LEGACY FloatingDecimal via _legacy_dtoa (shortest-repr is NOT
    equivalent: the legacy algorithm emits an extra digit at
    power-of-two mantissas and in its int/long overflow regimes —
    3,378 of 1.55M probed doubles diverge from Python repr).  Pinned
    against live-Java probe vectors in tests/test_cs_hll.py."""
    if d != d:
        return "NaN"
    if d == float("inf"):
        return "Infinity"
    if d == float("-inf"):
        return "-Infinity"
    bits = struct.unpack("<Q", struct.pack("<d", float(d)))[0]
    neg = bool(bits >> 63)
    sign = "-" if neg else ""
    bin_exp = (bits >> 52) & 0x7FF
    fract = bits & ((1 << 52) - 1)
    if bin_exp == 0:
        if fract == 0:
            return sign + "0.0"
        lead = 64 - fract.bit_length()
        shift = lead - 11
        fract <<= shift
        bin_exp = 1 - shift
        n_sig = 64 - lead
    else:
        fract |= 1 << 52
        n_sig = 53
    bin_exp -= 1023
    digits, dec_exp = _legacy_dtoa(bin_exp, fract, n_sig)
    return _java_digits_layout(sign, digits, dec_exp)


def _java_float_str(f: float) -> str:
    """Java Float.toString for floats — faithful to JDK 17's LEGACY
    FloatingDecimal (NOT shortest round-trip: Ryū landed in JDK 19).
    stream-lib hash64(Object) on a Float hashes Float.toString() —
    widening to double first would hash e.g. '0.10000000149011612'
    instead of '0.1' for 0.1f and silently diverge from the reference.
    The legacy digit generation (integer fast path with
    insignificant-digit rounding, Dragon-style free format with a
    float-precision half-ulp measure and the power-of-two hack) is
    reimplemented here with exact Python integers and pinned against
    7k+ live-Java probe vectors (tests/test_cs_hll.py)."""
    f32 = np.float32(f)
    if f32 != f32:
        return "NaN"
    if f32 == np.inf:
        return "Infinity"
    if f32 == -np.inf:
        return "-Infinity"
    neg = bool(np.signbit(f32))
    sign = "-" if neg else ""
    bits = struct.unpack("<I", struct.pack("<f", abs(f32)))[0]
    bin_exp = (bits >> 23) & 0xFF
    fract = bits & 0x7FFFFF
    if bin_exp == 0:
        if fract == 0:
            return sign + "0.0"
        # normalize the denormal: HOB to bit 23
        lead = 32 - fract.bit_length()
        shift = lead - 8
        fract <<= shift
        bin_exp = 1 - shift
        n_sig = 32 - lead
    else:
        fract |= 0x800000
        n_sig = 24
    bin_exp -= 127
    digits, dec_exp = _legacy_dtoa(bin_exp, fract << 29, n_sig)
    return _java_digits_layout(sign, digits, dec_exp)


def _legacy_dtoa(bin_exp: int, fract_bits: int, n_sig: int) -> tuple[str, int]:
    """JDK-legacy FloatingDecimal.dtoa over a 53-bit-normalized
    mantissa: returns (digit string, decExponent) where the value is
    0.DIGITS x 10^decExponent.  Faithful to the JDK 17 bytecode
    (disassembled in-container; no source ships), including its
    arithmetic-width quirks, because Float.toString's exact output —
    overflow artifacts and all — is what stream-lib hashes:

    - integer values (binExp in [-21, 62], no fraction bits) develop
      long digits, rounding away floor(log10(2^(binExp - nSig - 1)))
      low digits half-up;
    - otherwise a Dragon-style loop with M = the value's half-ulp
      (halved again at exact powers of two) runs in int, long, or
      big-integer arithmetic depending on operand bit counts, and the
      int/long variants WRAP on overflow: M*10 wrapping to <= 0 forces
      a stop, and B+M wrapping negative silently falsifies the 'round
      up allowed' test (observed: 4.6853484...E25 truncates where
      exact arithmetic would round up);
    - the int/long paths test B+M > tenS strictly, the big path
      B+M >= tenS;
    - E-form (decExp < -3 or >= 8) forces at least two digits."""
    import math as _math

    tail_zeros = (fract_bits & -fract_bits).bit_length() - 1
    n_fract = 53 - tail_zeros
    n_tiny = max(0, n_fract - bin_exp - 1)
    if -21 <= bin_exp <= 62 and n_tiny == 0:
        # integer value: develop decimal digits of the long, dropping
        # insignificant low digits with round-half-up
        if bin_exp > n_sig:
            p2 = bin_exp - n_sig - 1
            insig = len(str(1 << p2)) - 1 if p2 > 1 else 0
        else:
            insig = 0
        lvalue = fract_bits << (bin_exp - 52) if bin_exp >= 52 else fract_bits >> (52 - bin_exp)
        dec_exp = 0
        if insig:
            pow10 = 10**insig
            lvalue, residue = divmod(lvalue, pow10)
            dec_exp += insig
            if residue >= pow10 >> 1:
                lvalue += 1
        s = str(lvalue)
        dec_exp += len(s)
        return s.rstrip("0"), dec_exp
    # hard case: scaled digit generation (estimateDecExp constants are
    # the JDK's literal doubles)
    d2 = 1.0 + ((fract_bits & ((1 << 52) - 1)) / 2.0**52)
    est = (d2 - 1.5) * 0.289529654 + 0.176091259 + bin_exp * 0.301029995663981
    dec_exp = _math.floor(est)
    b5 = max(0, -dec_exp)
    b2 = b5 + n_tiny + bin_exp
    s5 = max(0, dec_exp)
    s2 = s5 + n_tiny
    m5 = b5
    m2 = b2 - n_sig
    fract_bits >>= tail_zeros
    b2 -= n_fract - 1
    common2 = min(b2, s2)
    b2 -= common2
    s2 -= common2
    m2 -= common2
    if n_fract == 1:
        m2 -= 1  # ULP halves at exact powers of two
    if m2 < 0:
        b2 -= m2
        s2 -= m2
        m2 = 0
    # pick the JDK's arithmetic width from the operand bit counts
    def _n5bits(i: int) -> int:
        return 0 if i == 0 else (5**i).bit_length()

    b_bits = n_fract + b2 + (_n5bits(b5) if b5 < 27 else b5 * 3)
    ten_s_bits = s2 + 1 + (_n5bits(s5 + 1) if s5 + 1 < 27 else (s5 + 1) * 3)
    s_val = 5**s5 << s2
    b_val = fract_bits * 5**b5 << b2
    m_val = 5**m5 << m2
    ten_s = s_val * 10
    if b_bits < 64 and ten_s_bits < 64:
        width = 64 if (b_bits >= 32 or ten_s_bits >= 32) else 32
        wrap_mod = 1 << width
        wrap_sign = 1 << (width - 1)

        def w(x: int) -> int:
            x &= wrap_mod - 1
            return x - wrap_mod if x >= wrap_sign else x

    else:

        def w(x: int) -> int:  # big-integer path: exact
            return x

        width = 0
    out: list[int] = []
    q, r = divmod(b_val, s_val)
    b_val = 10 * r
    m_val = w(m_val * 10)
    low = b_val < m_val
    if width:
        high = w(b_val + m_val) > ten_s
    else:
        high = b_val + m_val >= ten_s
    if q == 0 and not high:
        dec_exp -= 1  # estimate was one too high; drop the leading zero
    else:
        out.append(q)
    if dec_exp < -3 or dec_exp >= 8:
        high = low = False  # E-form prints at least two digits
    while not low and not high:
        q, r = divmod(b_val, s_val)
        b_val = 10 * r
        m_val = w(m_val * 10)
        if width and m_val <= 0:
            low = high = True  # M overflowed: forced stop
        else:
            low = b_val < m_val
            if width:
                high = w(b_val + m_val) > ten_s
            else:
                high = b_val + m_val >= ten_s
        out.append(q)
    if high:
        do_round = True
        if low:
            diff = w(w(b_val << 1) - ten_s) if width else (b_val << 1) - ten_s
            if diff < 0:
                do_round = False
            elif diff == 0:
                do_round = bool(out[-1] & 1)  # tie: round to even digit
        if do_round:
            i = len(out) - 1
            while i >= 0 and out[i] == 9:
                out[i] = 0
                i -= 1
            if i < 0:
                dec_exp += 1
                out[0] = 1  # legacy keeps the trailing zeros on carryout
            else:
                out[i] += 1
    return "".join(str(d) for d in out), dec_exp + 1


def _java_digits_layout(sign: str, digits: str, dec_exp: int) -> str:
    """FloatingDecimal.getChars: value = 0.DIGITS x 10^decExp laid out
    as Java prints it — plain decimal for -3 < decExp < 8, D.DDDE[-]X
    scientific otherwise, always at least one fraction digit."""
    n = len(digits)
    if 0 < dec_exp < 8:
        if n <= dec_exp:
            return f"{sign}{digits.ljust(dec_exp, '0')}.0"
        return f"{sign}{digits[:dec_exp]}.{digits[dec_exp:]}"
    if -3 < dec_exp <= 0:
        return f"{sign}0.{'0' * -dec_exp}{digits}"
    frac = digits[1:] or "0"
    return f"{sign}{digits[0]}.{frac}E{dec_exp - 1}"


def hash64_obj(v) -> int:
    """MurmurHash.hash64(Object): String/byte[] hash their bytes;
    EVERYTHING else (including Long/Double) falls through to
    ``hash64(o.toString())`` — stream-lib's hash64 dispatch has no
    numeric branch, pinned by the Java probes."""
    if isinstance(v, (bytes, bytearray)):
        return hash64_bytes(bytes(v))
    if isinstance(v, str):
        return hash64_bytes(v.encode("utf-8"))
    if isinstance(v, bool):
        return hash64_bytes(str(v).lower().encode())
    if isinstance(v, (int, np.integer)):
        return hash64_bytes(str(int(v)).encode())
    if isinstance(v, np.float32):
        # a genuine float32 scalar hashes Float.toString, not the
        # widened double's digits
        return hash64_bytes(_java_float_str(float(v)).encode())
    if isinstance(v, (float, np.floating)):
        return hash64_bytes(_java_double_str(float(v)).encode())
    return hash64_bytes(str(v).encode())


def hash32_obj(v) -> int:
    """MurmurHash.hash(Object): numerics hash their long/IEEE bits via
    hashLong; String/byte[] hash bytes; null → 0."""
    if v is None:
        return 0
    if isinstance(v, (bytes, bytearray)):
        return hash32_bytes(bytes(v))
    if isinstance(v, str):
        return hash32_bytes(v.encode("utf-8"))
    if isinstance(v, bool):
        return hash32_bytes(str(v).lower().encode())
    if isinstance(v, (int, np.integer)):
        return hash32_long(int(v))
    if isinstance(v, (float, np.floating)):
        return hash32_long(struct.unpack("<q", struct.pack("<d", float(v)))[0])
    return hash32_bytes(str(v).encode())


# ---------------------------------------------------------------------------
# RegisterSet packing (6 x 5-bit registers per 32-bit word)
# ---------------------------------------------------------------------------


def _register_words(count: int) -> int:
    """stream-lib RegisterSet.getSizeForCount: m//6 words, bumped by
    one unless zero-adjusted or an exact positive multiple of 32."""
    bits = count // 6
    if bits == 0:
        return 1
    if bits % 32 == 0:
        return bits
    return bits + 1


def _pack_registers(registers: np.ndarray) -> np.ndarray:
    """registers (uint8, len m) → int32 words, register j at word j//6
    shift 5*(j%6)."""
    m = len(registers)
    words = np.zeros(_register_words(m), dtype=np.uint32)
    r = registers.astype(np.uint32)
    for lane in range(6):
        vals = r[lane::6]
        words[: len(vals)] |= vals << np.uint32(5 * lane)
    return words.view(np.int32)


def _unpack_registers(words: np.ndarray, m: int) -> np.ndarray:
    w = words.view(np.uint32)
    out = np.zeros(m, dtype=np.uint8)
    for lane in range(6):
        n = len(out[lane::6])
        out[lane::6] = (w[:n] >> np.uint32(5 * lane)) & np.uint32(0x1F)
    return out


def _round_java(x: float) -> int:
    """Java Math.round(double): floor(x + 0.5)."""
    import math

    return int(math.floor(x + 0.5))


def _alpha_mm(log2m: int) -> float:
    m = 1 << log2m
    if log2m == 4:
        return 0.673 * m * m
    if log2m == 5:
        return 0.697 * m * m
    if log2m == 6:
        return 0.709 * m * m
    return (0.7213 / (1 + 1.079 / m)) * m * m


# ---------------------------------------------------------------------------
# Plain HyperLogLog
# ---------------------------------------------------------------------------


@dataclass
class CsHll:
    """A parsed clearspring HyperLogLog: log2m + m 5-bit registers."""

    log2m: int
    registers: np.ndarray  # uint8, len 2^log2m

    @classmethod
    def empty(cls, log2m: int = DEFAULT_LOG2M) -> "CsHll":
        return cls(log2m, np.zeros(1 << log2m, dtype=np.uint8))

    def offer_hash32(self, h32: int) -> None:
        h = h32 & _M32
        j = h >> (32 - self.log2m)
        # r = nlz32((h << log2m) | ((1 << (log2m-1)) + 1)) + 1
        probe = ((h << self.log2m) & _M32) | ((1 << (self.log2m - 1)) + 1)
        r = 32 - probe.bit_length() + 1
        if r > self.registers[j]:
            self.registers[j] = r

    def offer(self, v) -> None:
        self.offer_hash32(hash32_obj(v))

    def offer_hashes32(self, h32s: np.ndarray) -> None:
        """Vectorized register update from int32 hashes."""
        if len(h32s) == 0:
            return
        h = h32s.astype(np.int32).view(np.uint32).astype(np.uint64)
        j = (h >> np.uint64(32 - self.log2m)).astype(np.int64)
        probe = ((h << np.uint64(self.log2m)) & np.uint64(_M32)) | np.uint64(
            (1 << (self.log2m - 1)) + 1
        )
        # nlz32 via bit_length: probe is never 0 (sentinel bit is set)
        bl = np.zeros(len(probe), dtype=np.uint8)
        cur = probe.copy()
        for s_bits in (16, 8, 4, 2, 1):
            big = cur >> np.uint64(s_bits) != 0
            bl[big] += np.uint8(s_bits)
            cur[big] >>= np.uint64(s_bits)
        r = (32 - (bl + 1) + 1).astype(np.uint8)
        np.maximum.at(self.registers, j, r)

    @classmethod
    def build_from_longs(cls, values, log2m: int = DEFAULT_LOG2M) -> "CsHll":
        s = cls.empty(log2m)
        arr = np.fromiter((int(v) for v in values), dtype=np.int64)
        s.offer_hashes32(hash32_longs(arr))
        return s

    def merge(self, other: "CsHll") -> "CsHll":
        if other.log2m != self.log2m:
            raise ValueError("clearspring HLL merge requires equal log2m")
        return CsHll(self.log2m, np.maximum(self.registers, other.registers))

    def cardinality(self) -> int:
        m = 1 << self.log2m
        reg = self.registers.astype(np.float64)
        register_sum = float(np.sum(np.exp2(-reg)))
        zeros = float(np.count_nonzero(self.registers == 0))
        estimate = _alpha_mm(self.log2m) / register_sum
        if estimate <= 2.5 * m:
            # stream-lib has NO zero-register guard: linearCounting with
            # V=0 is m*log(inf)=Infinity and Math.round(Infinity) is
            # Long.MAX_VALUE — replicated bit-for-bit (all registers
            # nonzero can co-occur with a small raw estimate only in
            # adversarial/foreign register blobs, but Java-identical
            # means identical there too)
            if zeros == 0:
                return (1 << 63) - 1
            return _round_java(m * np.log(m / zeros))
        return _round_java(estimate)

    def serialize(self) -> bytes:
        words = _pack_registers(self.registers)
        out = struct.pack(">ii", self.log2m, len(words) * 4)
        return out + words.astype(">i4").tobytes()

    @classmethod
    def parse(cls, b: bytes) -> "CsHll":
        log2m, nbytes = struct.unpack_from(">ii", b, 0)
        if not (1 <= log2m <= 30) or nbytes != len(b) - 8 or nbytes % 4:
            raise ValueError("not a clearspring HyperLogLog byte array")
        words = np.frombuffer(b, dtype=">i4", count=nbytes // 4, offset=8).astype(
            np.int32
        )
        m = 1 << log2m
        if _register_words(m) != len(words):
            raise ValueError("clearspring HLL register block size mismatch")
        return cls(log2m, _unpack_registers(words, m))


def is_cs_hll_bytes(b: bytes) -> bool:
    """True when the bytes parse as a clearspring plain-HLL payload
    (BE log2m int + matching register block).  Engine-own HLL blobs
    (operators/hll.py: log2m byte + raw registers) never match: their
    length is 1 + 2^log2m while this format is 8 + 4*words."""
    if len(b) < 12:
        return False
    try:
        CsHll.parse(b)
        return True
    except Exception:
        return False


# ---------------------------------------------------------------------------
# HyperLogLogPlus
# ---------------------------------------------------------------------------


def _write_varint(out: bytearray, v: int) -> None:
    v &= _M32
    while True:
        bits = v & 0x7F
        v >>= 7
        if v:
            out.append(bits | 0x80)
        else:
            out.append(bits)
            return


def _read_varint(b: bytes, pos: int) -> tuple[int, int]:
    shift = 0
    result = 0
    while True:
        byte = b[pos]
        pos += 1
        result |= (byte & 0x7F) << shift
        if not byte & 0x80:
            return result & _M32, pos
        shift += 7


def encode_hash(h64: int, p: int, sp: int) -> int:
    """HyperLogLogPlus.encodeHash — the sparse coupon for a 64-bit
    hash (layout pinned by reflective probes, see module docstring)."""
    h = h64 & _M64
    idx = h >> (64 - sp)
    if idx & ((1 << (sp - p)) - 1):
        return _to_i32(idx << 1)
    rem = (h << sp) & _M64
    lz = 64 - rem.bit_length() if rem else 64 - sp
    lz = min(lz, 64 - sp)
    rfield = (p - 2) + (64 - sp) - lz
    return _to_i32((idx << 7) | (rfield << 1) | 1)


def _to_i32(v: int) -> int:
    v &= _M32
    return v - (1 << 32) if v >= 1 << 31 else v


def _sparse_idx(k: int) -> int:
    return (k & _M32) >> (7 if k & 1 else 1)


def _sort_key(k: int) -> int:
    """Unsigned comparison key: sp-index major, run-length coupons
    (which carry more information and sort by max run length first)
    before simple ones."""
    return (_sparse_idx(k) << 7) | ((k & 0x7E) if k & 1 else 0x7F)


def _decode_run_length(k: int, p: int, sp: int) -> int:
    """Register value when folding a sparse coupon into the normal
    2^p register array."""
    if k & 1:
        return 63 - ((k >> 1) & 0x3F)
    idx_sp = (k & _M32) >> 1
    low = idx_sp & ((1 << (sp - p)) - 1)
    window = sp - p
    lz = window - low.bit_length()
    return lz + 1


def _normal_rho(h64: int, p: int) -> int:
    """Run length for a direct (normal-mode) offer: leading zeros of
    the remaining 64-p bits + 1, with the library's sentinel probe."""
    h = h64 & _M64
    probe = ((h << p) & _M64) | ((1 << (p - 1)) + 1)
    return 64 - probe.bit_length() + 1


_BIAS_PATH = os.path.join(os.path.dirname(os.path.dirname(__file__)), "data", "hllpp_bias.json")
_BIAS_CACHE: dict | None = None


def _bias_tables() -> dict:
    global _BIAS_CACHE
    if _BIAS_CACHE is None:
        _BIAS_CACHE = json.load(open(_BIAS_PATH))
    return _BIAS_CACHE


def _estimate_bias(estimate: float, p: int) -> float:
    """6-nearest-neighbor interpolation over the empirical bias tables
    (squared-distance ordering, ties collapse like Java's SortedMap)."""
    t = _bias_tables()
    raw = t["rawEstimateData"][p - 4]
    bias = t["biasData"][p - 4]
    dist: dict[float, int] = {}
    for i, r in enumerate(raw):
        dist[(estimate - r) ** 2] = i
    nearest = [dist[d] for d in sorted(dist)[:6]]
    return sum(bias[i] for i in nearest) / len(nearest)


@dataclass
class CsHllPlus:
    """A parsed clearspring HyperLogLogPlus (NORMAL or SPARSE)."""

    p: int
    sp: int
    fmt: int  # NORMAL / SPARSE
    registers: np.ndarray | None  # uint8 len 2^p when NORMAL
    sparse: list[int] | None  # sorted encoded coupons when SPARSE

    @classmethod
    def empty(cls, p: int = DEFAULT_HLLPLUS_P, sp: int = DEFAULT_HLLPLUS_SP) -> "CsHllPlus":
        if sp > 0:
            return cls(p, sp, SPARSE, None, [])
        return cls(p, 0, NORMAL, np.zeros(1 << p, dtype=np.uint8), None)

    # -- building ----------------------------------------------------------

    @property
    def _threshold(self) -> int:
        return int(0.75 * (1 << self.p))

    def _to_normal(self) -> None:
        regs = np.zeros(1 << self.p, dtype=np.uint8)
        for k in self.sparse or []:
            j = _sparse_idx(k) >> (self.sp - self.p)
            r = _decode_run_length(k, self.p, self.sp)
            if r > regs[j]:
                regs[j] = r
        self.registers = regs
        self.sparse = None
        self.fmt = NORMAL

    def offer_hash64(self, h64: int) -> None:
        if self.fmt == SPARSE:
            k = encode_hash(h64, self.p, self.sp)
            self._sparse_add([k])
            if len(self.sparse) > self._threshold:
                self._to_normal()
        else:
            j = (h64 & _M64) >> (64 - self.p)
            r = _normal_rho(h64, self.p)
            if r > self.registers[j]:
                self.registers[j] = r

    def offer(self, v) -> None:
        self.offer_hash64(hash64_obj(v))

    def _sparse_add(self, ks: list[int]) -> None:
        """Merge coupons into the sorted sparse set, keeping one entry
        per sp-index (the first in sort order = max run length)."""
        merged: dict[int, int] = {}
        for k in (self.sparse or []) + ks:
            key = _sparse_idx(k)
            cur = merged.get(key)
            if cur is None or _sort_key(k) < _sort_key(cur):
                merged[key] = k
        self.sparse = [merged[i] for i in sorted(merged)]

    # -- merge -------------------------------------------------------------

    def merge(self, other: "CsHllPlus") -> "CsHllPlus":
        if (self.p, self.sp) != (other.p, other.sp):
            raise ValueError("clearspring HLL++ merge requires equal p/sp")
        out = CsHllPlus(self.p, self.sp, self.fmt, None, None)
        if self.fmt == SPARSE and other.fmt == SPARSE:
            out.fmt = SPARSE
            out.sparse = []
            out._sparse_add(list(self.sparse) + list(other.sparse))
            if len(out.sparse) > out._threshold:
                out._to_normal()
            return out
        a, b = self, other
        out.fmt = NORMAL
        regs = []
        for s in (a, b):
            if s.fmt == SPARSE:
                tmp = CsHllPlus(s.p, s.sp, SPARSE, None, list(s.sparse))
                tmp._to_normal()
                regs.append(tmp.registers)
            else:
                regs.append(s.registers)
        out.registers = np.maximum(regs[0], regs[1])
        return out

    # -- estimate ----------------------------------------------------------

    def cardinality(self) -> int:
        if self.fmt == SPARSE:
            sm = 1 << self.sp
            zeros = sm - len(self.sparse)
            return _round_java(sm * np.log(sm / zeros))
        m = 1 << self.p
        reg = self.registers.astype(np.float64)
        register_sum = float(np.sum(np.exp2(-reg)))
        zeros = float(np.count_nonzero(self.registers == 0))
        est = _alpha_mm(self.p) / register_sum
        est_prime = est - _estimate_bias(est, self.p) if est <= 5 * m else est
        h = m * np.log(m / zeros) if zeros > 0 else est_prime
        t = _bias_tables()["thresholdData"][self.p - 4]
        return _round_java(h if h <= t else est_prime)

    # -- wire format -------------------------------------------------------

    def serialize(self) -> bytes:
        out = bytearray(struct.pack(">i", _VERSION_MARKER))
        _write_varint(out, self.p)
        _write_varint(out, self.sp)
        _write_varint(out, self.fmt)
        if self.fmt == SPARSE:
            _write_varint(out, len(self.sparse))
            prev = 0
            for k in self.sparse:
                _write_varint(out, k - prev)
                prev = k
        else:
            words = _pack_registers(self.registers)
            _write_varint(out, len(words) * 4)
            out += words.astype(">i4").tobytes()
        return bytes(out)

    @classmethod
    def parse(cls, b: bytes) -> "CsHllPlus":
        if len(b) < 8 or struct.unpack_from(">i", b, 0)[0] != _VERSION_MARKER:
            raise ValueError("not a clearspring HyperLogLogPlus byte array")
        pos = 4
        p, pos = _read_varint(b, pos)
        sp, pos = _read_varint(b, pos)
        fmt, pos = _read_varint(b, pos)
        if fmt == SPARSE:
            n, pos = _read_varint(b, pos)
            ks: list[int] = []
            prev = 0
            for _ in range(n):
                d, pos = _read_varint(b, pos)
                prev = _to_i32(prev + d)
                ks.append(prev)
            return cls(p, sp, SPARSE, None, ks)
        if fmt != NORMAL:
            raise ValueError(f"unknown HyperLogLogPlus format {fmt}")
        nbytes, pos = _read_varint(b, pos)
        words = np.frombuffer(b, dtype=">i4", count=nbytes // 4, offset=pos).astype(
            np.int32
        )
        m = 1 << p
        if _register_words(m) != len(words):
            raise ValueError("clearspring HLL++ register block size mismatch")
        return cls(p, sp, NORMAL, _unpack_registers(words, m), None)

    @classmethod
    def build_from_values(
        cls, values, p: int = DEFAULT_HLLPLUS_P, sp: int = DEFAULT_HLLPLUS_SP
    ) -> "CsHllPlus":
        s = cls.empty(p, sp)
        for v in values:
            s.offer(v)
        return s


def is_cs_hllpp_bytes(b: bytes) -> bool:
    """True for clearspring HyperLogLogPlus payloads (they open with
    the big-endian -2 version marker, unambiguous vs every other
    sketch format in the engine)."""
    return len(b) >= 8 and struct.unpack_from(">i", b, 0)[0] == _VERSION_MARKER


# ---------------------------------------------------------------------------
# grouped export operator
# ---------------------------------------------------------------------------


def grouped_cs_hll(df, keys: list[str], col: str, log2m: int = DEFAULT_LOG2M):
    """Per-group clearspring HyperLogLog bytes over ``col`` — the EXPORT
    path for exchanging HLLs with a real reference cluster (which would
    deserialize them via ObjectSerDeUtils.HYPER_LOG_LOG_SER_DE).

    Same scale shape as the theta export (operators/ds_theta.
    grouped_ds_theta, arrow_groups.grouped_export): one mapInArrow pass
    builds partition-local per-group register arrays in the stream-lib
    murmur-int domain, then only fixed-size register blobs shuffle
    (O(groups x partitions), each blob 8 + 4*ceil-ish(m/6) bytes) and
    register-wise max merges them.  Integer columns hash vectorized as
    exact int64 (Arrow keeps all 64 bits next to a NULL); string/
    binary/double columns hash per value Python-side — an explicit
    export operator, not the engine's hot sketch path.

    Returns a DataFrame (keys..., cs_hll binary) where cs_hll is a
    byte-canonical stream-lib HyperLogLog payload.
    """
    import pyspark.sql.functions as F

    from pinot_spark.operators.arrow_groups import grouped_export

    dtype = dict(df.dtypes)[col]
    is_int = dtype in ("tinyint", "smallint", "int", "bigint")
    v = F.col(col).cast("bigint") if is_int else F.col(col)
    src = df.select(*keys, v.alias("__v"))

    def fold(s, vals):
        s = CsHll.empty(log2m) if s is None else s
        if is_int:
            s.offer_hashes32(hash32_longs(vals.to_numpy()))
            return s
        for v in vals.to_numpy(zero_copy_only=False):
            if dtype == "float":
                bits = struct.unpack("<i", struct.pack("<f", float(v)))[0]
                s.offer_hash32(hash32_long(bits))
            elif dtype == "double":
                bits = struct.unpack("<q", struct.pack("<d", float(v)))[0]
                s.offer_hash32(hash32_long(bits))
            elif isinstance(v, (bytes, bytearray)):
                s.offer_hash32(hash32_bytes(bytes(v)))
            else:
                s.offer_hash32(hash32_bytes(str(v).encode("utf-8")))
        return s

    def merge(blobs) -> bytes:
        out = CsHll.empty(log2m)
        for b in blobs:
            out = out.merge(CsHll.parse(b))
        return out.serialize()

    return grouped_export(src, keys, fold, CsHll.serialize, merge, "cs_hll")


# ---------------------------------------------------------------------------
# bounded pair domain (register_index * 64 + run_length) — the SQL raw-HLL
# routes aggregate these instead of per-value hashes, so the aggregation
# state is sketch-sized at any row count (same trick as the engine-own
# dialect._hll_pair_expr, here in the stream-lib hash domains the
# reference actually serializes)
# ---------------------------------------------------------------------------


def hll_pair32(h32: int, log2m: int) -> int:
    """Plain-HLL pair from a murmur-int hash: j*64 + r, exactly the
    (register, run length) HyperLogLog.offerHashed derives."""
    h = h32 & _M32
    j = h >> (32 - log2m)
    probe = ((h << log2m) & _M32) | ((1 << (log2m - 1)) + 1)
    return j * 64 + (32 - probe.bit_length() + 1)


def hll_pairs32(h32s: np.ndarray, log2m: int) -> np.ndarray:
    """Vectorized hll_pair32 over int32 hashes."""
    h = h32s.astype(np.int32).view(np.uint32).astype(np.uint64)
    j = (h >> np.uint64(32 - log2m)).astype(np.int64)
    probe = ((h << np.uint64(log2m)) & np.uint64(_M32)) | np.uint64(
        (1 << (log2m - 1)) + 1
    )
    bl = np.zeros(len(probe), dtype=np.int64)
    cur = probe.copy()
    for s_bits in (16, 8, 4, 2, 1):
        big = cur >> np.uint64(s_bits) != 0
        bl[big] += s_bits
        cur[big] >>= np.uint64(s_bits)
    bl += (cur != 0).astype(np.int64)
    return j * 64 + (32 - bl + 1)


def hllpp_pair64(h64: int, p: int) -> int:
    """HLL++ NORMAL-mode pair from a murmur-64 hash: j*64 + r, the
    (register, run length) HyperLogLogPlus derives in normal format."""
    h = h64 & _M64
    return (h >> (64 - p)) * 64 + _normal_rho(h64, p)


def cs_hll_from_pairs(pairs, log2m: int) -> "CsHll":
    """Rebuild the register array from max-rho pairs — associative, so
    any partial-dedup/collect_set order yields identical bytes."""
    s = CsHll.empty(log2m)
    if pairs is not None and len(pairs):
        pr = np.asarray(pairs, dtype=np.int64)
        np.maximum.at(s.registers, pr >> 6, (pr & 63).astype(np.uint8))
    return s


def cs_hllpp_from_pairs(pairs, p: int, sp: int) -> "CsHllPlus":
    """NORMAL-format HLL++ from max-rho pairs.  With the reference's
    default sp=0 this is byte-canonical with a flat stream-lib build;
    with sp>0 the library would stay SPARSE below its conversion
    threshold, so the emitted NORMAL bytes are the post-conversion
    state — valid to the library, union-compatible, estimate-divergent
    only in the small-n sparse regime (documented boundary)."""
    s = CsHllPlus(p, sp, NORMAL, np.zeros(1 << p, dtype=np.uint8), None)
    if pairs is not None and len(pairs):
        pr = np.asarray(pairs, dtype=np.int64)
        np.maximum.at(s.registers, pr >> 6, (pr & 63).astype(np.uint8))
    return s
