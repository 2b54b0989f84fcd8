"""Apache DataSketches theta-sketch WIRE-FORMAT interop (read + write).

The reference wraps the DataSketches library for its theta surface
(pinot-core .../function/scalar/SketchFunctions.java:98-254,
AggregationFunctionType THETA names), so sketches exchanged with a real
Pinot cluster are serialized in the DataSketches *compact* layout with
values hashed by MurmurHash3 x64-128 under the default update seed 9001.
This module implements that public format from scratch:

- ``parse`` / ``serialize``: the compact (ordered) theta layout in all
  four shapes — empty, single-item, exact (theta == MAX) and estimating
  (explicit theta long).  ``serialize(parse(b)) == b`` for every
  serial-version-3 Java golden vector (tests/data/ds_theta_vectors.json),
  so the writer is byte-canonical with the library's uncompressed form.
  ``parse`` also reads serial version 4, the compressed form Spark's
  native ``theta_sketch_agg`` writes for two or more entries;
  ``serialize`` writes version 3, so for version-4 input it returns the
  same sketch in the other layout, not the input bytes.
- ``update_hash_long`` / ``update_hash_bytes``: the update-hash domain
  (murmur3 x64-128, seed 9001, high bit cleared), bit-identical to
  ``org.apache.datasketches.hash.MurmurHash3`` probes.
- ``DsThetaSketch``: estimate / union / intersect / a_not_b over parsed
  sketches, plus ``build_from_values`` (KMV retention) for producing
  sketches the Java library heapifies and merges correctly.

DOMAIN SEPARATION: the engine's own fast-path theta (operators/theta.py)
hashes JVM-side with xxhash64; a DataSketches sketch hashes with
murmur-9001.  Set operations across the two domains would silently
double-count, so the SQL layer auto-detects the format per argument and
raises loudly on a mixed pair instead of guessing.

Layout facts (verified against datasketches-java 6.2.0 byte dumps):
  byte 0   preamble longs (1 empty/single, 2 exact, 3 estimating)
  byte 1   serial version = 3
  byte 2   family id = 3 (COMPACT)
  byte 5   flags: 1=big-endian 2=read-only 4=empty 8=compact 16=ordered
                  32=single-item
  bytes 6-7  seed hash (LE uint16; 37836 for seed 9001; 0 when empty)
  [preLongs>=2] bytes 8-11 retained count (LE int32), 12-15 p (LE f32, 1.0)
  [preLongs==3] bytes 16-23 theta (LE int64)
  then retained hashes, LE uint64, ascending, all < theta < 2^63.

Serial version 4 (compressed; datasketches-java 6.2.0 as bundled with
Spark 4.1.2, always ordered with two or more entries):
  byte 0   preamble longs (1 exact, 2 estimating)
  byte 1   serial version = 4;  byte 2  family id = 3
  byte 3   bits per delta;  byte 4  byte width of the entry count
  byte 5   flags (0x1a: read-only, compact, ordered)
  bytes 6-7  seed hash
  [preLongs==2] bytes 8-15 theta (LE int64)
  then the entry count (LE, byte-4 bytes wide), then the deltas between
  consecutive sorted hashes (the first from 0), bit-packed big-endian.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

import numpy as np

DS_SEED = 9001
DS_SEED_HASH = 37836  # ThetaUtil.computeSeedHash(9001)
MAX_THETA = (1 << 63) - 1
# CommonConstants.Helix.DEFAULT_TUPLE_SKETCH_LGK = 16: the nominal entries
# a Pinot-built tuple sketch carries, so a union keeps that many
TUPLE_NOMINAL_ENTRIES = 1 << 16
_SER_VER = 3
_SER_VER_COMPRESSED = 4
_FAMILY_COMPACT = 3
_F_READ_ONLY, _F_EMPTY, _F_COMPACT, _F_ORDERED, _F_SINGLE = 2, 4, 8, 16, 32

_C1 = np.uint64(0x87C37B91114253D5)
_C2 = np.uint64(0x4CF5AD432745937F)
_FM1 = np.uint64(0xFF51AFD7ED558CCD)
_FM2 = np.uint64(0xC4CEB9FE1A85EC53)


def _rotl(v: np.ndarray, n: int) -> np.ndarray:
    return (v << np.uint64(n)) | (v >> np.uint64(64 - n))


def _fmix(v: np.ndarray) -> np.ndarray:
    v = v ^ (v >> np.uint64(33))
    v = v * _FM1
    v = v ^ (v >> np.uint64(33))
    v = v * _FM2
    return v ^ (v >> np.uint64(33))


def hash_longs(values: np.ndarray) -> np.ndarray:
    """Vectorized murmur3 x64-128 (seed 9001) update hashes for int64
    values — each value is its 8-byte little-endian block, i.e. exactly
    what the Java library's ``update(long)`` hashes.  Returns uint64
    hashes with the top bit cleared (the theta update domain)."""
    with np.errstate(over="ignore"):
        k1 = values.astype(np.int64).view(np.uint64)
        h1 = np.full(len(k1), np.uint64(DS_SEED))
        h2 = np.full(len(k1), np.uint64(DS_SEED))
        k1 = _rotl(k1 * _C1, 31) * _C2
        h1 = h1 ^ k1
        h1 = h1 ^ np.uint64(8)
        h2 = h2 ^ np.uint64(8)
        h1 = h1 + h2
        h2 = h2 + h1
        h1 = _fmix(h1)
        h2 = _fmix(h2)
        h1 = h1 + h2
        return h1 >> np.uint64(1)


def update_hash_long(v: int) -> int:
    return int(hash_longs(np.array([v], dtype=np.int64))[0])


def update_hash_bytes(b: bytes) -> int:
    """Update hash for byte/string keys (Java ``update(String)`` hashes
    the UTF-8 bytes).  Empty input is a no-op in the library — callers
    must skip it."""
    from pinot_spark.functions.scalar_ext import _murmur3_x64_128

    h1, _ = _murmur3_x64_128(bytes(b), seed=DS_SEED)
    return h1 >> 1


def is_ds_theta_bytes(b: bytes) -> bool:
    """Structural sniff for the DataSketches compact-theta preamble.
    The engine-own format starts with a little-endian int32 k (a power
    of two), which can never render serVer 3 or 4 AND family==3 in
    bytes 1-2, so the two formats are unambiguous."""
    return (
        len(b) >= 8
        and b[1] in (_SER_VER, _SER_VER_COMPRESSED)
        and b[2] == _FAMILY_COMPACT
        and (b[0] & 0x3F) in (1, 2, 3)
    )


@dataclass
class DsThetaSketch:
    """Parsed compact theta sketch: sorted uint64 hashes < theta."""

    theta: int  # exclusive bound, <= MAX_THETA ( == MAX_THETA: exact)
    hashes: np.ndarray  # sorted uint64, distinct, < theta

    # -- construction ------------------------------------------------------
    @classmethod
    def empty(cls) -> "DsThetaSketch":
        return cls(MAX_THETA, np.array([], dtype=np.uint64))

    @classmethod
    def from_hashes(cls, raw: np.ndarray, k: int) -> "DsThetaSketch":
        h = np.unique(np.asarray(raw, dtype=np.uint64))
        if len(h) <= k:
            return cls(MAX_THETA, h)
        return cls(int(h[k]), h[:k])  # KMV: keep k smallest, theta = (k+1)-th

    @classmethod
    def build_from_values(cls, values, k: int = 4096) -> "DsThetaSketch":
        """Sketch a python/numpy collection: int64s vectorized, everything
        else through the bytes/UTF-8 hash.  None and empty-string keys are
        no-ops, matching the Java update() contract."""
        ints, raw = [], []
        for v in values:
            if v is None:
                continue
            if isinstance(v, (int, np.integer)):
                ints.append(int(np.int64(v)))
            else:
                b = bytes(v) if isinstance(v, (bytes, bytearray)) else str(v).encode()
                if b:
                    raw.append(update_hash_bytes(b))
        if ints:
            raw.extend(hash_longs(np.array(ints, dtype=np.int64)).tolist())
        return cls.from_hashes(np.array(raw, dtype=np.uint64), k)

    # -- wire format -------------------------------------------------------
    @classmethod
    def parse(cls, b: bytes) -> "DsThetaSketch":
        b = bytes(b)
        if not is_ds_theta_bytes(b):
            raise ValueError(
                "not a DataSketches compact theta sketch (bad preamble)"
            )
        pre_longs = b[0] & 0x3F
        flags = b[5]
        seed_hash = struct.unpack_from("<H", b, 6)[0]
        if flags & _F_EMPTY:
            return cls.empty()
        if seed_hash != DS_SEED_HASH:
            raise ValueError(
                f"theta sketch built with a non-default seed "
                f"(seed hash {seed_hash}, expected {DS_SEED_HASH} for seed 9001)"
            )
        if b[1] == _SER_VER_COMPRESSED:
            return cls._parse_compressed(b)
        if flags & _F_SINGLE or (pre_longs == 1):
            h = struct.unpack_from("<Q", b, 8)[0]
            return cls(MAX_THETA, np.array([h], dtype=np.uint64))
        retained = struct.unpack_from("<i", b, 8)[0]
        if pre_longs == 2:
            theta = MAX_THETA
            off = 16
        else:
            theta = struct.unpack_from("<q", b, 16)[0]
            off = 24
        hashes = np.frombuffer(b, dtype="<u8", count=retained, offset=off).copy()
        hashes.sort()  # unordered compact inputs are legal; canonicalize
        return cls(theta, hashes)

    @classmethod
    def _parse_compressed(cls, b: bytes) -> "DsThetaSketch":
        """Serial version 4 (module docstring): unpack the bit-packed
        deltas into 64-bit words, then sum them back into hashes."""
        bits, width = b[3], b[4]
        theta, off = MAX_THETA, 8
        if b[0] & 0x3F == 2:
            theta, off = struct.unpack_from("<q", b, 8)[0], 16
        n = int.from_bytes(b[off : off + width], "little")
        packed = np.unpackbits(np.frombuffer(b, dtype=np.uint8, offset=off + width))
        words = np.zeros((n, 64), dtype=np.uint8)
        words[:, 64 - bits :] = packed[: n * bits].reshape(n, bits)
        deltas = np.packbits(words, axis=1).view(">u8").ravel()
        return cls(theta, np.cumsum(deltas, dtype=np.uint64))

    def serialize(self) -> bytes:
        n = len(self.hashes)
        if n == 0 and self.theta == MAX_THETA:
            return bytes([1, _SER_VER, _FAMILY_COMPACT, 0, 0,
                          _F_READ_ONLY | _F_EMPTY | _F_COMPACT | _F_ORDERED,
                          0, 0])
        base = _F_READ_ONLY | _F_COMPACT | _F_ORDERED
        if n == 1 and self.theta == MAX_THETA:
            head = bytes([1, _SER_VER, _FAMILY_COMPACT, 0, 0, base | _F_SINGLE])
            return head + struct.pack("<H", DS_SEED_HASH) + struct.pack(
                "<Q", int(self.hashes[0])
            )
        pre_longs = 2 if self.theta == MAX_THETA else 3
        out = bytearray([pre_longs, _SER_VER, _FAMILY_COMPACT, 0, 0, base])
        out += struct.pack("<H", DS_SEED_HASH)
        out += struct.pack("<if", n, 1.0)
        if pre_longs == 3:
            out += struct.pack("<q", self.theta)
        out += np.sort(self.hashes).astype("<u8").tobytes()
        return bytes(out)

    # -- queries -----------------------------------------------------------
    def estimate(self) -> float:
        if self.theta == MAX_THETA:
            return float(len(self.hashes))
        return len(self.hashes) * float(1 << 63) / self.theta

    def _trim(self, theta: int, h: np.ndarray, k: int | None) -> "DsThetaSketch":
        h = h[h < np.uint64(theta)]
        if k is not None and len(h) > k:
            theta = int(h[k])
            h = h[:k]
        return DsThetaSketch(theta, h)

    def union(self, other: "DsThetaSketch", k: int | None = 4096) -> "DsThetaSketch":
        th = min(self.theta, other.theta)
        merged = np.unique(np.concatenate([self.hashes, other.hashes]))
        return self._trim(th, merged, k)

    def intersect(self, other: "DsThetaSketch") -> "DsThetaSketch":
        th = min(self.theta, other.theta)
        common = np.intersect1d(self.hashes, other.hashes)
        return self._trim(th, common, None)

    def a_not_b(self, other: "DsThetaSketch") -> "DsThetaSketch":
        th = min(self.theta, other.theta)
        return self._trim(th, np.setdiff1d(self.hashes, other.hashes), None)

    def to_string(self) -> str:
        return (
            "### DataSketches compact theta summary: "
            f"retained {len(self.hashes)}, theta {self.theta / float(1 << 63):.6f}, "
            f"estimate {self.estimate():.1f}"
        )


# ---------------------------------------------------------------------------
# DataFrame-level export aggregation (zero-shuffle partials, murmur domain)
# ---------------------------------------------------------------------------


def grouped_ds_theta(df, keys: list[str], col: str, k: int = 4096):
    """Per-group DataSketches-format theta sketches over ``col`` — the
    EXPORT path (reference emits DataSketches bytes from
    DISTINCT_COUNT_RAW_THETA_SKETCH; SketchFunctions.java:98-130).

    Same scale shape as operators/theta.grouped_sketch_partials
    (arrow_groups.grouped_export): one mapInArrow pass builds
    partition-local per-group KMV partials in the murmur-9001
    update-hash domain, then only partial blobs shuffle
    (O(groups x partitions)).  Integer columns hash vectorized as exact
    int64 (Arrow keeps all 64 bits next to a NULL); other columns hash
    per value Python-side — this is an explicit export operator, not
    the engine's hot sketch path.

    Returns a DataFrame (keys..., ds_theta binary) where ds_theta is a
    compact ordered sketch the DataSketches library heapifies directly.
    """
    import pyspark.sql.functions as F

    from pinot_spark.operators.arrow_groups import grouped_export

    is_int = dict(df.dtypes)[col] in ("tinyint", "smallint", "int", "bigint")
    v = F.col(col).cast("bigint") if is_int else F.col(col)
    src = df.select(*keys, v.alias("__v"))

    def fold(chunks, vals):
        chunks = [] if chunks is None else chunks
        if is_int:
            chunks.append(hash_longs(vals.to_numpy()))
            return chunks
        # Java update(byte[]) is a no-op for EMPTY byte arrays: encode
        # first, then skip falsy bytes (len(str(b"")) is 3, so a
        # str-length guard never catches b"")
        hs = []
        for v in vals.to_numpy(zero_copy_only=False):
            b = bytes(v) if isinstance(v, (bytes, bytearray)) else str(v).encode()
            if b:
                hs.append(update_hash_bytes(b))
        chunks.append(np.array(hs, dtype=np.uint64))
        return chunks

    def partial(chunks) -> bytes:
        h = np.unique(np.concatenate(chunks))
        # keep k+1 candidates: the (k+1)-th becomes theta downstream
        head = struct.pack("<q", MAX_THETA if len(h) <= k else int(h[k]))
        return head + h[: k + 1].astype("<u8").tobytes()

    def merge(blobs) -> bytes:
        raw = [np.frombuffer(b, dtype="<u8", offset=8) for b in blobs]
        return DsThetaSketch.from_hashes(np.unique(np.concatenate(raw)), k).serialize()

    return grouped_export(src, keys, fold, partial, merge, "ds_theta")


# ---------------------------------------------------------------------------
# DataSketches INTEGER TUPLE sketch (tuple/aninteger.IntegerSketch) interop
# ---------------------------------------------------------------------------
# Layout facts (verified against datasketches-java 6.2.0 byte dumps —
# tests/data/ds_tuple_vectors.json):
#   byte 0  1 empty/single, 2 exact, 3 estimating
#   byte 1  serial version = 3;  byte 2  family id = 9 (TUPLE)
#   byte 3  sketch type = 1 (compact);  byte 4  0
#   byte 5  flags: 0x0e empty, 0x0a otherwise
#   bytes 6-7  seed hash (present even when empty)
#   [byte0>=2] bytes 8-11 retained (LE int32) + 4 pad bytes
#   [byte0==3] bytes 16-23 theta (LE int64)
#   entries: per retained entry, hash (LE uint64) then summary =
#            int32 value LE + 1 mode byte (0 = Sum), ascending by hash.

_TUPLE_FAMILY = 9
_TUPLE_MODE_SUM = 0


def is_ds_tuple_bytes(b: bytes) -> bool:
    return (
        len(b) >= 8
        and b[1] == _SER_VER
        and b[2] == _TUPLE_FAMILY
        and (b[0] & 0x3F) in (1, 2, 3)
    )


def kmv_merge(parts, theta: int, k: int | None, reduce=np.add, keep=None):
    """Merge KMV hash sets that carry an int64 summary per hash, the
    tuple-sketch set operations' one kernel.  ``parts`` is a list of
    (hashes, values); hashes at or above ``theta`` (2**64 for none)
    drop; a hash held by several parts folds its values with ``reduce``
    (a ufunc, or a binary Python function); ``keep(in_first,
    in_second)`` (boolean arrays over the distinct hashes of a pair)
    filters them; more than ``k`` survivors keep the ``k`` smallest,
    and the (k+1)-th becomes theta.  Returns (theta, sorted uint64
    hashes, int64 values)."""
    h = np.concatenate([np.asarray(p[0], dtype=np.uint64) for p in parts])
    v = np.concatenate([np.asarray(p[1], dtype=np.int64) for p in parts])
    src = np.repeat(np.arange(len(parts)), [len(p[0]) for p in parts])
    if theta < 2**64:
        below = h < np.uint64(theta)
        h, v, src = h[below], v[below], src[below]
    order = np.argsort(h, kind="stable")
    h, v, src = h[order], v[order], src[order]
    if len(h):
        starts = np.flatnonzero(np.r_[True, h[1:] != h[:-1]])
        if isinstance(reduce, np.ufunc):
            v = reduce.reduceat(v, starts)
        else:
            v = np.frompyfunc(reduce, 2, 1).reduceat(v, starts).astype(np.int64)
        h = h[starts]
        if keep is not None:
            sel = keep(
                np.logical_or.reduceat(src == 0, starts),
                np.logical_or.reduceat(src == 1, starts),
            )
            h, v = h[sel], v[sel]
    if k is not None and len(h) > k:
        theta = int(h[k])
        h, v = h[:k], v[:k]
    return theta, h, v


@dataclass
class DsTupleSketch:
    """Parsed DataSketches integer-tuple sketch (Sum mode): sorted uint64
    hashes < theta with one int32 summary value per hash."""

    theta: int
    hashes: np.ndarray  # sorted uint64
    values: np.ndarray  # int64 (int32 domain), aligned with hashes

    @classmethod
    def empty(cls) -> "DsTupleSketch":
        return cls(
            MAX_THETA,
            np.array([], dtype=np.uint64),
            np.array([], dtype=np.int64),
        )

    @classmethod
    def parse(cls, b: bytes) -> "DsTupleSketch":
        b = bytes(b)
        if not is_ds_tuple_bytes(b):
            raise ValueError("not a DataSketches integer-tuple sketch")
        pre = b[0] & 0x3F
        if b[5] & _F_EMPTY:
            return cls.empty()
        seed_hash = struct.unpack_from("<H", b, 6)[0]
        if seed_hash != DS_SEED_HASH:
            raise ValueError(
                f"tuple sketch built with a non-default seed "
                f"(seed hash {seed_hash}, expected {DS_SEED_HASH})"
            )
        if pre == 1:
            retained, theta, off = 1, MAX_THETA, 8
        elif pre == 2:
            retained = struct.unpack_from("<i", b, 8)[0]
            theta, off = MAX_THETA, 16
        else:
            retained = struct.unpack_from("<i", b, 8)[0]
            theta = struct.unpack_from("<q", b, 16)[0]
            off = 24
        hashes = np.empty(retained, dtype=np.uint64)
        values = np.empty(retained, dtype=np.int64)
        for i in range(retained):
            hashes[i] = struct.unpack_from("<Q", b, off)[0]
            values[i] = struct.unpack_from("<i", b, off + 8)[0]
            off += 13
        order = np.argsort(hashes)
        return cls(theta, hashes[order], values[order])

    def serialize(self) -> bytes:
        n = len(self.hashes)
        if n == 0 and self.theta == MAX_THETA:
            return bytes(
                [1, _SER_VER, _TUPLE_FAMILY, 1, 0, 0x0E]
            ) + struct.pack("<H", DS_SEED_HASH)
        if n == 1 and self.theta == MAX_THETA:
            out = bytearray([1, _SER_VER, _TUPLE_FAMILY, 1, 0, 0x0A])
            out += struct.pack("<H", DS_SEED_HASH)
        elif self.theta == MAX_THETA:
            out = bytearray([2, _SER_VER, _TUPLE_FAMILY, 1, 0, 0x0A])
            out += struct.pack("<H", DS_SEED_HASH)
            out += struct.pack("<i", n) + b"\x00" * 4
        else:
            out = bytearray([3, _SER_VER, _TUPLE_FAMILY, 1, 0, 0x0A])
            out += struct.pack("<H", DS_SEED_HASH)
            out += struct.pack("<i", n) + b"\x00" * 4
            out += struct.pack("<q", self.theta)
        order = np.argsort(self.hashes)
        for i in order:
            out += struct.pack("<Q", int(self.hashes[i]))
            out += struct.pack("<i", int(np.int32(self.values[i])))
            out.append(_TUPLE_MODE_SUM)
        return bytes(out)

    @classmethod
    def build_from_pairs(cls, keys, values, k: int = 4096) -> "DsTupleSketch":
        """Sum-mode build: per distinct key, summary = int32 wrap-sum of its
        values (IntegerSummary.Mode.Sum).  Integer keys hash as longs,
        everything else as UTF-8 bytes."""
        agg: dict[int, int] = {}
        for key, val in zip(keys, values):
            if key is None or val is None:
                continue
            if isinstance(key, (int, np.integer)):
                h = update_hash_long(int(key))
            else:
                kb = (
                    bytes(key)
                    if isinstance(key, (bytes, bytearray))
                    else str(key).encode()
                )
                if not kb:
                    continue
                h = update_hash_bytes(kb)
            agg[h] = int(np.int32(agg.get(h, 0) + int(val)))
        if not agg:
            return cls.empty()
        hashes = np.array(sorted(agg), dtype=np.uint64)
        values_arr = np.array([agg[int(h)] for h in hashes], dtype=np.int64)
        if len(hashes) <= k:
            return cls(MAX_THETA, hashes, values_arr)
        return cls(int(hashes[k]), hashes[:k], values_arr[:k])

    def estimate(self) -> float:
        if self.theta == MAX_THETA:
            return float(len(self.hashes))
        return len(self.hashes) * float(1 << 63) / self.theta

    def sum_values(self) -> int:
        return int(self.values.sum())

    def union(
        self, *others: "DsTupleSketch", k: int | None = TUPLE_NOMINAL_ENTRIES
    ) -> "DsTupleSketch":
        """Sum-mode union of this sketch and ``others`` (int32 wrap-sum
        summaries, IntegerSummary.Mode.Sum) in one merge."""
        sks = (self, *others)
        th, hashes, values = kmv_merge(
            [(s.hashes, s.values) for s in sks], min(s.theta for s in sks), k
        )
        return DsTupleSketch(th, hashes, values.astype(np.int32).astype(np.int64))

    def intersect(self, other: "DsTupleSketch") -> "DsTupleSketch":
        th, hashes, values = kmv_merge(
            [(self.hashes, self.values), (other.hashes, other.values)],
            min(self.theta, other.theta),
            None,
            keep=np.logical_and,
        )
        return DsTupleSketch(th, hashes, values.astype(np.int32).astype(np.int64))
