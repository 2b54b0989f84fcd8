"""Theta sketches: mergeable approximate distinct counts with set
operations (union / intersection / difference).

Reference: DISTINCTCOUNTTHETASKETCH / DISTINCTCOUNTRAWTHETASKETCH
(pinot-segment-spi/.../AggregationFunctionType.java:107-120; Pinot wraps
the Apache DataSketches theta sketch). The point of theta over HLL is
set ALGEBRA: |A ∩ B| and |A \\ B| across different filter predicates
without re-scanning — Pinot evaluates these per segment and merges at
the broker.

This is the standard KMV ("K minimum values") theta sketch — a public
algorithm: hash every value to uniform 64-bit, keep the K smallest
distinct hashes; theta = the K-th smallest hash mapped to (0,1];
estimate = (K-1)/theta. Set operations work on the retained hash sets
below min(theta_a, theta_b).

Spark-first build shape (mirrors Pinot's segment→broker merge):

1. hash JVM-side (``xxhash64`` — stays in whole-stage codegen),
2. per-partition top-K retention via ``mapInPandas`` (no shuffle, Arrow
   batches, constant memory),
3. merge the ≤ num_partitions × K candidate hashes — a single
   small-data pass instead of a full-cardinality distinct shuffle.

At small cardinalities (n_distinct < K) the sketch is EXACT — the
oracle-parity query runs in that regime; the error bound ~1/sqrt(K)
applies beyond it.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

_U64 = np.uint64(0xFFFFFFFFFFFFFFFF)
_TWO64 = float(2**64)


def _below(arr: np.ndarray, theta_u64: int) -> np.ndarray:
    """Hashes strictly below theta; theta == 2^64 (exact regime) keeps all
    (np.uint64(2**64) would overflow)."""
    if theta_u64 >= 2**64:
        return arr
    return arr[arr < np.uint64(theta_u64)]


@dataclass
class ThetaSketch:
    """Retained-hash sketch: sorted unsigned-64 hashes, all < theta_u64."""

    k: int
    theta_u64: int  # exclusive upper bound on retained hashes; 2^64 = "all"
    hashes: np.ndarray  # sorted uint64, distinct, < theta_u64

    @classmethod
    def from_hashes(cls, k: int, raw: np.ndarray) -> "ThetaSketch":
        h = np.unique(raw.astype(np.uint64))
        if len(h) <= k:
            return cls(k, 2**64, h)
        # keep the k smallest; theta = the (k+1)-th value (exclusive bound)
        h.sort()
        return cls(k, int(h[k]), h[:k])

    @property
    def theta(self) -> float:
        return self.theta_u64 / _TWO64

    def estimate(self) -> float:
        if self.theta_u64 == 2**64:
            return float(len(self.hashes))  # exact regime
        return len(self.hashes) / self.theta

    def union(self, other: "ThetaSketch") -> "ThetaSketch":
        th = min(self.theta_u64, other.theta_u64)
        merged = np.unique(np.concatenate([self.hashes, other.hashes]))
        merged = _below(merged, th)
        if len(merged) > self.k:
            merged.sort()
            th = int(merged[self.k])
            merged = merged[: self.k]
        return ThetaSketch(self.k, th, merged)

    def intersect(self, other: "ThetaSketch") -> "ThetaSketch":
        th = min(self.theta_u64, other.theta_u64)
        common = np.intersect1d(self.hashes, other.hashes)
        return ThetaSketch(self.k, th, _below(common, th))

    def a_not_b(self, other: "ThetaSketch") -> "ThetaSketch":
        th = min(self.theta_u64, other.theta_u64)
        mine = _below(self.hashes, th)
        return ThetaSketch(self.k, th, np.setdiff1d(mine, other.hashes))

    def to_bytes(self) -> bytes:
        """RAW sketch serialization: k (4B) + theta (8B) + hashes LE."""
        import struct

        return struct.pack("<iQ", self.k, self.theta_u64 % 2**64 if self.theta_u64 < 2**64 else 0) + (
            self.hashes.astype("<u8").tobytes()
        )

    @classmethod
    def from_bytes(cls, b: bytes) -> "ThetaSketch":
        import struct

        k, th = struct.unpack("<iQ", b[:12])
        hashes = np.frombuffer(b[12:], dtype="<u8").copy()
        return cls(k, th if th != 0 else 2**64, hashes)


# above this partition count an intermediate executor-side merge level is
# inserted so the driver never folds more than ~fanout blobs serially
_TREE_FANOUT = 64


def theta_sketch(df: DataFrame, col: str, k: int = 4096) -> ThetaSketch:
    """Build a theta sketch of ``col``'s distinct values.

    Two-level tree merge (the segment → server → broker shape): hashes
    stay partition-local; each partition emits its ≤K candidate blob;
    when the partition count exceeds the fanout, blobs are repartitioned
    to √N groups and merged executor-side FIRST, so the driver folds at
    most ~√N small blobs instead of N — at 10⁵ partitions the old
    single-level collect would push GBs through a serial driver loop.
    Candidate truncation is associative (every global top-K hash survives
    each level), so the result is identical to the flat merge."""
    hashed = df.select(F.xxhash64(F.col(col)).alias("h"))

    def _topk(cand: np.ndarray) -> np.ndarray:
        cand = np.unique(cand)  # sorted
        if len(cand) > k + 1:
            # keep k+1, not k: if every partition held exactly k
            # candidates the merged set could land on len == k and
            # from_hashes would claim the EXACT regime while values
            # beyond the k-th were silently dropped; the (k+1)-th
            # candidate is what becomes theta
            cand = cand[: k + 1]
        return cand

    def _partition_topk(batches):
        best: np.ndarray | None = None
        for pdf in batches:
            h = pdf["h"].to_numpy(dtype=np.int64).astype(np.uint64)
            h += np.uint64(2**63)  # signed → unsigned order-preserving shift
            best = _topk(h if best is None else np.concatenate([best, h]))
        if best is not None and len(best):
            yield pd.DataFrame({"hs": [best.astype("<u8").tobytes()]})

    def _merge_blobs(batches):
        best: np.ndarray | None = None
        for pdf in batches:
            for bs in pdf["hs"]:
                h = np.frombuffer(bs, dtype="<u8")
                best = _topk(h if best is None else np.concatenate([best, h]))
        if best is not None and len(best):
            yield pd.DataFrame({"hs": [best.astype("<u8").tobytes()]})

    blobs = hashed.mapInPandas(_partition_topk, schema="hs binary")
    n_parts = hashed.rdd.getNumPartitions()
    if n_parts > _TREE_FANOUT:
        import math

        blobs = blobs.repartition(max(1, math.isqrt(n_parts))).mapInPandas(
            _merge_blobs, schema="hs binary"
        )
    rows = blobs.collect()
    if not rows:
        return ThetaSketch(k, 2**64, np.array([], dtype=np.uint64))
    allh = np.concatenate([np.frombuffer(r.hs, dtype="<u8") for r in rows])
    return ThetaSketch.from_hashes(k, allh)


def _partial_init(call: tuple):
    """Empty partial state of one grouped_sketch_partials call."""
    kind = call[0]
    if kind in ("cs_hll", "cs_hllpp"):
        return np.zeros(1 << call[2], np.uint8)
    if kind == "tdigest":
        from pinot_spark.operators.tdigest import TDigest

        return TDigest()
    if kind in ("freq_str", "freq_long"):
        from pinot_spark.operators.ds_freq import DsFrequentSketch

        return DsFrequentSketch.empty(call[2])
    return np.array([], dtype=np.uint64), np.array([], dtype=np.int64)


def _partial_update(state, call: tuple, g):
    """Fold one group's rows (an Arrow record batch) into ``state``."""
    import pyarrow.compute as pc

    kind = call[0]
    col = g.column(call[1])
    if kind in ("cs_hll", "cs_hllpp"):
        # max-rho registers: the HLL partial state is the fixed 2^log2m
        # register array regardless of row count
        p = pc.list_flatten(col).drop_null().to_numpy().astype(np.int64)
        np.maximum.at(state, p >> 6, (p & 63).astype(np.uint8))
        return state
    if kind == "tdigest":
        for vals in col.to_pylist():
            if vals:
                v = np.asarray(vals, dtype=np.float64)
                v = v[~np.isnan(v)]
                if len(v):
                    state.add(v.tolist())
        return state
    if kind in ("freq_str", "freq_long"):
        # batch-level exact pre-aggregation: one weighted update per
        # distinct value
        vals, cnts = np.unique(
            col.drop_null().to_numpy(zero_copy_only=False), return_counts=True
        )
        conv = str if kind == "freq_str" else int
        for v, c in zip(vals, cnts):
            state.update(conv(v), int(c))
        return state
    # tuple: exact int64 per-hash sums ride along the KMV candidates
    val = g.column(call[3])
    ok = pc.and_(col.is_valid(), val.is_valid())
    u = col.filter(ok).to_numpy().view(np.uint64) ^ np.uint64(1 << 63)
    v = val.filter(ok).to_numpy()
    u = np.concatenate([state[0], u])
    v = np.concatenate([state[1], v])
    if not len(u):
        return state
    order = np.argsort(u, kind="stable")
    us, vs = u[order], v[order]
    first = np.empty(len(us), dtype=bool)
    first[0] = True
    first[1:] = us[1:] != us[:-1]
    starts = np.flatnonzero(first)
    k = call[2]
    return us[starts][: k + 1], np.add.reduceat(vs, starts)[: k + 1]


def _partial_blob(state, call: tuple) -> bytes:
    """The serialized partial of one call's state."""
    kind = call[0]
    if kind == "cs_hll":
        from pinot_spark.operators.cs_hll import CsHll

        return CsHll(call[2], state).serialize()
    if kind == "cs_hllpp":
        from pinot_spark.operators.cs_hll import NORMAL, CsHllPlus

        return CsHllPlus(call[2], call[3], NORMAL, state, None).serialize()
    if kind == "tdigest":
        return state.to_bytes()
    if kind in ("freq_str", "freq_long"):
        return state.serialize()
    from pinot_spark.functions.sketches import TupleSketch

    k = call[2]
    uh, sums = state
    th = 2**64
    if len(uh) > k:
        th = int(uh[k])
        uh, sums = uh[:k], sums[:k]
    return TupleSketch(k, th, uh, sums).to_bytes()


def grouped_sketch_partials(
    src: DataFrame, keys: list[str], calls: list[tuple]
) -> DataFrame:
    """Partition-local GROUPED sketch partials — the map-side combine
    the SQL two-phase cannot express for the families pandas UDAFs
    build (they have no partial aggregation, so the GROUPED_AGG inner
    shuffles O(rows)).  Theta needs none: Spark's native
    ``theta_sketch_agg`` has its own partial aggregate.

    ``src`` must already carry the key columns plus each call's input
    columns.  ``calls`` entries are ("tuple", hash_col, k, value_col) —
    the NULL-masked xxhash64 of the key and the BIGINT value; the
    integer-sum tuple sketch accumulates exact int64 per-hash sums
    alongside the KMV candidates —, ("cs_hll", pairs_col, log2m) or
    ("cs_hllpp", pairs_col, p, sp) whose column holds clearspring
    j*64+rho register pairs (dialect._cs_hll_pairs_arr_sql; the partial
    state is the fixed register array), ("freq_str", col, max_map_size)
    or ("freq_long", col, max_map_size) building a frequent-items
    sketch, or ("tdigest", values_col) accumulating an engine-own
    t-digest (bounded centroid count) per group.

    One ``mapInArrow`` pass groups each Arrow batch by key
    (arrow_groups.batch_groups) and accumulates, per (key tuple, call),
    the bounded partial state across the partition's batches — for a
    tuple call the ≤ k+1 smallest distinct hashes (k+1, not k: the
    (k+1)-th value BECOMES theta downstream — truncating to k silently
    flips the sketch into its "exact" regime) — then emits ONE row per
    key per partition: (keys..., __rs0 blob, ...). Arrow hands int64,
    timestamp and decimal keys and values to Python exactly, and NULL as
    a validity bit, so no column needs a carrier. The only shuffle
    after this is of partial rows — O(groups × partitions × blob) —
    mirroring Pinot's segment-local sketch build + broker merge
    (AggregationFunction.java:63,86,132). Candidate truncation at k+1
    is associative, so the downstream blob merge is exact w.r.t. the
    flat build; tuple value sums are per-hash and combine across
    partials in the merge.

    Groups whose values are all NULL still emit (empty-sketch blob), so
    the group list matches the SQL GROUP BY exactly."""
    import pyarrow as pa
    from pyspark.sql.types import BinaryType, StructField, StructType

    from pinot_spark.operators.arrow_groups import batch_groups, key_columns

    needed = list(keys)
    for call in calls:
        needed += [call[1], call[3]] if call[0] == "tuple" else [call[1]]
    src = src.select(*needed)
    out_schema = StructType(
        [src.schema[k] for k in keys]
        + [StructField(f"__rs{i}", BinaryType()) for i in range(len(calls))]
    )

    def _build(batches):
        acc: dict[tuple, list] = {}
        key_types = None
        for batch in batches:
            key_types = [batch.schema.field(k).type for k in keys]
            for kt, g in batch_groups(batch, keys):
                slot = acc.get(kt)
                if slot is None:
                    slot = acc[kt] = [_partial_init(call) for call in calls]
                for i, call in enumerate(calls):
                    slot[i] = _partial_update(slot[i], call, g)
        if not acc:
            return
        blobs = [
            pa.array([_partial_blob(s[i], call) for s in acc.values()], pa.binary())
            for i, call in enumerate(calls)
        ]
        yield pa.RecordBatch.from_arrays(
            key_columns(list(acc), key_types) + blobs,
            names=keys + [f"__rs{i}" for i in range(len(calls))],
        )

    return src.mapInArrow(_build, schema=out_schema)
