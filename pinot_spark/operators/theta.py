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


def grouped_sketch_partials(
    src: DataFrame, keys: list[str], calls: list[tuple]
) -> DataFrame:
    """Partition-local GROUPED sketch partials — the map-side combine
    the SQL two-phase cannot express for the families pandas UDAFs
    build (they have no partial aggregation, so the GROUPED_AGG inner
    shuffles O(rows)).  Theta needs none: Spark's native
    ``theta_sketch_agg`` has its own partial aggregate.

    ``src`` must already carry the key columns plus each call's input
    columns.  ``calls`` entries are
    ("tuple", hi_col, lo_col, k, vhi_col, vlo_col) — the NULL-masked
    xxhash64 of the key split into 32-bit halves (a nullable BIGINT
    reaches pandas as float64, which cannot hold a 64-bit hash exactly;
    the halves can — dialect._split_hash_expr) and the VALUE as 32-bit
    halves too (arithmetic-shift hi keeps the sign); the integer-sum
    tuple sketch accumulates exact int64 per-hash sums alongside the
    KMV candidates —, ("cs_hll", pairs_col, log2m)
    or ("cs_hllpp", pairs_col, p, sp) whose column holds clearspring
    j*64+rho register pairs (dialect._cs_hll_pairs_arr_sql; values
    < 2^log2m·64+64 so float64-exact, partial state is the fixed
    register array), ("freq_str", col, max_map_size) or
    ("freq_long", hi_col, lo_col, max_map_size) building a frequent-
    items sketch, or ("tdigest", values_col) accumulating an engine-own
    t-digest (bounded centroid count) per group.

    One ``mapInPandas`` pass accumulates, per (key-tuple, call), the
    bounded partial state across the partition's Arrow batches — for a
    tuple call the ≤ k+1 smallest distinct hashes (k+1, not k: the
    (k+1)-th value BECOMES theta downstream — truncating to k silently
    flips the sketch into its "exact" regime) — then emits ONE row per
    key per partition: (keys..., __rs0 blob, ...). The only shuffle
    after this is of partial rows — O(groups × partitions × blob) —
    mirroring Pinot's segment-local sketch build + broker merge
    (AggregationFunction.java:63,86,132). Candidate truncation at k+1
    is associative, so the downstream blob merge is exact w.r.t. the
    flat build; tuple value sums are per-hash and combine across
    partials in the merge.

    Groups whose values are all NULL still emit (empty-sketch blob), so
    the group list matches the SQL GROUP BY exactly."""
    from pinot_spark.functions.sketches import TupleSketch

    key_fields = [src.schema[k] for k in keys]
    out_fields = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}" for f in key_fields]
        + [f"__rs{i} binary" for i in range(len(calls))]
    )

    def _u64_of(g, hi_c, lo_c):
        hi = g[hi_c].to_numpy(dtype="float64")
        lo = g[lo_c].to_numpy(dtype="float64")
        mask = ~np.isnan(hi)
        u = (
            hi[mask].astype(np.int64).astype(np.uint64) << np.uint64(32)
        ) | lo[mask].astype(np.int64).astype(np.uint64)
        u ^= np.uint64(1 << 63)  # signed hash → unsigned order
        return u, mask

    def _build(batches):
        acc: dict[tuple, list] = {}
        for pdf in batches:
            groups = (
                pdf.groupby(keys, dropna=False, sort=False)
                if keys
                else [((), pdf)]  # ungrouped: the partition is one group
            )
            for kt, g in groups:
                if not isinstance(kt, tuple):
                    kt = (kt,)
                slot = acc.setdefault(kt, [None] * len(calls))
                for i, call in enumerate(calls):
                    kind = call[0]
                    if kind in ("cs_hll", "cs_hllpp"):
                        # accumulate max-rho registers per group — the
                        # HLL partial state is the fixed 2^log2m register
                        # array regardless of row count
                        regs = slot[i]
                        if regs is None:
                            regs = slot[i] = np.zeros(1 << call[2], np.uint8)
                        for ps in g[call[1]]:
                            if ps is None or len(ps) == 0:
                                continue
                            p = np.asarray(ps, dtype=np.int64)
                            np.maximum.at(regs, p >> 6, (p & 63).astype(np.uint8))
                        continue
                    if kind == "tdigest":
                        from pinot_spark.operators.tdigest import TDigest

                        td = slot[i]
                        if td is None:
                            td = slot[i] = TDigest()
                        for vals in g[call[1]]:
                            if vals is None or len(vals) == 0:
                                continue
                            v = np.asarray(vals, dtype=np.float64)
                            v = v[~np.isnan(v)]
                            if len(v):
                                td.add(v.tolist())
                        continue
                    if kind == "freq_str":
                        from pinot_spark.operators.ds_freq import DsFrequentSketch

                        fs = slot[i]
                        if fs is None:
                            fs = slot[i] = DsFrequentSketch.empty(call[2])
                        col = g[call[1]].dropna()
                        if len(col):
                            # batch-level exact pre-aggregation: one
                            # weighted update per distinct value
                            vals, cnts = np.unique(
                                col.to_numpy(dtype=object), return_counts=True
                            )
                            for v, c in zip(vals, cnts):
                                fs.update(str(v), int(c))
                        continue
                    if kind == "freq_long":
                        from pinot_spark.operators.ds_freq import DsFrequentSketch

                        fs = slot[i]
                        if fs is None:
                            fs = slot[i] = DsFrequentSketch.empty(call[3])
                        u, _m = _u64_of(g, call[1], call[2])
                        if len(u):
                            # halves arrive hash-shifted by _u64_of; undo
                            # the sign shift to recover the raw int64
                            raw = (u ^ np.uint64(1 << 63)).view(np.int64)
                            vals, cnts = np.unique(raw, return_counts=True)
                            for v, c in zip(vals, cnts):
                                fs.update(int(v), int(c))
                        continue
                    # tuple: exact int64 per-hash sums ride along
                    k = call[3]
                    u, mask = _u64_of(g, call[1], call[2])
                    vhi = g[call[4]].to_numpy(dtype="float64")[mask]
                    vlo = g[call[5]].to_numpy(dtype="float64")[mask]
                    vmask = ~np.isnan(vhi)
                    u = u[vmask]
                    v = (
                        vhi[vmask].astype(np.int64) << np.int64(32)
                    ) | vlo[vmask].astype(np.int64)
                    if slot[i] is not None:
                        pu, pv = slot[i]
                        u = np.concatenate([pu, u])
                        v = np.concatenate([pv, v])
                    if not len(u):
                        continue
                    order = np.argsort(u, kind="stable")
                    us, vs = u[order], v[order]
                    first = np.empty(len(us), dtype=bool)
                    first[0] = True
                    first[1:] = us[1:] != us[:-1]
                    starts = np.flatnonzero(first)
                    sums = np.add.reduceat(vs, starts)  # int64 exact
                    uh = us[starts]
                    slot[i] = (uh[: k + 1], sums[: k + 1])
        if not acc:
            return
        rows = []
        for kt, slots in acc.items():
            row = [None if (v is None or v != v) else v for v in kt]
            for i, call in enumerate(calls):
                kind = call[0]
                if kind == "cs_hll":
                    from pinot_spark.operators.cs_hll import CsHll

                    regs = slots[i]
                    if regs is None:
                        regs = np.zeros(1 << call[2], np.uint8)
                    row.append(CsHll(call[2], regs).serialize())
                    continue
                if kind == "cs_hllpp":
                    from pinot_spark.operators.cs_hll import NORMAL, CsHllPlus

                    regs = slots[i]
                    if regs is None:
                        regs = np.zeros(1 << call[2], np.uint8)
                    row.append(
                        CsHllPlus(call[2], call[3], NORMAL, regs, None).serialize()
                    )
                    continue
                if kind == "tdigest":
                    from pinot_spark.operators.tdigest import TDigest

                    td = slots[i] if slots[i] is not None else TDigest()
                    row.append(td.to_bytes())
                    continue
                if kind == "freq_str":
                    from pinot_spark.operators.ds_freq import DsFrequentSketch

                    fs = slots[i]
                    if fs is None:
                        fs = DsFrequentSketch.empty(call[2])
                    row.append(fs.serialize())
                    continue
                if kind == "freq_long":
                    from pinot_spark.operators.ds_freq import DsFrequentSketch

                    fs = slots[i]
                    if fs is None:
                        fs = DsFrequentSketch.empty(call[3])
                    row.append(fs.serialize())
                    continue
                k = call[3]
                if slots[i] is None:
                    uh = np.array([], dtype=np.uint64)
                    sums = np.array([], dtype=np.int64)
                else:
                    uh, sums = slots[i]
                if len(uh) > k:
                    th = int(uh[k])
                    uh, sums = uh[:k], sums[:k]
                else:
                    th = 2**64
                row.append(
                    TupleSketch(
                        k, th, uh.astype(np.uint64), sums.astype(np.int64)
                    ).to_bytes()
                )
            rows.append(row)
        out = pd.DataFrame(
            rows, columns=keys + [f"__rs{i}" for i in range(len(calls))]
        )
        # integral key columns may have ridden through pandas as float64
        # (null-carrying Arrow batches); hand them back as objects so the
        # Arrow writer casts per the declared schema without float noise.
        # bigint is safe here ONLY because 64-bit dialect keys arrive as
        # split 32-bit halves (__khi/__klo) — each half is exact in
        # float64, so int() cannot round
        for f in key_fields:
            if f.dataType.simpleString() in ("int", "smallint", "tinyint", "bigint"):
                # v != v: pd.DataFrame turns None back into NaN when the
                # column is otherwise numeric
                out[f.name] = [
                    None if (v is None or v != v) else int(v)
                    for v in out[f.name]
                ]
        yield out

    needed = list(keys)
    for call in calls:
        if call[0] in ("cs_hll", "cs_hllpp", "tdigest", "freq_str"):
            needed.append(call[1])
            continue
        needed += [call[1], call[2]]
        if call[0] == "tuple":
            needed += [call[4], call[5]]
    return src.select(*needed).mapInPandas(_build, schema=out_fields)
