"""Running (ORDER BY / framed) RAW-sketch window aggregates.

Reference semantics: the multistage WindowAggregateOperator evaluates
aggregation calls ``OVER (PARTITION BY ... ORDER BY ...)`` with the
standard SQL running frame — the default ordered frame is RANGE
UNBOUNDED PRECEDING (peer rows tied on the ORDER BY keys share one
value); an explicit ROWS UNBOUNDED PRECEDING frame advances per row
(pinot-query-runtime/src/main/java/org/apache/pinot/query/runtime/
operator/WindowAggregateOperator.java — one aggregation state per
partition, advanced in frame order).  Sketch states never retract, so
UNBOUNDED PRECEDING frame starts accumulate in one pass; round 12 adds
SLIDING ``ROWS N PRECEDING`` frames by per-row REBUILD from a deque of
the last N+1 token tuples (work and state bounded by the user's own
frame width — this exceeds the reference, whose window factory throws
for every sketch aggregate) and SHRINKING ``CURRENT ROW .. UNBOUNDED
FOLLOWING`` frames as the running frame on the reversed order.
Value-based ``RANGE N PRECEDING`` and two-sided bounded frames still
raise loudly by name at the dialect layer (``_parse_running_over``).

SCALE SHAPE: one shuffle on the PARTITION BY keys — exactly what
Spark's own WindowExec requires for any ordered window — then a single
sequential pass per partition group inside one Arrow-batched
applyInPandas stage.  The per-value hash/pair/coupon TOKENS are
computed JVM-side in the derived view's projection, reusing the very
SQL expressions the grouped aggregation routes use (dialect
``_hll_pair_expr`` / ``_cs_hll_pair_sql`` / ``_cpc_coupon_sql``), so a
running blob for a full partition is byte-identical to the grouped
route's blob for the same rows: one hash domain, one accumulation
rule, one serializer.  Accumulator state is sketch-bounded per group
(registers / merged tuple sketch / reverse-purge map / centroid list);
only the emitted one-blob-per-row column scales with rows, which is the
query's own output contract.

Theta has no accumulator here: Spark computes ``theta_sketch_agg``
over any window frame natively.

Full-range int64 tokens (FREQUENTLONGS values) ride as split hi/lo
32-bit halves: a nullable BIGINT column reaches pandas as float64,
which is lossy past 2^53 (the repo-wide convention, see
operators/ds_theta.grouped_ds_theta).
"""

from __future__ import annotations

import numpy as np

def _missing(v) -> bool:
    return v is None or (isinstance(v, float) and v != v)


class PairRegAcc:
    """Bounded register accumulator for idx*64+rho pairs (engine HLL,
    clearspring HLL/HLL++, and their MV variants)."""

    def __init__(self, m: int, blob_fn):
        self.regs = np.zeros(m, dtype=np.uint8)
        self._blob_fn = blob_fn

    def push(self, vals):
        t = vals[0]
        if _missing(t):
            return
        t = int(t)
        j, r = t >> 6, t & 63
        if r > self.regs[j]:
            self.regs[j] = r

    def blob(self) -> bytes:
        return self._blob_fn(self.regs)


class PairSetAcc:
    """Distinct-pair set (bounded by the 64*2^p pair domain) finished
    through the family's exact from_pairs builder (engine ULL)."""

    def __init__(self, blob_fn):
        self.pairs: set[int] = set()
        self._blob_fn = blob_fn

    def push(self, vals):
        t = vals[0]
        if _missing(t):
            return
        self.pairs.add(int(t))

    def blob(self) -> bytes:
        arr = np.fromiter(self.pairs, dtype=np.int64, count=len(self.pairs))
        return self._blob_fn(arr)


class TupleAcc:
    """Running merge of serialized integer-sum tuple sketches — the
    window-position analog of ``__tuple_merge_sum(collect_list(..))``,
    including the loud mixed-hash-domain guard."""

    def __init__(self):
        from pinot_spark.functions.sketches import TupleSketch, _MODES
        from pinot_spark.operators.ds_theta import (
            DsTupleSketch,
            is_ds_tuple_bytes,
        )

        self._own = TupleSketch
        self._ds = DsTupleSketch
        self._is_ds = is_ds_tuple_bytes
        self._sum = _MODES["sum"]
        self.acc = None
        self.domain = None

    def push(self, vals):
        b = vals[0]
        if b is None:
            return
        b = bytes(b)
        if self._is_ds(b):
            s, d = self._ds.parse(b), "ds"
        else:
            s, d = self._own.from_bytes(b), "own"
        if self.domain is None:
            self.domain = d
        elif self.domain != d:
            raise ValueError(
                "tuple sketch merge mixes DataSketches-format "
                "(murmur-9001) and engine-native (xxhash64) sketches — "
                "the hash domains are incompatible"
            )
        if self.acc is None:
            self.acc = s
        elif d == "ds":
            self.acc = self.acc.union(s)
        else:
            self.acc = self.acc.union(s, mode=self._sum)

    def blob(self) -> bytes:
        if self.acc is None:
            return self._own.empty().to_bytes()
        return self.acc.serialize() if self.domain == "ds" else self.acc.to_bytes()


class FreqLongAcc:
    """Running DataSketches LongsSketch over hi/lo-split int64 values."""

    def __init__(self, max_map_size: int):
        from pinot_spark.operators.ds_freq import DsFrequentSketch

        self.s = DsFrequentSketch.empty(max_map_size)

    def push(self, vals):
        hi, lo = vals
        if _missing(hi):
            return
        self.s.update((int(hi) << 32) | int(lo))

    def blob(self) -> bytes:
        return self.s.serialize()


class FreqStrAcc:
    """Running ItemsSketch<String>: the same str() conversion the
    grouped ``__freq_str_partial`` fallback applies."""

    def __init__(self, max_map_size: int):
        from pinot_spark.operators.ds_freq import DsFrequentSketch

        self.s = DsFrequentSketch.empty(max_map_size)

    def push(self, vals):
        v = vals[0]
        if _missing(v):
            return
        self.s.update(str(v))

    def blob(self) -> bytes:
        return self.s.serialize()


class FreqBlobAcc:
    """Running merge of serialized foreign frequency sketches (BYTES
    input column — the reference's merge contract)."""

    def __init__(self, max_map_size: int, strings: bool):
        from pinot_spark.operators.ds_freq import DsFrequentSketch

        self._cls = DsFrequentSketch
        self.strings = strings
        self.s = DsFrequentSketch.empty(max_map_size)

    def push(self, vals):
        b = vals[0]
        if b is None:
            return
        self.s = self.s.merge(self._cls.parse(bytes(b), strings=self.strings))

    def blob(self) -> bytes:
        return self.s.serialize()


class TDigestAcc:
    """Running engine-own t-digest from the true prefix values (the
    grouped route assembles from a quantile grid; the running form has
    the values in hand — same wire format, better fidelity)."""

    def __init__(self, compression: float = 100.0):
        from pinot_spark.operators.tdigest import TDigest

        self.td = TDigest(compression)

    def push(self, vals):
        v = vals[0]
        if _missing(v):
            return
        self.td.add([float(v)])

    def blob(self) -> bytes:
        return self.td.to_bytes()


class ArrayAcc:
    """MV adapter: absorbs every element of an array token through the
    wrapped single-value accumulator."""

    def __init__(self, inner):
        self.inner = inner

    def push(self, vals):
        arr = vals[0]
        if arr is None:
            return
        for x in arr:
            self.inner.push((x,))

    def blob(self) -> bytes:
        return self.inner.blob()


def make_acc(family: str, params: tuple):
    """Accumulator factory. ``family`` is the internal family key the
    dialect's running-window spec table assigns; ``params`` carries the
    parsed sketch parameters."""
    if family == "hll_cs":
        from pinot_spark.operators.cs_hll import CsHll

        (log2m,) = params
        return PairRegAcc(1 << log2m, lambda r: CsHll(log2m, r).serialize())
    if family == "hllpp_cs":
        from pinot_spark.operators.cs_hll import NORMAL, CsHllPlus

        p, sp = params
        return PairRegAcc(
            1 << p, lambda r: CsHllPlus(p, sp, NORMAL, r, None).serialize()
        )
    if family == "ull":
        from pinot_spark.operators.ull import UllSketch

        (p,) = params
        return PairSetAcc(lambda arr: UllSketch.from_pairs(arr, p).to_bytes())
    if family == "cpc":
        from pinot_spark.operators.ds_cpc import DsCpcSketch

        (lg_k,) = params
        k = 1 << lg_k

        def _cpc_fin(arr):
            # same coupon → bit-matrix build as __cpc_from_coupons:
            # CpcUnion.getResult bytes for the prefix stream
            matrix = [0] * k
            for c in arr:
                c = int(c)
                matrix[(c & 0xFFFFFFFF) >> 6] |= 1 << (c & 63)
            return DsCpcSketch.from_bit_matrix(matrix, lg_k).serialize()

        return PairSetAcc(_cpc_fin)
    if family == "tuple":
        return TupleAcc()
    if family == "freq_long":
        (mm,) = params
        return FreqLongAcc(mm)
    if family == "freq_str":
        (mm,) = params
        return FreqStrAcc(mm)
    if family == "freq_blob_long":
        (mm,) = params
        return FreqBlobAcc(mm, strings=False)
    if family == "freq_blob_str":
        (mm,) = params
        return FreqBlobAcc(mm, strings=True)
    if family == "tdigest":
        return TDigestAcc()
    raise KeyError(f"no running accumulator family {family!r}")


_EMIT_CHUNK = 256  # output rows per Arrow batch: 256 x ~32 KB blob ≈ 8 MB


def attach_running(
    df,
    pcols: list[str],
    order_spec: list[tuple[str, bool, bool]],
    token_cols: list[str],
    out_col: str,
    family: str,
    params: tuple,
    mode: str,
    is_array: bool,
):
    """Add ``out_col`` (binary) holding the running sketch blob.

    ``order_spec`` entries are (column, ascending, nulls_first) over
    already-materialized columns; ``mode`` is ``rows`` (per-row frame),
    ``range`` (peer rows tied on every ORDER BY key share one blob), or
    ``rows_sliding:N`` (frame = last N+1 rows: each row rebuilds its
    sketch from a deque of buffered token tuples — O(frame) per row,
    bounded by the frame width) — whole-partition ``OVER (... ROWS/
    RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)`` frames
    route through the grouped LEFT-JOIN path at the dialect layer
    instead, and shrinking frames arrive here as ``rows``/``range``
    with the order pre-flipped.

    STREAMING SHAPE: one hash shuffle on ``pcols`` + a JVM
    sortWithinPartitions (exactly Spark's own WindowExec requirement),
    then ONE mapInPandas pass that carries the accumulator across
    Arrow batches and yields output in small chunks.  groupBy().
    applyInPandas would return each GROUP as a single Arrow batch —
    with one ~32 KB sketch blob per row, a 30k-row partition is ~1 GB
    in one allocation, which blows the executor's direct-memory cap
    (hit at sf0.1 during validation).  Here memory is O(input batch +
    one pending peer block + sketch state): the only rows ever held
    back are the current (possibly batch-spanning) peer block, so a
    degenerate all-rows-tied ORDER BY key degrades to group-sized
    memory — at which point the value is constant and the unbounded
    frame is the right query.
    """
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.types import BinaryType, StructField, StructType

    sliding_w: int | None = None  # ROWS N PRECEDING: frame = last N+1 rows
    if isinstance(mode, str) and mode.startswith("rows_sliding:"):
        sliding_w = int(mode.split(":", 1)[1])
        mode = "rows"
    elif mode not in ("rows", "range"):
        raise ValueError(f"attach_running serves rows/range frames, not {mode!r}")
    out_schema = StructType(
        df.schema.fields + [StructField(out_col, BinaryType(), True)]
    )
    ocols = [c for c, _, _ in order_spec]
    cols = [f.name for f in df.schema.fields]

    sort_cols = [F.col(c).asc_nulls_first() for c in pcols]
    for c, asc, nf in order_spec:
        col = F.col(c)
        sort_cols.append(
            col.asc_nulls_first()
            if asc and nf
            else col.asc_nulls_last()
            if asc
            else col.desc_nulls_first()
            if nf
            else col.desc_nulls_last()
        )
    part = df.repartition(*[F.col(c) for c in pcols]) if pcols else df.repartition(1)
    if sort_cols:
        part = part.sortWithinPartitions(*sort_cols)

    def fn(batches):
        import numpy as np
        from collections import deque

        state = {"acc": None, "push": None, "gkey": None, "win": None}
        hold: pd.DataFrame | None = None  # current unclosed peer block

        def norm_key(vals):
            # NULL numeric keys arrive as NaN; NaN != NaN would make
            # the cross-batch comparison below spuriously reset the
            # accumulator for a null-keyed partition spanning a batch
            # boundary.  Mirror neq_mask's NaN-awareness by mapping
            # every missing component to None first.
            out = []
            for v in vals:
                try:
                    if pd.isna(v):
                        v = None
                except (TypeError, ValueError):
                    pass
                out.append(v)
            return tuple(out)

        def reset_acc():
            a = make_acc(family, params)
            state["acc"] = a
            state["push"] = (ArrayAcc(a) if is_array else a).push

        def process(pdf: pd.DataFrame, eof: bool):
            nonlocal hold
            if hold is not None and len(hold):
                pdf = pd.concat([hold, pdf], ignore_index=True)
                hold = None
            n = len(pdf)
            if n == 0:
                return

            def neq_mask(kcols):
                if not kcols:
                    return np.zeros(n, dtype=bool)
                cur = pdf[kcols].reset_index(drop=True)
                prev = cur.shift(1)
                return (
                    (cur.ne(prev) & ~(cur.isna() & prev.isna()))
                    .any(axis=1)
                    .to_numpy()
                )

            gchange = neq_mask(pcols)
            first_key = norm_key(pdf[c].iloc[0] for c in pcols)
            gchange[0] = state["gkey"] is None or first_key != state["gkey"]
            if sliding_w is not None:
                # SLIDING frame: every row closes immediately — no peer
                # blocks, no hold.  Each row's sketch REBUILDS from the
                # ≤ W+1 buffered token tuples (sketches never retract),
                # so work and carried state are bounded by the frame
                # width the user asked for, never by partition size.
                toks = (
                    list(zip(*(pdf[c].tolist() for c in token_cols)))
                    if token_cols
                    else [()] * n
                )
                blobs: list = [None] * n
                for i in range(n):
                    if gchange[i]:
                        state["win"] = deque(maxlen=sliding_w + 1)
                        state["gkey"] = norm_key(
                            pdf[c].iloc[i] for c in pcols
                        )
                    state["win"].append(toks[i])
                    acc = make_acc(family, params)
                    push = (ArrayAcc(acc) if is_array else acc).push
                    for t in state["win"]:
                        if t:  # () only when token_cols is empty
                            push(t)
                    blobs[i] = acc.blob()
                out = pdf.copy()
                out[out_col] = blobs
                for i in range(0, n, _EMIT_CHUNK):
                    yield out.iloc[i : i + _EMIT_CHUNK]
                return
            if mode == "rows":
                bstart = np.ones(n, dtype=bool)
            else:
                bstart = gchange | neq_mask(ocols)
                bstart[0] = True
            starts = np.flatnonzero(bstart).tolist()
            bounds = starts + [n]
            # the final block may continue into the next batch
            n_closed_blocks = len(starts) if (eof or mode == "rows") else len(starts) - 1
            closed_upto = bounds[n_closed_blocks]
            if closed_upto == 0:
                hold = pdf.copy()
                return
            toks = list(zip(*(pdf[c].tolist() for c in token_cols))) if token_cols else []
            blobs: list = [None] * closed_upto
            for bi in range(n_closed_blocks):
                s, e = bounds[bi], bounds[bi + 1]
                if gchange[s]:
                    reset_acc()
                    state["gkey"] = norm_key(pdf[c].iloc[s] for c in pcols)
                push = state["push"]
                for t in toks[s:e]:
                    push(t)
                b = state["acc"].blob()
                for i in range(s, e):
                    blobs[i] = b
            if closed_upto < n:
                hold = pdf.iloc[closed_upto:].copy()
            out = pdf.iloc[:closed_upto].copy()
            out[out_col] = blobs
            for i in range(0, len(out), _EMIT_CHUNK):
                yield out.iloc[i : i + _EMIT_CHUNK]

        for pdf in batches:
            yield from process(pdf, eof=False)
        if hold is not None and len(hold):
            # flush without concat: an empty synthetic frame would
            # perturb the held slice's dtypes
            tail, hold = hold, None
            yield from process(tail, eof=True)

    return part.mapInPandas(fn, schema=out_schema)
