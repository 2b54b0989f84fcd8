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
sequential pass per partition group inside one mapInArrow stage.  The
per-value hash/pair/coupon TOKENS are computed JVM-side in the derived
view's projection, reusing the very SQL expressions the grouped
aggregation routes use (dialect ``_hll_pair_expr`` /
``_cs_hll_pair_sql`` / ``_cpc_coupon_sql``), so a running blob for a
full partition is byte-identical to the grouped route's blob for the
same rows: one hash domain, one accumulation rule, one serializer.  Accumulator state is sketch-bounded per group
(registers / merged tuple sketch / reverse-purge map / centroid list);
only the emitted one-blob-per-row column scales with rows, which is the
query's own output contract.

Theta has no accumulator here: Spark computes ``theta_sketch_agg``
over any window frame natively.

Rows stay Arrow: keys and tokens reach Python as ``to_pylist`` values
(a BIGINT keeps all 64 bits, NULL is None), and every pass-through
column goes back out as the same Arrow array it came in as.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa


class PairRegAcc:
    """Bounded register accumulator for idx*64+rho pairs (engine HLL,
    clearspring HLL/HLL++, and their MV variants)."""

    def __init__(self, m: int, blob_fn):
        self.regs = np.zeros(m, dtype=np.uint8)
        self._blob_fn = blob_fn

    def push(self, vals):
        t = vals[0]
        if t is None:
            return
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
        if t is not None:
            self.pairs.add(t)

    def blob(self) -> bytes:
        arr = np.fromiter(self.pairs, dtype=np.int64, count=len(self.pairs))
        return self._blob_fn(arr)


class TupleAcc:
    """Running merge of serialized integer-sum tuple sketches — the
    window-position analog of ``__tuple_merge_sum(collect_list(..))``,
    including the loud mixed-hash-domain guard."""

    def __init__(self):
        from pinot_spark.functions.sketches import TupleSketch
        from pinot_spark.operators.ds_theta import (
            DsTupleSketch,
            is_ds_tuple_bytes,
        )

        self._own = TupleSketch
        self._ds = DsTupleSketch
        self._is_ds = is_ds_tuple_bytes
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
        # both formats' union is sum-mode
        self.acc = s if self.acc is None else self.acc.union(s)

    def blob(self) -> bytes:
        if self.acc is None:
            return self._own.empty().to_bytes()
        return self.acc.serialize() if self.domain == "ds" else self.acc.to_bytes()


class FreqAcc:
    """Running DataSketches frequent-items sketch: a LongsSketch over
    int64 values, or an ItemsSketch<String> through the same str()
    conversion the grouped ``__freq_str_partial`` fallback applies."""

    def __init__(self, max_map_size: int, strings: bool):
        from pinot_spark.operators.ds_freq import DsFrequentSketch

        self.conv = str if strings else int
        self.s = DsFrequentSketch.empty(max_map_size)

    def push(self, vals):
        v = vals[0]
        if v is not None:
            self.s.update(self.conv(v))

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
        if v is not None and v == v:  # the digest skips NULL and NaN
            self.td.add([v])

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
    if family in ("freq_long", "freq_str"):
        (mm,) = params
        return FreqAcc(mm, strings=family == "freq_str")
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
_NAN = float("nan")


def _row_keys(batch: pa.RecordBatch, cols: list[str]) -> list[tuple]:
    """Per-row tuples of ``cols``.  None equals None, and every NaN is
    the one ``_NAN`` object so NaN equals NaN: Spark puts all NULL keys
    in one window partition and all NaN keys in another."""
    vals = []
    for c in cols:
        v = batch.column(c).to_pylist()
        if pa.types.is_floating(batch.schema.field(c).type):
            v = [_NAN if x != x else x for x in v]
        vals.append(v)
    return list(zip(*vals)) if cols else [()] * batch.num_rows


def _changes(keys: list[tuple], first: bool) -> np.ndarray:
    """Row i starts a new run of ``keys`` (row 0: ``first``)."""
    return np.array([first] + [keys[i] != keys[i - 1] for i in range(1, len(keys))])


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
    then ONE mapInArrow pass that carries the accumulator across
    Arrow batches and yields output in small chunks: each chunk is a
    slice of the input batch, every column passed through as the Arrow
    array it arrived as, plus the blob column.  A grouped map would
    return each GROUP as a single Arrow batch — with one ~32 KB
    sketch blob per row, a 30k-row partition is ~1 GB
    in one allocation, which blows the executor's direct-memory cap
    (hit at sf0.1 during validation).  Here memory is O(input batch +
    one pending peer block + sketch state): the only rows ever held
    back are the current (possibly batch-spanning) peer block, so a
    degenerate all-rows-tied ORDER BY key degrades to group-sized
    memory — at which point the value is constant and the unbounded
    frame is the right query.
    """
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
        from collections import deque

        state = {"acc": None, "push": None, "gkey": None, "win": None}
        hold: pa.RecordBatch | None = None  # current unclosed peer block

        def reset_acc():
            a = make_acc(family, params)
            state["acc"] = a
            state["push"] = (ArrayAcc(a) if is_array else a).push

        def _row_tokens(batch):
            return list(zip(*(batch.column(c).to_pylist() for c in token_cols)))

        def emit(batch, blobs):
            for i in range(0, batch.num_rows, _EMIT_CHUNK):
                chunk = pa.array(blobs[i : i + _EMIT_CHUNK], pa.binary())
                yield batch.slice(i, _EMIT_CHUNK).append_column(out_col, chunk)

        def process(batch: pa.RecordBatch, eof: bool):
            nonlocal hold
            if hold is not None:
                batch = pa.Table.from_batches([hold, batch]).combine_chunks()
                batch = batch.to_batches()[0]
                hold = None
            n = batch.num_rows
            if n == 0:
                return
            pkeys = _row_keys(batch, pcols)
            gchange = _changes(
                pkeys, state["gkey"] is None or pkeys[0] != state["gkey"]
            )
            if sliding_w is not None:
                # SLIDING frame: every row closes immediately — no peer
                # blocks, no hold.  Each row's sketch REBUILDS from the
                # ≤ W+1 buffered token tuples (sketches never retract),
                # so work and carried state are bounded by the frame
                # width the user asked for, never by partition size.
                toks = _row_tokens(batch)
                blobs: list = [None] * n
                for i in range(n):
                    if gchange[i]:
                        state["win"] = deque(maxlen=sliding_w + 1)
                        state["gkey"] = pkeys[i]
                    state["win"].append(toks[i])
                    acc = make_acc(family, params)
                    push = (ArrayAcc(acc) if is_array else acc).push
                    for t in state["win"]:
                        push(t)
                    blobs[i] = acc.blob()
                yield from emit(batch, blobs)
                return
            if mode == "rows":
                bstart = np.ones(n, dtype=bool)
            else:
                bstart = gchange | _changes(_row_keys(batch, ocols), True)
            starts = np.flatnonzero(bstart).tolist()
            bounds = starts + [n]
            # the final block may continue into the next batch
            n_closed_blocks = len(starts) if (eof or mode == "rows") else len(starts) - 1
            closed_upto = bounds[n_closed_blocks]
            if closed_upto == 0:
                hold = batch
                return
            toks = _row_tokens(batch)
            blobs = [None] * closed_upto
            for bi in range(n_closed_blocks):
                s, e = bounds[bi], bounds[bi + 1]
                if gchange[s]:
                    reset_acc()
                    state["gkey"] = pkeys[s]
                push = state["push"]
                for t in toks[s:e]:
                    push(t)
                b = state["acc"].blob()
                for i in range(s, e):
                    blobs[i] = b
            if closed_upto < n:
                hold = batch.slice(closed_upto)
            yield from emit(batch.slice(0, closed_upto), blobs)

        for batch in batches:
            yield from process(batch, eof=False)
        if hold is not None:
            tail, hold = hold, None
            yield from process(tail, eof=True)

    return part.mapInArrow(fn, schema=out_schema)
