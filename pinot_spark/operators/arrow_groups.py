"""Group the rows of one Arrow record batch by key columns — the
partition-local step every map-side sketch builder shares (the
zero-shuffle partials in operators/theta.py, the DataSketches theta and
clearspring HLL exports).

Arrow hands int64, timestamp and decimal keys to Python exactly and a
NULL key as a validity bit, so no key needs a carrier column: a BIGINT
key keeps all 64 bits next to a NULL in the same batch.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa


def batch_groups(batch: pa.RecordBatch, keys: list[str]):
    """Yield (key tuple, sub-batch) per distinct key of ``batch``.

    Key tuples hold ``to_pylist`` values (a NULL key is None and is its
    own group); each sub-batch keeps its rows in batch order.  With no
    keys the whole batch is one group."""
    if not keys:
        yield (), batch
        return
    rows = pa.Table.from_batches([batch]).select(keys)
    rows = rows.append_column("__batch_row", pa.array(np.arange(batch.num_rows)))
    g = rows.group_by(keys, use_threads=False).aggregate([("__batch_row", "list")])
    idx = g.column("__batch_row_list").combine_chunks()
    offs = idx.offsets.to_numpy()
    flat = idx.flatten().to_numpy()
    for i, kt in enumerate(zip(*(g.column(k).to_pylist() for k in keys))):
        yield kt, batch.take(flat[offs[i] - offs[0] : offs[i + 1] - offs[0]])


def key_columns(key_tuples: list[tuple], types: list[pa.DataType]) -> list[pa.Array]:
    """Arrow key columns of the given ``types`` from ``batch_groups`` key
    tuples (the inverse of their ``to_pylist``)."""
    return [
        pa.array([kt[j] for kt in key_tuples], type=t) for j, t in enumerate(types)
    ]


def grouped_export(src, keys: list[str], fold, partial, merge, out_col: str):
    """Per-group sketch bytes over ``src`` (the key columns plus ``__v``)
    in the segment → broker shape: one ``mapInArrow`` pass folds each
    partition's groups — ``fold(state, values)`` gets None as a group's
    first state and the group's non-NULL ``__v`` Arrow array, and returns
    the new state — and emits one ``partial(state)`` blob per group;
    only those blobs shuffle (O(groups x partitions)), and
    ``merge(blobs)`` turns each group's list of partials into its
    ``out_col`` bytes.  Returns a DataFrame (keys..., out_col binary)."""
    import pyspark.sql.functions as F
    from pyspark.sql.types import BinaryType, StructField, StructType

    key_fields = [src.schema[k] for k in keys]

    def partials(batches):
        acc: dict[tuple, object] = {}
        key_types = None
        for batch in batches:
            key_types = [batch.schema.field(k).type for k in keys]
            for kt, g in batch_groups(batch, keys):
                acc[kt] = fold(acc.get(kt), g.column("__v").drop_null())
        if acc:
            blobs = pa.array([partial(s) for s in acc.values()], pa.binary())
            yield pa.RecordBatch.from_arrays(
                key_columns(list(acc), key_types) + [blobs],
                names=keys + ["__part"],
            )

    def merged(batches):
        for batch in batches:
            out = [merge(blobs) for blobs in batch.column("__parts").to_pylist()]
            yield pa.RecordBatch.from_arrays(
                [batch.column(k) for k in keys] + [pa.array(out, pa.binary())],
                names=keys + [out_col],
            )

    def schema(blob_col: str) -> StructType:
        return StructType(key_fields + [StructField(blob_col, BinaryType())])

    parts = src.mapInArrow(partials, schema("__part"))
    parts = parts.groupBy(*keys).agg(F.collect_list("__part").alias("__parts"))
    return parts.mapInArrow(merged, schema(out_col))
