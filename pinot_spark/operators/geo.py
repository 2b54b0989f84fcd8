"""Geometry aggregation operators.

Reference: StUnionAggregationFunction.java (AggregationFunctionType
STUNION :164) — Pinot folds JTS geometry unions per segment and merges
at the broker.  The Column-expression fast path for POINT columns lives
in functions/aggregate.py (pure codegen'd set union); this module folds
any point/polygon/multipolygon column (WKT text or Pinot bytes) with
``geo_udfs.geo_union_agg``, the incremental fold the dialect's STUNION
runs (exact overlay: functions/pinot_geometry.union).

Build shape mirrors operators/theta.py: per-partition folds via
mapInArrow (no shuffle of raw rows — each partition emits ONE serialized
partial), then tree-reduce rounds (isqrt repartition + re-fold, the
theta.py:162 pattern) until at most ``_TREE_FANOUT`` partitions remain,
so the driver receives a bounded number of partials regardless of
partition count — partials can be large MULTIPOLYGONs, and a serial
driver fold over hundreds of them would be the broker bottleneck at
100 TB.  Geometric union is associative and commutative, so partition
boundaries can't change the result.
"""

from __future__ import annotations

import math

import pyarrow as pa
import pyspark.sql.functions as F
from pyspark.sql import DataFrame

# above this many partials, merge in distributed tree rounds first
_TREE_FANOUT = 8


def _fold(batches):
    from pinot_spark.functions.geo_udfs import geo_union_agg

    acc = geo_union_agg(v for b in batches for v in b.column(0).to_pylist())
    if acc is not None:
        yield pa.RecordBatch.from_arrays([pa.array([acc], pa.binary())], ["g"])


def _tree_partials(df: DataFrame, col: str) -> DataFrame:
    """Per-partition union folds, tree-reduced (isqrt repartition rounds)
    down to ≤ ``_TREE_FANOUT`` partitions of ≤1 partial each."""
    partials = (
        df.select(F.col(col).alias("g"))
        .filter(F.col("g").isNotNull())
        .mapInArrow(_fold, schema="g binary")
    )
    n = df.rdd.getNumPartitions()
    while n > _TREE_FANOUT:
        n = max(1, math.isqrt(n))
        partials = partials.repartition(n).mapInArrow(_fold, schema="g binary")
    return partials


def st_union_geoms(df: DataFrame, col: str) -> str | None:
    """Aggregate geometric union of a geometry column → WKT string
    (None for an empty/all-null input).  Lineal members raise
    NotImplementedError (functions/pinot_geometry.union).

    The driver never folds a long chain: it receives at most
    ``_TREE_FANOUT`` partials (usually one) after the executor-side tree
    reduction."""
    from pinot_spark.functions import pinot_geometry as pgeo
    from pinot_spark.functions.geo_udfs import geo_union_agg

    out = geo_union_agg(r.g for r in _tree_partials(df, col).collect())
    return None if out is None else pgeo.format_wkt(pgeo.deserialize(out))
