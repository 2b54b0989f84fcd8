"""Upsert / dedup view semantics over an append-only table.

Reference semantics:
- Upsert FULL: queries see only the latest row per primary key, resolved
  by a comparison column (pinot-spi/.../config/table/UpsertConfig.java:36,
  pinot-segment-local/.../upsert/ConcurrentMapPartitionUpsertMetadataManager.java).
- Upsert PARTIAL: per-column mergers (OVERWRITE / SUM / MAX / ...) applied
  across a key's rows (upsert/merger/PartialUpsertMerger.java).
- Dedup: first row per primary key wins at ingestion
  (pinot-segment-local/.../dedup/ConcurrentMapPartitionDedupMetadataManager.java).

Spark-first design: these are window/groupBy views over the raw table —
`row_number() OVER (PARTITION BY pk ORDER BY cmp DESC) = 1`, one shuffle
on the pk each time a view is read.  The realtime sink does not pay it
per read: its micro-batch writer runs ``upsert_view`` once per batch over
the previous snapshot plus the batch and commits the result, and readers
scan that snapshot (streaming/ingest.py), as Pinot's upsert metadata
manager resolves keys at ingest.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window


def _order(cols: list[str], desc: bool) -> list[Column]:
    return [F.col(c).desc() if desc else F.col(c).asc() for c in cols]


def upsert_view(
    df: DataFrame,
    keys: list[str],
    comparison: list[str],
    delete_col: str | None = None,
) -> DataFrame:
    """Latest-row-per-key view (upsert FULL mode). ``comparison`` is the
    ordered list of tie-breaking columns, highest wins (include a unique
    id last for determinism). ``delete_col`` is UpsertConfig's
    deleteRecordColumn: when the winning row has it true, the key is
    absent from the view (soft delete)."""
    w = Window.partitionBy(*keys).orderBy(*_order(comparison, desc=True))
    out = (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    if delete_col is not None:
        out = out.filter(~F.coalesce(F.col(delete_col), F.lit(False)))
    return out


def dedup_view(df: DataFrame, keys: list[str], comparison: list[str]) -> DataFrame:
    """First-row-per-key view (ingestion dedup). Earliest comparison wins."""
    w = Window.partitionBy(*keys).orderBy(*_order(comparison, desc=False))
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def partial_upsert_view(
    df: DataFrame,
    keys: list[str],
    comparison: str,
    mergers: dict[str, str],
) -> DataFrame:
    """Partial-upsert view: per-column merge across each key's rows.

    ``mergers``: column → a strategy from UpsertConfig.Strategy
    (UpsertConfig.java:40-42): OVERWRITE (latest non-null wins, by
    ``comparison``), FORCE_OVERWRITE (latest wins even if null),
    IGNORE (first value kept), INCREMENT / SUM, MAX, MIN,
    APPEND (values collected in arrival order), UNION (distinct set).
    """
    aggs = []
    for col, how in mergers.items():
        how = how.upper()
        if how == "OVERWRITE":
            # max_by over rows where the column is non-null: latest non-null
            aggs.append(
                F.max_by(col, F.when(F.col(col).isNotNull(), F.col(comparison))).alias(col)
            )
        elif how == "FORCE_OVERWRITE":
            aggs.append(F.max_by(col, comparison).alias(col))
        elif how == "IGNORE":
            aggs.append(F.min_by(col, comparison).alias(col))
        elif how in ("SUM", "INCREMENT"):
            aggs.append(F.sum(col).alias(col))
        elif how == "MAX":
            aggs.append(F.max(col).alias(col))
        elif how == "MIN":
            aggs.append(F.min(col).alias(col))
        elif how == "APPEND":
            aggs.append(
                F.transform(
                    F.array_sort(F.collect_list(F.struct(F.col(comparison).alias("c"), F.col(col).alias("v")))),
                    lambda s: s["v"],
                ).alias(col)
            )
        elif how == "UNION":
            aggs.append(F.array_sort(F.collect_set(col)).alias(col))
        else:
            raise ValueError(f"unknown merger {how} for {col}")
    aggs.append(F.max(comparison).alias(comparison))
    return df.groupBy(*keys).agg(*aggs)
