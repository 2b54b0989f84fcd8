"""Segment-style storage layout: partitioned, sorted parquet writing.

Reference mapping (SURVEY.md §1.3): Pinot's segment layout —
time/partition-column segment assignment (SegmentPartitionConfig.java),
sorted forward index on the sort column, min/max column metadata for
broker/server pruning (TimeSegmentPruner, ColumnValueSegmentPruner) —
becomes parquet written partitioned by a derived time bucket + hash
bucket, sorted within files so row-group min/max stats give the same
pruning power.

Scale notes: at 100 TB, `partition_by` time bucket gives partition
pruning for time-range queries (the #1 OLAP filter), `bucket_by` gives
shuffle-free joins/aggs on the bucket key (storage-partitioned joins),
and within-file sorting makes row-group stats selective for the sort
column (Pinot's sorted-column binary search, for free from the reader).
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from pinot_spark.sources.fsutil import read_parquet


def write_segments(
    df: DataFrame,
    path: str,
    time_col: str | None = None,
    time_bucket: str = "day",
    sort_cols: list[str] | None = None,
    partition_cols: list[str] | None = None,
    target_file_rows: int | None = None,
    mode: str = "overwrite",
    compression: str | None = None,
) -> None:
    """Write a table as pruned/sorted parquet "segments".

    - ``time_col``: adds a ``__seg_time`` partition dir = date_trunc bucket
      (TimeSegmentPruner analog — partition pruning on time ranges).
    - ``sort_cols``: sortWithinPartitions before write (sorted-index
      analog — row-group stats become selective).
    - ``target_file_rows``: caps rows per file (segment size control,
      maxRowsPerFile).
    """
    parts = list(partition_cols or [])
    if time_col is not None:
        df = df.withColumn("__seg_time", F.date_trunc(time_bucket, F.col(time_col)).cast("date"))
        parts.append("__seg_time")
    if sort_cols:
        df = df.sortWithinPartitions(*[F.col(c) for c in (parts + sort_cols)])
    writer = df.write.mode(mode)
    if compression:
        # raw-forward-index codec choice (FieldConfig compressionCodec:
        # LZ4/ZSTD/SNAPPY/GZIP...) — parquet applies it per column chunk
        writer = writer.option("compression", compression)
    if target_file_rows:
        writer = writer.option("maxRecordsPerFile", target_file_rows)
    if parts:
        writer = writer.partitionBy(*parts)
    writer.parquet(path)


def read_segments(spark, path: str) -> DataFrame:
    """Read a segment dir back (partition columns restored), its schema
    from one footer read on the driver (``fsutil.read_parquet``)."""
    return read_parquet(spark, path)


def compact_segments(
    spark,
    path: str,
    out_path: str,
    target_file_rows: int = 1_000_000,
    rollup: dict | None = None,
    time_col: str = "__seg_time",
    coarser_bucket: str | None = None,
) -> int:
    """Segment compaction / merge-rollup — the minion MergeRollupTask
    analog (pinot-plugins minion merge-rollup task; SegmentMergeTask):
    many small segments re-read and rewritten at target size, optionally
    rolling older data up to a coarser time bucket with per-measure
    aggregation.

    ``rollup``: {"dims": [...], "aggs": {col: "sum"|"min"|"max"|"count"}}
    — when given, rows aggregate per (dims, coarser time bucket); when
    None this is pure file compaction (same rows, fewer/bigger files).

    At 100 TB the streaming ingest produces many small time-partition
    files; periodic compaction keeps scan task counts and footer
    overheads bounded. Returns the number of output rows.
    """
    df = read_parquet(spark, path)
    if rollup:
        bucket = (
            F.date_trunc(coarser_bucket, F.col(time_col)).cast("date").alias(time_col)
            if coarser_bucket
            else F.col(time_col)
        )
        aggs = []
        for col, how in rollup["aggs"].items():
            how = how.lower()
            fn = {"sum": F.sum, "min": F.min, "max": F.max}.get(how)
            aggs.append(
                (F.count("*") if how == "count" else fn(col)).alias(col)
            )
        df = df.groupBy(bucket, *[F.col(d) for d in rollup["dims"]]).agg(*aggs)
    (
        df.write.mode("overwrite")
        .option("maxRecordsPerFile", target_file_rows)
        .partitionBy(time_col)
        .parquet(out_path)
    )
    return read_parquet(spark, out_path).count()


def write_bucketed_table(
    df: DataFrame,
    table_name: str,
    bucket_cols: list[str],
    num_buckets: int = 8,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Persist as a bucketed catalog table: Pinot's partitioned-segment
    colocated joins (SegmentPartitionConfig + PinotImplicitTableHintRule)
    map to Spark bucketing — two tables bucketed on the join key with the
    same bucket count join with NO exchange on either side.

    At 100 TB this is the difference between re-shuffling the fact table
    per query and reading co-located buckets; the bucket count plays the
    role of Pinot's partition-function modulus."""
    writer = df.write.mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    if path:
        # external table at an explicit path: independent of the
        # session's warehouse dir (= the driver process's cwd)
        writer = writer.option("path", path)
    writer.saveAsTable(table_name)


def list_segment_files(spark, path: str) -> list[str]:
    """Lexicographically sorted data-file names of a segment dir — the
    'online segments' set a broker routes over (segment name order is
    the FirstNSegmentsTableSampler sort key)."""
    import os

    out = []
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                out.append(os.path.join(root, f))
    # sort by path RELATIVE to the table root: the segment-name analog
    return sorted(out, key=lambda p: os.path.relpath(p, path))


def sample_segments(spark, path: str, num_segments: int) -> DataFrame:
    """FirstNSegmentsTableSampler analog (pinot-broker/.../tablesampler/
    FirstNSegmentsTableSampler.java: sort segment names
    lexicographically, route only the first N;
    TableSamplerIntegrationTest): read only the first ``num_segments``
    data files of a write_segments output.  ``basePath`` keeps the
    partition-dir columns, so predicate/partition pruning still applies
    WITHIN the sample (testSamplerRoutingStillAppliesPartitionPruning —
    sampled routing intersects with pruning, it does not override it).

    The 100 TB use: exploratory queries over a deterministic small
    segment subset without scanning the table."""
    if num_segments <= 0:
        raise ValueError("'numSegments' must be positive")
    files = list_segment_files(spark, path)
    if not files:
        raise ValueError(f"no segment files under {path}")
    picked = files[: min(num_segments, len(files))]
    return read_parquet(spark, *picked, base_path=path)


def segment_compression_stats(path: str) -> dict:
    """Per-column compression statistics of a segment dir — the
    CompressionStats*IngestionIntegrationTest surface (the controller's
    table-size API reports reportedSizeInBytes + per-column compressed/
    uncompressed sizes and ratios; compressionStatsEnabled).  Read from
    parquet footers: column-chunk compressed/uncompressed byte totals.

    Returns {"n_files", "total_bytes", "columns": {name:
    {"compressed", "uncompressed", "ratio"}}}."""
    import os

    import pyarrow.parquet as pq

    files = []
    for root, _dirs, names in os.walk(path):
        for f in names:
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                files.append(os.path.join(root, f))
    cols: dict[str, dict] = {}
    total = 0
    for f in files:
        total += os.path.getsize(f)
        md = pq.ParquetFile(f).metadata
        for rg in range(md.num_row_groups):
            g = md.row_group(rg)
            for ci in range(g.num_columns):
                c = g.column(ci)
                d = cols.setdefault(
                    c.path_in_schema, {"compressed": 0, "uncompressed": 0}
                )
                d["compressed"] += c.total_compressed_size
                d["uncompressed"] += c.total_uncompressed_size
    for d in cols.values():
        d["ratio"] = (
            d["uncompressed"] / d["compressed"] if d["compressed"] else 1.0
        )
    return {"n_files": len(files), "total_bytes": total, "columns": cols}
