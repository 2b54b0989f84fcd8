"""Realtime ingestion on Structured Streaming.

Reference semantics:
- Stream consumption into queryable segments:
  pinot-core/.../data/manager/realtime/RealtimeSegmentDataManager.java:129
  (per-partition consumers, immediately-queryable mutable segments).
  Spark: micro-batch sink to parquet/Delta; freshness = trigger interval.
- Stream sources: pinot-plugins/pinot-stream-ingestion/{kafka,kinesis,
  pulsar} → `spark.readStream.format("kafka")` etc. Tests use file
  streams (deterministic, no broker in this container).
- Upsert at ingest (UpsertConfig.java:36): latest row per PK queryable.
  Pinot's partition upsert metadata manager resolves a key as its rows
  arrive, so a query reads only valid rows.  Spark: each foreachBatch
  merges the batch into the previous snapshot of latest rows per key
  and commits the new snapshot; a read scans the newest committed
  snapshot, with no window or shuffle.
- Dedup at ingest (dedup/ConcurrentMapPartitionDedupMetadataManager.java):
  `dropDuplicates` within the watermark.
- Ingestion-time aggregation (AggregationConfig): watermarked windowed
  aggregation — Pinot has no query-time watermarks, so this surface is
  strictly richer.
"""

from __future__ import annotations

import json
import re

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from pinot_spark.operators.upsert import upsert_view
from pinot_spark.session import SessionCache, parquet_schema
from pinot_spark.sources import fsutil


def stream_source(
    spark: SparkSession,
    stream_type: str,
    decoder: str | None = None,
    decoder_args: dict | None = None,
    schema: str | None = None,
    **options,
) -> DataFrame:
    """Pinot streamConfigs → readStream mapping (reference:
    pinot-spi/.../stream/StreamConfig.java `streamType` +
    `stream.<type>.decoder.class.name`):

    - ``kafka`` → ``format("kafka")`` (kafka-3.0/4.0 plugins);
      ``kinesis``/``pulsar`` → their connector formats (clear error if
      the connector jar is absent);
    - ``file``/``rate`` → built-in test/dev sources;
    - ``decoder`` applies a message decoder to the ``value`` column the
      way Pinot's StreamMessageDecoder does: ``json`` (from_json with
      declared schema), ``confluent_avro``, ``thrift``, ``protobuf``
      (sources/readers.py decoders — batch twins of the stream shape).

    Decoders that need per-record Python (confluent/thrift) are applied
    by the caller on the micro-batch inside foreachBatch — this factory
    returns the raw stream plus attaches ``.decode`` metadata via
    closure-free convention: use ``decode_stream_batch`` in the sink.
    """
    fmt = {"kafka": "kafka", "kinesis": "kinesis", "pulsar": "pulsar",
           "file": options.pop("file_format", "json"), "rate": "rate"}.get(
        stream_type.lower()
    )
    if fmt is None:
        raise ValueError(f"unknown stream type {stream_type!r}")
    path = options.pop("path", None)
    reader = spark.readStream.format(fmt)
    for k, v in options.items():
        reader = reader.option(k, v)
    if schema is not None and stream_type.lower() == "file":
        reader = reader.schema(schema)
    try:
        df = reader.load(path) if path is not None else reader.load()
    except Exception as e:
        if fmt in ("kinesis", "pulsar"):
            raise RuntimeError(
                f"{fmt} requires its Spark connector on the classpath "
                "(reference plugin: pinot-stream-ingestion/pinot-" + fmt + ")"
            ) from e
        raise
    if decoder == "json" and schema is not None and stream_type.lower() != "file":
        df = df.select(
            F.from_json(F.col("value").cast("string"), schema).alias("r")
        ).select("r.*")
    return df


def decode_stream_batch(
    batch: DataFrame, decoder: str, **args
) -> DataFrame:
    """Apply a Pinot stream-message decoder to a micro-batch's binary
    ``value`` column inside foreachBatch (confluent_avro / thrift /
    protobuf — the batch decoders in sources/readers.py)."""
    from pinot_spark.sources import readers as R

    if decoder == "confluent_avro":
        return R.decode_confluent_avro(batch, "value", args["schemas_by_id"])
    if decoder == "thrift":
        return R.decode_thrift(batch, "value", args["field_spec"], args["schema"])
    if decoder == "protobuf":
        return R.decode_protobuf(
            batch, "value", args["message_name"], args["desc_file_path"]
        )
    raise ValueError(f"unknown stream decoder {decoder!r}")


def start_realtime_ingest(
    stream: DataFrame,
    path: str,
    checkpoint: str,
    keys: list[str] | None = None,
    comparison: list[str] | None = None,
    trigger_seconds: float | None = None,
    available_now: bool = False,
) -> StreamingQuery:
    """Consume a stream into a queryable parquet table.

    Without keys: plain append (the OFFLINE-segment-commit analog).
    With keys (and ``comparison``, default ``keys``): upsert FULL
    semantics resolved at ingest — each micro-batch is merged into a new
    snapshot of the latest row per key and committed
    (``write_upsert_batch``), so ``realtime_table`` reads whole committed
    batches and never resolves a key itself.  A keyed sink belongs to
    one checkpoint: every commit record names the streaming query id
    Spark keeps in ``<checkpoint>/metadata``, and a batch of another
    checkpoint raises instead of being taken as a replay.

    Trade-off: every keyed batch rewrites the realtime table
    (copy-on-write), so a batch costs in proportion to that table.  The
    realtime half of a hybrid table holds only rows past the time
    boundary, and each read it spares paid the same full-table shuffle.
    """

    def _write_batch(batch: DataFrame, batch_id: int) -> None:
        if keys:
            write_upsert_batch(batch, batch_id, path, keys, comparison or keys)
        else:
            batch.write.mode("append").parquet(path)

    writer = stream.writeStream.foreachBatch(_write_batch).option("checkpointLocation", checkpoint)
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif trigger_seconds:
        writer = writer.trigger(processingTime=f"{trigger_seconds} seconds")
    return writer.start()


# A keyed sink holds snapshot directories ``_snapshots/v<batch id>`` and,
# under ``_commits``, one record ``<batch id>.json`` per committed
# snapshot.  The leading underscores hide both from a plain
# ``spark.read.parquet(path)``; the snapshot directory's own name has
# none, since Spark warns on every read of a hidden root path.
_COMMITS = "_commits"
_RECORD_RE = re.compile(r"^(\d+)\.json$")
_BATCH_RANK = "__upsert_batch_rank"


def _record_path(path: str, batch_id: int) -> str:
    return fsutil.sidecar_path(fsutil.sidecar_path(path, _COMMITS), f"{batch_id}.json")


def _snapshot_name(batch_id: int) -> str:
    return f"_snapshots/v{batch_id}"


def _commits(spark: SparkSession, path: str) -> list[tuple[int, int]]:
    """(batch id, record modification time) of each committed batch,
    oldest first.  The pair identifies a commit: a sink deleted and
    re-created at the same path numbers its batches from 0 again."""
    records = fsutil.list_modified(spark, fsutil.sidecar_path(path, _COMMITS))
    return sorted((int(m.group(1)), t) for n, t in records.items() if (m := _RECORD_RE.match(n)))


def _read_snapshot(spark: SparkSession, path: str, batch_id: int) -> tuple[dict, DataFrame]:
    record = json.loads(fsutil.read_text(spark, _record_path(path, batch_id)))
    schema = StructType.fromJson(record["schema"])
    snapshot = fsutil.sidecar_path(path, record["snapshot"])
    return record, spark.read.schema(schema).parquet(snapshot)


# per session: sink path -> (commit, record, frame) of its newest commit read
_SNAPSHOTS = SessionCache("realtime_snapshots")


def _newest_snapshot(spark: SparkSession, path: str, commit: tuple[int, int]) -> tuple[dict, DataFrame]:
    """``_read_snapshot`` of ``commit``, the sink's newest, reused while no
    newer commit exists: a committed snapshot stays whole until two newer
    ones do, and the caller's listing of ``_commits`` decides which is
    newest."""
    snapshots = _SNAPSHOTS.of(spark)
    hit = snapshots.get(path)
    if hit is None or hit[0] != commit:
        hit = snapshots[path] = (commit, *_read_snapshot(spark, path, commit[0]))
    return hit[1], hit[2]


def write_upsert_batch(
    batch: DataFrame, batch_id: int, path: str, keys: list[str], comparison: list[str]
) -> None:
    """Merge micro-batch ``batch_id`` into the keyed sink at ``path``.

    The previous snapshot is the newest committed one below
    ``batch_id``.  ``upsert_view`` over it and the batch keeps each key's
    latest row; on an equal comparison value the batch's row wins (the
    snapshot's rows rank below it on one more, dropped, comparison
    column), as Pinot's metadata manager replaces a record when the new
    comparison value is greater or equal.  The result is written to
    ``_snapshots/v<batch_id>``; only after that job has committed is the
    batch's record published (atomically) naming the snapshot, its
    schema, keys and comparison.  Snapshots older than the previous one are then
    deleted: two stay, so a reader that resolved the older one still
    finds its files.  A failed batch replays onto the same directory from
    the same input; a replay of a committed batch writes nothing, its
    snapshot already holds the merge.  All IO goes through the Hadoop
    FileSystem API, so HDFS and S3A sinks behave like local ones.

    Each record names the streaming query whose checkpoint numbers the
    batches: the id Spark keeps in ``<checkpoint>/metadata`` and sets as
    the ``sql.streaming.queryId`` local property while it runs a batch.
    A batch of another query raises before the replay check: its batch
    ids restart at 0, and taken as replays its rows would be lost.  A
    record without a query id (written before records carried one, or
    by a direct call outside a stream) binds nothing: the next writer
    adopts the sink."""
    spark = batch.sparkSession
    query_id = spark.sparkContext.getLocalProperty("sql.streaming.queryId")
    commits = _commits(spark, path)
    committed = [i for i, _ in commits]
    newest = _newest_snapshot(spark, path, commits[-1]) if commits else None
    owner = newest[0].get("query_id") if newest else None
    if owner is not None and owner != query_id:
        raise ValueError(
            f"{path} is the keyed sink of streaming query {owner}, not {query_id}: "
            "each keyed sink belongs to one checkpoint"
        )
    if batch_id in committed:
        return
    older = [i for i in committed if i < batch_id]
    merged, ranked = batch, comparison
    if older:
        _, previous = newest if older[-1] == committed[-1] else _read_snapshot(spark, path, older[-1])
        merged = previous.withColumn(_BATCH_RANK, F.lit(0)).unionByName(
            batch.withColumn(_BATCH_RANK, F.lit(1))
        )
        ranked = [*comparison, _BATCH_RANK]
    snapshot = _snapshot_name(batch_id)
    out = upsert_view(merged, keys=keys, comparison=ranked).drop(_BATCH_RANK)
    out.write.mode("overwrite").parquet(fsutil.sidecar_path(path, snapshot))
    record = {
        "snapshot": snapshot,
        "schema": parquet_schema(out.schema).jsonValue(),
        "keys": list(keys),
        "comparison": list(comparison),
        "query_id": query_id,
    }
    fsutil.publish_text(spark, _record_path(path, batch_id), json.dumps(record))
    for stale in older[:-1]:
        fsutil.delete(spark, _record_path(path, stale))
        fsutil.delete(spark, fsutil.sidecar_path(path, _snapshot_name(stale)))


def realtime_table(spark: SparkSession, path: str, keys=None, comparison=None) -> DataFrame:
    """Queryable view over the realtime sink.  A keyed sink reads its
    newest committed snapshot with the recorded schema: no window,
    shuffle or schema-inference job.  Each call lists the commit records;
    the frame of the newest commit is opened once per session and reused
    until a newer commit appears.  ``keys``/``comparison`` (default
    ``keys``), when given, must match the ingest's; an unkeyed sink is
    read as appended and takes no keys."""
    commits = _commits(spark, path)
    if not commits:
        if keys:
            raise ValueError(
                f"{path} holds no committed upsert snapshot: it is not a keyed sink, "
                "or no batch has committed yet"
            )
        return fsutil.read_parquet(spark, path)
    record, df = _newest_snapshot(spark, path, commits[-1])
    if keys and (list(keys), list(comparison or keys)) != (record["keys"], record["comparison"]):
        raise ValueError(
            f"{path} was ingested with keys={record['keys']} comparison={record['comparison']}, "
            f"not keys={list(keys)} comparison={list(comparison or keys)}"
        )
    return df


def streaming_dedup(
    stream: DataFrame, keys: list[str], event_time: str, watermark: str = "1 hour"
) -> DataFrame:
    """Ingestion dedup: drop repeated PKs within the watermark horizon
    (state is bounded by the watermark — the streaming analog of Pinot's
    metadataTTL dedup)."""
    return stream.withWatermark(event_time, watermark).dropDuplicates(keys)


def streaming_window_agg(
    stream: DataFrame,
    event_time: str,
    window: str,
    aggs: dict[str, tuple[str, str]],
    by: list[str] | None = None,
    watermark: str = "1 hour",
    slide: str | None = None,
) -> DataFrame:
    """Watermarked tumbling/sliding window aggregation (ingestion-time
    AggregationConfig analog, plus true event-time late-data handling
    which Pinot lacks at query time).

    aggs: out_name → (agg_fn_name, column)."""
    from pinot_spark.functions.aggregate import agg_call

    w = F.window(event_time, window, slide) if slide else F.window(event_time, window)
    return (
        stream.withWatermark(event_time, watermark)
        .groupBy(*(by or []), w.alias("win"))
        .agg(*[agg_call(name, col).alias(out) for out, (name, col) in aggs.items()])
        .select(*(by or []), F.col("win.start").alias("window_start"), *aggs.keys())
    )


def hybrid_view(
    offline: DataFrame, realtime: DataFrame, time_col: str, boundary
) -> DataFrame:
    """Hybrid OFFLINE/REALTIME table: offline rows ≤ boundary UNION ALL
    realtime rows > boundary (TimeBoundaryConfig / broker
    TimeBoundaryManager)."""
    b = F.lit(boundary).cast("timestamp")
    return offline.filter(F.col(time_col) <= b).unionByName(
        realtime.filter(F.col(time_col) > b)
    )
