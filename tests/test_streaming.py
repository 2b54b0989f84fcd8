"""Structured Streaming ingestion tests (SURVEY.md §2.7): file-stream
micro-batches (deterministic, no broker needed), upsert/dedup semantics,
windowed aggregation, hybrid time-boundary view."""

from __future__ import annotations

import pyspark.sql.functions as F

from pinot_spark.streaming import (
    hybrid_view,
    start_realtime_ingest,
    streaming_dedup,
    streaming_window_agg,
)
from pinot_spark.streaming.ingest import realtime_table


def _write_input(spark, path, rows):
    spark.createDataFrame(rows, ["pk", "v", "ts_str"]).withColumn(
        "ts", F.col("ts_str").cast("timestamp")
    ).drop("ts_str").write.mode("append").parquet(path)


def test_realtime_upsert_ingest(spark, tmp_path):
    src = str(tmp_path / "src")
    sink = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    _write_input(
        spark,
        src,
        [
            (1, "old", "2024-01-01 00:00:00"),
            (1, "new", "2024-01-01 00:05:00"),
            (2, "only", "2024-01-01 00:01:00"),
        ],
    )
    stream = spark.readStream.schema("pk BIGINT, v STRING, ts TIMESTAMP").parquet(src)
    q = start_realtime_ingest(
        stream, sink, ckpt, keys=["pk"], comparison=["ts"], available_now=True
    )
    q.awaitTermination(120)
    out = {r["pk"]: r["v"] for r in realtime_table(spark, sink, keys=["pk"], comparison=["ts"]).collect()}
    assert out == {1: "new", 2: "only"}  # latest per key queryable


def test_streaming_dedup_and_window_agg(spark, tmp_path):
    src = str(tmp_path / "src2")
    _write_input(
        spark,
        src,
        [
            (1, "a", "2024-01-01 00:00:00"),
            (1, "a-dup", "2024-01-01 00:10:00"),
            (2, "b", "2024-01-01 00:20:00"),
            (3, "c", "2024-01-01 01:05:00"),
        ],
    )
    stream = spark.readStream.schema("pk BIGINT, v STRING, ts TIMESTAMP").parquet(src)

    deduped = streaming_dedup(stream, keys=["pk"], event_time="ts")
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert spark.sql("SELECT count(*) c FROM dedup_out").collect()[0]["c"] == 3

    agg = streaming_window_agg(
        stream,
        event_time="ts",
        window="1 hour",
        aggs={"n": ("count", "pk"), "mx": ("maxlong", "pk")},
    )
    q2 = (
        agg.writeStream.format("memory")
        .queryName("win_out")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    rows = {str(r["window_start"]): (r["n"], r["mx"]) for r in spark.sql("SELECT * FROM win_out").collect()}
    assert rows["2024-01-01 00:00:00"] == (3, 2)
    assert rows["2024-01-01 01:00:00"] == (1, 3)


def test_hybrid_time_boundary(spark):
    mk = lambda rows: spark.createDataFrame(rows, ["ts_str", "v"]).select(
        F.col("ts_str").cast("timestamp").alias("t"), "v"
    )
    offline = mk([("2024-01-01 00:00:00", "off-keep"), ("2024-01-03 00:00:00", "off-drop")])
    realtime = mk([("2024-01-01 12:00:00", "rt-drop"), ("2024-01-03 00:00:00", "rt-keep")])
    out = {r["v"] for r in hybrid_view(offline, realtime, "t", "2024-01-02").collect()}
    assert out == {"off-keep", "rt-keep"}


def test_upsert_delete_column(spark):
    """UpsertConfig.deleteRecordColumn: a key whose latest row carries the
    delete marker disappears from the view."""
    from pinot_spark.operators.upsert import upsert_view

    df = spark.createDataFrame(
        [
            (1, 1, "a", False),
            (1, 2, "b", True),   # latest for key 1 → deleted
            (2, 1, "c", False),
            (2, 2, "d", False),  # latest for key 2 → visible
            (3, 1, "e", None),   # null marker → visible
        ],
        "k int, v int, payload string, deleted boolean",
    )
    rows = {
        r["k"]: r["payload"]
        for r in upsert_view(df, ["k"], ["v"], delete_col="deleted").collect()
    }
    assert rows == {2: "d", 3: "e"}


def test_stateful_sessionize(spark, tmp_path):
    """applyInPandasWithState custom operator: gap sessions close when a
    later event proves the gap; the trailing session stays in state."""
    from pinot_spark.streaming.stateful import sessionize

    src = str(tmp_path / "sess_src")
    ckpt = str(tmp_path / "sess_ckpt")
    _write_input(
        spark,
        src,
        [
            (1, "e1", "2024-01-01 00:00:00"),
            (1, "e2", "2024-01-01 00:01:00"),
            (1, "e3", "2024-01-01 01:00:00"),  # >30min gap → closes session 1
            (2, "x1", "2024-01-01 00:00:00"),  # single open session, no output
        ],
    )
    stream = spark.readStream.schema("pk BIGINT, v STRING, ts TIMESTAMP").parquet(src)
    out = sessionize(stream, key="pk", time_col="ts", gap_seconds=1800)
    q = (
        out.writeStream.format("memory")
        .queryName("sessions")
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("SELECT * FROM sessions").collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["k"] == 1 and r["n_events"] == 2
    assert r["session_start"].minute == 0 and r["session_end"].minute == 1


def test_stream_source_factory_and_batch_decoder(spark, tmp_path):
    """streamConfigs → readStream mapping: file source with schema reads
    as a stream; the confluent/thrift batch decoders apply to a
    micro-batch's value column the way foreachBatch would."""
    import io
    import json as _json

    from pinot_spark.sources.avrocodec import _encode_value
    from pinot_spark.streaming.ingest import decode_stream_batch, stream_source

    src = str(tmp_path / "in")
    import os

    os.makedirs(src)
    with open(os.path.join(src, "a.json"), "w") as f:
        f.write("\n".join(_json.dumps({"k": i, "v": f"m{i}"}) for i in range(3)))
    stream = stream_source(
        spark, "file", schema="k BIGINT, v STRING", path=src, file_format="json"
    )
    assert stream.isStreaming and stream.schema.simpleString() == "struct<k:bigint,v:string>"

    # unknown types / absent connectors fail loudly
    import pytest

    with pytest.raises(ValueError, match="unknown stream type"):
        stream_source(spark, "zeromq")

    # batch decoder path (what foreachBatch applies): confluent wire format
    schema = {"type": "record", "name": "E",
              "fields": [{"name": "k", "type": "long"}]}
    w = io.BytesIO()
    _encode_value(w, schema, {"k": 42})
    payload = b"\x00" + (7).to_bytes(4, "big") + w.getvalue()
    batch = spark.createDataFrame([(bytearray(payload),)], "value binary")
    out = decode_stream_batch(batch, "confluent_avro", schemas_by_id={7: schema})
    assert out.collect()[0].k == 42


def test_await_sink_fail_fast_on_dead_batch(spark, tmp_path):
    """A foreachBatch that fails must red out the poll loop immediately
    with the streaming query's own exception — not time out and leave
    the caller to misdiagnose a count mismatch (VERDICT r7 #6)."""
    import pytest

    from pinot_spark.queries.infra import _await_sink_rows

    sink = str(tmp_path / "dead_sink")

    def _boom(bdf, _bid):
        raise RuntimeError("simulated segment-commit failure")

    q = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 100)
        .load()
        .writeStream.foreachBatch(_boom)
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        with pytest.raises(RuntimeError, match="terminated after landing 0"):
            _await_sink_rows(spark, q, sink, want=500, timeout_s=30)
    finally:
        q.stop()


def test_await_sink_times_out_when_short(spark, tmp_path):
    """An active stream that never reaches the target must raise at the
    deadline with the landed/wanted counts, not return a short table."""
    import pytest

    from pinot_spark.queries.infra import _await_sink_rows

    sink = str(tmp_path / "short_sink")
    spark.range(3).toDF("seq").write.parquet(sink)
    q = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 1)
        .load()
        .where(F.lit(False))  # nothing ever lands
        .writeStream.foreachBatch(lambda bdf, _bid: None)
        .start()
    )
    try:
        with pytest.raises(RuntimeError, match="landed only 3 of 500"):
            _await_sink_rows(spark, q, sink, want=500, timeout_s=3)
    finally:
        q.stop()


# -- upsert snapshots: cross-batch resolution at ingest ----------------------

_KV = "pk BIGINT, v STRING, ts BIGINT"


def _upsert(spark, sink, batch_id, rows, keys=("pk",), comparison=("ts",)):
    from pinot_spark.streaming.ingest import write_upsert_batch

    write_upsert_batch(spark.createDataFrame(rows, _KV), batch_id, sink, list(keys), list(comparison))


def _visible(spark, sink):
    return {r["pk"]: r["v"] for r in realtime_table(spark, sink, keys=["pk"], comparison=["ts"]).collect()}


def test_upsert_later_batch_with_older_comparison_keeps_earlier_row(spark, tmp_path):
    sink = str(tmp_path / "sink")
    _upsert(spark, sink, 0, [(1, "newer", 20), (2, "b", 5)])
    _upsert(spark, sink, 1, [(1, "late-but-older", 10), (3, "c", 1)])
    assert _visible(spark, sink) == {1: "newer", 2: "b", 3: "c"}


def test_upsert_comparison_tie_across_batches_keeps_later_batch(spark, tmp_path):
    sink = str(tmp_path / "sink")
    _upsert(spark, sink, 0, [(1, "first", 7)])
    _upsert(spark, sink, 1, [(1, "second", 7)])
    _upsert(spark, sink, 2, [(2, "other", 1)])
    assert _visible(spark, sink) == {1: "second", 2: "other"}


def test_upsert_replayed_batch_leaves_same_rows(spark, tmp_path):
    sink = str(tmp_path / "sink")
    _upsert(spark, sink, 0, [(1, "a", 1), (2, "b", 1)])
    _upsert(spark, sink, 1, [(1, "a2", 2)])
    before = _visible(spark, sink)
    _upsert(spark, sink, 1, [(1, "a2", 2)])
    assert _visible(spark, sink) == before == {1: "a2", 2: "b"}


def test_upsert_keeps_at_most_two_snapshots(spark, tmp_path):
    import os

    sink = str(tmp_path / "sink")
    for b in range(5):
        _upsert(spark, sink, b, [(b, f"v{b}", b), (0, f"zero{b}", b)])
    assert sorted(os.listdir(os.path.join(sink, "_snapshots"))) == ["v3", "v4"]
    assert sorted(n for n in os.listdir(os.path.join(sink, "_commits")) if n.endswith(".json")) == [
        "3.json", "4.json"]
    assert _visible(spark, sink) == {0: "zero4", 1: "v1", 2: "v2", 3: "v3", 4: "v4"}


def test_upsert_snapshot_without_commit_record_is_not_read(spark, tmp_path):
    sink = str(tmp_path / "sink")
    _upsert(spark, sink, 0, [(1, "committed", 1)])
    # a batch whose write job ran but whose record was never published
    spark.createDataFrame([(1, "uncommitted", 9)], _KV).write.parquet(str(tmp_path / "sink" / "_snapshots" / "v1"))
    assert _visible(spark, sink) == {1: "committed"}
    # the batch's replay merges onto the committed snapshot, not the stray one
    _upsert(spark, sink, 1, [(2, "replayed", 2)])
    assert _visible(spark, sink) == {1: "committed", 2: "replayed"}


def test_realtime_table_rejects_keys_other_than_the_ingest(spark, tmp_path):
    import pytest

    sink = str(tmp_path / "sink")
    _upsert(spark, sink, 0, [(1, "a", 1)])
    with pytest.raises(ValueError, match="ingested with keys"):
        realtime_table(spark, sink, keys=["v"], comparison=["ts"])
    with pytest.raises(ValueError, match="ingested with keys"):
        realtime_table(spark, sink, keys=["pk"], comparison=["v"])
    plain = str(tmp_path / "plain")
    spark.createDataFrame([(1, "a", 1)], _KV).write.parquet(plain)
    with pytest.raises(ValueError, match="not a keyed sink"):
        realtime_table(spark, plain, keys=["pk"])
    assert realtime_table(spark, plain).count() == 1


def test_realtime_upsert_read_scans_one_snapshot(spark, tmp_path):
    """Plan pin: a keyed read is a scan of the committed snapshot, with no
    Window and no Exchange below the partial aggregate, and building it
    launches no job (no schema inference)."""
    from conftest import launched_jobs

    sink = str(tmp_path / "sink")
    _upsert(spark, sink, 0, [(1, "a", 1), (2, "b", 1)])
    _upsert(spark, sink, 1, [(1, "a2", 2)])

    def build():
        df = realtime_table(spark, sink, keys=["pk"], comparison=["ts"]).agg(F.count("*").alias("n"))
        return df, df._jdf.queryExecution().executedPlan().toString()

    (df, plan), jobs = launched_jobs(spark, build)
    assert jobs == []
    assert "Window" not in plan
    lines = plan.splitlines()
    partial = next(i for i, ln in enumerate(lines) if "partial_count" in ln)
    assert not [ln for ln in lines[partial:] if "Exchange" in ln], plan
    assert df.collect()[0]["n"] == 2


def test_realtime_upsert_ingest_across_micro_batches(spark, tmp_path):
    """Two stream runs on one checkpoint land two micro-batches; the
    second batch's rows resolve against the first batch's snapshot."""
    src, sink, ckpt = (str(tmp_path / n) for n in ("src", "sink", "ckpt"))
    stream = None
    for rows in (
        [(1, "old", "2024-01-01 00:00:00"), (2, "keep", "2024-01-01 00:01:00")],
        [(1, "new", "2024-01-01 00:05:00"), (2, "stale", "2024-01-01 00:00:30")],
    ):
        _write_input(spark, src, rows)
        stream = spark.readStream.schema("pk BIGINT, v STRING, ts TIMESTAMP").parquet(src)
        q = start_realtime_ingest(stream, sink, ckpt, keys=["pk"], comparison=["ts"], available_now=True)
        q.awaitTermination(120)
        assert q.exception() is None
    out = {r["pk"]: r["v"] for r in realtime_table(spark, sink, keys=["pk"], comparison=["ts"]).collect()}
    assert out == {1: "new", 2: "keep"}


def test_keyed_sink_belongs_to_one_checkpoint(spark, tmp_path):
    """A stream under a second checkpoint fails on a keyed sink instead
    of taking its batches as replays; the owning checkpoint still
    replays a batch cleanly and goes on ingesting."""
    import os

    import pytest
    from pyspark.errors import StreamingQueryException

    src, sink, ckpt_a, ckpt_b = (str(tmp_path / n) for n in ("src", "sink", "ckpt_a", "ckpt_b"))

    def run(ckpt, rows=()):
        if rows:
            _write_input(spark, src, rows)
        stream = spark.readStream.schema("pk BIGINT, v STRING, ts TIMESTAMP").parquet(src)
        q = start_realtime_ingest(stream, sink, ckpt, keys=["pk"], comparison=["ts"], available_now=True)
        q.awaitTermination(120)
        return q

    run(ckpt_a, [(1, "a0", "2024-01-01 00:00:00"), (2, "b0", "2024-01-01 00:00:00")])
    run(ckpt_a, [(1, "a1", "2024-01-01 00:01:00")])
    want = {1: "a1", 2: "b0"}
    assert _visible(spark, sink) == want
    with pytest.raises(StreamingQueryException, match="belongs to one checkpoint"):
        run(ckpt_b)
    assert _visible(spark, sink) == want
    # a lost commit-log entry makes the owner replay its last batch
    for name in ("1", ".1.crc"):
        os.remove(os.path.join(ckpt_a, "commits", name))
    assert run(ckpt_a).exception() is None
    assert _visible(spark, sink) == want
    run(ckpt_a, [(2, "b2", "2024-01-01 00:02:00")])
    assert _visible(spark, sink) == {1: "a1", 2: "b2"}


def test_realtime_table_reuses_the_newest_commit_frame(spark, tmp_path):
    """Reads between commits share one frame; a sink deleted and
    re-ingested at the same path (its batches numbered from 0 again), or
    a new commit, is read afresh."""
    import shutil

    sink = str(tmp_path / "sink")
    read = lambda: realtime_table(spark, sink, keys=["pk"], comparison=["ts"])  # noqa: E731
    _upsert(spark, sink, 0, [(1, "a", 1), (2, "b", 1)])
    first = read()
    assert read() is first
    assert _visible(spark, sink) == {1: "a", 2: "b"}
    shutil.rmtree(sink)
    _upsert(spark, sink, 0, [(9, "fresh", 1)])
    again = read()
    assert again is not first
    assert _visible(spark, sink) == {9: "fresh"}
    _upsert(spark, sink, 1, [(9, "fresher", 2), (3, "c", 1)])
    assert read() is not again
    assert _visible(spark, sink) == {9: "fresher", 3: "c"}
