"""Opening parquet without a schema-inference job.

``sources.fsutil.read_parquet`` reads on the driver the one footer that
``spark.read.parquet``'s inference job reads, so its frame must have the
schema inference gives, partition columns included, and opening a table
must launch no Spark job."""

from __future__ import annotations

import ast
import os
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from conftest import SF_DIR, launched_jobs

from pinot_spark import catalog
from pinot_spark.sources import segments
from pinot_spark.sources.fsutil import read_parquet
from pinot_spark.streaming import start_realtime_ingest
from pinot_spark.streaming.ingest import realtime_table

# every scale-factor dir next to the one the suite runs on
_FIXTURES = os.path.dirname(SF_DIR)
SF_DIRS = sorted(os.path.join(_FIXTURES, d) for d in os.listdir(_FIXTURES) if d.startswith("sf"))


def _assert_parity(spark, *paths, base_path=None):
    reader = spark.read if base_path is None else spark.read.option("basePath", base_path)
    assert read_parquet(spark, *paths, base_path=base_path).schema == reader.parquet(*paths).schema


@pytest.mark.parametrize("sf", SF_DIRS or [pytest.param(None, marks=pytest.mark.skip("no fixture SF dirs"))])
def test_fixture_tables_match_inference(spark, sf):
    names = [n for n in catalog.TABLE_NAMES if os.path.exists(os.path.join(sf, f"{n}.parquet"))]
    assert names
    for name in names:
        _assert_parity(spark, os.path.join(sf, f"{name}.parquet"))


def _events(spark, n=40):
    return spark.range(n).selectExpr(
        "id", "cast(id % 4 as int) k", "concat('u', id % 7) user_id", "cast(id as double) value",
        "timestamp_seconds(1704067200 + id * 1800) ts",
    )


def test_segment_layouts_match_inference(spark, tmp_path):
    seg, out = str(tmp_path / "seg"), str(tmp_path / "compact")
    segments.write_segments(_events(spark), seg, time_col="ts", time_bucket="hour",
                            sort_cols=["user_id"], target_file_rows=5)
    assert any(p.name.startswith("__seg_time=") for p in Path(seg).iterdir())
    _assert_parity(spark, seg)
    segments.compact_segments(spark, seg, out, target_file_rows=8,
                              rollup={"dims": ["k"], "aggs": {"value": "sum"}}, coarser_bucket="day")
    _assert_parity(spark, out)
    # a file subset under a partition root (sample_segments)
    files = segments.list_segment_files(spark, seg)[:3]
    _assert_parity(spark, *files, base_path=seg)
    assert segments.sample_segments(spark, seg, 3).schema == spark.read.option("basePath", seg).parquet(*files).schema


def test_unkeyed_realtime_sink_matches_inference(spark, tmp_path):
    src, sink, ckpt = (str(tmp_path / n) for n in ("src", "sink", "ckpt"))
    spark.createDataFrame([(1, "a", 10), (2, "b", 20)], "pk bigint, v string, ts bigint").write.parquet(src)
    stream = spark.readStream.schema("pk bigint, v string, ts bigint").parquet(src)
    q = start_realtime_ingest(stream, sink, ckpt, available_now=True)
    q.awaitTermination(120)
    assert q.exception() is None
    _assert_parity(spark, sink)
    assert sorted(r["pk"] for r in realtime_table(spark, sink).collect()) == [1, 2]


def test_nano_and_ntz_timestamps_match_inference(spark, tmp_path):
    path = str(tmp_path / "nanos.parquet")
    table = pa.table({
        "ts": pa.array([1_704_067_200_123_456_789, None], pa.timestamp("ns", tz="UTC")),
        "local_ts": pa.array([1_704_067_200_000_000, 5], pa.timestamp("us")),
        "tags": pa.array([["a"], []], pa.list_(pa.string())),
        "m": pa.array([[("k", 1)], None], pa.map_(pa.string(), pa.int32())),
    })
    pq.write_table(table, path)
    _assert_parity(spark, path)
    assert catalog._normalize_nanos(read_parquet(spark, path)).schema["ts"].dataType.typeName() == "timestamp"


def test_partition_column_stored_in_files_matches_inference(spark, tmp_path):
    """Files that also store their partition directory's column: a given
    schema would move the column to the end, so Spark infers it."""
    root = tmp_path / "overlap"
    for k in (1, 2):
        spark.range(3).selectExpr("id", f"{k} k", "'x' s").write.parquet(str(root / f"k={k}"))
    _assert_parity(spark, str(root))


def test_merge_schema_merges_every_footer(spark, tmp_path):
    root = tmp_path / "merge"
    spark.range(2).selectExpr("id").write.parquet(str(root / "a=1"))
    spark.range(2).selectExpr("id", "'x' extra").write.parquet(str(root / "a=2"))
    key = "spark.sql.parquet.mergeSchema"
    spark.conf.set(key, "true")
    try:
        _assert_parity(spark, str(root))
        assert "extra" in read_parquet(spark, str(root)).columns
    finally:
        spark.conf.unset(key)


def test_unreadable_paths_raise_like_spark(spark, tmp_path):
    (tmp_path / "bad.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Exception, match="not a Parquet file"):
        read_parquet(spark, str(tmp_path / "bad.parquet"))
    (tmp_path / "empty").mkdir()
    with pytest.raises(Exception, match="UNABLE_TO_INFER_SCHEMA"):
        read_parquet(spark, str(tmp_path / "empty"))
    with pytest.raises(Exception, match="PATH_NOT_FOUND"):
        read_parquet(spark, str(tmp_path / "missing"))


def test_catalog_load_and_segment_read_launch_no_job(spark, new_session, sf_dir, tmp_path):
    fresh = new_session()
    tables, jobs = launched_jobs(fresh, lambda: catalog.load_tables(fresh, sf_dir, register=False))
    assert len(tables) == len([n for n in catalog.TABLE_NAMES
                               if os.path.exists(os.path.join(sf_dir, f"{n}.parquet"))])
    assert jobs == []
    seg = str(tmp_path / "seg")
    segments.write_segments(_events(spark), seg, time_col="ts", time_bucket="day")
    df, jobs = launched_jobs(spark, lambda: segments.read_segments(spark, seg))
    assert jobs == []
    assert df.count() == 40


def _inferring_reads(tree: ast.AST):
    """Line numbers of ``<x>.read[...].parquet(...)`` calls with no
    ``.schema(...)`` in the chain: parquet opens that infer their schema
    in a Spark job."""
    for node in ast.walk(tree):
        if isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute) and node.func.attr == "parquet":
            names, chain = [], node.func.value
            while isinstance(chain, (ast.Call, ast.Attribute)):
                if isinstance(chain, ast.Attribute):
                    names.append(chain.attr)
                chain = chain.func if isinstance(chain, ast.Call) else chain.value
            if "read" in names and "schema" not in names:
                yield node.lineno


def test_engine_opens_parquet_through_the_helper():
    """Outside the query registry, only the helper may open parquet
    without a schema: any other ``.read.parquet(`` would bring back an
    inference job per open."""
    root = Path(catalog.__file__).parent
    helper = root / "sources" / "fsutil.py"
    offenders = [
        f"{p.relative_to(root)}:{line}"
        for p in sorted(root.rglob("*.py"))
        if p != helper and "queries" not in p.relative_to(root).parts
        for line in _inferring_reads(ast.parse(p.read_text()))
    ]
    assert offenders == []


def test_guard_sees_an_inferring_read():
    src = "a = spark.read.parquet(p)\nb = spark.read.option('x', 1).parquet(p)\n" \
          "c = spark.read.schema(s).parquet(p)\nd = df.write.parquet(p)\n"
    assert list(_inferring_reads(ast.parse(src))) == [1, 2]
