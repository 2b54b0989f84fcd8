"""Silent skips are log records on the ``pinot_spark`` logger."""

from __future__ import annotations

import logging

from pinot_spark.catalog import load_tables
from pinot_spark.dialect import PinotEngine


def test_unreadable_table_is_logged(spark, tmp_path, caplog):
    (tmp_path / "orders.parquet").write_bytes(b"not a parquet file")
    caplog.set_level(logging.WARNING, logger="pinot_spark")
    assert load_tables(spark, str(tmp_path), register=False) == {}
    [rec] = [r for r in caplog.records if r.name == "pinot_spark"]
    assert rec.levelno == logging.WARNING
    assert "orders" in rec.getMessage() and "not a Parquet file" in str(rec.exc_info[1])


def test_unparsable_raw_sketch_restructure_is_logged(spark, caplog, monkeypatch):
    spark.createDataFrame([("a", "x"), ("b", "y")], "k string, s string").createOrReplaceTempView(
        "log_freq_t"
    )
    engine = PinotEngine(spark)
    monkeypatch.setattr(engine, "_syntax_ok", lambda sql: False)
    caplog.set_level(logging.INFO, logger="pinot_spark")
    engine.translate("SELECT k, FREQUENT_STRINGS_SKETCH(s) AS f FROM log_freq_t GROUP BY k")
    messages = [r.getMessage() for r in caplog.records if r.name == "pinot_spark"]
    assert any("rewrite_raw_sketch_two_phase" in m for m in messages), messages
    assert all(r.levelno == logging.INFO for r in caplog.records if r.name == "pinot_spark")


def test_runtime_conf_that_cannot_be_set_is_logged(caplog):
    class _Conf:
        def get(self, key, default=None):
            return default

        def set(self, key, value):
            raise RuntimeError(f"CANNOT_MODIFY_CONFIG {key}")

    class _Session:
        conf = _Conf()

    from pinot_spark.catalog import _RUNTIME_CONFS, ensure_runtime_confs

    caplog.set_level(logging.DEBUG, logger="pinot_spark")
    ensure_runtime_confs(_Session())
    records = [r for r in caplog.records if r.name == "pinot_spark"]
    assert [r.levelno for r in records] == [logging.DEBUG] * len(_RUNTIME_CONFS)
    for key, rec in zip(_RUNTIME_CONFS, records):
        assert key in rec.getMessage() and f"CANNOT_MODIFY_CONFIG {key}" in rec.getMessage()
