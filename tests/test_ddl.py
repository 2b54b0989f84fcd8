"""DDL surface (ddl.py ← pinot-sql-ddl DdlCompiler.java):
CREATE TABLE (column list + CTAS), CREATE MATERIALIZED VIEW with rollup
registration + routing, REFRESH, DROP."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from pinot_spark.catalog import load_tables
from pinot_spark.dialect import PinotEngine


@pytest.fixture()
def engine(spark, sf_dir, tmp_path):
    load_tables(spark, sf_dir)
    eng = PinotEngine(spark)
    from pinot_spark.ddl import DdlExecutor

    eng._ddl = DdlExecutor(spark, storage_dir=str(tmp_path))
    return eng


def test_create_table_column_list(engine, spark):
    [r] = engine.sql(
        "CREATE TABLE IF NOT EXISTS trips ("
        "  trip_id LONG, carrier STRING, fare DOUBLE, ts TIMESTAMP)"
    ).collect()
    assert r.operation == "CREATE_TABLE" and r.rows == 0
    schema = dict(spark.table("trips").dtypes)
    assert schema == {"trip_id": "bigint", "carrier": "string", "fare": "double", "ts": "timestamp"}


def test_create_table_as_select(engine, spark):
    [r] = engine.sql(
        "CREATE TABLE big_orders WITH ('type' = 'offline') AS "
        "SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice > 100000 LIMIT 100000"
    ).collect()
    assert r.operation == "CREATE_TABLE" and r.rows > 0
    assert spark.table("big_orders").count() == r.rows


def test_create_mv_registers_rollup_and_routes(engine, spark):
    [r] = engine.sql(
        "CREATE MATERIALIZED VIEW sales_by_flag "
        "REFRESH EVERY 1 DAY "
        "PROPERTIES ('timeColumnName' = 'l_shipdate') "
        "AS SELECT l_returnflag, count(*) AS cnt, sum(l_quantity) AS qty "
        "FROM lineitem GROUP BY l_returnflag"
    ).collect()
    assert r.operation == "CREATE_MATERIALIZED_VIEW"
    assert r.rollup_registered
    # the MV view answers directly
    mv_rows = {x.l_returnflag: x.cnt for x in spark.table("sales_by_flag").collect()}
    base = {
        x.l_returnflag: x.cnt
        for x in spark.table("lineitem").groupBy("l_returnflag").agg(F.count("*").alias("cnt")).collect()
    }
    assert mv_rows == base
    # and the rollup router answers a covered group-by from partials
    routed = engine.ddl.mv_catalog.route(
        spark, spark.table("lineitem"), ["l_returnflag"], [("count", "*", "cnt")]
    )
    assert {x.l_returnflag: x.cnt for x in routed.collect()} == base


def test_mv_refresh_and_drop(engine, spark):
    engine.sql(
        "CREATE MATERIALIZED VIEW tiny_mv AS "
        "SELECT n_regionkey, count(*) AS n FROM nation GROUP BY n_regionkey"
    )
    r = engine.ddl.refresh("tiny_mv")
    assert r.rows == 5
    engine.sql("DROP MATERIALIZED VIEW tiny_mv")
    assert not any(v.name == "tiny_mv" for v in engine.ddl.mv_catalog.mvs)
    with pytest.raises(Exception):
        spark.table("tiny_mv").collect()


def test_non_rollup_mv_is_view_only(engine, spark):
    [r] = engine.sql(
        "CREATE MATERIALIZED VIEW joined_mv AS "
        "SELECT n_name, r_name FROM nation JOIN region ON n_regionkey = r_regionkey"
    ).collect()
    assert r.operation == "CREATE_MATERIALIZED_VIEW" and not r.rollup_registered
    assert spark.table("joined_mv").count() == 25


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_engine_result_rows_plan_as_local_scans(engine, spark):
    """The DDL result row, the EXPLAIN rows and an empty column-list
    table are driver-held rows: each plans as a LocalTableScan, not a
    Scan ExistingRDD whose collect would start Python-worker tasks, and
    keeps its declared schema."""
    ddl = engine.sql("CREATE TABLE local_t (a INT, b STRING, c BIG_DECIMAL)")
    explain = engine.sql("EXPLAIN PLAN FOR SELECT r_name FROM region")
    for df in (ddl, explain, spark.table("local_t")):
        assert "ExistingRDD" not in _plan(df)
        assert "LocalTableScan" in _plan(df)
    assert ddl.dtypes == [
        ("operation", "string"), ("name", "string"),
        ("rows", "bigint"), ("rollup_registered", "boolean"),
    ]
    assert [tuple(r) for r in ddl.collect()] == [("CREATE_TABLE", "local_t", 0, False)]
    assert explain.dtypes == [
        ("Operator", "string"), ("Operator_Id", "int"), ("Parent_Id", "int"),
    ]
    assert explain.collect()[0].Parent_Id == -1
    assert spark.table("local_t").dtypes == [
        ("a", "int"), ("b", "string"), ("c", "decimal(38,18)"),
    ]
    assert spark.table("local_t").collect() == []


def test_mv_reads_back_with_the_written_schema(engine, spark):
    """The MV's parquet is read back with the schema of the frame that
    wrote it.  An inferring read launches one job, named after its
    ``parquet`` call; the statement launches no such job, and its view
    holds the rows and schema the inferring read gives."""
    from conftest import launched_jobs

    _, jobs = launched_jobs(spark, lambda: engine.sql(
        "CREATE MATERIALIZED VIEW flag_qty AS "
        "SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS qty FROM lineitem GROUP BY l_returnflag"
    ).collect())
    inferred, inferring_jobs = launched_jobs(
        spark, lambda: spark.read.parquet(str(engine.ddl.storage_dir) + "/flag_qty"))
    assert [name.split(" at ")[0] for _, name in inferring_jobs] == ["parquet"]
    assert not [name for _, name in jobs if name.startswith("parquet at")], jobs
    view = spark.table("flag_qty")
    assert view.schema == inferred.schema
    assert sorted(view.collect()) == sorted(inferred.collect())
