"""Star-tree-analog materialized rollup tests (plans/materialized.py):
rollup answers must equal base-table answers, and routing must pick the
rollup only when it can answer (StarTreeUtils.java:178 semantics).
"""

from __future__ import annotations

import pytest
import pyspark.sql.functions as F

from pinot_spark.catalog import load_tables
from pinot_spark.plans.materialized import (
    MVCatalog,
    create_aggregate_mv,
    mv_answers,
    query_rollup,
)
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def mv(spark, tmp_path_factory):
    li = load_tables(spark, SF_DIR)["lineitem"]
    path = str(tmp_path_factory.mktemp("mv") / "li_rollup")
    return create_aggregate_mv(
        li,
        name="li_by_flag_status",
        path=path,
        dims=["l_returnflag", "l_linestatus"],
        measure_cols=["l_quantity", "l_extendedprice"],
    )


def _rows(df, keys):
    return {tuple(r[k] for k in keys): r for r in df.collect()}


def test_rollup_matches_base(spark, mv):
    li = load_tables(spark, SF_DIR)["lineitem"]
    got = query_rollup(
        spark,
        mv,
        dims=["l_returnflag"],
        aggs=[
            ("count", "*", "n"),
            ("sum", "l_quantity", "sq"),
            ("min", "l_extendedprice", "mn"),
            ("max", "l_extendedprice", "mx"),
            ("avg", "l_quantity", "aq"),
        ],
    )
    exp = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum("l_quantity").alias("sq"),
        F.min("l_extendedprice").alias("mn"),
        F.max("l_extendedprice").alias("mx"),
        F.avg("l_quantity").alias("aq"),
    )
    g, e = _rows(got, ["l_returnflag"]), _rows(exp, ["l_returnflag"])
    assert g.keys() == e.keys()
    for k in g:
        assert g[k]["n"] == e[k]["n"]
        assert abs(g[k]["sq"] - e[k]["sq"]) < 1e-6
        assert g[k]["mn"] == e[k]["mn"] and g[k]["mx"] == e[k]["mx"]
        assert abs(g[k]["aq"] - e[k]["aq"]) < 1e-9


def test_rollup_with_dim_filter(spark, mv):
    li = load_tables(spark, SF_DIR)["lineitem"]
    got = query_rollup(
        spark,
        mv,
        dims=["l_linestatus"],
        aggs=[("count", "*", "n")],
        filter_expr=F.col("l_returnflag") == "A",
    ).collect()
    exp = (
        li.filter(F.col("l_returnflag") == "A")
        .groupBy("l_linestatus")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    assert {(r["l_linestatus"], r["n"]) for r in got} == {
        (r["l_linestatus"], r["n"]) for r in exp
    }


def test_fit_predicate(mv):
    assert mv_answers(mv, ["l_returnflag"], [("sum", "l_quantity")])
    assert not mv_answers(mv, ["l_shipmode"], [("sum", "l_quantity")])  # dim not in tree
    assert not mv_answers(mv, ["l_returnflag"], [("sum", "l_tax")])  # measure not stored
    assert not mv_answers(mv, ["l_returnflag"], [("percentile", "l_quantity")])


def test_catalog_routing(spark, mv):
    li = load_tables(spark, SF_DIR)["lineitem"]
    cat = MVCatalog()
    cat.register(mv)
    routed = cat.route(
        spark, li, dims=["l_returnflag"], aggs=[("sum", "l_quantity", "sq")]
    )
    # the routed plan reads the rollup parquet, not the fact table
    plan = routed._jdf.queryExecution().optimizedPlan().toString()
    assert "__sum_l_quantity" in plan
    # un-answerable aggregates fall back to the base table
    fallback = cat.route(
        spark, li, dims=["l_returnflag"], aggs=[("sum", "l_tax", "st")]
    )
    plan2 = fallback._jdf.queryExecution().optimizedPlan().toString()
    assert "__sum" not in plan2
    got = {(r["l_returnflag"], round(r["sq"], 4)) for r in routed.collect()}
    exp = {
        (r["l_returnflag"], round(r["sq"], 4))
        for r in li.groupBy("l_returnflag").agg(F.sum("l_quantity").alias("sq")).collect()
    }
    assert got == exp


def test_rollup_read_skips_schema_inference(spark, tmp_path):
    """A rollup records the schema it wrote, so building its first read
    launches no job (an inferring read launches one) and the rows match."""
    from conftest import launched_jobs

    from pinot_spark.plans.materialized import _read_mv

    li = load_tables(spark, SF_DIR)["lineitem"]
    rollup = create_aggregate_mv(li, "li_by_status", str(tmp_path / "r"), ["l_linestatus"], ["l_quantity"])
    df, jobs = launched_jobs(spark, lambda: _read_mv(spark, rollup))
    inferred, inferring_jobs = launched_jobs(spark, lambda: spark.read.parquet(rollup.path))
    assert (len(jobs), len(inferring_jobs)) == (0, 1)
    assert df.schema == inferred.schema
    assert sorted(df.collect()) == sorted(inferred.collect())
