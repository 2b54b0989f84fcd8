"""SET-option consumption + query-hint mapping (QueryOptionsUtils.java,
PinotHintOptions.java): options must route — never be silently ignored —
and hints must change the executed plan.
"""

from __future__ import annotations

import warnings

import pytest
import pyspark.sql.functions as F

from pinot_spark.dialect import PinotEngine, rewrite_pinot_hints


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture
def nv_view(spark):
    spark.table("events").select(
        "event_type",
        F.when(F.col("value") >= 5.0, F.col("value")).alias("v"),
    ).createOrReplaceTempView("events_nv_test")
    return "events_nv_test"


STMT = (
    "SELECT COUNT(*) AS n_rows, COUNT(v) AS n_vals, "
    "CAST(ROUNDDECIMAL(AVG(v), 4) AS DOUBLE) AS avg_v FROM events_nv_test"
)


def test_null_handling_true_is_sql_semantics(spark, nv_view):
    row = PinotEngine(spark).sql("SET enableNullHandling=true; " + STMT).collect()[0]
    assert row.n_vals < row.n_rows  # nulls skipped by aggregates


def test_null_handling_false_is_default_value_mode(spark, nv_view):
    eng = PinotEngine(spark, null_default_tables=frozenset({"events_nv_test"}))
    row = eng.sql("SET enableNullHandling=false; " + STMT).collect()[0]
    assert row.n_vals == row.n_rows  # defaults materialized at scan
    srow = PinotEngine(spark).sql("SET enableNullHandling=true; " + STMT).collect()[0]
    # the coalesced zeros pull the average down vs SQL semantics
    assert row.avg_v < srow.avg_v


def test_null_handling_absent_matches_pinot_default(spark, nv_view):
    """No SET → Pinot's default (enableNullHandling=false)."""
    eng = PinotEngine(spark, null_default_tables=frozenset({"events_nv_test"}))
    bare = eng.sql(STMT).collect()[0]
    explicit = eng.sql("SET enableNullHandling=false; " + STMT).collect()[0]
    assert bare == explicit


def test_nulldef_view_reused_until_the_base_view_changes(spark, nv_view, monkeypatch):
    """Default-value mode builds ``__nulldef_<table>`` once and reuses it
    while the base temp view is unchanged; replacing the base view with
    other rows is seen by the next statement."""
    DataFrame = type(spark.range(0))  # the classic class overrides the method
    builds = []
    real = DataFrame.createOrReplaceTempView

    def counting(df, name):
        if name.startswith("__nulldef_"):
            builds.append(name)
        return real(df, name)

    monkeypatch.setattr(DataFrame, "createOrReplaceTempView", counting)
    eng = PinotEngine(spark, null_default_tables=frozenset({"events_nv_test"}))
    first = eng.sql(STMT).collect()[0]
    assert builds == ["__nulldef_events_nv_test"]
    # a repeat statement, also from a new engine on the same session
    assert eng.sql(STMT).collect()[0] == first
    other = PinotEngine(spark, null_default_tables=frozenset({"events_nv_test"}))
    assert other.sql(STMT).collect()[0] == first
    assert len(builds) == 1

    spark.sql(
        "SELECT 'x' AS event_type, CAST(v AS DOUBLE) AS v "
        "FROM VALUES (1.0), (NULL), (3.0) AS t(v)"
    ).createOrReplaceTempView("events_nv_test")
    row = eng.sql(STMT).collect()[0]
    assert len(builds) == 2
    assert (row.n_rows, row.n_vals) == (3, 3)  # the NULL became a default
    assert row.avg_v == round(4.0 / 3, 4)

    # dropping the engine's view is seen as well
    spark.catalog.dropTempView("__nulldef_events_nv_test")
    assert eng.sql(STMT).collect()[0] == row
    assert len(builds) == 3


def test_unknown_option_warns(spark, nv_view):
    with pytest.warns(UserWarning, match="unknown query option"):
        PinotEngine(spark).sql("SET fooBarBaz=1; " + STMT)


def test_known_noop_options_accepted_silently(spark, nv_view):
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        PinotEngine(spark).sql("SET timeoutMs=5000; SET useMultistageEngine=true; " + STMT)


JOIN_SQL = (
    "SELECT {hint}c.c_mktsegment AS seg, COUNT(*) AS n "
    "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey "
    "GROUP BY c.c_mktsegment ORDER BY seg"
)


def test_hint_rewrite_targets_join_alias():
    out = rewrite_pinot_hints(
        JOIN_SQL.format(hint="/*+ joinOptions(join_strategy='hash') */ ")
    )
    assert "/*+ SHUFFLE_HASH(c) */" in out
    out = rewrite_pinot_hints(
        JOIN_SQL.format(hint="/*+ joinOptions(join_strategy='lookup') */ ")
    )
    assert "/*+ BROADCAST(c) */" in out


def test_hint_changes_executed_plan(spark):
    eng = PinotEngine(spark)
    hinted = eng.sql(JOIN_SQL.format(hint="/*+ joinOptions(join_strategy='hash') */ "))
    bare = eng.sql(JOIN_SQL.format(hint=""))
    assert "ShuffledHashJoin" in _plan(hinted)
    assert "ShuffledHashJoin" not in _plan(bare)
    # hints change the plan, never the result
    assert sorted(map(tuple, hinted.collect())) == sorted(map(tuple, bare.collect()))


def test_table_options_hint_repartitions():
    out = rewrite_pinot_hints(
        "SELECT /*+ tableOptions(partition_key='o_custkey', partition_size='8') */ "
        "o_custkey FROM orders"
    )
    assert "/*+ REPARTITION(8, o_custkey) */" in out


def test_agg_options_hint_is_recognized_noop():
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        out = rewrite_pinot_hints(
            "SELECT /*+ aggOptions(is_partitioned_by_group_by_keys='true') */ "
            "count(*) FROM orders"
        )
    assert "/*+" not in out


def test_explain_plan_for(spark):
    """EXPLAIN PLAN FOR returns (Operator, Operator_Id, Parent_Id) rows
    over the executed Catalyst plan (broker EXPLAIN surface analog)."""
    eng = PinotEngine(spark)
    rows = eng.sql(
        "EXPLAIN PLAN FOR SELECT o_orderstatus, COUNT(*) AS n "
        "FROM orders GROUP BY o_orderstatus"
    ).collect()
    assert rows and rows[0].Parent_Id == -1
    ops = " ".join(r.Operator for r in rows)
    assert "HashAggregate" in ops and "Scan" in ops
    ids = [r.Operator_Id for r in rows]
    assert ids == sorted(set(ids))  # unique, ordered
