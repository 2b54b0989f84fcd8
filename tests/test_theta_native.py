"""Theta sketches on Spark's native DataSketches aggregate.

Every value-side theta build on the SQL surface is ``theta_sketch_agg``:
a map-side partial and a final merge, in any statement shape (HAVING,
joins, expression keys, next to native aggregates, window frames), with
no Python worker.  Below nominalEntries a theta sketch is exact, so each
estimate here equals Spark's own exact distinct count.  Argument types
the native aggregate rejects get an exact carrier where the statement's
schema shows them.
"""

from __future__ import annotations

import pytest

from pinot_spark.catalog import load_tables
from pinot_spark.dialect import PinotEngine, PinotSqlError, _theta_lgk, rewrite_functions

_PY_NODES = (
    "ArrowEvalPython", "ArrowAggregatePython", "BatchEvalPython",
    "MapInPandas", "MapInArrow", "FlatMapGroupsInPandas",
)

# (Pinot statement, exact Spark twin); both ORDER BY every output column
_GROUPED = [
    (
        "SELECT l_returnflag, DISTINCTCOUNTTHETASKETCH(l_partkey) AS dc "
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag LIMIT 100",
        "SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS dc "
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag",
    ),
    (
        "SELECT l_returnflag, GET_THETA_SKETCH_ESTIMATE("
        "DISTINCT_COUNT_RAW_THETA_SKETCH(l_suppkey)) AS dc FROM lineitem "
        "GROUP BY l_returnflag HAVING DISTINCTCOUNTTHETASKETCH(l_partkey) > 150 "
        "ORDER BY l_returnflag LIMIT 100",
        "SELECT l_returnflag, COUNT(DISTINCT l_suppkey) AS dc FROM lineitem "
        "GROUP BY l_returnflag HAVING COUNT(DISTINCT l_partkey) > 150 "
        "ORDER BY l_returnflag",
    ),
    (
        "SELECT n_name, DISTINCTCOUNTTHETASKETCH(c_custkey) AS dc "
        "FROM customer JOIN nation ON c_nationkey = n_nationkey "
        "GROUP BY n_name ORDER BY n_name LIMIT 100",
        "SELECT n_name, COUNT(DISTINCT c_custkey) AS dc "
        "FROM customer JOIN nation ON c_nationkey = n_nationkey "
        "GROUP BY n_name ORDER BY n_name",
    ),
    (
        "SELECT l_linenumber % 3 AS m, DISTINCTCOUNTTHETASKETCH(l_partkey) AS dc "
        "FROM lineitem GROUP BY l_linenumber % 3 ORDER BY m LIMIT 100",
        "SELECT l_linenumber % 3 AS m, COUNT(DISTINCT l_partkey) AS dc "
        "FROM lineitem GROUP BY l_linenumber % 3 ORDER BY m",
    ),
    (
        "SELECT l_returnflag, COUNT(*) AS n, MIN(l_quantity) AS q, "
        "DISTINCTCOUNTTHETASKETCH(l_partkey) AS dc FROM lineitem "
        "GROUP BY l_returnflag ORDER BY l_returnflag LIMIT 100",
        "SELECT l_returnflag, COUNT(*) AS n, MIN(l_quantity) AS q, "
        "COUNT(DISTINCT l_partkey) AS dc FROM lineitem "
        "GROUP BY l_returnflag ORDER BY l_returnflag",
    ),
    (
        "SELECT DISTINCTCOUNTTHETASKETCH(l_partkey, '', "
        "'l_returnflag = ''A''', 'l_linestatus = ''F''', "
        "'SET_INTERSECT($1, $2)') AS dc FROM lineitem",
        "SELECT COUNT(*) AS dc FROM (SELECT l_partkey FROM lineitem "
        "WHERE l_returnflag = 'A' INTERSECT "
        "SELECT l_partkey FROM lineitem WHERE l_linestatus = 'F')",
    ),
]
_WINDOWS = [
    "PARTITION BY l_returnflag",
    "PARTITION BY l_returnflag ORDER BY l_orderkey",
    "PARTITION BY l_returnflag ORDER BY l_orderkey, l_linenumber ROWS 5 PRECEDING",
]


@pytest.fixture(scope="module")
def eng(spark, sf_dir):
    load_tables(spark, sf_dir)
    return PinotEngine(spark, default_limit=1000)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _no_python(plan: str) -> None:
    assert not [n for n in _PY_NODES if n in plan], plan


@pytest.mark.parametrize(
    "stmt,exact", _GROUPED,
    ids=["grouped", "having", "join", "expr_key", "mixed", "filtered"],
)
def test_grouped_theta_is_native_and_exact(spark, eng, stmt, exact):
    df = eng.sql(stmt)
    plan = _plan(df)
    assert "partial_theta_sketch_agg" in plan, plan
    _no_python(plan)
    assert [tuple(r) for r in df.collect()] == [
        tuple(r) for r in spark.sql(exact).collect()
    ]


@pytest.mark.parametrize("over", _WINDOWS, ids=["partition", "running", "rows_5"])
def test_window_theta_is_native_and_exact(spark, eng, over):
    df = eng.sql(
        "SELECT l_orderkey, l_linenumber, "
        f"DISTINCTCOUNTTHETASKETCH(l_partkey) OVER ({over}) AS dc "
        "FROM lineitem ORDER BY l_orderkey, l_linenumber"
    )
    plan = _plan(df)
    assert "Window [theta_sketch_agg" in plan, plan
    _no_python(plan)
    want = spark.sql(
        "SELECT l_orderkey, l_linenumber, "
        f"size(collect_set(l_partkey) OVER ({over})) AS dc "
        "FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 1000"
    ).collect()
    assert [tuple(r) for r in df.collect()] == [tuple(r) for r in want]


def test_theta_argument_carriers(spark, eng):
    """Types theta_sketch_agg rejects count exactly through their
    carrier; an argument whose type the statement's schema does not
    show passes unchanged, and Spark names the mismatch."""
    spark.sql(
        "SELECT CAST(id % 7 AS TINYINT) AS ti, CAST(id % 9 AS SMALLINT) AS si, "
        "id % 2 = 0 AS b, CAST(id % 11 AS DECIMAL(20, 3)) / 8 AS de, "
        "date_add(DATE'2024-01-01', CAST(id % 13 AS INT)) AS d, "
        "timestamp_millis(1700000000000 + id % 17) AS ts FROM range(300)"
    ).createOrReplaceTempView("theta_types_t")
    cols = ["ti", "si", "b", "de", "d", "ts"]
    got = eng.sql(
        "SELECT " + ", ".join(f"DISTINCTCOUNTTHETASKETCH({c}) AS {c}" for c in cols)
        + " FROM theta_types_t"
    ).collect()[0]
    assert tuple(got) == (7, 9, 2, 11, 13, 17)
    assert "unix_millis(ts)" in eng.translate(
        "SELECT DISTINCTCOUNTRAWTHETASKETCH(ts) FROM theta_types_t"
    )[0]
    with pytest.raises(Exception, match="DATATYPE_MISMATCH"):
        eng.sql(
            "SELECT DISTINCTCOUNTTHETASKETCH(CAST(si AS TINYINT)) AS x "
            "FROM theta_types_t"
        ).collect()


def test_nominal_entries_round_up_and_range():
    assert _theta_lgk([]) == 12
    assert _theta_lgk(["nominalEntries=16"]) == 4
    assert _theta_lgk(["nominalEntries=1000"]) == 10
    assert _theta_lgk(["'nominalEntries=1024'"]) == 10
    assert _theta_lgk([f"nominalEntries={1 << 26}"]) == 26
    for bad in (8, (1 << 26) + 1):
        with pytest.raises(PinotSqlError, match="nominalEntries"):
            _theta_lgk([f"nominalEntries={bad}"])
    # a union keeps as many entries as its largest native argument
    assert rewrite_functions(
        "THETASKETCHUNION(DISTINCTCOUNTRAWTHETASKETCH(a, 'nominalEntries=65536'), "
        "DISTINCTCOUNTRAWTHETASKETCH(b))"
    ) == "theta_union(theta_sketch_agg(a, 16), theta_sketch_agg(b, 12), 16)"


def test_theta_next_to_a_pandas_family_takes_the_native_side(spark, eng):
    """A statement mixing theta with a pandas-UDAF family (frequent
    items) takes the mixed split with theta on the native side, instead
    of a pandas UDAF next to a native aggregate in one SELECT
    (INVALID_PANDAS_UDF_PLACEMENT)."""
    stmt = (
        "SELECT l_returnflag, DISTINCTCOUNTTHETASKETCH(l_partkey) AS dc, "
        "FREQUENTSTRINGSESTIMATE(FREQUENT_STRINGS_SKETCH(l_linestatus), 'F') AS f "
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag LIMIT 100"
    )
    assert ") __rsn JOIN (" in eng.translate(stmt)[0]
    got = [tuple(r) for r in eng.sql(stmt).collect()]
    assert got == [
        tuple(r) for r in spark.sql(
            "SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS dc, "
            "COUNT_IF(l_linestatus = 'F') AS f FROM lineitem "
            "GROUP BY l_returnflag ORDER BY l_returnflag"
        ).collect()
    ]
