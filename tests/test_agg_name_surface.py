"""AggregationFunctionType name coverage: every enum name in the
reference (pinot-segment-spi/.../AggregationFunctionType.java) must
resolve through the SQL dialect — as a Spark-native aggregate, a
FUNCTION_MAP template, or a loud documented-gap boundary."""

from __future__ import annotations

import os
import re

import pytest

from pinot_spark.dialect import FUNCTION_MAP, PinotEngine, PinotSqlError

# Round-18 fast-tier split: this suite is a long-running sweep; the
# default tier (pytest.ini addopts) skips it — run with -m "" for all.
pytestmark = pytest.mark.slow

REF_AGG = (
    "/root/reference/pinot-segment-spi/src/main/java/org/apache/pinot/"
    "segment/spi/AggregationFunctionType.java"
)

# resolved by Spark SQL directly under the same spelling
_SPARK_NATIVE = {
    "count", "min", "max", "sum", "avg", "mode", "histogram", "anyvalue",
    "booland", "boolor", "skewness", "kurtosis", "varpop", "varsamp",
    "stddevpop", "stddevsamp", "covarpop", "covarsamp", "percentile",
    "listagg", "arrayagg", "firstvalue", "lastvalue",
}


def _canon(n: str) -> str:
    return n.replace("_", "").lower()


@pytest.mark.skipif(not os.path.isfile(REF_AGG), reason="reference repo not present")
def test_aggregation_enum_names_resolve():
    src = open(REF_AGG).read()
    names = {
        _canon(m.group(1)) for m in re.finditer(r"^\s{2}([A-Z_0-9]+)\s*\(", src, re.M)
    }
    ours = {_canon(k) for k in FUNCTION_MAP} | _SPARK_NATIVE
    from pinot_spark.functions.scalar import SCALAR_FUNCTIONS

    ours |= set(SCALAR_FUNCTIONS)
    missing = sorted(n for n in names if n not in ours)
    assert missing == [], f"unresolved aggregation names: {missing}"


@pytest.fixture(scope="module")
def at(spark):
    spark.createDataFrame(
        [("a", 1, [1, 2, 2]), ("b", 2, [2, 3]), ("a", 3, [4]), ("c", 7, [1, 5, 5])],
        "k string, v int, arr array<int>",
    ).createOrReplaceTempView("agg_names_t")
    return PinotEngine(spark, default_limit=1000)


def test_typed_variants_and_sum0(spark, at):
    row = at.sql(
        "SELECT MINLONG(v) AS a, MAXLONG(v) AS b, MINSTRING(k) AS c, "
        "MAXSTRING(k) AS d, SUMINT(v) AS e, SUM0(v) AS f FROM agg_names_t"
    ).collect()[0]
    assert tuple(row) == (1, 7, "a", "c", 13, 13)
    assert at.sql("SELECT SUM0(v) AS s FROM agg_names_t WHERE v > 100").collect()[0].s == 0


def test_mv_distinct_and_percentile_variants(spark, at):
    row = at.sql(
        "SELECT DISTINCTAVGMV(arr) AS a, DISTINCTCOUNTBITMAPMV(arr) AS b, "
        "DISTINCTCOUNTHLLPLUSMV(arr) AS c FROM agg_names_t"
    ).collect()[0]
    # distinct values across all arrays: {1,2,3,4,5}
    assert (row.a, row.b, row.c) == (3.0, 5, 5)
    p = at.sql("SELECT PERCENTILEMV(arr, 50) AS p FROM agg_names_t").collect()[0].p
    # flattened sorted [1,1,2,2,2,3,4,5,5]; interpolated median = 2
    assert float(p) == 2.0


def test_tuple_sketch_sql_pipeline(spark, at):
    row = at.sql(
        "SELECT GET_INT_TUPLE_SKETCH_ESTIMATE(DISTINCT_COUNT_RAW_INTEGER_SUM_"
        "TUPLE_SKETCH(TO_INTEGER_SUM_TUPLE_SKETCH(k, v))) AS dc, "
        "SUM_VALUES_INTEGER_SUM_TUPLE_SKETCH(TO_INTEGER_SUM_TUPLE_SKETCH(k, v)) AS sv "
        "FROM agg_names_t"
    ).collect()[0]
    # keys {a,b,c}; per-key sums a=4, b=2, c=7 → total 13
    assert (row.dc, row.sv) == (3, 13)


def test_idset_sql_form(spark, at):
    assert at.sql("SELECT IDSET(k) AS s FROM agg_names_t").collect()[0].s == "a,b,c"


@pytest.mark.parametrize(
    "expr", ["FUNNELCOUNT(k)", "FROMULL(CAST(k AS BINARY))",
             "PINOTCHILDAGGEXPRMIN(1, v, k)"],
)
def test_documented_gap_names_raise_loudly(spark, at, expr):
    with pytest.raises(PinotSqlError):
        at.sql(f"SELECT {expr} FROM agg_names_t")


def test_cpc_sketch_names_now_execute(spark, at):
    """DISTINCTCOUNT[RAW]CPCSKETCH retired their documented-gap entries
    in round 11 (operators/ds_cpc.py): the aggregation emits real
    DataSketches CpcSketch bytes (CpcUnion-result form) over a bounded
    coupon domain and the reader estimates from them."""
    row = at.sql(
        "SELECT GET_CPC_SKETCH_ESTIMATE(DISTINCTCOUNTRAWCPCSKETCH(k)) AS e, "
        "DISTINCTCOUNTCPCSKETCH(k) AS c FROM agg_names_t"
    ).collect()[0]
    assert row.e == 3 and row.c == 3  # keys {a,b,c}: exact regime


def test_frequent_sketch_names_now_execute(spark, at):
    """FREQUENTSTRINGSSKETCH retired its documented-gap entry in round
    10 (operators/ds_freq.py): it aggregates to real DataSketches
    ItemsSketch<String> bytes and the reader estimates from them."""
    r = at.sql(
        "SELECT FREQUENT_STRINGS_ESTIMATE(FREQUENTSTRINGSSKETCH(k), 'a') AS e "
        "FROM agg_names_t"
    ).collect()[0]
    exact = at.spark.sql(
        "SELECT sum(CASE WHEN k = 'a' THEN 1 ELSE 0 END) AS n FROM agg_names_t"
    ).collect()[0].n
    assert r.e == exact


def test_sum_array_sql_forms(spark, at):
    spark.createDataFrame(
        [("a", [1, 2]), ("a", [3, 4]), ("b", [10, 20])], "k string, arr array<int>"
    ).createOrReplaceTempView("sum_arr_t")
    rows = at.sql(
        "SELECT k, SUMARRAYLONG(arr) AS s, SUMARRAYDOUBLE(arr) AS d "
        "FROM sum_arr_t GROUP BY k ORDER BY k"
    ).collect()
    assert [(r.k, r.s, r.d) for r in rows] == [
        ("a", [4, 6], [4.0, 6.0]), ("b", [10, 20], [10.0, 20.0])
    ]


def test_sql_funnel_max_step_matches_operator(spark, sf_dir, at):
    """The SQL FUNNELMAXSTEP form must agree with the operator-built
    driver query (same window, steps and STRICT_ORDER mode)."""
    from pinot_spark.catalog import load_tables
    from pinot_spark.queries import QUERIES

    load_tables(spark, sf_dir)
    got = sorted(
        (r.user_id, r.max_step)
        for r in at.sql(
            "SELECT user_id, FUNNELMAXSTEP(ts, '604800000', 3, "
            "event_type = 'view', event_type = 'click', event_type = 'purchase', "
            "'STRICT_ORDER') AS max_step FROM events GROUP BY user_id "
            "HAVING max_step > 0 LIMIT 100000"
        ).collect()
    )
    want = sorted(
        (r.user_id, r.max_step)
        for r in QUERIES["agg_funnel_max_step_window"](spark, sf_dir).collect()
    )
    assert got == want and len(got) > 0


def test_raw_percentile_digest_bytes(spark, at):
    """PERCENTILERAW{EST,KLL,TDIGEST}[MV] emit engine-own t-digest bytes
    (operators/tdigest.py wire format), readable offline and via the
    GETTDIGESTQUANTILE engine extension. The SQL names build the digest
    from native percentile_approx grid probes (bounded state at any row
    count — dialect._raw_tdigest_sql), so quantiles land within the
    documented 1%-of-range t-digest envelope rather than exactly."""
    from pinot_spark.operators.tdigest import TDigest

    spark.createDataFrame(
        [(i, float(i)) for i in range(1, 101)], "k int, v double"
    ).createOrReplaceTempView("raw_pct_t")
    row = at.sql(
        "SELECT GETTDIGESTQUANTILE(PERCENTILERAWTDIGEST(v, 90), 90) AS p90, "
        "GETTDIGESTQUANTILE(PERCENTILE_RAW_EST(v, 50), 50) AS p50 FROM raw_pct_t"
    ).collect()[0]
    assert abs(row.p90 - 90.5) <= 1.0 and abs(row.p50 - 50.5) <= 1.0
    b = at.sql("SELECT PERCENTILERAWKLL(v, 99) AS b FROM raw_pct_t").collect()[0].b
    assert abs(TDigest.from_bytes(bytes(b)).quantile(0.5) - 50.5) <= 1.0
    mv = at.sql("SELECT GETTDIGESTQUANTILE(PERCENTILERAWTDIGESTMV(arr, 50), 50) AS p "
                "FROM agg_names_t").collect()[0].p
    # flattened values [1,2,2,2,3,4,1,5,5]: digest median
    assert 2.0 <= mv <= 3.0


def test_raw_hll_sql_pipeline(spark, at):
    """DISTINCTCOUNTRAWHLL[MV] / TOHLL emit clearspring stream-lib
    bytes since round 11 (operators/cs_hll.py — the reference's actual
    serialization); GETHLLESTIMATE reads them back. Exact in the
    linear-counting regime at these cardinalities."""
    row = at.sql(
        "SELECT GETHLLESTIMATE(DISTINCTCOUNTRAWHLL(k)) AS dc, "
        "GETHLLESTIMATE(DISTINCTCOUNTRAWHLLMV(arr)) AS dcm, "
        "GETHLLESTIMATE(TOHLL('x')) AS one FROM agg_names_t"
    ).collect()[0]
    # keys {a,b,c}; MV values {1,2,3,4,5}
    assert (row.dc, row.dcm, row.one) == (3, 5, 1)


@pytest.fixture(scope="module")
def funnel_sql_t(spark):
    """Deterministic funnel fixture: user 1 completes two rounds inside
    the 1h window, user 2 stalls at step 2, user 3 completes but with
    >1h gaps (outside the window)."""
    import datetime

    base = datetime.datetime(2024, 1, 1)
    rows = []
    def ev(u, minutes, e):
        t = base + datetime.timedelta(minutes=minutes)
        rows.append((u, t, int(t.timestamp() * 1000), e))
    for t, e in [(0, "view"), (1, "click"), (2, "buy"),
                 (3, "view"), (4, "click"), (5, "buy")]:
        ev(1, t, e)
    for t, e in [(0, "view"), (1, "click")]:
        ev(2, t, e)
    for t, e in [(0, "view"), (130, "click"), (260, "buy")]:
        ev(3, t, e)
    spark.createDataFrame(
        rows, "user_id int, ts timestamp, tms long, etype string"
    ).createOrReplaceTempView("funnel_sql_t")


STEPS3 = "etype = 'view', etype = 'click', etype = 'buy'"


def test_sql_funnel_complete_count(spark, at, funnel_sql_t):
    """FUNNELCOMPLETECOUNT counts completed rounds per correlation key,
    window-bounded (FunnelCompleteCountAggregationFunction.java:48-108:
    the step counter resets after each completion)."""
    got = sorted(
        (r.user_id, r.rounds)
        for r in at.sql(
            f"SELECT user_id, FUNNELCOMPLETECOUNT(ts, '3600000', 3, {STEPS3}) "
            "AS rounds FROM funnel_sql_t GROUP BY user_id LIMIT 10"
        ).collect()
    )
    assert got == [(1, 2), (2, 0), (3, 0)]


def test_sql_funnel_match_step(spark, at, funnel_sql_t):
    """FUNNELMATCHSTEP emits the 0/1 per-step array up to the windowed
    max step (FunnelMatchStepAggregationFunction.java:49-77)."""
    got = sorted(
        (r.user_id, list(r.ms))
        for r in at.sql(
            f"SELECT user_id, FUNNELMATCHSTEP(ts, '3600000', 3, {STEPS3}) "
            "AS ms FROM funnel_sql_t GROUP BY user_id LIMIT 10"
        ).collect()
    )
    assert got == [(1, [1, 1, 1]), (2, [1, 1, 0]), (3, [1, 0, 0])]


def test_sql_funnel_count_steps_correlate_by(spark, at, funnel_sql_t):
    """FUNNEL_COUNT(STEPS(...), CORRELATE_BY(key)) — progressive set
    intersections, no time ordering (FunnelCountAggregationFunction
    example:45-62), global and grouped (dims + GROUP BY ordinal), with
    SETTINGS strategy hints accepted."""
    row = at.sql(
        f"SELECT FUNNEL_COUNT(STEPS({STEPS3}), CORRELATE_BY(user_id)) "
        "AS sc FROM funnel_sql_t LIMIT 10"
    ).collect()[0]
    # users with view={1,2,3}, then ∩click={1,2,3}, then ∩buy={1,3}
    assert list(row.sc) == [3, 3, 2]
    grouped = at.sql(
        "SELECT dateTrunc('day', tms) AS d, "
        f"FUNNEL_COUNT(STEPS({STEPS3}), CORRELATE_BY(user_id), "
        "SETTINGS('theta_sketch', 'nominalEntries=4096')) AS sc "
        "FROM funnel_sql_t GROUP BY 1 ORDER BY d LIMIT 10"
    ).collect()
    assert [(r.d, list(r.sc)) for r in grouped] == [(1704067200000, [3, 3, 2])]
    # GROUP BY repeating the aliased expression verbatim (comma inside the
    # dim — needs the paren-aware GROUP BY split + select-list resolution)
    grouped2 = at.sql(
        "SELECT dateTrunc('day', tms) AS d, "
        f"FUNNEL_COUNT(STEPS({STEPS3}), CORRELATE_BY(user_id)) AS sc "
        "FROM funnel_sql_t GROUP BY dateTrunc('day', tms) ORDER BY d LIMIT 10"
    ).collect()
    assert [(r.d, list(r.sc)) for r in grouped2] == [(1704067200000, [3, 3, 2])]


def test_sql_funnel_count_rejects_free_shape(spark, at, funnel_sql_t):
    from pinot_spark.dialect import PinotSqlError

    with pytest.raises(PinotSqlError):
        at.sql(
            "SELECT count(*), FUNNEL_COUNT(STEPS(etype = 'view'), "
            "CORRELATE_BY(user_id)) FROM funnel_sql_t LIMIT 10"
        )


def test_sql_funnel_events_function_eval(spark, at, sf_dir, funnel_sql_t):
    """FUNNELEVENTSFUNCTIONEVAL SQL form (argument convention
    FunnelEventsFunctionEvalAggregationFunction.java:58-90: ts, window,
    numSteps, steps.., numExtraFields, extraExprs..) matches the
    operator-built driver query on the events table."""
    from pinot_spark.catalog import load_tables
    from pinot_spark.queries import QUERIES

    load_tables(spark, sf_dir)
    got = sorted(
        (r.user_id, ",".join(r.matched_events))
        for r in at.sql(
            "SELECT user_id, FUNNELEVENTSFUNCTIONEVAL(ts, '604800000', 3, "
            "event_type = 'view', event_type = 'click', event_type = 'purchase', "
            "2, event_type, TOEPOCHMILLIS(ts)) AS matched_events "
            "FROM events GROUP BY user_id LIMIT 100000"
        ).collect()
        if r.matched_events
    )
    want = sorted(
        (r.user_id, r.matched_events)
        for r in QUERIES["agg_funnel_events_eval"](spark, sf_dir).collect()
    )
    assert got == want and len(got) > 0
    from pinot_spark.dialect import PinotSqlError
    import pytest as _pytest

    with _pytest.raises(PinotSqlError):
        at.sql(
            "SELECT user_id, FUNNELEVENTSFUNCTIONEVAL(ts, '3600000', 1, "
            "etype = 'view', 0, 'STRICT_ORDER') AS m "
            "FROM funnel_sql_t GROUP BY user_id LIMIT 10"
        )


def test_raw_theta_tuple_two_phase_rewrite(spark, at):
    """Canonical grouped raw-theta/tuple statements: the TEXT layer
    still restructures into the bounded two-phase shape
    (dialect.rewrite_raw_sketch_two_phase — asserted on translate()
    output, the fallback when the engine route declines), while the
    ENGINE executes the zero-shuffle grouped-partials route since
    round 9 (MapInPandas, no bucket column). Results must equal the
    exact natives in the sub-nominal regime either way."""
    spark.range(0, 20000).selectExpr(
        "CAST(id % 4 AS INT) AS g",
        "CAST((id * 7) % 3000 AS BIGINT) AS u",
        "CAST(id % 13 AS INT) AS v",
    ).createOrReplaceTempView("rs2_t")
    q = (
        "SELECT g, COUNT(*) AS n, AVG(v) AS av, MAX(v) AS mx, "
        "GET_THETA_SKETCH_ESTIMATE(DISTINCT_COUNT_RAW_THETA_SKETCH(u, "
        "'nominalEntries=4096')) AS dc, "
        "SUM_VALUES_INTEGER_SUM_TUPLE_SKETCH(TO_INTEGER_SUM_TUPLE_SKETCH(u, v)) AS sv "
        "FROM rs2_t GROUP BY g ORDER BY g LIMIT 10"
    )
    translated = at.translate(q)[0]
    assert "__rs_partials" in translated and "pmod" in translated
    got = at.sql(q).collect()
    want = spark.sql(
        "SELECT g, COUNT(*) AS n, AVG(v) AS av, MAX(v) AS mx, "
        "COUNT(DISTINCT u) AS dc, SUM(v) AS sv "
        "FROM rs2_t GROUP BY g ORDER BY g"
    ).collect()
    # 3000 distinct < nominalEntries → theta exact; sum-tuple exact here
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    # executed plan: the zero-shuffle route — grouped MapInPandas
    # partials, no bucketed row shuffle, no per-value collection
    plan = at.sql(q)._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan
    assert "pmod" not in plan and "collect_set" not in plan
    # HAVING rides on the two-phase outer since round 8
    q2 = (
        "SELECT g, GET_THETA_SKETCH_ESTIMATE(DISTINCT_COUNT_RAW_THETA_SKETCH(u)) "
        "AS dc FROM rs2_t GROUP BY g HAVING dc > 0 LIMIT 10"
    )
    t2 = at.translate(q2)[0]
    assert "__rs_partials" in t2 and "HAVING dc > 0" in t2
    assert len(at.sql(q2).collect()) == 4


def test_sql_funnel_step_duration_stats(spark, at, funnel_sql_t):
    """FUNNELSTEPDURATIONSTATS SQL form (FunnelStepDurationStats
    AggregationFunction.java:95-218): per-key flat array of
    [fn(step_i)] per DURATIONFUNCTIONS entry; COUNT emits reached
    flags, other functions the 0.0 placeholder at the last step or for
    unmatched keys; keys without a matched funnel return an empty
    array when COUNT is absent."""
    rows = {
        r.user_id: list(r.ds)
        for r in at.sql(
            "SELECT user_id, FUNNELSTEPDURATIONSTATS(ts, '3600000', 3, "
            f"{STEPS3}, 'DURATIONFUNCTIONS=count,avg,max') AS ds "
            "FROM funnel_sql_t GROUP BY user_id LIMIT 10"
        ).collect()
    }
    # user 1: two complete rounds, each step 1 minute apart → avg/max 60000
    assert rows[1] == [
        1.0, 60000.0, 60000.0,  # step0: reached, avg, max
        1.0, 60000.0, 60000.0,  # step1
        1.0, 0.0, 0.0,          # last step: placeholder for non-COUNT
    ]
    # user 2 stalls at step 2: reached flags only, no matched funnel
    assert rows[2] == [1.0, 0.0, 0.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0]
    # user 3: window-broken — only step 0 reached
    assert rows[3] == [1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]
    # without COUNT, unmatched keys skip entirely (empty array)
    rows2 = {
        r.user_id: list(r.ds)
        for r in at.sql(
            "SELECT user_id, FUNNELSTEPDURATIONSTATS(ts, '3600000', 3, "
            f"{STEPS3}, 'DURATIONFUNCTIONS=median,min') AS ds "
            "FROM funnel_sql_t GROUP BY user_id LIMIT 10"
        ).collect()
    }
    assert rows2[1] == [60000.0, 60000.0, 60000.0, 60000.0, 0.0, 0.0]
    assert rows2[2] == [] and rows2[3] == []
    # missing DURATIONFUNCTIONS is the reference's loud contract
    with pytest.raises(PinotSqlError, match="DURATIONFUNCTIONS"):
        at.sql(
            "SELECT user_id, FUNNELSTEPDURATIONSTATS(ts, '3600000', 3, "
            f"{STEPS3}) AS ds FROM funnel_sql_t GROUP BY user_id LIMIT 10"
        )


def test_raw_sketch_rewrite_parse_failure_fails_safe(spark, at, monkeypatch):
    """If the regex-based restructuring ever emits unparseable SQL (the
    known fragility of _RS_STMT_RE), the engine must degrade to the
    original statement's fallback path, not error (VERDICT r7)."""
    import pinot_spark.dialect as D

    spark.createDataFrame([(1, "a"), (2, "b")], "v int, k string"
                          ).createOrReplaceTempView("rs_failsafe_t")
    monkeypatch.setattr(
        D,
        "rewrite_raw_sketch_two_phase",
        lambda sql, view_builder=None: "SELECT ((( FROM",
    )
    rows = at.sql(
        "SELECT GET_THETA_SKETCH_ESTIMATE(DISTINCT_COUNT_RAW_THETA_SKETCH(v)) "
        "AS dc FROM rs_failsafe_t LIMIT 10"
    ).collect()
    assert rows[0].dc == 2


def test_canonical_stmt_parser_shapes():
    """The round-8 clause parser behind the two-phase rewrite: top-level
    clause spans are paren- and literal-aware, so the regex-backtracking
    failure modes (GROUP BY bleeding out of a subquery, keywords inside
    string literals) are structurally impossible."""
    from pinot_spark.dialect import _parse_canonical_stmt as P

    s = P("SELECT k, f(v) AS dc FROM t WHERE v > 3 GROUP BY k ORDER BY k LIMIT 10")
    assert s["table"] == "t" and s["group"] == "k" and s["where"] == "v > 3"
    assert s["tail"].strip().startswith("ORDER BY")
    # subquery with GROUP BY inside WHERE stays inside the WHERE clause
    s = P("SELECT agg(v) FROM t WHERE x IN (SELECT k FROM u GROUP BY k) GROUP BY y")
    assert s["group"] == "y" and "GROUP BY k" in s["where"]
    # clause keywords inside string literals are data, not structure
    s = P("SELECT v FROM t WHERE note = ' FROM fake group by x '")
    assert s["table"] == "t" and s["group"] is None
    # HAVING parses (round 8: it rides on the two-phase outer)
    s = P("SELECT a FROM t GROUP BY a HAVING count(*) > 1")
    assert s["having"] == "count(*) > 1" and s["group"] == "a"
    # JOIN parses only when allowed; FROM carries the join tree verbatim
    j = "SELECT a FROM t JOIN u ON t.x = u.x GROUP BY a"
    assert P(j) is None
    assert P(j, allow_join=True)["table"] == "t JOIN u ON t.x = u.x"
    for bad in (
        "SELECT a FROM t UNION SELECT a FROM u",
        "SELECT a FROM (SELECT a FROM t)",
        "SELECT a FROM t tt",
        "SELECT a FROM t, u",
        "SELECT f(( FROM t",  # unbalanced
    ):
        assert P(bad) is None, bad


def test_raw_theta_under_having_bounded(spark, at):
    """Raw theta in a grouped statement WITH HAVING — the HAVING
    predicate rides on the two-phase OUTER aggregation (alias refs pass
    through, agg expressions decompose), keeping the bucketed
    GROUPED_AGG inner (bounded state)."""
    spark.createDataFrame(
        [(k, ord(k) * 10 + i) for k in ("a", "b", "c") for i in range({"a": 5, "b": 2, "c": 7}[k])],
        "k string, v int",
    ).createOrReplaceTempView("rs_having_t")
    rows = at.sql(
        "SELECT k, GET_THETA_SKETCH_ESTIMATE(DISTINCT_COUNT_RAW_THETA_SKETCH(v)) AS dc "
        "FROM rs_having_t GROUP BY k HAVING dc >= 5 ORDER BY k LIMIT 10"
    ).collect()
    assert [(r.k, r.dc) for r in rows] == [("a", 5), ("c", 7)]
    plan = at.sql(
        "SELECT k, GET_THETA_SKETCH_ESTIMATE(DISTINCT_COUNT_RAW_THETA_SKETCH(v)) AS dc "
        "FROM rs_having_t GROUP BY k HAVING dc >= 5 LIMIT 10"
    )._jdf.queryExecution().executedPlan().toString()
    # Shape A: pandas partials, no per-value collect_set; the only
    # collect_list is the bounded blob merge
    assert "collect_set" not in plan


def test_raw_theta_mixed_aggs_under_join_falls_back_correct(spark, at):
    """Raw theta + a NATIVE aggregate under a JOIN — since round 9 this
    splits into a native-aggregate subquery joined with the pure-sketch
    pandas two-phase (sketch-bounded memory); it must answer correctly."""
    spark.createDataFrame(
        [(1, 10), (1, 20), (2, 30)], "g int, v int"
    ).createOrReplaceTempView("rs_mix_a")
    spark.createDataFrame([(1, "x"), (2, "y")], "g int, lbl string"
                          ).createOrReplaceTempView("rs_mix_b")
    rows = at.sql(
        "SELECT lbl, COUNT(*) AS n, "
        "GET_THETA_SKETCH_ESTIMATE(DISTINCT_COUNT_RAW_THETA_SKETCH(v)) AS dc "
        "FROM rs_mix_a JOIN rs_mix_b ON rs_mix_a.g = rs_mix_b.g "
        "GROUP BY lbl ORDER BY lbl LIMIT 10"
    ).collect()
    assert [(r.lbl, r.n, r.dc) for r in rows] == [("x", 2, 2), ("y", 1, 1)]


def test_raw_theta_mixed_aggs_having_two_phase(spark, at):
    """Mixed native aggregate + raw theta WITH HAVING — since round 9
    the statement splits into a native subquery joined with the
    pure-sketch pandas two-phase; the HAVING (referencing a select
    alias) becomes a WHERE over the joined result. No collect_set of
    hashes anywhere; the sketch side aggregates in pandas."""
    spark.createDataFrame(
        [(1, 10), (1, 20), (2, 30)], "g int, v int"
    ).createOrReplaceTempView("rs_mix_h")
    rows = at.sql(
        "SELECT g, COUNT(*) AS n, "
        "GET_THETA_SKETCH_ESTIMATE(DISTINCT_COUNT_RAW_THETA_SKETCH(v)) AS dc "
        "FROM rs_mix_h GROUP BY g HAVING n > 1 ORDER BY g LIMIT 10"
    ).collect()
    assert [(r.g, r.n, r.dc) for r in rows] == [(1, 2, 2)]
    plan = at.sql(
        "SELECT g, COUNT(*) AS n, "
        "GET_THETA_SKETCH_ESTIMATE(DISTINCT_COUNT_RAW_THETA_SKETCH(v)) AS dc "
        "FROM rs_mix_h GROUP BY g HAVING n > 1 LIMIT 10"
    )._jdf.queryExecution().executedPlan().toString()
    assert "collect_set" not in plan
    # round 9: zero-shuffle grouped partials (int key → route accepts)
    assert "MapInPandas" in plan or "ArrowAggregatePython" in plan


def test_raw_theta_mixed_expression_key_fallback_correct(spark, at):
    """Mixed aggregates + raw theta grouped by an EXPRESSION key — the
    remaining per-value-fallback class (two-phase requires identifier
    keys, the in-expression path rejects native co-aggregates). Must
    still answer correctly."""
    spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30), (4, 40)], "g int, v int"
    ).createOrReplaceTempView("rs_mix_e")
    rows = at.sql(
        "SELECT g % 2 AS p, COUNT(*) AS n, "
        "GET_THETA_SKETCH_ESTIMATE(DISTINCT_COUNT_RAW_THETA_SKETCH(v)) AS dc "
        "FROM rs_mix_e GROUP BY g % 2 ORDER BY p LIMIT 10"
    ).collect()
    assert [(r.p, r.n, r.dc) for r in rows] == [(0, 2, 2), (1, 2, 2)]


def test_raw_theta_nondefault_fanout_correct(spark, at, monkeypatch):
    """``dialect._RS_FANOUT`` governs the bucketed two-phase's
    inner fan-out; a non-default (odd, tiny) value must not change any
    answer — the bucket column only shapes the partial distribution
    (VERDICT r8 optional item). The JOIN form declines the zero-shuffle
    route, so this pins the bucketed SQL path specifically."""
    import pinot_spark.dialect as D

    spark.createDataFrame(
        [(i % 3, i % 17) for i in range(200)], "g int, v int"
    ).createOrReplaceTempView("rs_fan_a")
    spark.createDataFrame([(0, "x"), (1, "y"), (2, "z")], "g int, lbl string"
                          ).createOrReplaceTempView("rs_fan_b")
    q = (
        "SELECT lbl, GET_THETA_SKETCH_ESTIMATE("
        "DISTINCT_COUNT_RAW_THETA_SKETCH(v)) AS dc "
        "FROM rs_fan_a JOIN rs_fan_b ON rs_fan_a.g = rs_fan_b.g "
        "GROUP BY lbl ORDER BY lbl LIMIT 10"
    )
    expected = [(r.lbl, r.dc) for r in at.sql(q).collect()]
    # gcd(3, 17) = 1: every g-class sees all 17 residues of v
    assert expected == [("x", 17), ("y", 17), ("z", 17)]
    monkeypatch.setattr(D, "_RS_FANOUT", 7)
    assert [(r.lbl, r.dc) for r in at.sql(q).collect()] == expected
    monkeypatch.setattr(D, "_RS_FANOUT", 1)  # degenerate single bucket
    assert [(r.lbl, r.dc) for r in at.sql(q).collect()] == expected


def test_raw_theta_alias_and_expression_keys_normalized(spark, at):
    """GROUP BY select-alias and GROUP BY <expression> raw-sketch
    statements (round 8's per-value fallback class, and a latent
    unresolvable-SQL bug for the alias+mixed shape) normalize at the
    engine into a derived table with plain key columns, then take the
    zero-shuffle route: correct values, MapInPandas partials, no
    per-value collection."""
    spark.createDataFrame(
        [("ab", 1), ("AB", 2), ("cd", 2), ("cd", 2), ("ef", 3)],
        "s string, v int",
    ).createOrReplaceTempView("rs_alias_t")
    # alias key, mixed with native COUNT + HAVING on alias
    df = at.sql(
        "SELECT UPPER(s) AS u, COUNT(*) AS n, GET_THETA_SKETCH_ESTIMATE("
        "DISTINCT_COUNT_RAW_THETA_SKETCH(v)) AS dc "
        "FROM rs_alias_t GROUP BY u HAVING n > 1 ORDER BY u LIMIT 10"
    )
    assert [(r.u, r.n, r.dc) for r in df.collect()] == [("AB", 2, 2), ("CD", 2, 1)]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "collect_set" not in plan
    assert "MapInPandas" in plan
    # expression key, pure
    df2 = at.sql(
        "SELECT GET_THETA_SKETCH_ESTIMATE(DISTINCT_COUNT_RAW_THETA_SKETCH(v)) "
        "AS dc FROM rs_alias_t GROUP BY UPPER(s) ORDER BY dc LIMIT 10"
    )
    assert [r.dc for r in df2.collect()] == [1, 1, 2]
    # expression key appearing in the select under a different alias
    df3 = at.sql(
        "SELECT UPPER(s) AS grp, COUNT(*) AS n FROM rs_alias_t "
        "GROUP BY UPPER(s) ORDER BY grp LIMIT 10"
    )
    assert [(r.grp, r.n) for r in df3.collect()] == [
        ("AB", 2), ("CD", 2), ("EF", 1)
    ]


def test_raw_theta_setop_branches_bounded(spark, at):
    """Raw-sketch statements under TOP-LEVEL set operations (round 9,
    rewrite_raw_sketch_setop): each branch rewrites independently into
    the bounded two-phase / split shape, so NO per-value collect_set of
    hashes survives even when a branch mixes raw theta with native
    aggregates — the last per-value fallback class outside window
    frames. A trailing set-op-global ORDER BY/LIMIT must be preserved."""
    spark.range(0, 2000).selectExpr(
        "CAST(id % 3 AS INT) AS g",
        "CAST((id * 11) % 500 AS INT) AS u",
    ).createOrReplaceTempView("rs_setop_t")
    q = (
        "SELECT g, COUNT(*) AS n, "
        "GET_THETA_SKETCH_ESTIMATE(DISTINCT_COUNT_RAW_THETA_SKETCH(u, "
        "'nominalEntries=4096')) AS dc "
        "FROM rs_setop_t WHERE g < 2 GROUP BY g "
        "UNION ALL "
        "SELECT g, COUNT(*) AS n, "
        "GET_THETA_SKETCH_ESTIMATE(DISTINCT_COUNT_RAW_THETA_SKETCH(u, "
        "'nominalEntries=4096')) AS dc "
        "FROM rs_setop_t WHERE g = 2 GROUP BY g ORDER BY g LIMIT 100"
    )
    from pinot_spark.dialect import rewrite_raw_sketch_setop

    rewritten = rewrite_raw_sketch_setop(q)
    assert rewritten != q
    assert "collect_set" not in rewritten
    assert rewritten.rstrip().endswith("LIMIT 100")
    df = at.sql(q)
    got = [(r.g, r.n, round(r.dc)) for r in df.collect()]
    want = [
        (r.g, r.n, r.dc)
        for r in spark.sql(
            "SELECT g, COUNT(*) AS n, COUNT(DISTINCT u) AS dc "
            "FROM rs_setop_t GROUP BY g ORDER BY g"
        ).collect()
    ]
    assert got == want and len(got) == 3  # 500 distinct < 4096 → exact
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "collect_set" not in plan


def test_raw_theta_setop_pure_and_distinct_semantics(spark, at):
    """Pure-sketch branches under UNION (DISTINCT): branch outputs are
    deterministic engine-own values, so set semantics are unchanged by
    the rewrite — two identical branches collapse to one row."""
    spark.createDataFrame(
        [(1, 10), (1, 20), (2, 30)], "g int, v int"
    ).createOrReplaceTempView("rs_setop_p")
    q = (
        "SELECT GET_THETA_SKETCH_ESTIMATE(DISTINCT_COUNT_RAW_THETA_SKETCH(v)) "
        "AS dc FROM rs_setop_p "
        "UNION "
        "SELECT GET_THETA_SKETCH_ESTIMATE(DISTINCT_COUNT_RAW_THETA_SKETCH(v)) "
        "AS dc FROM rs_setop_p LIMIT 10"
    )
    rows = at.sql(q).collect()
    assert [round(r.dc) for r in rows] == [3]


def test_raw_theta_setop_unboundable_branch_fails_safe(spark, at):
    """A set-op statement whose raw-call branch can't bound (window
    frame co-occurring) must return unchanged from the setop rewrite —
    never a half-rewritten statement."""
    from pinot_spark.dialect import rewrite_raw_sketch_setop

    q = (
        "SELECT g, GET_THETA_SKETCH_ESTIMATE(DISTINCT_COUNT_RAW_THETA_SKETCH(v)) "
        "OVER (PARTITION BY g) AS dc FROM t1 "
        "UNION ALL SELECT g, 0.0 AS dc FROM t2"
    )
    assert rewrite_raw_sketch_setop(q) == q


def test_raw_theta_expression_keys_case_and_space_insensitive(spark, at):
    """Spark resolves identifiers/functions case-insensitively, so
    'SELECT substr(s,0,1) ... GROUP BY SUBSTR(s , 0 , 1)' is one valid
    grouping — the round-9 normalizer matched expression text
    case-sensitively (and required identical spacing), leaving the
    select item unsubstituted and emitting a candidate that failed
    analysis. The match is now case-folded and whitespace-flexible,
    with a commit guard that falls back when any select item survives
    unsubstituted."""
    spark.createDataFrame(
        [("ab", 1), ("AB", 2), ("cd", 2), ("cd", 2), ("ef", 3)],
        "s string, v int",
    ).createOrReplaceTempView("rs_ci_t")
    df = at.sql(
        "SELECT substr(s,0,1) AS p, COUNT(*) AS n, "
        "GET_THETA_SKETCH_ESTIMATE(DISTINCT_COUNT_RAW_THETA_SKETCH(v)) AS dc "
        "FROM rs_ci_t GROUP BY SUBSTR(s , 0 , 1) ORDER BY p LIMIT 10"
    )
    assert [(r.p, r.n, r.dc) for r in df.collect()] == [
        ("A", 1, 1), ("a", 1, 1), ("c", 2, 1), ("e", 1, 1)
    ]
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "collect_set" not in plan and "MapInPandas" in plan
    # alias key written in a different case than the GROUP BY token
    df2 = at.sql(
        "SELECT UPPER(s) AS U, COUNT(*) AS n, GET_THETA_SKETCH_ESTIMATE("
        "DISTINCT_COUNT_RAW_THETA_SKETCH(v)) AS dc "
        "FROM rs_ci_t GROUP BY u ORDER BY u LIMIT 10"
    )
    assert [(r.U, r.n, r.dc) for r in df2.collect()] == [
        ("AB", 2, 2), ("CD", 2, 1), ("EF", 1, 1)
    ]
