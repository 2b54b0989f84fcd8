"""RAW-sketch aggregates in window position (dialect.py
_route_raw_sketch_windows): ``RAWNAME(args) OVER (PARTITION BY keys)``
computes the per-partition sketch via the bounded grouped routes in a
materialized subquery null-safe-joined back on the partition keys —
matching the reference's one-aggregation-state-per-partition window
semantics (pinot-query-runtime WindowAggregateOperator).

ORDER BY / framed windows (RUNNING raw sketches, round 11) route to
operators/running_sketch.py: per-value hash/pair tokens computed
JVM-side in a derived view, one shuffle on the partition keys, then a
sequential Arrow pass per group — RANGE frames share one blob across
peer rows (the SQL default ordered frame), ROWS frames advance per
row, and a running blob over a full partition is byte-identical to the
grouped route's blob for the same rows.  Sliding/shrinking frame
starts raise loudly: sketch states never retract.  Notably Spark
itself REJECTS ``COUNT(DISTINCT x) OVER (ORDER BY ...)``
(DISTINCT_WINDOW_FUNCTION_UNSUPPORTED) — a running theta sketch
serves that query shape exactly in the sub-k regime.

Theta is not routed: ``theta_sketch_agg`` is a native Spark aggregate,
so a theta window is a native Window over it, for every frame.  The
route shapes are checked with the integer-sum tuple sketch
(``_TUPLE_DC``), which counts its keys exactly below k.

Before round 10 this statement class died with Spark's misleading
MISSING_GROUP_BY (OVER cannot attach to the scalar-wrapped collect_set
the per-value fallbacks emit).
"""

from __future__ import annotations

import re

import pytest

from pinot_spark.catalog import load_tables
from pinot_spark.dialect import PinotEngine


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


_TUPLE_DC = "DISTINCT_COUNT_TUPLE_SKETCH(TO_INTEGER_SUM_TUPLE_SKETCH({}, 1))"
_THETA_WINDOW_RE = re.compile(
    r"GET_THETA_SKETCH_ESTIMATE\(\s*DISTINCT_COUNT_RAW_THETA_SKETCH\((\w+)\)"
    r"\s*(OVER\s*\((?:[^()]|\([^()]*\))*\))\)"
)


def _run_both(eng, stmt: str) -> dict[str, list]:
    """Rows of ``stmt`` (theta window estimates) as written — a native
    Window, no Python worker — and with every theta window swapped for
    the tuple sketch, which the raw-sketch window routes serve."""
    tuple_stmt = _THETA_WINDOW_RE.sub(
        lambda m: f"{_TUPLE_DC.format(m[1])} {m[2]}", stmt
    )
    assert tuple_stmt != stmt
    theta = eng.sql(stmt)
    plan = _plan(theta)
    assert "theta_sketch_agg" in plan, plan
    assert "Python" not in plan and "InPandas" not in plan, plan
    tup = eng.sql(tuple_stmt)
    assert "MapInArrow" in _plan(tup)
    return {"theta": theta.collect(), "tuple": tup.collect()}


@pytest.fixture()
def eng(spark, sf_dir):
    load_tables(spark, sf_dir)
    return PinotEngine(spark)


def test_raw_theta_partition_window_matches_grouped(spark, eng):
    """Every row carries its partition's sketch; estimates equal the
    grouped-route values joined back per row."""
    df = eng.sql(
        "SELECT n_name, n_regionkey, GET_THETA_SKETCH_ESTIMATE("
        "DISTINCT_COUNT_RAW_THETA_SKETCH(n_nationkey) "
        "OVER (PARTITION BY n_regionkey)) AS dc "
        "FROM nation ORDER BY n_name LIMIT 100"
    )
    got = {(r.n_name, r.n_regionkey): r.dc for r in df.collect()}
    expect = {
        (r.n_name, r.n_regionkey): float(r.dc)
        for r in spark.sql(
            "SELECT n.n_name, n.n_regionkey, g.dc FROM nation n JOIN ("
            "  SELECT n_regionkey, COUNT(DISTINCT n_nationkey) AS dc"
            "  FROM nation GROUP BY n_regionkey) g"
            " ON n.n_regionkey = g.n_regionkey"
        ).collect()
    }
    assert got == expect and len(got) == 25


def test_raw_theta_window_takes_zero_shuffle_subquery(spark, eng):
    """A theta partition window is a native Window over
    theta_sketch_agg, with no Python worker.  The materialized
    partition subquery of the raw-sketch families rides the zero-shuffle
    grouped route: no collect_set of hashes, no pmod bucket column,
    MapInArrow partials present."""
    theta = eng.sql(
        "SELECT n_name, GET_THETA_SKETCH_ESTIMATE("
        "DISTINCT_COUNT_RAW_THETA_SKETCH(n_nationkey) "
        "OVER (PARTITION BY n_regionkey)) AS dc "
        "FROM nation LIMIT 100"
    )
    tplan = _plan(theta)
    assert "Window [theta_sketch_agg" in tplan, tplan
    assert "Python" not in tplan and "InPandas" not in tplan, tplan
    df = eng.sql(
        f"SELECT n_name, {_TUPLE_DC.format('n_nationkey')} "
        "OVER (PARTITION BY n_regionkey) AS dc "
        "FROM nation LIMIT 100"
    )
    plan = _plan(df)
    assert "collect_set" not in plan, plan
    assert "pmod" not in plan, plan
    assert "MapInArrow" in plan, plan
    assert sorted(df.collect()) == sorted(theta.collect())


def test_raw_hll_window_plain_and_global(spark, eng):
    rows = eng.sql(
        "SELECT n_name, GETHLLESTIMATE(DISTINCTCOUNTRAWHLL(n_nationkey, 12) "
        "OVER (PARTITION BY n_regionkey)) AS e, "
        "GETHLLESTIMATE(DISTINCTCOUNTRAWHLL(n_nationkey, 12) OVER ()) AS g "
        "FROM nation ORDER BY n_name LIMIT 100"
    ).collect()
    assert len(rows) == 25
    assert all(r.e == 5 for r in rows)  # 5 nations per region
    assert all(r.g == 25 for r in rows)  # global frame sees all keys


def test_raw_tdigest_window_where_and_tail(spark, eng):
    """WHERE applies to both the window population and the outer rows;
    ORDER BY / LIMIT tails survive the rewrite."""
    rows = eng.sql(
        "SELECT o_orderkey, o_orderstatus, GETTDIGESTQUANTILE("
        "PERCENTILERAWTDIGEST(o_totalprice, 50) "
        "OVER (PARTITION BY o_orderstatus), 50) AS p50 "
        "FROM orders WHERE o_orderkey <= 1000 "
        "ORDER BY o_orderkey LIMIT 7"
    ).collect()
    assert len(rows) == 7
    assert all(r.o_orderkey <= 1000 for r in rows)
    exact = {
        r.o_orderstatus: r.m
        for r in spark.sql(
            "SELECT o_orderstatus, percentile(o_totalprice, 0.5) AS m "
            "FROM orders WHERE o_orderkey <= 1000 GROUP BY o_orderstatus"
        ).collect()
    }
    for r in rows:
        ref = exact[r.o_orderstatus]
        assert abs(r.p50 - ref) <= 0.1 * abs(ref) + 1e-9, (r, ref)


def test_raw_window_unbounded_frame_shapes_raise_loudly(eng):
    """Frame shapes with no bounded evaluation stay loud: value-based
    RANGE sliding (would need per-row binary search over retractions)
    and two-sided bounded frames (no streaming pass) raise by name;
    GROUPS frames are unsupported outright."""
    with pytest.raises(NotImplementedError, match="never retract"):
        eng.sql(
            "SELECT DISTINCTCOUNTRAWHLL(n_nationkey) "
            "OVER (PARTITION BY n_regionkey ORDER BY n_nationkey "
            "RANGE BETWEEN 3 PRECEDING AND CURRENT ROW) AS s FROM nation"
        )
    with pytest.raises(NotImplementedError, match="never retract"):
        eng.sql(
            "SELECT DISTINCTCOUNTRAWHLL(n_nationkey) "
            "OVER (ORDER BY n_nationkey ROWS BETWEEN 2 PRECEDING "
            "AND 2 FOLLOWING) AS s FROM nation"
        )
    with pytest.raises(NotImplementedError, match="GROUPS"):
        eng.sql(
            "SELECT DISTINCTCOUNTRAWHLL(n_nationkey) "
            "OVER (ORDER BY n_nationkey GROUPS BETWEEN UNBOUNDED "
            "PRECEDING AND CURRENT ROW) AS s FROM nation"
        )


def test_sliding_rows_frame_matches_exact(spark, eng):
    """Round 12: `ROWS N PRECEDING .. CURRENT ROW` sliding frames
    compute by per-row rebuild from the last N+1 token tuples.  In the
    sub-k regime the theta estimate equals Spark's own exact
    size(collect_set) over the identical sliding frame."""
    spark.createDataFrame(
        [(i % 3, i, i % 7) for i in range(60)] + [(None, 99, 5)],
        "g int, t int, v int",
    ).createOrReplaceTempView("slide_t")
    want = spark.sql(
        "SELECT g, t, size(collect_set(v) OVER (PARTITION BY g ORDER BY t "
        "ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)) AS d "
        "FROM slide_t ORDER BY g NULLS FIRST, t LIMIT 100"
    ).collect()
    want = [(r.g, r.t, r.d) for r in want]
    # the shorthand frame spelling `ROWS 3 PRECEDING` is the same frame
    for frame in ("ROWS BETWEEN 3 PRECEDING AND CURRENT ROW", "ROWS 3 PRECEDING"):
        for got in _run_both(
            eng,
            "SELECT g, t, CAST(GET_THETA_SKETCH_ESTIMATE("
            "DISTINCT_COUNT_RAW_THETA_SKETCH(v) OVER (PARTITION BY g ORDER BY t "
            f"{frame})) AS INT) AS d FROM slide_t ORDER BY g, t LIMIT 100",
        ).values():
            assert [(r.g, r.t, r.d) for r in got] == want


def test_sliding_full_width_blob_byte_identical_to_running(eng):
    """A sliding frame at least as wide as every partition IS the
    running ROWS frame — the per-row rebuilt blobs must be
    byte-identical to the streaming accumulator's (same tokens, same
    candidate truncation, same serializer)."""
    for raw in (
        "DISTINCT_COUNT_RAW_THETA_SKETCH(n_name)",
        "DISTINCT_COUNT_RAW_INTEGER_SUM_TUPLE_SKETCH("
        "TO_INTEGER_SUM_TUPLE_SKETCH(n_name, 1))",
    ):
        a, b = (
            eng.sql(
                f"SELECT n_nationkey, hex({raw} "
                "OVER (PARTITION BY n_regionkey ORDER BY n_nationkey "
                f"ROWS BETWEEN {start} PRECEDING AND CURRENT ROW)) AS b "
                "FROM nation ORDER BY n_nationkey LIMIT 100"
            ).collect()
            for start in ("1000", "UNBOUNDED")
        )
        assert [(r.n_nationkey, r.b) for r in a] == [
            (r.n_nationkey, r.b) for r in b
        ], raw


def test_shrinking_frame_matches_exact(spark, eng):
    """Round 12: `CURRENT ROW .. UNBOUNDED FOLLOWING` shrinking frames
    run as the running frame on the REVERSED order.  ROWS advances per
    row; RANGE shares one value across peers — both match Spark's exact
    size(collect_set) over the identical shrinking frame."""
    # ROWS needs a UNIQUE order key (tied rows make any ROWS frame
    # implementation-ordered); RANGE gets ties to prove peers share
    spark.createDataFrame(
        [(i % 2, i, i % 9) for i in range(40)],
        "g int, t int, v int",
    ).createOrReplaceTempView("shrink_rows_t")
    spark.createDataFrame(
        [(i % 2, i % 5, i % 9) for i in range(40)],
        "g int, t int, v int",
    ).createOrReplaceTempView("shrink_t")
    for frame_kw, view in (("ROWS", "shrink_rows_t"), ("RANGE", "shrink_t")):
        want = spark.sql(
            "SELECT g, t, v, size(collect_set(v) OVER ("
            f"PARTITION BY g ORDER BY t {frame_kw} BETWEEN CURRENT ROW "
            "AND UNBOUNDED FOLLOWING)) AS d "
            f"FROM {view} ORDER BY g, t, v LIMIT 100"
        ).collect()
        for form, got in _run_both(
            eng,
            "SELECT g, t, v, CAST(GET_THETA_SKETCH_ESTIMATE("
            "DISTINCT_COUNT_RAW_THETA_SKETCH(v) OVER ("
            f"PARTITION BY g ORDER BY t {frame_kw} BETWEEN CURRENT ROW "
            "AND UNBOUNDED FOLLOWING)) AS INT) AS d "
            f"FROM {view} ORDER BY g, t, v LIMIT 100",
        ).items():
            assert [tuple(r) for r in got] == [tuple(r) for r in want], (
                frame_kw, form
            )


def test_sliding_deque_spans_arrow_batches(spark, sf_dir):
    """The sliding token deque carries across Arrow batch boundaries:
    with 7-row batches, every frame that straddles a boundary still
    sees its full N+1 history (and group changes reset it)."""
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "7")
    try:
        load_tables(spark, sf_dir)
        eng2 = PinotEngine(spark)
        spark.createDataFrame(
            [(i % 2, i, i % 11) for i in range(50)],
            "g int, t int, v int",
        ).createOrReplaceTempView("slide_b_t")
        want = spark.sql(
            "SELECT g, t, size(collect_set(v) OVER (PARTITION BY g "
            "ORDER BY t ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)) AS d "
            "FROM slide_b_t ORDER BY g, t LIMIT 100"
        ).collect()
        for got in _run_both(
            eng2,
            "SELECT g, t, CAST(GET_THETA_SKETCH_ESTIMATE("
            "DISTINCT_COUNT_RAW_THETA_SKETCH(v) OVER ("
            "PARTITION BY g ORDER BY t "
            "ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)) AS INT) AS d "
            "FROM slide_b_t ORDER BY g, t LIMIT 100",
        ).values():
            assert [tuple(r) for r in got] == [tuple(r) for r in want]
    finally:
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")


def test_raw_window_non_canonical_raises_loudly(eng):
    with pytest.raises(NotImplementedError, match="canonical single-SELECT"):
        eng.sql(
            "SELECT n_regionkey, COUNT(*) AS n, "
            "DISTINCTCOUNTRAWHLL(n_nationkey) OVER () AS s "
            "FROM nation GROUP BY n_regionkey"
        )


def test_raw_call_without_over_unaffected(spark, eng):
    """A statement with a window fn elsewhere and a plain grouped raw
    call keeps the grouped routes (the window route must not fire)."""
    rows = eng.sql(
        "SELECT n_regionkey, GET_THETA_SKETCH_ESTIMATE("
        "DISTINCT_COUNT_RAW_THETA_SKETCH(n_nationkey)) AS dc "
        "FROM nation GROUP BY n_regionkey ORDER BY n_regionkey LIMIT 10"
    ).collect()
    assert [(r.n_regionkey, r.dc) for r in rows] == [
        (i, 5.0) for i in range(5)
    ]


def test_raw_window_multiline_leading_whitespace(spark, eng):
    """Triple-quoted / multiline SQL (leading whitespace + newlines)
    must rewrite cleanly: hit offsets are computed on the SAME string
    the replacements splice into.  Regression: offsets were computed
    on the unstripped text but spliced into ``.strip()``-ed text,
    desyncing every span and corrupting the statement."""
    for rows in _run_both(
        eng,
        """
        SELECT n_name,
               GET_THETA_SKETCH_ESTIMATE(
                 DISTINCT_COUNT_RAW_THETA_SKETCH(n_nationkey)
                 OVER (PARTITION BY n_regionkey)) AS dc
        FROM nation
        ORDER BY n_name
        LIMIT 100;
        """,
    ).values():
        assert len(rows) == 25
        assert all(r.dc == 5.0 for r in rows)


def test_raw_window_identical_over_bodies_share_one_subquery(spark, eng):
    """Two raw-window calls with the same (call, OVER body) share ONE
    materialized grouped subquery — one source scan, one LEFT JOIN —
    while a distinct OVER body still gets its own."""
    def _rswin_views():
        return {
            t.name
            for t in spark.catalog.listTables()
            if t.name.startswith("__rswin_")
        }

    before = _rswin_views()
    dc = _TUPLE_DC.format("n_nationkey")
    rows = eng.sql(
        f"SELECT n_name, {dc} OVER (PARTITION BY n_regionkey) AS a, "
        f"{dc} OVER (PARTITION BY n_regionkey) AS b, {dc} OVER () AS g "
        "FROM nation ORDER BY n_name LIMIT 100"
    ).collect()
    made = _rswin_views() - before
    assert len(made) == 2, f"expected 2 shared subqueries, created {sorted(made)}"
    assert len(rows) == 25
    assert all(r.a == 5.0 and r.b == 5.0 and r.g == 25.0 for r in rows)


# ---------------------------------------------------------------------------
# RUNNING (ORDER BY / framed) raw-sketch windows — round 11
# ---------------------------------------------------------------------------


@pytest.fixture()
def peers(spark):
    spark.sql(
        "SELECT * FROM VALUES (1, 10, 'a'), (1, 10, 'b'), (1, 20, 'b'), "
        "(1, 20, 'c'), (1, 30, 'a'), (2, 5, 'x'), (2, 7, NULL), (2, 9, 'y') "
        "AS t(k, ts, v)"
    ).createOrReplaceTempView("rswin_peers")


def test_running_theta_matches_spark_collect_set_window(spark, eng):
    """Default ordered frame (RANGE UNBOUNDED PRECEDING): the running
    theta estimate in the exact regime equals size(collect_set) OVER
    the same window — a query shape Spark itself cannot serve with
    COUNT(DISTINCT) (DISTINCT_WINDOW_FUNCTION_UNSUPPORTED).  Theta runs
    as a native Window; the tuple sketch takes the running route."""
    exp = spark.sql(
        "SELECT n_regionkey, n_nationkey, "
        "size(collect_set(n_name) OVER (PARTITION BY n_regionkey "
        "ORDER BY n_nationkey)) AS e "
        "FROM nation ORDER BY n_regionkey, n_nationkey"
    ).collect()
    for got in _run_both(
        eng,
        "SELECT n_regionkey, n_nationkey, GET_THETA_SKETCH_ESTIMATE("
        "DISTINCT_COUNT_RAW_THETA_SKETCH(n_name) "
        "OVER (PARTITION BY n_regionkey ORDER BY n_nationkey)) AS rdc "
        "FROM nation ORDER BY n_regionkey, n_nationkey LIMIT 100",
    ).values():
        assert len(got) == 25
        assert [(r.n_regionkey, r.n_nationkey, float(r.rdc)) for r in got] == [
            (r.n_regionkey, r.n_nationkey, float(r.e)) for r in exp
        ]


def test_running_range_peers_share_and_rows_advance(eng, peers):
    """RANGE peers (ties on every ORDER BY key) share one value; an
    explicit ROWS frame advances per row; NULL values don't count."""
    for rng in _run_both(
        eng,
        "SELECT k, ts, v, GET_THETA_SKETCH_ESTIMATE("
        "DISTINCT_COUNT_RAW_THETA_SKETCH(v) "
        "OVER (PARTITION BY k ORDER BY ts)) AS d "
        "FROM rswin_peers ORDER BY k, ts, v LIMIT 100",
    ).values():
        assert [(r.k, r.ts, r.d) for r in rng] == [
            (1, 10, 2.0), (1, 10, 2.0), (1, 20, 3.0), (1, 20, 3.0),
            (1, 30, 3.0), (2, 5, 1.0), (2, 7, 1.0), (2, 9, 2.0),
        ]
    for rows in _run_both(
        eng,
        "SELECT k, ts, v, GET_THETA_SKETCH_ESTIMATE("
        "DISTINCT_COUNT_RAW_THETA_SKETCH(v) "
        "OVER (PARTITION BY k ORDER BY ts, v "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS d "
        "FROM rswin_peers ORDER BY k, ts, v LIMIT 100",
    ).values():
        assert [(r.k, r.ts, r.d) for r in rows] == [
            (1, 10, 1.0), (1, 10, 2.0), (1, 20, 2.0), (1, 20, 3.0),
            (1, 30, 3.0), (2, 5, 1.0), (2, 7, 1.0), (2, 9, 2.0),
        ]


def test_running_final_blob_byte_identical_to_grouped(spark, eng):
    """The running blob on a partition's LAST row is byte-identical to
    the grouped blob for that partition — same hash domain, same
    accumulation rule, same serializer (clearspring HLL and the tuple
    sketch through the running route, theta natively on both sides)."""
    tup = "DISTINCT_COUNT_RAW_INTEGER_SUM_TUPLE_SKETCH(TO_INTEGER_SUM_TUPLE_SKETCH(n_name, 1))"
    run = eng.sql(
        "SELECT n_regionkey, n_nationkey, "
        "DISTINCT_COUNT_RAW_THETA_SKETCH(n_name) "
        "OVER (PARTITION BY n_regionkey ORDER BY n_nationkey) AS tb, "
        "DISTINCTCOUNTRAWHLL(n_name, 11) "
        "OVER (PARTITION BY n_regionkey ORDER BY n_nationkey) AS hb, "
        f"{tup} OVER (PARTITION BY n_regionkey ORDER BY n_nationkey) AS ub "
        "FROM nation ORDER BY n_regionkey, n_nationkey LIMIT 100"
    ).collect()
    last = {}
    for r in run:
        last[r.n_regionkey] = (bytes(r.tb), bytes(r.hb), bytes(r.ub))
    grp = eng.sql(
        "SELECT n_regionkey, DISTINCT_COUNT_RAW_THETA_SKETCH(n_name) AS tb, "
        f"DISTINCTCOUNTRAWHLL(n_name, 11) AS hb, {tup} AS ub "
        "FROM nation GROUP BY n_regionkey ORDER BY n_regionkey LIMIT 10"
    ).collect()
    assert len(grp) == 5
    for r in grp:
        assert last[r.n_regionkey] == (bytes(r.tb), bytes(r.hb), bytes(r.ub))


def test_running_hll_rows_global_window(eng):
    rows = eng.sql(
        "SELECT n_nationkey, GETHLLESTIMATE(DISTINCTCOUNTRAWHLL(n_name, 12) "
        "OVER (ORDER BY n_nationkey ROWS BETWEEN UNBOUNDED PRECEDING AND "
        "CURRENT ROW)) AS h FROM nation ORDER BY n_nationkey LIMIT 100"
    ).collect()
    assert [r.h for r in rows] == list(range(1, 26))


def test_running_desc_and_nulls(spark, eng):
    """DESC order runs the accumulation in reverse; explicit NULLS
    FIRST puts null-keyed rows at the prefix start."""
    spark.sql(
        "SELECT * FROM VALUES (1, 'a'), (2, 'b'), (NULL, 'c'), (3, 'a') "
        "AS t(ts, v)"
    ).createOrReplaceTempView("rswin_nulls")
    for rows in _run_both(
        eng,
        "SELECT ts, GET_THETA_SKETCH_ESTIMATE("
        "DISTINCT_COUNT_RAW_THETA_SKETCH(v) "
        "OVER (ORDER BY ts DESC NULLS FIRST)) AS d "
        "FROM rswin_nulls ORDER BY d, ts LIMIT 100",
    ).values():
        # prefix order: NULL('c') -> 3('a') -> 2('b') -> 1('a')
        got = {(r.ts, r.d) for r in rows}
        assert got == {(None, 1.0), (3, 2.0), (2, 3.0), (1, 3.0)}


def test_running_null_numeric_key_spans_arrow_batches(spark, eng):
    """The cross-batch group-change check must treat a NULL partition
    key as equal to the NULL before it, or the accumulator resets
    mid-partition at every Arrow batch boundary (silently-wrong running
    values at scale), and must tell BIGINT keys past 2^53 apart when a
    NULL shares their batch.  Force tiny batches so each partition
    definitely spans several.
    """
    n = 12
    rows_sql = ", ".join(
        f"(CAST(NULL AS INT), {t}, 'v{t}')" for t in range(1, n + 1)
    )
    spark.sql(
        f"SELECT * FROM VALUES {rows_sql} AS t(k, ts, v)"
    ).createOrReplaceTempView("rswin_nullkey")
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "4")
    try:
        both = _run_both(
            eng,
            "SELECT ts, GET_THETA_SKETCH_ESTIMATE("
            "DISTINCT_COUNT_RAW_THETA_SKETCH(v) "
            "OVER (PARTITION BY k ORDER BY ts "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS d "
            "FROM rswin_nullkey ORDER BY ts LIMIT 100",
        )
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        else:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
    for rows in both.values():
        assert [r.d for r in rows] == [float(i) for i in range(1, n + 1)]
    # BIGINT partition keys past 2^53 next to a NULL key: each partition
    # restarts its count, and the pass-through BIGINT columns (keys and
    # a value with NULLs) keep all 64 bits
    big = 2**60
    rows_sql = ", ".join(
        f"(CAST({'NULL' if t % 3 == 0 else big + t % 3} AS BIGINT), {t}, "
        f"'v{t}', CAST({'NULL' if t % 4 == 0 else big + t} AS BIGINT))"
        for t in range(1, n + 1)
    )
    spark.sql(
        f"SELECT * FROM VALUES {rows_sql} AS t(k, ts, v, x)"
    ).createOrReplaceTempView("rswin_bigkey")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "4")
    try:
        both = _run_both(
            eng,
            "SELECT ts, k, x, GET_THETA_SKETCH_ESTIMATE("
            "DISTINCT_COUNT_RAW_THETA_SKETCH(v) "
            "OVER (PARTITION BY k ORDER BY ts "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS d "
            "FROM rswin_bigkey ORDER BY ts LIMIT 100",
        )
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        else:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
    want = [
        (
            t,
            None if t % 3 == 0 else big + t % 3,
            None if t % 4 == 0 else big + t,
            float((t - 1) // 3 + 1),
        )
        for t in range(1, n + 1)
    ]
    for rows in both.values():
        assert [(r.ts, r.k, r.x, r.d) for r in rows] == want


def test_running_unbounded_both_frame_is_partition_value(eng):
    """UNBOUNDED PRECEDING .. UNBOUNDED FOLLOWING on an ordered window
    = the whole-partition sketch on every row."""
    for rows in _run_both(
        eng,
        "SELECT n_nationkey, GET_THETA_SKETCH_ESTIMATE("
        "DISTINCT_COUNT_RAW_THETA_SKETCH(n_name) "
        "OVER (PARTITION BY n_regionkey ORDER BY n_nationkey "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)) AS d "
        "FROM nation ORDER BY n_nationkey LIMIT 100",
    ).values():
        assert len(rows) == 25 and all(r.d == 5.0 for r in rows)


def test_running_families_execute(spark, eng):
    """Every running-capable family yields sane prefix values: ULL,
    HLL++, frequent strings/longs, and the raw percentile trio."""
    q = (
        "SELECT n_nationkey, "
        "GETULLESTIMATE(DISTINCTCOUNTRAWULL(n_name, 12) "
        "OVER (ORDER BY n_nationkey)) AS ull, "
        "GETHLLESTIMATE(DISTINCTCOUNTRAWHLLPLUS(n_name, 14) "
        "OVER (ORDER BY n_nationkey)) AS hpp, "
        "FREQUENTSTRINGSESTIMATE(FREQUENTSTRINGSSKETCH(n_name, 64) "
        "OVER (ORDER BY n_nationkey), n_name) AS fs, "
        "FREQUENTLONGSESTIMATE(FREQUENTLONGSSKETCH(n_regionkey, 64) "
        "OVER (ORDER BY n_nationkey), n_regionkey) AS fl, "
        "GETTDIGESTQUANTILE(PERCENTILERAWTDIGEST(n_nationkey, 50) "
        "OVER (ORDER BY n_nationkey), 100) AS pmax "
        "FROM nation ORDER BY n_nationkey LIMIT 100"
    )
    rows = eng.sql(q).collect()
    assert len(rows) == 25
    final = rows[-1]
    assert final.ull == 25 and final.hpp == 25
    # every name seen exactly once; each region key seen 5x by the end
    assert all(r.fs == 1 for r in rows)
    assert final.fl == 5
    # running max percentile == the prefix's own max key
    assert all(abs(r.pmax - r.n_nationkey) < 1e-9 for r in rows)


def test_running_tuple_sketch_family(spark, eng):
    """The tuple names run over a serialized-sketch column: running
    merge-sum with estimate/sum/avg extraction at each prefix."""
    eng.sql(
        "SELECT n_nationkey, n_regionkey, "
        "TOINTEGERSUMTUPLESKETCH(n_name, n_nationkey, 12) AS ts "
        "FROM nation LIMIT 100"
    ).createOrReplaceTempView("rswin_tuple")
    rows = eng.sql(
        "SELECT n_nationkey, "
        "DISTINCTCOUNTTUPLESKETCH(ts) OVER (ORDER BY n_nationkey) AS dc, "
        "SUMVALUESINTEGERSUMTUPLESKETCH(ts) OVER (ORDER BY n_nationkey) AS sv "
        "FROM rswin_tuple ORDER BY n_nationkey LIMIT 100"
    ).collect()
    assert [r.dc for r in rows] == list(range(1, 26))
    assert [r.sv for r in rows] == [sum(range(i + 1)) for i in range(25)]


def test_running_identical_windows_share_one_column(spark, eng):
    """Identical (call, OVER body) pairs share one running column and
    one derived view; a distinct OVER body gets its own column in the
    SAME view (one source scan total)."""
    def _rsrun_views():
        return {
            t.name
            for t in spark.catalog.listTables()
            if t.name.startswith("__rsrun_")
        }

    before = _rsrun_views()
    dc = _TUPLE_DC.format("n_name")
    rows = eng.sql(
        f"SELECT n_nationkey, {dc} OVER (ORDER BY n_nationkey) AS a, "
        f"{dc} OVER (ORDER BY n_nationkey) AS b, "
        f"{dc} OVER (PARTITION BY n_regionkey ORDER BY n_nationkey) AS c "
        "FROM nation ORDER BY n_nationkey LIMIT 100"
    ).collect()
    made = _rsrun_views() - before
    assert len(made) == 1, f"expected one derived view, created {sorted(made)}"
    view_cols = [
        c for c in spark.table(next(iter(made))).columns
        if c.startswith("__rswr_")
    ]
    assert len(view_cols) == 2, view_cols
    assert all(r.a == r.b for r in rows)
    assert rows[-1].a == 25.0 and rows[-1].c == 5.0


def test_running_where_applies_and_mixes_with_unbounded(spark, eng):
    """WHERE bounds the running population; a partition-unbounded raw
    window in the same statement still routes through the grouped
    LEFT-JOIN path on reentry."""
    for rows in _run_both(
        eng,
        "SELECT n_nationkey, "
        "GET_THETA_SKETCH_ESTIMATE(DISTINCT_COUNT_RAW_THETA_SKETCH(n_name) "
        "OVER (ORDER BY n_nationkey)) AS run, "
        "GET_THETA_SKETCH_ESTIMATE(DISTINCT_COUNT_RAW_THETA_SKETCH(n_name) "
        "OVER (PARTITION BY n_regionkey)) AS part "
        "FROM nation WHERE n_nationkey < 10 "
        "ORDER BY n_nationkey LIMIT 100",
    ).values():
        assert len(rows) == 10
        assert [r.run for r in rows] == [float(i + 1) for i in range(10)]
    # partition sketches also see only the filtered population
    expect = {}
    for r in spark.sql(
        "SELECT n_regionkey, COUNT(DISTINCT n_name) AS d FROM nation "
        "WHERE n_nationkey < 10 GROUP BY n_regionkey"
    ).collect():
        expect[r.n_regionkey] = float(r.d)
    per_region = {
        r.n_regionkey: None
        for r in spark.sql("SELECT n_regionkey FROM nation").collect()
    }
    for got in _run_both(
        eng,
        "SELECT n_regionkey, GET_THETA_SKETCH_ESTIMATE("
        "DISTINCT_COUNT_RAW_THETA_SKETCH(n_name) "
        "OVER (PARTITION BY n_regionkey)) AS p "
        "FROM nation WHERE n_nationkey < 10 ORDER BY n_regionkey LIMIT 100",
    ).values():
        for r in got:
            assert r.p == expect[r.n_regionkey]


def test_running_hll_mv_and_percentile_mv(spark, eng):
    """MV running variants absorb every array element per row."""
    spark.sql(
        "SELECT * FROM VALUES (1, array('a','b'), array(1.0, 2.0)), "
        "(2, array('b','c'), array(3.0)), (3, array(NULL, 'd'), NULL) "
        "AS t(ts, sv, dv)"
    ).createOrReplaceTempView("rswin_mv")
    rows = eng.sql(
        "SELECT ts, GETHLLESTIMATE(DISTINCTCOUNTRAWHLLMV(sv, 12) "
        "OVER (ORDER BY ts)) AS h, "
        "GETTDIGESTQUANTILE(PERCENTILERAWTDIGESTMV(dv, 50) "
        "OVER (ORDER BY ts), 100) AS pmax "
        "FROM rswin_mv ORDER BY ts LIMIT 100"
    ).collect()
    assert [r.h for r in rows] == [2, 3, 4]
    assert [r.pmax for r in rows] == [2.0, 3.0, 3.0]


def test_running_view_plan_single_hash_exchange(spark, eng):
    """Scale gate for the running route's derived view: exactly ONE
    Exchange, and it hash-partitions on the PARTITION BY key (the same
    requirement Spark's own WindowExec imposes) — in particular NO
    Exchange SinglePartition (a default-LIMIT guard once planned
    GlobalLimit + a single-partition funnel of every row), and the
    only Python stage is the one sequential FlatMapGroupsInPandas."""
    before = {
        t.name
        for t in spark.catalog.listTables()
        if t.name.startswith("__rsrun_")
    }
    eng.sql(
        f"SELECT o_orderkey, {_TUPLE_DC.format('o_custkey')} "
        "OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey) AS rc "
        "FROM orders ORDER BY o_orderkey LIMIT 10"
    ).collect()
    made = {
        t.name
        for t in spark.catalog.listTables()
        if t.name.startswith("__rsrun_")
    } - before
    plan = _plan(spark.table(next(iter(made))))
    assert plan.count("Exchange") == 1, plan
    assert "SinglePartition" not in plan, plan
    assert "hashpartitioning" in plan, plan
    # the STREAMING runner: one MapInArrow above a JVM Sort — NOT
    # FlatMapGroupsInPandas, which would materialize each group as a
    # single Arrow batch (~1 GB for a 30k-row partition of 32 KB blobs;
    # blew the direct-memory cap at sf0.1)
    assert plan.count("MapInArrow") == 1, plan
    assert "FlatMapGroupsInPandas" not in plan, plan
    assert "Sort " in plan or "Sort[" in plan or "+- Sort" in plan, plan
    assert "GlobalLimit" not in plan, plan


def test_running_and_partition_cpc_windows(spark, eng):
    """CPC sketches in window position (round 11): the partition-
    unbounded form rides the grouped LEFT-JOIN route; the running form
    accumulates the bounded coupon domain and emits CpcUnion-result
    bytes per prefix — GETCPCSKETCHESTIMATE reads both."""
    rows = eng.sql(
        "SELECT n_nationkey, "
        "GETCPCSKETCHESTIMATE(DISTINCTCOUNTRAWCPCSKETCH(n_name, 11) "
        "OVER (PARTITION BY n_regionkey)) AS part_dc, "
        "GETCPCSKETCHESTIMATE(DISTINCTCOUNTRAWCPCSKETCH(n_name, 11) "
        "OVER (ORDER BY n_nationkey)) AS run_dc, "
        "DISTINCTCOUNTCPCSKETCH(n_name, 11) "
        "OVER (ORDER BY n_nationkey) AS run_est "
        "FROM nation ORDER BY n_nationkey LIMIT 100"
    ).collect()
    assert len(rows) == 25
    assert all(r.part_dc == 5 for r in rows)
    assert [r.run_dc for r in rows] == list(range(1, 26))
    assert [r.run_est for r in rows] == list(range(1, 26))


def test_partition_window_many_groups_no_limit_no_funnel(spark, eng):
    """The unbounded-window grouped subquery must materialize EVERY
    partition group (regression: the dialect's selection default
    LIMIT 10 once threatened to truncate the derived table, and the
    giant-LIMIT guard that prevented it planned GlobalLimit + an
    Exchange SinglePartition funneling every group through one
    partition — now the engine suppresses the injection on the
    internal path instead)."""
    before = {
        t.name
        for t in spark.catalog.listTables()
        if t.name.startswith("__rswin_")
    }
    rows = eng.sql(
        f"SELECT o_orderkey, {_TUPLE_DC.format('o_orderpriority')} "
        "OVER (PARTITION BY MOD(o_custkey, 37)) AS d "
        "FROM orders ORDER BY o_orderkey LIMIT 2000"
    ).collect()
    made = {
        t.name
        for t in spark.catalog.listTables()
        if t.name.startswith("__rswin_")
    } - before
    assert all(r.d is not None and r.d >= 1 for r in rows)
    view = spark.table(next(iter(made)))
    assert view.count() == 37
    plan = _plan(view)
    assert "GlobalLimit" not in plan, plan
    assert "SinglePartition" not in plan, plan
    # user-facing selections keep the Pinot default LIMIT 10
    assert eng.sql("SELECT o_orderkey FROM orders").count() == 10
