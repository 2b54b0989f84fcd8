"""functions/sketches.py: theta singletons, the integer tuple sketch
family (engine-own wire format), avgReduce, geo converters, and the
loud DataSketches-wire boundary."""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F
import pytest

from pinot_spark.functions.scalar import call
from pinot_spark.functions.sketches import TupleSketch
from pinot_spark.operators.theta import ThetaSketch


@pytest.fixture(scope="module")
def kv(spark):
    return spark.createDataFrame(
        [("a", 1), ("b", 2), ("a", 3), (None, 4)], "k string, v int"
    )


def test_theta_singleton_and_tostring(spark, kv):
    rows = kv.select(call("tothetasketch", F.col("k")).alias("ts")).collect()
    sks = [ThetaSketch.from_bytes(bytes(r.ts)) for r in rows]
    # null key -> empty sketch; duplicate key -> identical singleton
    assert [len(s.hashes) for s in sks] == [1, 1, 1, 0]
    assert sks[0].hashes[0] == sks[2].hashes[0] != sks[1].hashes[0]
    acc = sks[0]
    for s in sks[1:]:
        acc = acc.union(s)
    assert acc.estimate() == 2.0
    txt = kv.limit(1).select(
        call("thetasketchtostring", call("tothetasketch", F.lit("x"))).alias("s")
    ).collect()[0].s
    assert "retained=1" in txt and txt.startswith("ThetaSketch(")


def test_singleton_hash_exact_with_null_in_batch(spark):
    """TO_THETA_SKETCH / TO_INTEGER_SUM_TUPLE_SKETCH keep every bit of
    the hash and the value when a NULL shares the Arrow batch (one
    partition here, at any core count), on both surfaces."""
    from pinot_spark.dialect import PinotEngine

    big = 2**60 + 3  # not representable in float64
    df = spark.createDataFrame(
        [("a", big), ("b", 2), ("a", 3), (None, 4)], "k string, v bigint"
    ).coalesce(1)
    h = spark.sql("SELECT xxhash64('a') AS h").collect()[0].h
    want = (h % 2**64) ^ (1 << 63)
    df.createOrReplaceTempView("singleton_null_batch")
    sql_rows = PinotEngine(spark).sql(
        "SELECT TO_THETA_SKETCH(k) AS t, TO_INTEGER_SUM_TUPLE_SKETCH(k, v) AS u "
        "FROM singleton_null_batch"
    ).collect()
    col_rows = df.select(
        call("tothetasketch", F.col("k")).alias("t"),
        call("tointegersumtuplesketch", F.col("k"), F.col("v")).alias("u"),
    ).collect()
    for rows in (sql_rows, col_rows):
        thetas = [ThetaSketch.from_bytes(bytes(r.t)) for r in rows]
        tuples = [TupleSketch.from_bytes(bytes(r.u)) for r in rows]
        assert int(thetas[0].hashes[0]) == int(thetas[2].hashes[0]) == want
        assert int(tuples[0].hashes[0]) == want
        assert int(tuples[0].values[0]) == big
        assert len(thetas[3].hashes) == 0 and len(tuples[3].hashes) == 0


def test_tuple_sketch_union_modes(spark, kv):
    rows = kv.select(
        call("tointegersumtuplesketch", F.col("k"), F.col("v")).alias("ts")
    ).collect()
    sks = [TupleSketch.from_bytes(bytes(r.ts)) for r in rows]
    acc = sks[0]
    for s in sks[1:]:
        acc = acc.union(s, mode=lambda a, b: a + b)
    # a -> 1+3, b -> 2; null key contributed an empty sketch
    assert round(acc.estimate()) == 2
    assert sorted(acc.values.tolist()) == [2, 4]

    def pair(fn_name, v1, v2):
        b = kv.limit(1).select(
            call(fn_name,
                 call("tointegersumtuplesketch", F.lit("x"), F.lit(v1)),
                 call("tointegersumtuplesketch", F.lit("x"), F.lit(v2))).alias("b")
        ).collect()[0].b
        return TupleSketch.from_bytes(bytes(b))

    assert pair("intsumtuplesketchunion", 5, 7).values.tolist() == [12]
    assert pair("intmintuplesketchunion", 5, 7).values.tolist() == [5]
    assert pair("intmaxtuplesketchunion", 5, 7).values.tolist() == [7]
    assert pair("intsumtuplesketchintersect", 5, 7).values.tolist() == [12]
    assert pair("intsumtuplesketchdiff", 5, 7).estimate() == 0.0


def test_tuple_sketch_estimate_and_roundtrip(spark, kv):
    est = kv.limit(1).select(
        call("getinttuplesketchestimate",
             call("intsumtuplesketchunion",
                  call("tointegersumtuplesketch", F.lit("x"), F.lit(5)),
                  call("tointegersumtuplesketch", F.lit("y"), F.lit(7)))).alias("e")
    ).collect()[0].e
    assert est == 2
    s = TupleSketch(
        16, 2**64,
        np.array([3, 9], dtype=np.uint64),
        np.array([10, -2], dtype=np.int64),
    )
    back = TupleSketch.from_bytes(s.to_bytes())
    assert back.k == 16 and back.theta_u64 == 2**64
    assert back.hashes.tolist() == [3, 9] and back.values.tolist() == [10, -2]


def test_tuple_sketch_truncation():
    # k=4: union of 6 singletons keeps the 4 smallest hashes, theta = 5th
    sks = [TupleSketch.singleton(4, h, 1) for h in (10, 20, 30, 40, 50, 60)]
    acc = sks[0]
    for s in sks[1:]:
        acc = acc.union(s, mode=lambda a, b: a + b)
    assert len(acc.hashes) == 4 and acc.theta_u64 == 50
    assert acc.estimate() == pytest.approx(4 / (50 / 2**64), rel=1e-9)


def test_avg_reduce(spark, kv):
    row = kv.limit(1).select(
        call("avgreduce", F.lit(10.0), F.lit(4)).alias("a"),
        call("avgreduce", F.lit(10.0), F.lit(0)).alias("b"),
        call("avgreduce", F.lit(None).cast("double"), F.lit(3)).alias("c"),
    ).collect()[0]
    assert (row.a, row.b, row.c) == (2.5, None, None)


def test_geo_converters_identity(spark, kv):
    from pinot_spark.functions.wkb import wkt_to_wkb

    b = wkt_to_wkb("POINT (1 2)")
    row = spark.createDataFrame([(bytearray(b),)], "g binary").select(
        call("togeometry", call("tosphericalgeography", F.col("g"))).alias("g2")
    ).collect()[0]
    assert bytes(row.g2) == b


def test_datasketches_wire_boundary_raises():
    for name in ("fromull", "cpcsketchtostring"):
        with pytest.raises(NotImplementedError, match="wire"):
            call(name, F.lit("x"))


_BIG = 2**60 + 1  # not representable in float64


def test_singleton_builders_keep_bigint_bits_with_null_in_batch(spark):
    """A BIGINT past 2^53 builds the same singleton bytes whether or not
    a NULL shares its Arrow batch (one partition, at any core count),
    on both surfaces."""
    from pinot_spark.dialect import PinotEngine

    sql_exprs = {
        "th": "TO_DATASKETCHES_THETA(v)",
        "hll": "TOHLL(v)",
        "hpp": "TO_CLEARSPRING_HLL_PLUS(v)",
        "cpc": "TO_CPC_SKETCH(v)",
    }
    col_exprs = {
        "th": call("todatasketchestheta", F.col("v")),
        "hll": call("tohll", F.col("v")),
        "cpc": call("tocpcsketch", F.col("v")),
    }
    eng = PinotEngine(spark)
    got = []
    for rows in ([(_BIG,)], [(_BIG,), (None,)]):
        df = spark.createDataFrame(rows, "v bigint").coalesce(1)
        df.createOrReplaceTempView("big_null_batch")
        sql_row = eng.sql(
            "SELECT " + ", ".join(f"{e} AS {n}" for n, e in sql_exprs.items())
            + " FROM big_null_batch"
        ).collect()[0]
        col_row = df.select(*[c.alias(n) for n, c in col_exprs.items()]).collect()[0]
        got.append((sql_row.asDict(), col_row.asDict()))
    assert got[1] == got[0]
    assert got[0][1] == {n: got[0][0][n] for n in col_exprs}


def test_column_tuple_readers_take_datasketches_tuple_bytes(spark):
    """The Column tuple readers detect DataSketches tuple bytes like the
    SQL ones; modes those bytes do not carry raise by name."""
    df = spark.createDataFrame([("a", 3)], "k string, v int")
    ds = call("todatasketchestuple", F.col("k"), F.col("v"))
    other = call("todatasketchestuple", F.lit("b"), F.lit(1))
    row = df.select(
        call("getinttuplesketchestimate", ds).alias("e"),
        call("getinttuplesketchestimate", call("intsumtuplesketchunion", ds, other)).alias("u"),
    ).collect()[0]
    assert (row.e, row.u) == (1, 2)
    with pytest.raises(Exception, match="union in min mode"):
        df.select(call("intmintuplesketchunion", ds, other)).collect()


def test_sketch_scalars_match_across_surfaces(spark):
    """Every sketch scalar name both surfaces serve gives the same bytes
    on the Column and the SQL surface, over a NULL and a BIGINT past
    2^53 in one partition."""
    from pinot_spark.dialect import FUNCTION_MAP, PinotEngine
    from pinot_spark.functions import sketches
    from pinot_spark.functions.scalar import SCALAR_FUNCTIONS

    k, v, d, n = (F.col(c) for c in "kvdn")
    cases = {
        "tothetasketch": ("TO_THETA_SKETCH(v)", call("tothetasketch", v)),
        "thetasketchtostring": (
            "THETA_SKETCH_TO_STRING(TO_THETA_SKETCH(k))",
            call("thetasketchtostring", call("tothetasketch", k)),
        ),
        "todatasketchestheta": ("TO_DATASKETCHES_THETA(d)", call("todatasketchestheta", d)),
        "todatasketchestuple": ("TO_DATASKETCHES_TUPLE(v, n)", call("todatasketchestuple", v, n)),
        "tointegersumtuplesketch": (
            "TO_INTEGER_SUM_TUPLE_SKETCH(k, v)", call("tointegersumtuplesketch", k, v)
        ),
        "intsumtuplesketchunion": (
            "INT_SUM_TUPLE_SKETCH_UNION(TO_INTEGER_SUM_TUPLE_SKETCH(k, v), "
            "TO_INTEGER_SUM_TUPLE_SKETCH(v, n))",
            call("intsumtuplesketchunion", call("tointegersumtuplesketch", k, v),
                 call("tointegersumtuplesketch", v, n)),
        ),
        "intsumtuplesketchintersect": (
            "INT_SUM_TUPLE_SKETCH_INTERSECT(TO_INTEGER_SUM_TUPLE_SKETCH(k, v), "
            "TO_INTEGER_SUM_TUPLE_SKETCH(k, n))",
            call("intsumtuplesketchintersect", call("tointegersumtuplesketch", k, v),
                 call("tointegersumtuplesketch", k, n)),
        ),
        "getinttuplesketchestimate": (
            "GET_INT_TUPLE_SKETCH_ESTIMATE(TO_DATASKETCHES_TUPLE(v, n))",
            call("getinttuplesketchestimate", call("todatasketchestuple", v, n)),
        ),
        "tocpcsketch": ("TO_CPC_SKETCH(v)", call("tocpcsketch", v)),
        "getcpcsketchestimate": (
            "GET_CPC_SKETCH_ESTIMATE(TO_CPC_SKETCH(d))",
            call("getcpcsketchestimate", call("tocpcsketch", d)),
        ),
        "cpcsketchunion": (
            "CPC_SKETCH_UNION(TO_CPC_SKETCH(v), TO_CPC_SKETCH(k))",
            call("cpcsketchunion", call("tocpcsketch", v), call("tocpcsketch", k)),
        ),
        "tohll": ("TOHLL(v)", call("tohll", v)),
        "toull": ("TOULL(v)", call("toull", v)),
    }
    both = {
        name
        for name, fn in SCALAR_FUNCTIONS.items()
        if fn.__module__ == sketches.__name__ and name in FUNCTION_MAP
    }
    assert set(cases) == both - {"fromull"}  # FROMULL raises on both
    df = spark.createDataFrame(
        [("a", _BIG, 1.5, 3), (None, None, None, None), ("b", 7, -2.0, 4)],
        "k string, v bigint, d double, n int",
    ).coalesce(1)
    df.createOrReplaceTempView("sketch_parity_t")
    names = list(cases)
    sql_rows = PinotEngine(spark).sql(
        "SELECT " + ", ".join(f"{cases[c][0]} AS {c}" for c in names)
        + " FROM sketch_parity_t"
    ).collect()
    col_rows = df.select(*[cases[c][1].alias(c) for c in names]).collect()
    assert [r.asDict() for r in col_rows] == [r.asDict() for r in sql_rows]
    assert sql_rows[1].tothetasketch != sql_rows[0].tothetasketch


def test_cpc_registry_functions_execute(spark):
    """tocpcsketch / getcpcsketchestimate / cpcsketchunion retired
    their wire-gap registry entries in round 11 (operators/ds_cpc.py):
    singletons are byte-identical to SketchFunctions.toCpcSketch and
    unions reproduce CpcUnion.getResult."""
    from pinot_spark.operators.ds_cpc import DsCpcSketch

    row = (
        spark.range(1)
        .select(
            call("tocpcsketch", F.lit("k1")).alias("a"),
            call(
                "getcpcsketchestimate",
                call(
                    "cpcsketchunion",
                    call("tocpcsketch", F.lit("k1")),
                    call("tocpcsketch", F.lit("k2")),
                ),
            ).alias("e"),
        )
        .collect()[0]
    )
    want = DsCpcSketch(12)
    want.update_str("k1")
    assert bytes(row.a) == want.serialize()
    assert row.e == 2


def test_tohll_singleton_and_merge(spark, kv):
    """toHLL emits the reference's ACTUAL clearspring stream-lib bytes
    since round 11 (operators/cs_hll.py); singletons merge into the
    per-key distinct count."""
    from pinot_spark.operators.cs_hll import CsHll as HllSketch

    rows = kv.select(call("tohll", F.col("k")).alias("b")).collect()
    sks = [HllSketch.parse(bytes(r.b)) for r in rows]
    acc = sks[0]
    for s in sks[1:]:
        acc = acc.merge(s)
    # keys a, b, a, NULL -> 2 distinct; NULL contributes an empty sketch
    assert acc.cardinality() == 2
    assert int(sks[3].registers.sum()) == 0  # NULL -> empty


def test_hll_accuracy_and_roundtrip():
    import numpy as np

    from pinot_spark.operators.hll import HllSketch

    rng = np.random.default_rng(11)
    h = rng.integers(0, 2**64, size=50000, dtype=np.uint64)
    s = HllSketch.from_hashes(h)
    assert abs(s.estimate() - 50000) / 50000 < 0.05  # 3 sigma at log2m=12
    back = HllSketch.from_bytes(s.to_bytes())
    assert np.array_equal(back.registers, s.registers)
    # merge of overlapping halves equals the whole
    a, b = HllSketch.from_hashes(h[:30000]), HllSketch.from_hashes(h[20000:])
    assert np.array_equal(a.merge(b).registers, s.registers)


def test_raw_hll_sql_bytes_match_from_hashes(spark):
    """DISTINCTCOUNTRAWHLL emits the reference's ACTUAL wire bytes
    (round 11): a clearspring stream-lib HyperLogLog byte-identical to
    a flat Java-semantics build over the same values — the serialization
    ObjectSerDeUtils.HYPER_LOG_LOG_SER_DE ships."""
    from pinot_spark.dialect import PinotEngine
    from pinot_spark.operators.cs_hll import CsHll

    df = spark.range(0, 5000).selectExpr(
        "CASE WHEN id % 50 = 0 THEN NULL ELSE CAST((id * 37) % 1500 AS STRING) END AS v"
    )
    df.createOrReplaceTempView("hll_bytes_t")
    eng = PinotEngine(spark, default_limit=1000)
    values = [r.v for r in df.where("v IS NOT NULL").collect()]
    for log2m in (8, 12):
        got = bytes(
            eng.sql(
                f"SELECT DISTINCTCOUNTRAWHLL(v, {log2m}) AS b FROM hll_bytes_t"
            ).collect()[0].b
        )
        want = CsHll.empty(log2m)
        for v in values:
            want.offer(v)
        assert got == want.serialize()


def test_engine_own_hll_blobs_stay_readable(spark):
    """SQL builds only clearspring HLL bytes, but engine-own blobs
    (operators/hll.py) stored by older builds must still estimate and
    union through SQL, and must still refuse to merge with clearspring
    bytes (different hash domains)."""
    from pinot_spark.dialect import PinotEngine
    from pinot_spark.operators.hll import HllSketch

    rng = np.random.default_rng(4)
    eng = PinotEngine(spark, default_limit=1000)
    for log2m in (8, 12):
        h = rng.integers(0, 2**64, size=3000, dtype=np.uint64)
        a = HllSketch.from_hashes(h[:2000], log2m)
        b = HllSketch.from_hashes(h[1000:], log2m)
        row = eng.sql(
            f"SELECT GETHLLESTIMATE(X'{a.to_bytes().hex()}') AS e, "
            f"HLLUNION(X'{a.to_bytes().hex()}', X'{b.to_bytes().hex()}') AS u"
        ).collect()[0]
        assert row.e == round(a.estimate())
        assert bytes(row.u) == a.merge(b).to_bytes()
    with pytest.raises(Exception, match="mixed sketch domains"):
        eng.sql(
            f"SELECT HLLUNION(TOCLEARSPRINGHLL('a'), X'{a.to_bytes().hex()}') AS x"
        ).collect()


def test_theta_value_build_exact_below_k(spark):
    """Non-raw DISTINCTCOUNTTHETASKETCH over VALUES is exact below
    nominalEntries — Pinot returns Math.round(getEstimate()) and a theta
    sketch under k retains every hash
    (DistinctCountThetaSketchAggregationFunction.java).  Previously
    mapped to approx_count_distinct (an HLL), which errs even at 9
    distinct values (returned 8 for this fixture)."""
    from pinot_spark.dialect import PinotEngine

    vals = [1056, 1216, 1376, 1456, 2016, 2176, 2336, 2896, 3616, 1056, 1216]
    spark.createDataFrame([(v, v % 3) for v in vals], "v int, g int") \
        .createOrReplaceTempView("theta_vals_t")
    eng = PinotEngine(spark, default_limit=1000)
    assert eng.sql(
        "SELECT DISTINCTCOUNTTHETASKETCH(v) AS dc FROM theta_vals_t"
    ).collect()[0].dc == 9
    got = {
        r.g: r.dc
        for r in eng.sql(
            "SELECT g, DISTINCTCOUNTTHETASKETCH(v) AS dc FROM theta_vals_t "
            "GROUP BY g"
        ).collect()
    }
    assert got == {0: 2, 1: 5, 2: 2}
    # window position: a native Window over theta_sketch_agg
    rows = eng.sql(
        "SELECT v, DISTINCTCOUNTTHETASKETCH(v) OVER (PARTITION BY g) AS dc "
        "FROM theta_vals_t"
    ).collect()
    assert {(r.v % 3, r.dc) for r in rows} == {(0, 2), (1, 5), (2, 2)}
    # above k the estimate stays within theta error (k=16 on 1k distinct)
    spark.createDataFrame([(i,) for i in range(1000)], "v int") \
        .createOrReplaceTempView("theta_vals_big_t")
    est = eng.sql(
        "SELECT DISTINCTCOUNTTHETASKETCH(v, 'nominalEntries=16') AS dc "
        "FROM theta_vals_big_t"
    ).collect()[0].dc
    assert 400 <= est <= 2500


def test_theta_column_surface_matches_sql(spark):
    """The Column-surface theta aggregates build the same native sketch
    as the SQL surface: byte-equal RAW sketches and equal, exact
    estimates on the fixture where an HLL returned 8 for 9 distinct."""
    from pinot_spark.dialect import PinotEngine
    from pinot_spark.functions.aggregate import agg_call

    vals = [1056, 1216, 1376, 1456, 2016, 2176, 2336, 2896, 3616, 1056, 1216]
    df = spark.createDataFrame([(v,) for v in vals], "v int")
    df.createOrReplaceTempView("theta_cols_t")
    sql = PinotEngine(spark).sql(
        "SELECT DISTINCTCOUNTRAWTHETASKETCH(v) AS raw, "
        "DISTINCTCOUNTRAWTHETASKETCH(v, 'nominalEntries=100') AS raw100, "
        "DISTINCTCOUNTTHETASKETCH(v) AS dc FROM theta_cols_t"
    ).collect()[0]
    col = df.agg(
        agg_call("distinctcountrawthetasketch", "v").alias("raw"),
        agg_call("distinctcountrawthetasketch", "v", "nominalEntries=100").alias("raw100"),
        agg_call("distinctcountthetasketch", "v").alias("dc"),
    ).collect()[0]
    assert bytes(col.raw) == bytes(sql.raw)
    assert bytes(col.raw100) == bytes(sql.raw100)
    assert col.dc == sql.dc == 9
