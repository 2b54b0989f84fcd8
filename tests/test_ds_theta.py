"""DataSketches theta wire-format interop (operators/ds_theta.py).

Golden vectors in tests/data/ds_theta_vectors.json come from a one-off
harness driving datasketches-java 6.2.0 (the library the reference wraps,
SketchFunctions.java:98-254): murmur-9001 hash probes, and compact-sketch
byte dumps at n = 0,1,2,5,15,16,17,100,10000 (k=16) plus a string-keyed
sketch.  The live Java round-trip test compiles against the
datasketches jar bundled with PySpark and proves the library heapifies
Python-emitted sketches with bit-identical estimates.
"""

import json
import os
import shutil
import struct
import subprocess

import numpy as np
import pytest

from pinot_spark.operators.ds_theta import (
    MAX_THETA,
    DsThetaSketch,
    grouped_ds_theta,
    hash_longs,
    is_ds_theta_bytes,
    update_hash_bytes,
    update_hash_long,
)

_VEC = json.load(
    open(os.path.join(os.path.dirname(__file__), "data", "ds_theta_vectors.json"))
)
_U64 = 1 << 64
_JARS = "/root/.pyenv/versions/3.11.7/lib/python3.11/site-packages/pyspark/jars"


def test_update_hash_domain_bit_exact():
    for v, h1, _h2 in _VEC["long_hashes"]:
        assert update_hash_long(v) == (h1 % _U64) >> 1, v
    for s, h1, _h2 in _VEC["string_hashes"]:
        if not s:
            continue
        assert update_hash_bytes(s.encode()) == (h1 % _U64) >> 1, s


def test_parse_estimate_and_canonical_serialize():
    for v in _VEC["sketches"]:
        b = bytes.fromhex(v["bytes"])
        assert is_ds_theta_bytes(b)
        sk = DsThetaSketch.parse(b)
        assert len(sk.hashes) == v["retained"], v["n"]
        assert sk.theta == v["thetaLong"], v["n"]
        assert abs(sk.estimate() - v["est"]) <= 1e-6 * max(1.0, v["est"]), v["n"]
        # the writer is byte-canonical with the library for every shape
        assert sk.serialize() == b, v["n"]


def test_exact_mode_build_byte_parity_with_java():
    for v in _VEC["sketches"]:
        if v["n"] > 16:
            continue  # estimating mode retains QuickSelect-specific sets
        sk = DsThetaSketch.build_from_values(range(v["n"]), k=16)
        assert sk.serialize() == bytes.fromhex(v["bytes"]), v["n"]
    ss = DsThetaSketch.build_from_values(
        ["alpha", "beta", "gamma", "delta", "epsilon"], k=32
    )
    assert ss.serialize().hex() == _VEC["string_sketch"]["bytes"]


def test_engine_own_bytes_not_misdetected():
    from pinot_spark.operators.theta import ThetaSketch

    for k in (16, 256, 4096, 65536):
        own = ThetaSketch(k, 2**64, np.array([1, 2, 3], dtype=np.uint64)).to_bytes()
        assert not is_ds_theta_bytes(own)


def test_set_ops_exact_regime():
    A = DsThetaSketch.build_from_values(range(100), k=4096)
    B = DsThetaSketch.build_from_values(range(50, 150), k=4096)
    assert A.union(B).estimate() == 150.0
    assert A.intersect(B).estimate() == 50.0
    assert A.a_not_b(B).estimate() == 50.0
    # estimating regime: union theta = min, result parses/serializes
    C = DsThetaSketch.build_from_values(range(10000), k=64)
    D = DsThetaSketch.build_from_values(range(5000, 15000), k=64)
    u = C.union(D, k=64)
    assert u.theta <= min(C.theta, D.theta)
    est = u.estimate()
    assert abs(est - 15000) / 15000 < 0.5  # k=64: loose bound
    assert DsThetaSketch.parse(u.serialize()).estimate() == est


def test_non_default_seed_rejected_loudly():
    b = bytearray(bytes.fromhex(_VEC["sketches"][2]["bytes"]))
    struct.pack_into("<H", b, 6, 12345)  # corrupt the seed hash
    with pytest.raises(ValueError, match="seed"):
        DsThetaSketch.parse(bytes(b))


def test_sql_surface_ds_domain(spark):
    from pinot_spark.dialect import PinotEngine

    eng = PinotEngine(spark)
    spark.createDataFrame([(1,)], "v int").createOrReplaceTempView("ds_sql_t")
    r = eng.sql(
        "SELECT GET_THETA_SKETCH_ESTIMATE(THETA_SKETCH_UNION("
        "TO_DATA_SKETCHES_THETA(1), TO_DATA_SKETCHES_THETA(2))) AS est, "
        "GET_THETA_SKETCH_ESTIMATE(THETA_SKETCH_INTERSECT("
        "TO_DATA_SKETCHES_THETA('x'), TO_DATA_SKETCHES_THETA('x'))) AS inter, "
        "THETA_SKETCH_TO_STRING(TO_DATA_SKETCHES_THETA('hello')) AS txt "
        "FROM ds_sql_t LIMIT 1"
    ).collect()[0]
    assert r.est == 2 and r.inter == 1
    assert "DataSketches" in r.txt and "estimate 1.0" in r.txt
    # a PINNED Java-built sketch literal (n=100, k=16) estimates correctly
    java_hex = next(v for v in _VEC["sketches"] if v["n"] == 100)["bytes"]
    est = eng.sql(
        f"SELECT GET_THETA_SKETCH_ESTIMATE(X'{java_hex}') AS e FROM ds_sql_t LIMIT 1"
    ).collect()[0].e
    assert est == 136  # round(136.16), bit-identical parse


def test_parse_native_serial_version_4(spark):
    """Spark's native theta_sketch_agg writes the compressed compact
    layout (serial version 4) for two or more entries; parse reads it to
    exactly the murmur hashes below theta, in the exact regime and the
    estimating one, and the estimate matches the native one."""
    for n, lgk in ((3, 12), (50, 12), (1000, 12), (10000, 4), (100000, 10)):
        b, est = spark.sql(
            f"SELECT theta_sketch_agg(id, {lgk}) AS s, "
            f"theta_sketch_estimate(theta_sketch_agg(id, {lgk})) AS e "
            f"FROM range({n})"
        ).collect()[0]
        b = bytes(b)
        assert b[1] == 4 and is_ds_theta_bytes(b), n
        sk = DsThetaSketch.parse(b)
        h = np.sort(hash_longs(np.arange(n, dtype=np.int64)))
        assert (sk.theta == MAX_THETA) == (n < 1 << lgk), n
        assert np.array_equal(sk.hashes, h[h < np.uint64(sk.theta)]), n
        assert round(sk.estimate()) == est, n


def test_native_sketch_column_unions_with_java_vector(spark):
    """A stored column of native (version-4) sketches unions with the
    pinned Java version-3 vectors through the blob reader, in one hash
    domain: exact with the exact vector, the library's rule with the
    estimating one."""
    from pinot_spark.dialect import PinotEngine

    java = {v["n"]: v["bytes"] for v in _VEC["sketches"]}
    spark.sql(
        "SELECT theta_sketch_agg(id) AS sk FROM range(10, 30)"
    ).createOrReplaceTempView("native_sk_t")
    native = DsThetaSketch.parse(bytes(spark.table("native_sk_t").collect()[0].sk))
    eng = PinotEngine(spark)
    for n in (15, 100):
        spark.sql(
            f"SELECT sk FROM native_sk_t UNION ALL SELECT X'{java[n]}' AS sk"
        ).createOrReplaceTempView("mixed_sk_t")
        b = eng.sql(
            "SELECT DISTINCT_COUNT_RAW_THETA_SKETCH(sk) AS u FROM mixed_sk_t"
        ).collect()[0].u
        assert "__theta_union_blobs" in eng.translate(
            "SELECT DISTINCT_COUNT_RAW_THETA_SKETCH(sk) AS u FROM mixed_sk_t"
        )[0]
        want = DsThetaSketch.parse(bytes.fromhex(java[n])).union(native)
        assert bytes(b) == want.serialize(), n
    assert round(DsThetaSketch.parse(
        bytes.fromhex(java[15])).union(native).estimate()) == 30


def test_sql_mixed_domain_raises(spark):
    from pinot_spark.dialect import PinotEngine

    eng = PinotEngine(spark)
    spark.createDataFrame([(1,)], "v int").createOrReplaceTempView("ds_mix_t")
    with pytest.raises(Exception, match="domain"):
        eng.sql(
            "SELECT GET_THETA_SKETCH_ESTIMATE(THETA_SKETCH_UNION("
            "TO_DATA_SKETCHES_THETA(1), TO_THETA_SKETCH(2))) AS x "
            "FROM ds_mix_t LIMIT 1"
        ).collect()


def test_grouped_ds_theta_export(spark):
    df = spark.range(0, 3000).selectExpr(
        "CAST(id % 3 AS INT) AS g", "CAST(id AS BIGINT) AS u"
    )
    out = grouped_ds_theta(df, ["g"], "u", k=4096).collect()
    assert len(out) == 3
    for r in out:
        sk = DsThetaSketch.parse(bytes(r.ds_theta))
        assert sk.theta == MAX_THETA  # 1000 < 4096: exact regime
        assert sk.estimate() == 1000.0
    # string column path
    sdf = spark.createDataFrame(
        [("g1", "a"), ("g1", "b"), ("g1", "a"), ("g2", None)], "g string, s string"
    )
    rows = {r.g: DsThetaSketch.parse(bytes(r.ds_theta))
            for r in grouped_ds_theta(sdf, ["g"], "s", k=64).collect()}
    assert rows["g1"].estimate() == 2.0 and rows["g2"].estimate() == 0.0
    # scale shape: partition-local partials; the only exchange moves blobs
    plan = (
        grouped_ds_theta(df, ["g"], "u", k=64)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "MapInArrow" in plan and "collect_set" not in plan
    # BIGINT keys past 2^53 next to a NULL key in one Arrow batch stay
    # three groups
    big = 2**60
    bdf = spark.createDataFrame(
        [(big, 1), (big + 1, 2), (None, 3), (big + 1, 4)], "k bigint, v bigint"
    ).coalesce(1)
    got = {r.k: DsThetaSketch.parse(bytes(r.ds_theta)).estimate()
           for r in grouped_ds_theta(bdf, ["k"], "v", k=64).collect()}
    assert got == {big: 1.0, big + 1: 2.0, None: 1.0}


@pytest.mark.skipif(shutil.which("javac") is None, reason="no JDK")
def test_java_round_trip(tmp_path):
    """The DataSketches library itself must heapify Python-emitted bytes:
    identical estimate for an estimating-mode sketch, and a correct
    cross-engine union with a Java-built sketch."""
    sk = DsThetaSketch.build_from_values(range(10000), k=64)
    (tmp_path / "py_est.bin").write_bytes(sk.serialize())
    exact = DsThetaSketch.build_from_values(range(50), k=4096)
    (tmp_path / "py_exact.bin").write_bytes(exact.serialize())
    src = tmp_path / "RT.java"
    src.write_text(
        """
import org.apache.datasketches.theta.*;
import org.apache.datasketches.memory.Memory;
import java.nio.file.*;
public class RT {
  public static void main(String[] a) throws Exception {
    Sketch est = Sketches.wrapSketch(Memory.wrap(Files.readAllBytes(Paths.get(a[0]))));
    System.out.println("EST=" + est.getEstimate());
    Sketch exact = Sketches.wrapSketch(Memory.wrap(Files.readAllBytes(Paths.get(a[1]))));
    UpdateSketch us = UpdateSketch.builder().setNominalEntries(4096).build();
    for (long i = 25; i < 75; i++) us.update(i);
    Union u = SetOperation.builder().setNominalEntries(4096).buildUnion();
    u.union(exact); u.union(us.compact(true, null));
    System.out.println("UNION=" + u.getResult().getEstimate());
  }
}
"""
    )
    cp = f"{_JARS}/datasketches-java-6.2.0.jar:{_JARS}/datasketches-memory-3.0.2.jar"
    subprocess.run(
        ["javac", "-cp", cp, str(src)], cwd=tmp_path, check=True, capture_output=True
    )
    out = subprocess.run(
        ["java", "-cp", f".:{cp}", "RT", "py_est.bin", "py_exact.bin"],
        cwd=tmp_path, check=True, capture_output=True, text=True,
    ).stdout
    lines = dict(ln.split("=") for ln in out.strip().splitlines())
    assert float(lines["EST"]) == sk.estimate()  # bit-identical double
    assert float(lines["UNION"]) == 75.0  # 0..49 ∪ 25..74, exact regime


# ---------------------------------------------------------------------------
# integer tuple sketch (family 9)
# ---------------------------------------------------------------------------

_TVEC = json.load(
    open(os.path.join(os.path.dirname(__file__), "data", "ds_tuple_vectors.json"))
)


def test_tuple_parse_estimate_and_reserialize_equivalence():
    from pinot_spark.operators.ds_theta import DsTupleSketch

    for v in _TVEC["sketches"]:
        b = bytes.fromhex(v["bytes"])
        sk = DsTupleSketch.parse(b)
        assert len(sk.hashes) == v["retained"], v["n"]
        assert sk.theta == v["thetaLong"], v["n"]
        assert abs(sk.estimate() - v["est"]) <= 1e-6 * max(1.0, v["est"]), v["n"]
        # Java stores entries in hash-table slot order (table size is not
        # serialized), so byte-canonical rewriting is impossible; instead
        # the sorted rewrite must PARSE back identical
        rt = DsTupleSketch.parse(sk.serialize())
        assert rt.theta == sk.theta
        assert np.array_equal(rt.hashes, sk.hashes)
        assert np.array_equal(rt.values, sk.values)


def test_tuple_build_semantic_parity_with_java():
    from pinot_spark.operators.ds_theta import DsTupleSketch

    for v in _TVEC["sketches"]:
        if v["n"] > 16:
            continue
        java = DsTupleSketch.parse(bytes.fromhex(v["bytes"]))
        ours = DsTupleSketch.build_from_pairs(
            range(v["n"]), [i % 7 for i in range(v["n"])], k=16
        )
        assert ours.theta == java.theta, v["n"]
        assert np.array_equal(ours.hashes, java.hashes), v["n"]
        assert np.array_equal(ours.values, java.values), v["n"]
    # single-item serialization is order-free, hence byte-exact
    one = next(v for v in _TVEC["sketches"] if v["n"] == 1)
    assert (
        DsTupleSketch.build_from_pairs([0], [0], k=16).serialize().hex()
        == one["bytes"]
    )


def test_tuple_sql_foreign_blob_aggregation(spark):
    import pyspark.sql.functions as F

    from pinot_spark.dialect import PinotEngine
    from pinot_spark.functions.scalar import call

    eng = PinotEngine(spark)
    df = spark.createDataFrame([("a", 5), ("b", 7), ("a", 3)], "k string, v int")
    df.select(
        call("todatasketchestuple", F.col("k"), F.col("v")).alias("blob")
    ).createOrReplaceTempView("ds_tuple_blobs")
    r = eng.sql(
        "SELECT GET_INT_TUPLE_SKETCH_ESTIMATE("
        "DISTINCT_COUNT_RAW_INTEGER_SUM_TUPLE_SKETCH(blob)) AS est, "
        "SUM_VALUES_INTEGER_SUM_TUPLE_SKETCH(blob) AS sv, "
        "AVG_VALUE_INTEGER_SUM_TUPLE_SKETCH(blob) AS av "
        "FROM ds_tuple_blobs LIMIT 1"
    ).collect()[0]
    assert r.est == 2 and r.sv == 15 and r.av == 7.5


@pytest.mark.skipif(shutil.which("javac") is None, reason="no JDK")
@pytest.mark.parametrize(
    "k,n",
    [
        (64, 5000),  # deep estimating mode at small k
        (4096, 3000),  # EXACT regime at the engine-default k
        (4096, 10000),  # estimating mode at the engine-default k — the
        # larger-k leg of the writer's sorted-equivalence claim (Java
        # stores tuple entries in hash-table slot order; the writer
        # emits the sorted equivalent the library must accept)
    ],
)
def test_tuple_java_round_trip(tmp_path, k, n):
    from pinot_spark.operators.ds_theta import DsTupleSketch

    sk = DsTupleSketch.build_from_pairs(range(n), [i % 7 for i in range(n)], k=k)
    (tmp_path / "py_tuple.bin").write_bytes(sk.serialize())
    src = tmp_path / "TRT.java"
    src.write_text(
        """
import org.apache.datasketches.tuple.*;
import org.apache.datasketches.tuple.aninteger.*;
import org.apache.datasketches.memory.Memory;
import java.nio.file.*;
public class TRT {
  public static void main(String[] a) throws Exception {
    Sketch<IntegerSummary> s = Sketches.heapifySketch(
        Memory.wrap(Files.readAllBytes(Paths.get(a[0]))), new IntegerSummaryDeserializer());
    long sum = 0;
    TupleSketchIterator<IntegerSummary> it = s.iterator();
    while (it.next()) sum += it.getSummary().getValue();
    System.out.println("EST=" + s.getEstimate());
    System.out.println("SUM=" + sum);
  }
}
"""
    )
    cp = f"{_JARS}/datasketches-java-6.2.0.jar:{_JARS}/datasketches-memory-3.0.2.jar"
    subprocess.run(
        ["javac", "-cp", cp, str(src)], cwd=tmp_path, check=True, capture_output=True
    )
    out = subprocess.run(
        ["java", "-cp", f".:{cp}", "TRT", "py_tuple.bin"],
        cwd=tmp_path, check=True, capture_output=True, text=True,
    ).stdout
    lines = dict(ln.split("=") for ln in out.strip().splitlines())
    assert float(lines["EST"]) == sk.estimate()
    assert int(lines["SUM"]) == sk.sum_values()


def test_grouped_ds_theta_skips_empty_bytes(spark):
    """Java update(byte[]) / update(String) are NO-OPS for empty input —
    b'' must not be hashed as an item (ADVICE r9: len(str(b'')) is 3, so
    a str-length guard never skipped it)."""
    sdf = spark.createDataFrame(
        [("g", b"x"), ("g", b""), ("g", None), ("h", b"")],
        "g string, s binary",
    )
    rows = {r.g: DsThetaSketch.parse(bytes(r.ds_theta))
            for r in grouped_ds_theta(sdf, ["g"], "s", k=64).collect()}
    assert rows["g"].estimate() == 1.0
    assert rows["h"].estimate() == 0.0
    # empty STRING is equally a no-op
    tdf = spark.createDataFrame(
        [("g", "a"), ("g", "")], "g string, s string"
    )
    est = DsThetaSketch.parse(bytes(
        grouped_ds_theta(tdf, ["g"], "s", k=64).collect()[0].ds_theta
    )).estimate()
    assert est == 1.0


def test_to_ds_theta_double_column_hashes_ieee_bits(spark):
    """DataSketches Java update(double) hashes doubleToLongBits(d) for
    ALL values — including integral ones — so TO_DATA_SKETCHES_THETA
    over a true DOUBLE column must NOT collapse 2.0 to update(long 2)
    (ADVICE r9). The column type rides in via typeof(); nullable int
    columns (pandas float64) keep the long shortcut, and ±0.0
    canonicalizes like Java."""
    import struct as _struct

    from pinot_spark.dialect import PinotEngine
    from pinot_spark.operators.ds_theta import update_hash_long

    eng = PinotEngine(spark)
    spark.createDataFrame(
        [(2.0, 2, -0.0), (None, None, None)],
        "d double, i int, z double",
    ).createOrReplaceTempView("ds_dbl_t")
    rows = eng.sql(
        "SELECT TO_DATA_SKETCHES_THETA(d) AS sd, TO_DATA_SKETCHES_THETA(i) AS si, "
        "TO_DATA_SKETCHES_THETA(z) AS sz FROM ds_dbl_t WHERE d IS NOT NULL LIMIT 1"
    ).collect()[0]
    h_double = DsThetaSketch.parse(bytes(rows.sd)).hashes
    h_int = DsThetaSketch.parse(bytes(rows.si)).hashes
    bits_2 = _struct.unpack("<q", _struct.pack("<d", 2.0))[0]
    assert list(h_double) == [update_hash_long(bits_2)]
    assert list(h_int) == [update_hash_long(2)]
    assert h_double[0] != h_int[0]
    # -0.0 canonicalizes to +0.0 before taking bits (Java contract)
    assert list(DsThetaSketch.parse(bytes(rows.sz)).hashes) == [
        update_hash_long(_struct.unpack("<q", _struct.pack("<d", 0.0))[0])
    ]
    # null rows of any type stay EMPTY sketches
    empt = eng.sql(
        "SELECT TO_DATA_SKETCHES_THETA(d) AS sd FROM ds_dbl_t "
        "WHERE d IS NULL LIMIT 1"
    ).collect()[0]
    assert DsThetaSketch.parse(bytes(empt.sd)).estimate() == 0.0


def test_tuple_union_keeps_the_reference_nominal_entries():
    """Pinot builds tuple sketches at lgK 16, so a union of two disjoint
    3,000-entry exact sketches stays exact: 6,000 entries, theta at its
    maximum (the union used to trim to 4,096 and lower theta)."""
    from pinot_spark.functions.sketches import tuple_merge_sums
    from pinot_spark.operators.ds_theta import MAX_THETA, DsTupleSketch
    from pinot_spark.operators.running_sketch import TupleAcc

    a = DsTupleSketch.build_from_pairs(range(3000), [1] * 3000, k=4096).serialize()
    b = DsTupleSketch.build_from_pairs(range(3000, 6000), [2] * 3000, k=4096).serialize()
    running = TupleAcc()
    running.push([a])
    running.push([b])
    for blob in (tuple_merge_sums([[a, b]])[0], running.blob()):
        u = DsTupleSketch.parse(blob)
        assert len(u.hashes) == 6000
        assert u.theta == MAX_THETA
        assert u.estimate() == 6000.0
        assert u.sum_values() == 3000 * 1 + 3000 * 2
