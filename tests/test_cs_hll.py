"""clearspring (stream-lib) HLL / HLL++ wire-format interop
(operators/cs_hll.py).

Golden vectors in tests/data/cs_hll_vectors.json come from a one-off
harness driving stream-lib 2.9.8 (the library the reference serializes,
ObjectSerDeUtils.java:741-775, SketchFunctions.java:139-162): 32
MurmurHash int/64 probes across every hash(Object) dispatch branch, 26
HyperLogLog byte dumps (log2m 8/11/12/16 × n 0..10000, a string-keyed
build and a Java-side merge), and 30 HyperLogLogPlus dumps (sparse +
normal configs, both merge paths).  The live Java round-trip test
compiles against the stream-lib jar bundled with PySpark and proves the
library deserializes Python-emitted sketches with identical
cardinalities — and vice versa.
"""

import json
import os
import shutil
import struct
import subprocess

import numpy as np
import pytest

from pinot_spark.operators.cs_hll import (
    CsHll,
    CsHllPlus,
    encode_hash,
    hash32_bytes,
    hash32_long,
    hash32_longs,
    hash32_obj,
    hash64_bytes,
    hash64_obj,
    is_cs_hll_bytes,
    is_cs_hllpp_bytes,
    _java_double_str,
)

# Round-18 fast-tier split: this suite is a long-running sweep; the
# default tier (pytest.ini addopts) skips it — run with -m "" for all.
pytestmark = pytest.mark.slow

_VEC = json.load(
    open(os.path.join(os.path.dirname(__file__), "data", "cs_hll_vectors.json"))
)
_JARS = "/root/.pyenv/versions/3.11.7/lib/python3.11/site-packages/pyspark/jars"


# ---------------------------------------------------------------------------
# hash parity
# ---------------------------------------------------------------------------


def test_hash_probe_parity():
    for p in _VEC["hash_probes"]:
        t, v = p["type"], p["value"]
        if t in ("long", "int"):
            g32, g64 = hash32_obj(int(v)), hash64_obj(int(v))
        elif t == "double":
            g32, g64 = hash32_obj(float(v)), hash64_obj(float(v))
        elif t == "float":
            bits = struct.unpack("<i", struct.pack("<f", float(v)))[0]
            g32 = hash32_long(bits)
            g64 = hash64_obj(np.float32(v))
        elif t == "string":
            g32, g64 = hash32_obj(v), hash64_obj(v)
        else:
            b = bytes.fromhex(v)
            g32, g64 = hash32_obj(b), hash64_obj(b)
        assert g32 == p["h32"], (t, v)
        assert g64 == int(p["h64"]), (t, v)


def test_hash32_vectorized_matches_scalar():
    vals = np.array([0, 1, -1, 42, 9001, 2**62, -(2**62)], dtype=np.int64)
    vec = hash32_longs(vals)
    for v, h in zip(vals, vec):
        assert int(h) == hash32_long(int(v))


def test_java_double_str():
    # Java Double.toString formatting (plain for 1e-3..1e7, else E-form)
    assert _java_double_str(0.0) == "0.0"
    assert _java_double_str(1.0) == "1.0"
    assert _java_double_str(-1.5) == "-1.5"
    assert _java_double_str(3.14159) == "3.14159"
    assert _java_double_str(1e300) == "1.0E300"
    assert _java_double_str(1e7) == "1.0E7"
    assert _java_double_str(9999999.0) == "9999999.0"
    assert _java_double_str(0.001) == "0.001"
    assert _java_double_str(1e-4) == "1.0E-4"


# ---------------------------------------------------------------------------
# plain HyperLogLog byte + estimate parity
# ---------------------------------------------------------------------------


def _build_hll(v):
    if v.get("kind") == "string":
        s = CsHll.empty(v["log2m"])
        for i in range(v["n"]):
            s.offer("key-" + str(i))
        return s
    if v.get("kind") == "merge300_600":
        a = CsHll.build_from_longs(range(300), 12)
        b = CsHll.build_from_longs(range(200, 600), 12)
        return a.merge(b)
    return CsHll.build_from_longs(range(v["n"]), v["log2m"])


def test_hll_build_byte_parity_with_java():
    for v in _VEC["hll"]:
        want = bytes.fromhex(v["bytes"])
        s = _build_hll(v)
        assert s.serialize() == want, {k: v[k] for k in v if k != "bytes"}


def test_hll_roundtrip_and_cardinality():
    for v in _VEC["hll"]:
        want = bytes.fromhex(v["bytes"])
        parsed = CsHll.parse(want)
        assert parsed.serialize() == want
        assert parsed.cardinality() == v["card"]
        assert is_cs_hll_bytes(want)


# ---------------------------------------------------------------------------
# HyperLogLogPlus byte + estimate parity
# ---------------------------------------------------------------------------


def _build_hpp(v):
    if v.get("kind") == "merge_sparse":
        a = CsHllPlus.build_from_values(range(50), 14, 25)
        b = CsHllPlus.build_from_values(range(30, 80), 14, 25)
        return a.merge(b)
    if v.get("kind") == "merge_normal":
        a = CsHllPlus.build_from_values(range(40000), 14, 25)
        b = CsHllPlus.build_from_values(range(20000, 70000), 14, 25)
        return a.merge(b)
    return CsHllPlus.build_from_values(range(v["n"]), v["p"], v["sp"])


def test_hllplus_build_byte_parity_with_java():
    for v in _VEC["hllplus"]:
        want = bytes.fromhex(v["bytes"])
        s = _build_hpp(v)
        assert s.serialize() == want, {k: v[k] for k in v if k != "bytes"}


def test_hllplus_roundtrip_and_cardinality():
    for v in _VEC["hllplus"]:
        want = bytes.fromhex(v["bytes"])
        parsed = CsHllPlus.parse(want)
        assert parsed.serialize() == want
        assert parsed.cardinality() == v["card"]
        assert is_cs_hllpp_bytes(want)
        assert not is_cs_hll_bytes(want)


def test_sparse_encode_probe_parity():
    # reflective-probe pins for encodeHash (see module docstring)
    cases = {
        (0, 14, 25): 25,
        (1, 14, 25): 27,
        (-1, 14, 25): 67108862,
        (-(2**63), 14, 25): -2147483623,
        (1 << 39, 14, 25): 2,
        ((1 << 39) - 1, 14, 25): 103,
        (1 << 42, 12, 20): 107,
        (0x123456789ABCDEF, 14, 25): 298260,
        (0, 4, 8): 5,
    }
    for (h, p, sp), want in cases.items():
        assert encode_hash(h, p, sp) == want, (h, p, sp)


def test_format_detection_disjoint():
    own = bytes([12]) + bytes(4096)  # engine-own HLL blob shape
    assert not is_cs_hll_bytes(own)
    assert not is_cs_hllpp_bytes(own)
    cs = CsHll.build_from_longs(range(10), 8).serialize()
    assert is_cs_hll_bytes(cs) and not is_cs_hllpp_bytes(cs)


def test_merge_requires_matching_params():
    with pytest.raises(ValueError, match="log2m"):
        CsHll.empty(8).merge(CsHll.empty(12))
    with pytest.raises(ValueError, match="p/sp"):
        CsHllPlus.empty(14, 25).merge(CsHllPlus.empty(12, 20))


# ---------------------------------------------------------------------------
# live Java round-trip (both directions)
# ---------------------------------------------------------------------------


@pytest.mark.skipif(shutil.which("javac") is None, reason="no JDK")
def test_java_round_trip(tmp_path):
    """Python-emitted HLL and HLL++ bytes deserialize in stream-lib with
    identical cardinalities; a Java-side merge of a Python sketch with a
    Java-built one matches the Python-side prediction."""
    py_hll = CsHll.build_from_longs(range(1000), 12)
    (tmp_path / "py_hll.bin").write_bytes(py_hll.serialize())
    py_hpp = CsHllPlus.build_from_values(range(1000), 14, 25)
    (tmp_path / "py_hpp.bin").write_bytes(py_hpp.serialize())

    src = tmp_path / "RT.java"
    src.write_text(
        """
import com.clearspring.analytics.stream.cardinality.HyperLogLog;
import com.clearspring.analytics.stream.cardinality.HyperLogLogPlus;
import java.nio.file.*;

public class RT {
  public static void main(String[] args) throws Exception {
    byte[] hb = Files.readAllBytes(Paths.get(args[0]));
    HyperLogLog h = HyperLogLog.Builder.build(hb);
    System.out.println("hll_card=" + h.cardinality());
    HyperLogLog other = new HyperLogLog(12);
    for (long i = 500; i < 1500; i++) other.offer(Long.valueOf(i));
    HyperLogLog merged = (HyperLogLog) h.merge(other);
    System.out.println("hll_merged=" + merged.cardinality());
    Files.write(Paths.get(args[0] + ".merged"), merged.getBytes());

    byte[] pb = Files.readAllBytes(Paths.get(args[1]));
    HyperLogLogPlus p = HyperLogLogPlus.Builder.build(pb);
    System.out.println("hpp_card=" + p.cardinality());
    HyperLogLogPlus otherP = new HyperLogLogPlus(14, 25);
    for (long i = 500; i < 1500; i++) otherP.offer(Long.valueOf(i));
    HyperLogLogPlus mergedP = (HyperLogLogPlus) p.merge(otherP);
    System.out.println("hpp_merged=" + mergedP.cardinality());
    Files.write(Paths.get(args[1] + ".merged"), mergedP.getBytes());
  }
}
"""
    )
    cp = f"{_JARS}/stream-2.9.8.jar"
    subprocess.run(
        ["javac", "-cp", cp, str(src)], cwd=tmp_path, check=True, capture_output=True
    )
    out = subprocess.run(
        ["java", "-cp", f".:{cp}", "RT", "py_hll.bin", "py_hpp.bin"],
        cwd=tmp_path,
        check=True,
        capture_output=True,
        text=True,
    ).stdout

    facts = dict(line.split("=") for line in out.strip().splitlines())
    assert int(facts["hll_card"]) == py_hll.cardinality()
    assert int(facts["hpp_card"]) == py_hpp.cardinality()

    # Python-side predictions of the Java merges
    j_hll = CsHll.build_from_longs(range(500, 1500), 12)
    assert int(facts["hll_merged"]) == py_hll.merge(j_hll).cardinality()
    j_hpp = CsHllPlus.build_from_values(range(500, 1500), 14, 25)
    assert int(facts["hpp_merged"]) == py_hpp.merge(j_hpp).cardinality()

    # Java-emitted merged bytes parse AND re-serialize byte-identically,
    # and match the Python-side merge byte-for-byte
    jm = (tmp_path / "py_hll.bin.merged").read_bytes()
    assert CsHll.parse(jm).serialize() == jm
    assert py_hll.merge(j_hll).serialize() == jm
    jmp = (tmp_path / "py_hpp.bin.merged").read_bytes()
    assert CsHllPlus.parse(jmp).serialize() == jmp
    assert py_hpp.merge(j_hpp).serialize() == jmp


# ---------------------------------------------------------------------------
# SQL surface
# ---------------------------------------------------------------------------


def test_sql_clearspring_surface(spark):
    from pinot_spark.dialect import PinotEngine

    eng = PinotEngine(spark)
    row = eng.sql(
        """
        SELECT GETHLLESTIMATE(TOCLEARSPRINGHLL('interop')) AS e1,
               GETHLLESTIMATE(HLLUNION(TOCLEARSPRINGHLL('a'),
                                       TOCLEARSPRINGHLL('b'))) AS e2,
               GETHLLESTIMATE(TOCLEARSPRINGHLLPLUS(42)) AS e3,
               GETHLLESTIMATE(HLLUNION(TOCLEARSPRINGHLLPLUS('x', 14, 25),
                                       TOCLEARSPRINGHLLPLUS('y', 14, 25))) AS e4,
               GETHLLESTIMATE(TOHLL('engine-own')) AS e5
        """
    ).collect()[0]
    assert (row.e1, row.e2, row.e3, row.e4, row.e5) == (1, 2, 1, 2, 1)


def test_sql_toclearspringhll_matches_java_bytes(spark):
    """TO_CLEARSPRING_HLL('<string>') emits the exact bytes stream-lib
    produces for HyperLogLog(8).offer(<string>) — verified against a
    sketch built here from the same pinned hash implementation that the
    golden probes prove bit-exact."""
    from pinot_spark.dialect import PinotEngine

    eng = PinotEngine(spark)
    got = bytes(
        eng.sql("SELECT TOCLEARSPRINGHLL('pinot') AS b").collect()[0].b
    )
    want = CsHll.empty(8)
    want.offer("pinot")
    assert got == want.serialize()


def test_sql_foreign_java_bytes_estimate(spark):
    """A pinned Java-generated sketch (log2m=12, n=10000) estimates via
    GETHLLESTIMATE with the library's own cardinality."""
    from pinot_spark.dialect import PinotEngine

    v = next(
        x for x in _VEC["hll"]
        if x["log2m"] == 12 and x["n"] == 10000 and "kind" not in x
    )
    eng = PinotEngine(spark)
    got = eng.sql(
        f"SELECT GETHLLESTIMATE(X'{v['bytes']}') AS e"
    ).collect()[0].e
    assert got == v["card"]


def test_sql_mixed_domain_union_raises(spark):
    """Since round 11 TOHLL itself emits clearspring bytes (so it
    unions cleanly with TOCLEARSPRINGHLL); a LEGACY engine-own register
    blob in the same union must still raise loudly — the xxhash64 and
    murmur domains can never max-merge."""
    from pinot_spark.dialect import PinotEngine
    from pinot_spark.operators.hll import HllSketch

    eng = PinotEngine(spark)
    own = HllSketch.empty(8)
    own_hex = own.to_bytes().hex()
    with pytest.raises(Exception, match="mixed sketch domains"):
        eng.sql(
            f"SELECT HLLUNION(TOCLEARSPRINGHLL('a'), X'{own_hex}') AS x"
        ).collect()
    # and the round-11 TOHLL output is clearspring: same-domain union OK
    row = eng.sql(
        "SELECT GETHLLESTIMATE(HLLUNION(TOCLEARSPRINGHLL('a'), TOHLL('b'))) AS e"
    ).collect()[0]
    assert row.e == 2


def test_grouped_cs_hll_export_keeps_bigint_keys_and_values(spark):
    """The export operator keeps BIGINT keys and values exact past 2^53
    when a NULL shares their Arrow batch: keys {B, B+1, NULL} are three
    groups, and each group's bytes equal the pure-Python build over its
    exact values."""
    from pinot_spark.operators.cs_hll import grouped_cs_hll

    big = 2**60
    rows = [
        (big, big), (big + 1, big + 1), (None, big + 2),
        (big + 1, None), (big, big + 3), (None, None),
    ]
    df = spark.createDataFrame(rows, "k bigint, v bigint").coalesce(1)
    got = {
        r.k: bytes(r.cs_hll)
        for r in grouped_cs_hll(df, ["k"], "v", log2m=8).collect()
    }
    want = {
        k: CsHll.build_from_longs(
            [v for kk, v in rows if kk == k and v is not None], 8
        ).serialize()
        for k in (big, big + 1, None)
    }
    assert got == want


def test_sql_hllplus_float_column_hashes_float_tostring(spark):
    """stream-lib hash64(Object) on a Float hashes Float.toString()
    (shortest at FLOAT32 precision) — NOT the widened double's digits.
    0.1f must hash '0.1', not '0.10000000149011612': a sketch built
    from the float column must equal one built from those exact
    strings, and differ from one built from the widened doubles."""
    from pinot_spark.dialect import PinotEngine
    from pinot_spark.operators.cs_hll import CsHllPlus, _java_float_str
    import numpy as np

    eng = PinotEngine(spark)
    vals = [0.1, 0.2, 0.3, 1.5, 3.14159, 123456.78, 1e-8, 2.5e10]
    spark.createDataFrame(
        [(float(np.float32(v)),) for v in vals], "fv float"
    ).createOrReplaceTempView("__csf")
    rows = eng.sql(
        "SELECT fv, TOCLEARSPRINGHLLPLUS(fv, 14, 0) AS b FROM __csf"
    ).collect()
    assert len(rows) == len(vals)
    for r in rows:
        want = CsHllPlus.empty(14, 0)
        want.offer(_java_float_str(r.fv))
        assert bytes(r.b) == want.serialize(), r.fv
        widened = CsHllPlus.empty(14, 0)
        widened.offer(float(r.fv))  # Double.toString digits
        if _java_float_str(r.fv) != _java_double_str(float(r.fv)):
            assert bytes(r.b) != widened.serialize(), r.fv


@pytest.mark.skipif(shutil.which("javac") is None, reason="no JDK")
def test_hllplus_float_live_java(tmp_path):
    """A Python HLL++ built from _java_float_str strings equals the
    bytes stream-lib emits when offered the java.lang.Float objects
    themselves."""
    from pinot_spark.operators.cs_hll import CsHllPlus, _java_float_str

    src = tmp_path / "FH.java"
    src.write_text(
        """
import com.clearspring.analytics.stream.cardinality.HyperLogLogPlus;
import java.nio.file.*;

public class FH {
  public static void main(String[] args) throws Exception {
    HyperLogLogPlus s = new HyperLogLogPlus(14, 0);
    java.util.Random r = new java.util.Random(4242);
    StringBuilder sb = new StringBuilder();
    for (int i = 0; i < 500; i++) {
      int bits = r.nextInt() & 0x7FFFFFFF;
      float f = Float.intBitsToFloat(bits);
      if (Float.isNaN(f) || Float.isInfinite(f)) continue;
      s.offer(Float.valueOf(f));
      sb.append(Integer.toHexString(bits)).append('\\n');
    }
    Files.write(Paths.get(args[0]), s.getBytes());
    Files.writeString(Paths.get(args[1]), sb.toString());
  }
}
"""
    )
    cp = f"{_JARS}/stream-2.9.8.jar"
    subprocess.run(
        ["javac", "-cp", cp, str(src)], cwd=tmp_path, check=True, capture_output=True
    )
    subprocess.run(
        ["java", "-cp", f".:{cp}", "FH", "j.bin", "bits.txt"],
        cwd=tmp_path,
        check=True,
        capture_output=True,
    )
    py = CsHllPlus.empty(14, 0)
    for line in (tmp_path / "bits.txt").read_text().splitlines():
        f = struct.unpack("<f", struct.pack("<I", int(line, 16)))[0]
        py.offer(_java_float_str(f))
    assert py.serialize() == (tmp_path / "j.bin").read_bytes()


@pytest.mark.skipif(shutil.which("javac") is None, reason="no JDK")
def test_cardinality_all_registers_nonzero_boundary_live_java(tmp_path):
    """stream-lib has no zero-register guard in linearCounting: a
    register blob with every register nonzero but raw estimate
    <= 2.5m returns Math.round(m*log(m/0)) = Long.MAX_VALUE.  Pin the
    replicated behavior against the library at the boundary."""
    # log2m=4 (m=16): all registers = 1 -> registerSum = 16*0.5 = 8,
    # estimate = alphaMM/8 ~ 2*m*0.673 = 21.5 <= 2.5*16 = 40 -> linear
    # counting branch with zeros == 0
    s = CsHll.empty(4)
    s.registers[:] = 1
    (tmp_path / "blob.bin").write_bytes(s.serialize())
    src = tmp_path / "CZ.java"
    src.write_text(
        """
import com.clearspring.analytics.stream.cardinality.HyperLogLog;
import java.nio.file.*;

public class CZ {
  public static void main(String[] args) throws Exception {
    HyperLogLog h = HyperLogLog.Builder.build(Files.readAllBytes(Paths.get(args[0])));
    System.out.println("card=" + h.cardinality());
  }
}
"""
    )
    cp = f"{_JARS}/stream-2.9.8.jar"
    subprocess.run(
        ["javac", "-cp", cp, str(src)], cwd=tmp_path, check=True, capture_output=True
    )
    out = subprocess.run(
        ["java", "-cp", f".:{cp}", "CZ", "blob.bin"],
        cwd=tmp_path, check=True, capture_output=True, text=True,
    ).stdout
    jcard = int(out.strip().split("=")[1])
    assert s.cardinality() == jcard == (1 << 63) - 1


@pytest.mark.skipif(shutil.which("javac") is None, reason="no JDK")
def test_sql_rawhll_bytes_heapify_in_stream_lib(spark, tmp_path):
    """THE round-11 routing contract: DISTINCTCOUNTRAWHLL /
    DISTINCTCOUNTRAWHLLPLUS SQL output IS stream-lib wire bytes — the
    library deserializes them with identical cardinalities and merges
    them with its own builds (what a real Pinot consumer does with
    ObjectSerDeUtils.HYPER_LOG_LOG[_PLUS]_SER_DE payloads)."""
    from pinot_spark.dialect import PinotEngine

    eng = PinotEngine(spark)
    spark.range(0, 3000).selectExpr(
        "CAST(id % 700 AS BIGINT) AS v",
        "CONCAT('user-', CAST(id % 450 AS STRING)) AS s",
    ).createOrReplaceTempView("rawhll_rt_t")
    row = eng.sql(
        "SELECT DISTINCTCOUNTRAWHLL(v, 12) AS h_long, "
        "DISTINCTCOUNTRAWHLL(s, 12) AS h_str, "
        "DISTINCTCOUNTRAWHLLPLUS(v) AS hpp "
        "FROM rawhll_rt_t"
    ).collect()[0]
    (tmp_path / "h_long.bin").write_bytes(bytes(row.h_long))
    (tmp_path / "h_str.bin").write_bytes(bytes(row.h_str))
    (tmp_path / "hpp.bin").write_bytes(bytes(row.hpp))

    src = tmp_path / "RH.java"
    src.write_text(
        """
import com.clearspring.analytics.stream.cardinality.HyperLogLog;
import com.clearspring.analytics.stream.cardinality.HyperLogLogPlus;
import java.nio.file.*;

public class RH {
  public static void main(String[] args) throws Exception {
    HyperLogLog hl = HyperLogLog.Builder.build(Files.readAllBytes(Paths.get(args[0])));
    System.out.println("long_card=" + hl.cardinality());
    HyperLogLog hs = HyperLogLog.Builder.build(Files.readAllBytes(Paths.get(args[1])));
    System.out.println("str_card=" + hs.cardinality());
    HyperLogLogPlus hp = HyperLogLogPlus.Builder.build(Files.readAllBytes(Paths.get(args[2])));
    System.out.println("pp_card=" + hp.cardinality());
    // a flat Java build over the same value stream must be byte-equal
    HyperLogLog flat = new HyperLogLog(12);
    for (long i = 0; i < 3000; i++) flat.offer(Long.valueOf(i % 700));
    System.out.println("long_bytes_eq=" + java.util.Arrays.equals(flat.getBytes(),
        Files.readAllBytes(Paths.get(args[0]))));
    HyperLogLogPlus flatP = new HyperLogLogPlus(14, 0);
    for (long i = 0; i < 3000; i++) flatP.offer(Long.valueOf(i % 700));
    System.out.println("pp_bytes_eq=" + java.util.Arrays.equals(flatP.getBytes(),
        Files.readAllBytes(Paths.get(args[2]))));
    // and the engine bytes merge with a live Java sketch
    HyperLogLog other = new HyperLogLog(12);
    for (long i = 600; i < 900; i++) other.offer(Long.valueOf(i));
    System.out.println("merged_card=" + ((HyperLogLog) hl.merge(other)).cardinality());
  }
}
"""
    )
    cp = f"{_JARS}/stream-2.9.8.jar"
    subprocess.run(
        ["javac", "-cp", cp, str(src)], cwd=tmp_path, check=True, capture_output=True
    )
    out = subprocess.run(
        ["java", "-cp", f".:{cp}", "RH", "h_long.bin", "h_str.bin", "hpp.bin"],
        cwd=tmp_path, check=True, capture_output=True, text=True,
    ).stdout
    facts = dict(line.split("=") for line in out.strip().splitlines())
    assert facts["long_bytes_eq"] == "true"
    assert facts["pp_bytes_eq"] == "true"
    assert int(facts["long_card"]) == CsHll.parse(bytes(row.h_long)).cardinality()
    assert int(facts["str_card"]) == CsHll.parse(bytes(row.h_str)).cardinality()
    assert int(facts["pp_card"]) == CsHllPlus.parse(bytes(row.hpp)).cardinality()
    want_merge = CsHll.parse(bytes(row.h_long)).merge(
        CsHll.build_from_longs(range(600, 900), 12)
    )
    assert int(facts["merged_card"]) == want_merge.cardinality()
