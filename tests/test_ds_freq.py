"""DataSketches FREQUENT-ITEMS sketch wire-format interop
(operators/ds_freq.py — LongsSketch + ItemsSketch<String>).

Golden vectors in tests/data/ds_freq_vectors.json come from a one-off
harness driving datasketches-java 6.2.0 (the library the reference
wraps, FrequentStringsSketchAggregationFunction /
ObjectSerDeUtils.FREQUENT_LONGS_SKETCH_SER_DE): byte dumps + estimate/
bound/row probes at maxMapSize 8/64/256, n 0..20000, both flavors,
plus a Java-side merge.  Because the reverse-purge algorithm is
deterministic below the 1024-count median-sample cap, this module's
builds agree with Java EXACTLY on the (item -> count) map, offset and
stream length — only the serialized entry order (Java's hash-map slot
order) differs, which the live round-trip proves the library accepts.
"""

import json
import os
import shutil
import subprocess

import pytest

from pinot_spark.operators.ds_freq import (
    DsFrequentSketch,
    is_ds_freq_bytes,
)

_VEC = json.load(
    open(os.path.join(os.path.dirname(__file__), "data", "ds_freq_vectors.json"))
)
_JARS = "/root/.pyenv/versions/3.11.7/lib/python3.11/site-packages/pyspark/jars"


def _long_stream(n):
    return (1 if i % 7 == 0 else i % 50 for i in range(n))


def _str_stream(n):
    return ("hot" if i % 7 == 0 else f"k{i % 50}" for i in range(n))


def test_longs_roundtrip_and_detection():
    for v in _VEC["longs"]:
        want = bytes.fromhex(v["bytes"])
        assert is_ds_freq_bytes(want)
        p = DsFrequentSketch.parse(want, strings=False)
        assert p.serialize() == want, (v["maxMapSize"], v.get("n"), v.get("kind"))


def test_longs_build_semantic_parity_with_java():
    """Same map, offset, stream length, current-map size, estimates and
    NO_FALSE_POSITIVES rows as the library, for every golden build."""
    for v in _VEC["longs"]:
        if v.get("kind") == "merged":
            continue
        p = DsFrequentSketch.parse(bytes.fromhex(v["bytes"]), strings=False)
        mine = DsFrequentSketch.build_from_values(_long_stream(v["n"]), v["maxMapSize"])
        assert mine.counts == p.counts, (v["maxMapSize"], v["n"])
        assert mine.offset == p.offset == v["maxError"]
        assert mine.stream_length == p.stream_length == v["n"]
        assert mine.lg_cur == p.lg_cur
        assert p.estimate(1) == v["est1"]
        assert p.lower_bound(1) == v["lb1"] and p.upper_bound(1) == v["ub1"]
        got = sorted(p.frequent_items(no_false_positives=True))
        assert got == sorted(tuple(r) for r in v["rows"]), (v["maxMapSize"], v["n"])


def test_strings_roundtrip_and_build_parity():
    for v in _VEC["strings"]:
        want = bytes.fromhex(v["bytes"])
        p = DsFrequentSketch.parse(want, strings=True)
        assert p.serialize() == want, (v["maxMapSize"], v["n"])
        mine = DsFrequentSketch.build_from_values(_str_stream(v["n"]), v["maxMapSize"])
        assert mine.counts == p.counts
        assert mine.offset == p.offset == v["maxError"]
        assert p.estimate("hot") == v["estHot"]


def test_merge_semantic_parity_with_java():
    mv = next(v for v in _VEC["longs"] if v.get("kind") == "merged")
    p = DsFrequentSketch.parse(bytes.fromhex(mv["bytes"]), strings=False)
    x = DsFrequentSketch.build_from_values((i % 40 for i in range(5000)), 64)
    y = DsFrequentSketch.build_from_values((i % 25 for i in range(5000)), 64)
    m = x.merge(y)
    assert m.counts == p.counts
    assert m.offset == p.offset and m.stream_length == p.stream_length == mv["streamLen"]
    assert m.estimate(1) == mv["est1"]


@pytest.mark.skipif(shutil.which("javac") is None, reason="no JDK")
def test_java_round_trip(tmp_path):
    """stream-processed sketches emitted by this module — including a
    post-purge one — deserialize in datasketches-java with identical
    stream length, maximum error and per-item estimates; a Java-side
    merge with a Java-built sketch matches the Python-side merge
    semantics."""
    py_l = DsFrequentSketch.build_from_values(_long_stream(20000), 64)
    (tmp_path / "py_longs.bin").write_bytes(py_l.serialize())
    py_s = DsFrequentSketch.build_from_values(_str_stream(5000), 64)
    (tmp_path / "py_strs.bin").write_bytes(py_s.serialize())

    src = tmp_path / "FRT.java"
    src.write_text(
        """
import org.apache.datasketches.frequencies.*;
import org.apache.datasketches.common.ArrayOfStringsSerDe;
import org.apache.datasketches.memory.Memory;
import java.nio.file.*;

public class FRT {
  public static void main(String[] args) throws Exception {
    LongsSketch l = LongsSketch.getInstance(
        Memory.wrap(Files.readAllBytes(Paths.get(args[0]))));
    System.out.println("l_stream=" + l.getStreamLength());
    System.out.println("l_maxerr=" + l.getMaximumError());
    System.out.println("l_est1=" + l.getEstimate(1L));
    System.out.println("l_est3=" + l.getEstimate(3L));
    LongsSketch other = new LongsSketch(64);
    for (int i = 0; i < 4000; i++) other.update(i % 10);
    l.merge(other);
    System.out.println("l_merged_stream=" + l.getStreamLength());
    System.out.println("l_merged_est1=" + l.getEstimate(1L));

    ItemsSketch<String> s = ItemsSketch.getInstance(
        Memory.wrap(Files.readAllBytes(Paths.get(args[1]))), new ArrayOfStringsSerDe());
    System.out.println("s_stream=" + s.getStreamLength());
    System.out.println("s_esthot=" + s.getEstimate("hot"));
  }
}
"""
    )
    cp = f"{_JARS}/datasketches-java-6.2.0.jar:{_JARS}/datasketches-memory-3.0.2.jar"
    subprocess.run(
        ["javac", "-cp", cp, str(src)], cwd=tmp_path, check=True, capture_output=True
    )
    out = subprocess.run(
        ["java", "-cp", f".:{cp}", "FRT", "py_longs.bin", "py_strs.bin"],
        cwd=tmp_path, check=True, capture_output=True, text=True,
    ).stdout
    facts = dict(line.split("=") for line in out.strip().splitlines())
    assert int(facts["l_stream"]) == 20000
    assert int(facts["l_maxerr"]) == py_l.maximum_error
    assert int(facts["l_est1"]) == py_l.estimate(1)
    assert int(facts["l_est3"]) == py_l.estimate(3)
    jm = DsFrequentSketch.build_from_values((i % 10 for i in range(4000)), 64)
    pym = py_l.merge(jm)
    assert int(facts["l_merged_stream"]) == pym.stream_length
    assert int(facts["l_merged_est1"]) == pym.estimate(1)
    assert int(facts["s_stream"]) == 5000
    assert int(facts["s_esthot"]) == py_s.estimate("hot")


def test_update_with_weight_and_empty():
    s = DsFrequentSketch.empty(64)
    assert s.serialize() == DsFrequentSketch.parse(s.serialize(), strings=False).serialize()
    s.update(5, 100)
    s.update(5)
    assert s.estimate(5) == 101 and s.stream_length == 101
    assert s.frequent_items() == [(5, 101, 101, 101)]


# ---------------------------------------------------------------------------
# SQL surface
# ---------------------------------------------------------------------------


def test_sql_grouped_two_phase_and_estimates(spark, sf_dir):
    from pinot_spark.catalog import load_tables
    from pinot_spark.dialect import PinotEngine

    load_tables(spark, sf_dir)
    eng = PinotEngine(spark)
    rows = eng.sql(
        "SELECT o_orderstatus, "
        "FREQUENT_STRINGS_ESTIMATE(FREQUENT_STRINGS_SKETCH(o_orderpriority, 64),"
        " '1-URGENT') AS e_urgent, COUNT(*) AS n "
        "FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus LIMIT 10"
    ).collect()
    exact = {
        r.o_orderstatus: (r.u, r.n)
        for r in spark.sql(
            "SELECT o_orderstatus, "
            "sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS u, "
            "count(*) AS n FROM orders GROUP BY o_orderstatus"
        ).collect()
    }
    assert len(rows) == len(exact)
    for r in rows:
        u, n = exact[r.o_orderstatus]
        # 5 priorities at maxMapSize 64: no purge, estimates are exact
        assert (r.e_urgent, r.n) == (u, n), r


def test_sql_window_and_foreign_bytes(spark, sf_dir):
    from pinot_spark.catalog import load_tables
    from pinot_spark.dialect import PinotEngine

    load_tables(spark, sf_dir)
    eng = PinotEngine(spark)
    rows = eng.sql(
        "SELECT n_name, FREQUENT_LONGS_ESTIMATE("
        "FREQUENT_LONGS_SKETCH(n_regionkey, 64) OVER (), 0) AS e "
        "FROM nation ORDER BY n_name LIMIT 3"
    ).collect()
    assert [r.e for r in rows] == [5, 5, 5]
    # a pinned Java sketch estimates through the SQL reader
    v = next(
        x for x in _VEC["longs"]
        if x["maxMapSize"] == 64 and x.get("n") == 20000
    )
    got = eng.sql(
        f"SELECT FREQUENT_LONGS_ESTIMATE(X'{v['bytes']}', 1) AS e"
    ).collect()[0].e
    assert got == v["est1"]


def test_sql_bytes_column_merges_as_sketches(spark):
    """BYTES inputs deserialize-and-merge — the reference's contract
    for pre-aggregated segments."""
    from pinot_spark.dialect import PinotEngine

    eng = PinotEngine(spark)
    a = DsFrequentSketch.build_from_values([1, 1, 2], 64).serialize()
    b = DsFrequentSketch.build_from_values([1, 3], 64).serialize()
    spark.createDataFrame(
        [(bytes(a),), (bytes(b),)], "blob binary"
    ).createOrReplaceTempView("freq_blobs")
    got = eng.sql(
        "SELECT FREQUENT_LONGS_ESTIMATE(FREQUENT_LONGS_SKETCH(blob, 64), 1) AS e "
        "FROM freq_blobs LIMIT 1"
    ).collect()[0].e
    assert got == 3


# ---------------------------------------------------------------------------
# zero-shuffle routing (plan gates)
# ---------------------------------------------------------------------------


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_freq_grouped_takes_zero_shuffle_route(spark, sf_dir):
    """Canonical FREQUENT_*_SKETCH statements ride the grouped-partials
    mapInArrow route — no pmod bucket column, no GROUPED_AGG pandas
    inner — pure AND mixed with native aggregates; values equal the
    bucketed path's (both exact below the purge threshold)."""
    from pinot_spark.catalog import load_tables
    from pinot_spark.dialect import PinotEngine

    load_tables(spark, sf_dir)
    eng = PinotEngine(spark)
    df = eng.sql(
        "SELECT o_orderstatus, FREQUENT_STRINGS_ESTIMATE("
        "FREQUENT_STRINGS_SKETCH(o_orderpriority, 64), '1-URGENT') AS e "
        "FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus LIMIT 10"
    )
    p = _plan(df)
    assert "MapInArrow" in p and "pmod" not in p, p
    assert "FlatMapGroupsInPandas" not in p, p
    exact = {
        r.o_orderstatus: r.u
        for r in spark.sql(
            "SELECT o_orderstatus, "
            "sum(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS u "
            "FROM orders GROUP BY o_orderstatus"
        ).collect()
    }
    assert {r.o_orderstatus: r.e for r in df.collect()} == exact

    mixed = eng.sql(
        "SELECT o_orderstatus, COUNT(*) AS n, FREQUENT_LONGS_ESTIMATE("
        "FREQUENT_LONGS_SKETCH(o_custkey, 256), 1) AS e "
        "FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus LIMIT 10"
    )
    mp = _plan(mixed)
    assert "MapInArrow" in mp and "pmod" not in mp, mp
    assert len(mixed.collect()) == len(exact)


def test_freq_bytes_column_declines_to_udaf_path(spark):
    """A BYTES argument (serialized foreign sketches) declines the
    zero-shuffle route — the type probe sends it to the UDAF path whose
    partial merges blobs per the reference contract."""
    from pinot_spark.dialect import PinotEngine

    eng = PinotEngine(spark)
    a = DsFrequentSketch.build_from_values([1, 1, 2], 64).serialize()
    b = DsFrequentSketch.build_from_values([1, 3], 64).serialize()
    spark.createDataFrame(
        [(bytes(a),), (bytes(b),)], "blob binary"
    ).createOrReplaceTempView("freq_blobs_zs")
    df = eng.sql(
        "SELECT FREQUENT_LONGS_ESTIMATE(FREQUENT_LONGS_SKETCH(blob, 64), 1) AS e "
        "FROM freq_blobs_zs LIMIT 1"
    )
    assert df.collect()[0].e == 3


@pytest.mark.skipif(shutil.which("javac") is None, reason="no JDK")
def test_merge_offset_semantics_live_java(tmp_path):
    """Discriminating live-Java merge cases the offset-free test can't
    see: (a) merging a POST-PURGE other (offset > 0) feeds the RAW
    stored counts (not count+offset) and adds offsets once; (b) a
    purged-to-empty other (numActive == 0, streamLength/offset > 0) is
    skipped ENTIRELY by Java's isEmpty() gate — offset and stream
    length dropped."""
    # both purge: zipf-ish streams over > capacity distinct items
    a_vals = [i % 97 for i in range(6000)] + [7] * 500
    b_vals = [i % 89 for i in range(6000)] + [11] * 400
    a = DsFrequentSketch.build_from_values(a_vals, 64)
    b = DsFrequentSketch.build_from_values(b_vals, 64)
    assert a.offset > 0 and b.offset > 0  # the case under test
    (tmp_path / "a.bin").write_bytes(a.serialize())
    (tmp_path / "b.bin").write_bytes(b.serialize())
    # hand-crafted purged-to-empty sketch: no actives, nonzero tallies
    ghost = DsFrequentSketch(lg_max=6, lg_cur=3, stream_length=100, offset=50)
    (tmp_path / "g.bin").write_bytes(ghost.serialize())

    src = tmp_path / "FM.java"
    src.write_text(
        """
import org.apache.datasketches.frequencies.*;
import org.apache.datasketches.memory.Memory;
import java.nio.file.*;

public class FM {
  public static void main(String[] args) throws Exception {
    LongsSketch a = LongsSketch.getInstance(Memory.wrap(Files.readAllBytes(Paths.get(args[0]))));
    LongsSketch b = LongsSketch.getInstance(Memory.wrap(Files.readAllBytes(Paths.get(args[1]))));
    LongsSketch g = LongsSketch.getInstance(Memory.wrap(Files.readAllBytes(Paths.get(args[2]))));
    LongsSketch m = a.merge(b);
    System.out.println("off=" + m.getMaximumError());
    System.out.println("len=" + m.getStreamLength());
    System.out.println("e7=" + m.getEstimate(7L));
    System.out.println("e11=" + m.getEstimate(11L));
    System.out.println("n=" + m.getNumActiveItems());
    LongsSketch m2 = m.merge(g);
    System.out.println("goff=" + m2.getMaximumError());
    System.out.println("glen=" + m2.getStreamLength());
  }
}
"""
    )
    cp = f"{_JARS}/datasketches-java-6.2.0.jar:{_JARS}/datasketches-memory-3.0.2.jar"
    subprocess.run(
        ["javac", "-cp", cp, str(src)], cwd=tmp_path, check=True, capture_output=True
    )
    out = subprocess.run(
        ["java", "-cp", f".:{cp}", "FM", "a.bin", "b.bin", "g.bin"],
        cwd=tmp_path,
        check=True,
        capture_output=True,
        text=True,
    ).stdout
    facts = dict(line.split("=") for line in out.strip().splitlines())
    m = a.merge(b)
    assert int(facts["off"]) == m.offset
    assert int(facts["len"]) == m.stream_length
    assert int(facts["e7"]) == m.estimate(7)
    assert int(facts["e11"]) == m.estimate(11)
    assert int(facts["n"]) == len(m.counts)
    # ghost skip: tallies unchanged through the Java merge AND ours
    g2 = m.merge(ghost)
    assert int(facts["goff"]) == g2.offset == m.offset
    assert int(facts["glen"]) == g2.stream_length == m.stream_length


def test_freq_sketch_next_to_collect_set_raw_sketch(spark):
    """A raw sketch that ``rewrite_functions`` builds from collect_set
    (DISTINCT_COUNT_RAW_HLL_PLUS) next to a pandas-UDAF family
    (FREQUENT_STRINGS_SKETCH) takes the mixed split: Spark cannot place
    both in one aggregation (INVALID_PANDAS_UDF_PLACEMENT).  The
    combined statement answers what each call answers alone."""
    from pinot_spark.dialect import PinotEngine

    spark.createDataFrame(
        [(i % 3, f"s{i % 5}", i) for i in range(40)], "k int, s string, v bigint"
    ).createOrReplaceTempView("freq_mix_cs")
    eng = PinotEngine(spark)

    def by_key(select: str) -> dict:
        rows = eng.sql(f"SELECT k, {select} FROM freq_mix_cs GROUP BY k").collect()
        return {r.k: r[1:] for r in rows}

    def freq(blob) -> dict:
        sk = DsFrequentSketch.parse(bytes(blob), strings=True)
        return {f"s{j}": sk.estimate(f"s{j}") for j in range(5)}

    both = by_key("DISTINCT_COUNT_RAW_HLL_PLUS(v) AS h, FREQUENT_STRINGS_SKETCH(s) AS f")
    hll = by_key("DISTINCT_COUNT_RAW_HLL_PLUS(v) AS h")
    fs = by_key("FREQUENT_STRINGS_SKETCH(s) AS f")
    assert sorted(both) == sorted(hll) == sorted(fs) == [0, 1, 2]
    for k, (h, f) in both.items():
        assert bytes(h) == bytes(hll[k][0])
        assert freq(f) == freq(fs[k][0])
