"""Golden snapshot of the Pinot-SQL dialect's translate output.

Every registry builder that reaches ``PinotEngine`` is built (not
collected) at the test scale factor while ``PinotEngine.translate`` is
recorded; each ``(input, output)`` pair must match the committed
snapshot byte for byte.  The engine's sequence-numbered view and UDF
names depend on how many statements ran before, so their numbers are
renumbered by first appearance within each builder.

``PinotEngine.sql`` sends canonical raw-sketch statements down the
zero-shuffle route before ``translate`` sees them, so the registry never
shows translate's own raw-sketch restructures.  ``PINNED`` statements go
straight to ``translate``, one per restructure shape, and each output
must hold its shape's markers.

Regenerate the snapshot (only when a translate change is intended)::

    python -m tests.test_translate_golden
"""

from __future__ import annotations

import inspect
import json
import os
import re

from pinot_spark.dialect import PinotEngine

GOLDEN = os.path.join(os.path.dirname(__file__), "data", "translate_golden.json")

_SEQ_NAME_RE = re.compile(
    r"(__(?:asof_join|funnel|gapfill|groovy|rswin|rswk|rsrun|theta_zs)_)(\d+)"
)

# name -> (statement, substrings the output must hold, substrings it
# must not hold)
PINNED = {
    "pinned_two_phase": (
        "SELECT l_returnflag, DISTINCT_COUNT_TUPLE_SKETCH(TO_INTEGER_SUM_TUPLE_SKETCH("
        "l_partkey, l_quantity)) AS tu, FREQUENT_STRINGS_SKETCH(l_linestatus) AS fs, "
        "FREQUENTLONGSSKETCH(l_linenumber, 64) AS fl FROM lineitem "
        "GROUP BY l_returnflag",
        ["l_linestatus AS __g1", "pmod(xxhash64(__g0), 256)) __rs_partials GROUP BY l_returnflag"],
        ["__rsn"],
    ),
    # theta is a native aggregate: next to the frequent-items families
    # it takes the native side of the mixed split
    "pinned_theta_native_split": (
        "SELECT l_returnflag, DISTINCTCOUNTRAWTHETASKETCH(l_partkey, "
        "'nominalEntries=1024') AS th, FREQUENT_STRINGS_SKETCH(l_linestatus) AS fs, "
        "FREQUENTLONGSSKETCH(l_linenumber, 64) AS fl FROM lineitem "
        "GROUP BY l_returnflag",
        ["theta_sketch_agg(l_partkey, 10) AS __nat0", ") __rsn JOIN (",
         "pmod(xxhash64(__g0), 256)) __rs_partials"],
        ["__theta_"],
    ),
    "pinned_two_phase_mv": (
        "SELECT label, DISTINCTCOUNTRAWHLLMV(embedding, 10) AS h, "
        "DISTINCTCOUNTRAWHLLPLUSMV(embedding, 12, 20) AS hp, "
        "PERCENTILERAWTDIGESTMV(embedding, 50) AS td FROM embeddings GROUP BY label",
        ["embedding AS __g0", "pmod(xxhash64(__g0), 256)) __rs_partials GROUP BY label"],
        ["__rsn"],
    ),
    "pinned_mixed_split": (
        "SELECT c_mktsegment, COUNT(*) AS n, DISTINCT_COUNT_TUPLE_SKETCH("
        "TO_INTEGER_SUM_TUPLE_SKETCH(c_custkey, 1)) AS dc FROM customer "
        "GROUP BY c_mktsegment HAVING COUNT(*) > 0",
        [") __rsn JOIN (", "pmod(xxhash64(__g0), 256)) __rs_partials"],
        [],
    ),
    "pinned_inexpr_udaf": (
        "SELECT FREQUENT_STRINGS_SKETCH(l_returnflag) AS fs, "
        "DISTINCT_COUNT_TUPLE_SKETCH(TO_INTEGER_SUM_TUPLE_SKETCH(l_suppkey, l_quantity)) AS tu "
        "FROM lineitem GROUP BY substr(l_linestatus, 1, 1)",
        ["__freq_str_partial(l_returnflag, ", "__tuple_estimate(__tuple_partial("],
        ["__rs_partials"],
    ),
    "pinned_setop": (
        "SELECT FREQUENTLONGSSKETCH(l_partkey) AS dc FROM lineitem "
        "WHERE l_returnflag = 'A' UNION ALL SELECT FREQUENTLONGSSKETCH(l_partkey) "
        "AS dc FROM lineitem WHERE l_returnflag = 'N'",
        ["__rs_partials) UNION ALL (SELECT"],
        [],
    ),
    "pinned_tuple_blob": (
        "SELECT g, DISTINCT_COUNT_TUPLE_SKETCH(b) AS dc, "
        "SUM_VALUES_INTEGER_SUM_TUPLE_SKETCH(b) AS sv, AVG_VALUE_INTEGER_SUM_TUPLE_SKETCH(b) AS av "
        "FROM (SELECT o_orderstatus AS g, TO_INTEGER_SUM_TUPLE_SKETCH(o_custkey, o_totalprice) "
        "AS b FROM orders) GROUP BY g",
        ["__tuple_partial(__g0) AS __rs0", "pmod(xxhash64(__g0), 256)) __rs_partials GROUP BY g"],
        [],
    ),
}


def _dialect_builders() -> dict:
    from pinot_spark.queries import QUERIES
    from pinot_spark.queries import dialect_queries

    out = {}
    for name, fn in sorted(QUERIES.items()):
        if fn.__module__ == dialect_queries.__name__ or "PinotEngine" in inspect.getsource(fn):
            out[name] = fn
    return out


def _normalize(records: list[dict]) -> list[dict]:
    seen: dict[str, str] = {}

    def renumber(m: re.Match) -> str:
        return m.group(1) + seen.setdefault(m.group(2), str(len(seen) + 1))

    return [{k: _SEQ_NAME_RE.sub(renumber, v) for k, v in r.items()} for r in records]


def capture(spark, sf_dir: str) -> dict[str, list[dict]]:
    """Build every dialect-reaching registry query, translate every
    ``PINNED`` statement, and return the normalized translate records,
    keyed by query or pinned name."""
    orig = PinotEngine.translate
    records: list[dict] = []

    def recording(self, pinot_sql, **kwargs):
        out = orig(self, pinot_sql, **kwargs)
        records.append({"input": pinot_sql, "output": out[0]})
        return out

    PinotEngine.translate = recording
    try:
        snap = {}
        for name, fn in _dialect_builders().items():
            records.clear()
            fn(spark, sf_dir)
            snap[name] = _normalize(records)
        eng = PinotEngine(spark)
        for name, (stmt, _need, _avoid) in PINNED.items():
            records.clear()
            eng.translate(stmt)
            snap[name] = _normalize(records)
        return snap
    finally:
        PinotEngine.translate = orig


def test_translate_matches_golden(spark, sf_dir):
    with open(GOLDEN) as fh:
        golden = json.load(fh)
    snap = capture(spark, sf_dir)
    for name, (_stmt, need, avoid) in PINNED.items():
        out = snap[name][0]["output"]
        assert all(m in out for m in need) and not any(m in out for m in avoid), (
            f"{name} left its restructure shape: {out}"
        )
    assert sorted(snap) == sorted(golden)
    diffs = [name for name in golden if snap[name] != golden[name]]
    assert not diffs, f"translate output changed for {diffs}: " + json.dumps(
        {n: snap[n] for n in diffs[:2]}, indent=1
    )[:4000]


if __name__ == "__main__":
    from pinot_spark.catalog import load_tables
    from pinot_spark.session import get_spark
    from tests.conftest import SF_DIR

    spark = get_spark("translate-golden", extra_confs={"spark.sql.shuffle.partitions": "8"})
    spark.sparkContext.setLogLevel("ERROR")
    load_tables(spark, SF_DIR)
    snap = capture(spark, SF_DIR)
    with open(GOLDEN, "w") as fh:
        json.dump(snap, fh, indent=1, sort_keys=True)
        fh.write("\n")
    print(f"{sum(map(len, snap.values()))} translate records from {len(snap)} builders -> {GOLDEN}")
