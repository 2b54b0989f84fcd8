"""Golden snapshot of the Pinot-SQL dialect's translate output.

Every registry builder that reaches ``PinotEngine`` is built (not
collected) at the test scale factor while ``PinotEngine.translate`` is
recorded; each ``(input, output)`` pair must match the committed
snapshot byte for byte.  The engine's sequence-numbered view and UDF
names depend on how many statements ran before, so their numbers are
renumbered by first appearance within each builder.

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
    """Build every dialect-reaching registry query and return its
    normalized translate records, keyed by query name."""
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
        return snap
    finally:
        PinotEngine.translate = orig


def test_translate_matches_golden(spark, sf_dir):
    with open(GOLDEN) as fh:
        golden = json.load(fh)
    snap = capture(spark, sf_dir)
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
