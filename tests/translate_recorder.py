"""Opt-in pytest plugin: record the SQL the dialect emits, to diff two
checkouts of the engine.

Every ``PinotEngine.translate`` call is recorded as an ``(input,
output)`` pair, and every statement the zero-shuffle sketch route sends
to ``spark.sql`` as a ``route_sql`` record.  Records are grouped by test
node id, and sequence-numbered view and UDF names are renumbered the way
``tests/test_translate_golden.py`` renumbers them, so two runs of the
same tests diff cleanly::

    python -m pytest tests/test_dialect.py -p tests.translate_recorder \\
        --translate-record=/tmp/after.json
    diff /tmp/before.json /tmp/after.json

The plugin is not loaded unless ``-p tests.translate_recorder`` is given.
"""

from __future__ import annotations

import json

from pinot_spark.dialect import PinotEngine
from tests.test_translate_golden import _normalize

_ROUTE = "_route_raw_sketch_zero_shuffle"
_records: dict[str, list[dict]] = {}
_current = ["<collection>"]
_originals: dict[str, object] = {}


def pytest_addoption(parser):
    parser.addoption(
        "--translate-record",
        default="translate_record.json",
        help="JSON file the translate recorder writes (default: %(default)s)",
    )


def _append(record: dict) -> None:
    _records.setdefault(_current[0], []).append(record)


def pytest_configure(config):
    translate = _originals["translate"] = PinotEngine.translate
    route = _originals[_ROUTE] = getattr(PinotEngine, _ROUTE)

    def recording_translate(self, pinot_sql, **kwargs):
        out = translate(self, pinot_sql, **kwargs)
        _append({"input": pinot_sql, "output": out[0]})
        return out

    def recording_route(self, pinot_sql):
        spark = self.spark
        spark_sql = type(spark).sql

        def sql(sqlQuery, *args, **kwargs):
            _append({"route_sql": sqlQuery})
            return spark_sql(spark, sqlQuery, *args, **kwargs)

        # the route re-enters itself through PinotEngine.sql: only the
        # outermost call installs (and removes) the recording wrapper
        outermost = "sql" not in vars(spark)
        if outermost:
            spark.sql = sql
        try:
            return route(self, pinot_sql)
        finally:
            if outermost:
                del spark.sql

    PinotEngine.translate = recording_translate
    setattr(PinotEngine, _ROUTE, recording_route)


def pytest_runtest_setup(item):
    _current[0] = item.nodeid


def pytest_unconfigure(config):
    for name, fn in _originals.items():
        setattr(PinotEngine, name, fn)
    out = {k: _normalize(v) for k, v in sorted(_records.items())}
    with open(config.getoption("--translate-record"), "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
