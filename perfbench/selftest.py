"""Self-test of the benchmark's accounting; needs no Spark.

    python3 perfbench/selftest.py

Checks that a query which raises, or returns a wrong result, is counted
in ``failed`` and left out of the latency samples while every other
query's samples stay exactly as they were, and that result fingerprints
match across the representation differences of Spark and DuckDB.
"""

from __future__ import annotations

import datetime
import decimal
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402


def check(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"selftest FAILED: {what}")


class FakeClock:
    """Whole seconds, so every difference of two readings is exact."""

    def __init__(self) -> None:
        self.now = 0

    def __call__(self) -> int:
        return self.now


def stub_ops(clock: FakeClock) -> dict:
    """Three queries that 'take' 10, 20 and 30 s and return their name."""

    def op(name, secs):
        def run():
            clock.now += secs
            return name

        return run

    return {"a": op("a", 10), "b": op("b", 20), "c": op("c", 30)}


def test_failures_are_counted_not_timed() -> None:
    clock = FakeClock()
    base = harness.run_rounds(stub_ops(clock), 0, seed=7, min_rounds=2, clock=clock)
    check(base.failed == 0 and base.attempted == 6, "clean loop counts")

    clock = FakeClock()
    ops = stub_ops(clock)

    def broken():
        clock.now += 500  # a slow failure must not read as a fast query
        raise RuntimeError("injected")

    ops["broken"] = broken
    ops["wrong"] = lambda: "not-the-answer"
    res = harness.run_rounds(
        ops, 0, seed=7, min_rounds=2, clock=clock,
        after=lambda name, out: name == "broken" or out == name,
    )
    check(res.attempted == 10, f"attempted {res.attempted} != 10")
    check(res.failed == 4, f"failed {res.failed} != 4")
    check(res.failed / res.attempted > 0, "failed_ratio > 0")
    check(res.samples["broken"] == [] and res.samples["wrong"] == [], "failures have no samples")
    for name in ("a", "b", "c"):
        check(res.samples[name] == base.samples[name], f"samples of {name} changed")
    check(sorted(res.latencies()) == sorted(base.latencies()), "latency set changed")
    m = harness.latency_metrics(res)
    check(m["query_p50_ms"] == 20_000, f"p50 {m['query_p50_ms']}")


def test_rounds_are_whole() -> None:
    clock = FakeClock()
    res = harness.run_rounds(stub_ops(clock), 100, seed=1, min_rounds=1, clock=clock)
    # 60 s per round: the second round starts at 60 s < 100 s and finishes
    check(res.rounds == 2 and all(len(v) == 2 for v in res.samples.values()), "whole rounds")


def test_fingerprint_normalization() -> None:
    fp = harness.fingerprint
    d = datetime.date(2024, 1, 2)
    midnight = datetime.datetime(2024, 1, 2)
    check(fp(["x"], [(d,)]) == fp(["x"], [(midnight,)]), "date == midnight timestamp")
    check(fp(["a", "B"], [(1, 2.000001)]) == fp(["b", "A"], [(2.0, 1)]), "column order, float tolerance")
    check(fp(["v"], [(decimal.Decimal("1.50"),)]) == fp(["v"], [(1.5,)]), "decimal vs float")
    check(fp(["v"], [(1,), (2,)]) == fp(["v"], [(2,), (1,)]), "row order")
    check(fp(["v"], [(1,), (1,)]) != fp(["v"], [(1,)]), "row multiplicity")
    check(fp(["v"], [(1.0,)]) != fp(["v"], [(1.001,)]), "value change")


def main() -> int:
    test_failures_are_counted_not_timed()
    test_rounds_are_whole()
    test_fingerprint_normalization()
    print("selftest passed")
    return 0


if __name__ == "__main__":
    sys.exit(main())
