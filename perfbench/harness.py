"""Closed-loop driver, failure accounting and result checking.

Pure Python: nothing here imports Spark, so ``selftest.py`` can drive the
loop with stub operations.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math
import random
import statistics
import time
from collections.abc import Callable, Iterable, Sequence
from dataclasses import dataclass, field


def _norm(v):
    """One cell, normalized the way the repo's verify recipe compares
    Spark with DuckDB: a date equals the midnight timestamp of that day,
    floats compare at 4 decimals (queries round their float outputs),
    nested values compare element-wise."""
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, (int, float, decimal.Decimal)):
        f = float(v)
        return None if math.isnan(f) else round(f, 4)
    if isinstance(v, datetime.datetime):
        s = v.replace(tzinfo=None).isoformat()
        return ("T", s[:-9] if s.endswith("T00:00:00") else s)
    if isinstance(v, datetime.date):
        return ("T", v.isoformat())
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, dict):
        return tuple(sorted((str(k), _norm(x)) for k, x in v.items()))
    if hasattr(v, "asDict"):  # pyspark Row (struct column)
        return tuple(sorted((k, _norm(x)) for k, x in v.asDict().items()))
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    return v


def fingerprint(columns: Sequence[str], rows: Iterable[Sequence]) -> str:
    """Order-insensitive digest of a result: columns matched by
    lower-cased sorted name, rows compared as a multiset."""
    order = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    lines = sorted(repr(tuple(_norm(r[i]) for i in order)) for r in rows)
    h = hashlib.sha1()
    h.update(repr(sorted(c.lower() for c in columns)).encode())
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return f"{len(lines)}:{h.hexdigest()}"


def quantile(values: Sequence[float], q: float) -> float:
    """Nearest-rank quantile; the p90 of 30 samples is the 27th smallest."""
    if not values:
        raise ValueError("quantile of no samples")
    s = sorted(values)
    return s[min(len(s) - 1, max(0, math.ceil(q * len(s)) - 1))]


@dataclass
class LoopResult:
    samples: dict[str, list[float]] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)
    wall_s: float = 0.0
    rounds: int = 0

    @property
    def completed(self) -> int:
        return sum(len(v) for v in self.samples.values())

    def latencies(self) -> list[float]:
        return [t for v in self.samples.values() for t in v]

    def attempt(
        self,
        name: str,
        op: Callable[[], object],
        after: Callable[[str, object], bool] | None = None,
        clock: Callable[[], float] = time.perf_counter,
    ) -> object | None:
        """Run and time one operation.  An op that raises, or whose
        result ``after`` rejects (checked outside the timed span), counts
        in ``failed``, adds no latency sample and returns None."""
        self.attempted += 1
        t0 = clock()
        try:
            out = op()
        except Exception as e:  # one failing operation must not end the run
            self.failed += 1
            self.errors.append(f"{name}: {type(e).__name__}: {str(e)[:300]}")
            return None
        dt = clock() - t0
        if after is not None and not after(name, out):
            self.failed += 1
            self.errors.append(f"{name}: wrong result")
            return None
        self.samples.setdefault(name, []).append(dt)
        return out


def more_rounds(res: LoopResult, start: float, seconds: float, min_rounds: int, clock) -> bool:
    """Whether to start another round.  Runs measure whole rounds, at
    least ``min_rounds`` of them: a run that stopped only on time would
    sometimes fit one round more than another run, and since rounds still
    speed up as the JVM warms, that alone moved the metrics by 25%."""
    return res.rounds < min_rounds or clock() - start < seconds


def run_rounds(
    ops: dict[str, Callable[[], object]],
    seconds: float,
    seed: int,
    min_rounds: int,
    after: Callable[[str, object], bool] | None = None,
    clock: Callable[[], float] = time.perf_counter,
) -> LoopResult:
    """One closed-loop client: each round runs every op once in a seeded
    order; rounds repeat until ``min_rounds`` are done and ``seconds`` have
    passed, and the round in flight always finishes so every op is
    sampled equally often."""
    res = LoopResult(samples={name: [] for name in ops})
    rng = random.Random(seed)
    names = sorted(ops)
    start = clock()
    while more_rounds(res, start, seconds, min_rounds, clock):
        rng.shuffle(names)
        for name in names:
            res.attempt(name, ops[name], after, clock)
        res.rounds += 1
    res.wall_s = clock() - start
    return res


def latency_metrics(res: LoopResult) -> dict[str, float]:
    lat = res.latencies()
    return {
        "query_p50_ms": statistics.median(lat) * 1e3,
        "query_p90_ms": quantile(lat, 0.9) * 1e3,
        "queries_per_s": res.completed / res.wall_s,
    }
