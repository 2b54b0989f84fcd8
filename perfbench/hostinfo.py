"""Host and process readings from /proc (Linux)."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # the command name may hold spaces and parentheses: split after it
    return raw[raw.rindex(")") + 2 :].split()


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used by this process and every live
    descendant, plus what their already-reaped children used: the
    benchmark, the Spark driver JVM and its Python workers."""
    root = os.getpid()
    parent: dict[int, int] = {}
    fields: dict[int, list[str]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(name)
        if f is None:
            continue
        parent[int(name)] = int(f[1])
        fields[int(name)] = f
    tree, frontier = {root}, [root]
    while frontier:
        p = frontier.pop()
        for child, ppid in parent.items():
            if ppid == p and child not in tree:
                tree.add(child)
                frontier.append(child)
    ticks = 0
    for pid in tree:
        f = fields.get(pid)
        if f is not None:  # utime stime cutime cstime
            ticks += sum(int(x) for x in f[11:15])
    return ticks / _TICK


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals[:8])


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return 100.0 * (after[0] - before[0]) / total if total > 0 else 0.0


def load_avg() -> float:
    return os.getloadavg()[0]
