"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  Inputs are generated from ``--seed`` under
``.bench_build/perfbench/`` and removed at exit.  With ``--trace 0`` the
last stdout line carries the end-to-end metrics; with ``--trace 1`` it
carries the per-layer metrics of BENCHMARK.json.  The line before it
records the run's context (cores, master, host steal and load, failure
ratio and sample counts).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import hostinfo  # noqa: E402

END_TO_END = {
    "setup_s": "s",
    "query_p50_ms": "ms",
    "query_p90_ms": "ms",
    "queries_per_s": "1/s",
    "cpu_ms_per_query": "ms",
}


def _per_layer() -> dict[str, str]:
    with open(os.path.join(os.getcwd(), "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def _stop(b) -> None:
    """Stop every session and the JVM the run started, and wait for it."""
    from pyspark import SparkContext

    if b.spark is not None:
        b.spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def _remove_derived(root: str, name: str) -> None:
    """Remove what queries cached under ``.mv_cache`` for this run's data."""
    cache = os.path.join(root, ".mv_cache")
    if not os.path.isdir(cache):
        return
    for entry in os.listdir(cache):
        if entry.startswith(name + "_"):
            shutil.rmtree(os.path.join(cache, entry), ignore_errors=True)
    if not os.listdir(cache):
        os.rmdir(cache)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "pinot_spark", "session.py")):
        print("perfbench: run from the repository root (pinot_spark/ not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p
    )
    work = os.path.join(root, ".bench_build", "perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    # keep every scratch file of Python, the JVMs and Spark in the work dir
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")

    tracer = None
    if args.trace:
        from layers import Tracer

        tracer = Tracer()
        tracer.install()
    b = workloads.Bench(args.workload, args.seed, args.seconds, work, tracer)
    host0 = hostinfo.cpu_times()
    try:
        rep = workloads.WORKLOADS[args.workload](b)
        sc = b.spark.sparkContext
        context = {"cpus": cpus, "master": sc.master, "parallelism": sc.defaultParallelism}
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        try:
            _stop(b)
        finally:
            shutil.rmtree(work, ignore_errors=True)
            _remove_derived(root, os.path.basename(work))
    steal = hostinfo.steal_pct(host0, hostinfo.cpu_times())
    load = hostinfo.load_avg()

    loop = rep.loop
    for e in loop.errors[:20]:
        print(f"# failed: {e}", file=sys.stderr)
    if loop.completed == 0:
        print("perfbench: no operation completed", file=sys.stderr)
        return 1
    from harness import latency_metrics

    e2e = {
        "setup_s": rep.setup_s,
        **latency_metrics(loop),
        "cpu_ms_per_query": rep.cpu_s * 1e3 / loop.completed,
    }
    context.update({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "host.steal_pct": steal, "host.load_avg": load,
        "failed_ratio": loop.failed / loop.attempted,
        "samples": loop.completed, "rounds": loop.rounds, "wall_s": loop.wall_s,
        "median_ms_by_query": {
            k: round(statistics.median(v) * 1e3, 3) for k, v in sorted(loop.samples.items()) if v
        },
        **rep.extra,
        "end_to_end": e2e,  # in a traced run: for the tracing overhead only
    })
    if args.trace:
        units = _per_layer()
        values = {
            **rep.extra, **rep.layers, "host.steal_pct": steal, "host.load_avg": load,
            "queries.samples": loop.completed,
        }
        metrics = {name: {"value": float(values.get(name, 0.0)), "unit": unit}
                   for name, unit in units.items()}
    else:
        metrics = {name: {"value": e2e[name], "unit": unit} for name, unit in END_TO_END.items()}
    print(json.dumps({"context": context}))
    print(json.dumps({
        "correct": loop.failed == 0,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
