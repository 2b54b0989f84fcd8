"""Benchmark harness: runs headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) and prints ONE JSON line:
{"metric": ..., "value": total_sec, "unit": "sec", "queries": {...},
 "failed": [...], "sf": ...}
A query that raises is listed in ``failed`` and left out of ``queries``,
``iterations`` and ``value``, so a failure never reads as a fast run.
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time

HEADLINE = [
    # TPC-H core (scan/filter/agg/join/top-k)
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_forecast_revenue",
    "q13_customer_distribution",
    "q18_large_volume_customer",
    # windows / distinct
    "window_rank_topn_per_group",
    "agg_distinct_family",
    # temporal composites
    "asof_join_backward",
    "events_time_bucket_agg",
    "funnel_max_step",
    # pipeline operators
    "dedup_exact_documents",
    "similarity_topk_cosine",
    "text_token_stats",
    # engine perf features (rollup routing, inverted-index search)
    "agg_startree_rollup_route",
    "text_inverted_index_search",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8))

    from pinot_spark.session import get_spark
    from pinot_spark import queries as Q

    spark = get_spark("pinot-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    names = [n for n in HEADLINE if n in Q.QUERIES]
    # warm-up: JVM/codegen + file listing, using the cheapest query
    Q.QUERIES[names[0]](spark, sf_dir).collect()

    # Median-of-N per query (default 5): a single local[32] run is noisy
    # (sandbox load, GC, page cache) — round 2 showed +23%, round 4 +53%
    # and round 7 +12% uniform drift on UNCHANGED query code. The median
    # is robust to stray iterations, and the per-iteration spread is
    # published so a noisy round is distinguishable from a plan
    # regression. Default raised 3 → 5 in round 8 after the drift
    # episodes narrowed per-query medians against the gate.
    iters = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_ITERS", "5")))
    timings: dict[str, float] = {}
    iterations: dict[str, list[float]] = {}
    failed: list[str] = []
    for name in names:
        times: list[float] = []
        try:
            for _attempt in range(iters):
                t0 = time.perf_counter()
                rows = Q.QUERIES[name](spark, sf_dir).collect()
                times.append(round(time.perf_counter() - t0, 3))
        except Exception as e:  # never lose the JSON line to one query
            print(f"# {name}: FAILED {e}", file=sys.stderr)
            failed.append(name)
            continue
        timings[name] = round(statistics.median(times), 3)
        iterations[name] = times
        print(
            f"# {name}: median {timings[name]}s of {times} ({len(rows)} rows)",
            file=sys.stderr,
        )

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spread = round(
        sum(max(t) - min(t) for t in iterations.values() if t), 3
    )
    # Prove the CPUS contract in the output itself (additive keys only —
    # the comparison contract on metric/value/queries is unchanged):
    # `cpus` echoes $SPARK_GRAFT_CPUS, `master`/`parallelism` report what
    # the SparkContext actually runs with, so a scaling probe can verify
    # the core count was honored rather than inferring it from ratios.
    # NOTE for interpreting low-vs-high-core ratios: every sf0.1 fixture
    # table is a single parquet row group (read-only, driver-generated),
    # so scans are one task at ANY core count; flat ratios measure the
    # fixture layout, not plan serialism (see OPTIMIZATION_r17/18.md).
    sc = spark.sparkContext
    cpus = os.environ["SPARK_GRAFT_CPUS"]
    print(
        json.dumps(
            {
                "metric": "headline_query_total",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": timings,
                "failed": failed,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
                "iters_per_query": iters,
                "iterations": iterations,
                "spread_total": spread,
                "cpus": int(cpus) if cpus.isdigit() else cpus,
                "master": sc.master,
                "parallelism": sc.defaultParallelism,
            }
        )
    )


if __name__ == "__main__":
    main()
