"""The three benchmark workloads.

Each workload function takes a ``Bench`` (the run's arguments, work
directory, live session and optional tracer) and returns a ``Report``.
Every query result is checked: the query workloads compare each result
with a fingerprint taken at set-up and checked there against the query's
DuckDB twin; the ingest workload compares what it reads with the same
figures computed in Python from the generated input.
"""

from __future__ import annotations

import gc
import math
import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field

import datagen
import harness
import hostinfo

# Set-up cycles per run: the first starts the JVM, the rest restart the
# SparkContext inside it; setup_s is their median.
SETUP_CYCLES = 3
OLAP_SF = 0.1
SQL_SF = 0.001
INGEST_SF = 0.01
# Whole rounds each run measures at the least (see harness.more_rounds).
QUERY_ROUNDS = 2
INGEST_ROUNDS = 3
INGEST_STEPS = 4  # micro-batches per ingest round
INGEST_ROWS = 3000  # rows per micro-batch
# The dialect_* registry queries whose physical plans run no Python
# worker (no ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas node at
# the commit that defined this list).  The other 18 spend their time in
# Python-worker execution, not in the driver layers this workload is for,
# and would double its run time.  Fixed by name so a plan change in the
# program cannot change the workload.
SQL_QUERIES = [
    "dialect_asof_join", "dialect_datetime_convert", "dialect_ddl_mv_roundtrip",
    "dialect_default_limit_selection", "dialect_distinct_count_over",
    "dialect_epoch_functions", "dialect_fn_surface_ext", "dialect_funnel_count",
    "dialect_gapfill", "dialect_lookup_transform", "dialect_map_vector_options",
    "dialect_mv_distinct_scale", "dialect_null_option", "dialect_pinot_agg_names",
    "dialect_query_hints", "dialect_st_union_area", "dialect_todatetime_roundtrip",
    "dialect_unnest_ordinality", "dialect_uuid_skipupsert",
]
EVENT_KEYS = ["event_id"]
EVENT_CMP = ["ts"]


@dataclass
class Bench:
    workload: str
    seed: int
    seconds: float
    work: str
    tracer: object | None = None
    spark: object | None = None
    sessions: list = field(default_factory=list)
    t0: float = field(default_factory=time.perf_counter)

    def data_dir(self) -> str:
        """Where the generated tables go.  The name is unique to the run:
        some queries cache derived tables under ``.mv_cache/<name>_*``."""
        return os.path.join(self.work, os.path.basename(self.work))

    def confs(self) -> dict[str, str]:
        return {
            "spark.driver.memory": "2g",
            "spark.sql.shuffle.partitions": os.environ["SPARK_GRAFT_CPUS"],
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
        }


@dataclass
class Report:
    loop: harness.LoopResult
    setup_s: float
    cpu_s: float
    layers: dict[str, float] = field(default_factory=dict)
    extra: dict[str, float] = field(default_factory=dict)


def _phase(b: Bench, what: str) -> None:
    """Log run progress with elapsed seconds on stderr."""
    print(f"# {time.perf_counter() - b.t0:7.2f}s {what}", file=sys.stderr, flush=True)


def _setup(b: Bench, data_dir: str, warm) -> float:
    """Start the session, load the catalog and run ``warm`` once, SETUP_CYCLES
    times; returns the median cycle in seconds.  Earlier sessions stay
    referenced so no cache keyed on ``id(session)`` can see a reused id."""
    from pinot_spark import catalog, session

    times = []
    for _ in range(SETUP_CYCLES):
        if b.spark is not None:
            b.spark.stop()
        t0 = time.perf_counter()
        spark = session.get_spark("perfbench", extra_confs=b.confs())
        spark.sparkContext.setLogLevel("ERROR")
        catalog.load_tables(spark, data_dir)
        warm(spark)
        times.append(time.perf_counter() - t0)
        b.spark = spark
        b.sessions.append(spark)
    if b.tracer is not None:
        b.tracer.attach(b.spark)
    return statistics.median(times)


def _settle(spark) -> None:
    """Collect garbage on both sides before the timed loop, so a pause
    left over from set-up does not land in it."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def _setup_layers(b: Bench) -> dict[str, float]:
    t = b.tracer
    out = {
        "session.start_ms": t.median_ms("session.start"),
        "catalog.load_ms": t.median_ms("catalog.load"),
        "catalog.tables": t.counts["catalog.tables"],
    }
    t.reset()
    return out


def _run_query(tracer, name: str, build):
    """Build a query's DataFrame and collect it; the timed operation."""
    group = tracer.begin_query(name) if tracer else None
    t0 = time.perf_counter()
    df = tracer.build(build) if tracer else build()
    t1 = time.perf_counter()
    rows = df.collect()
    return group, df, rows, t1 - t0, time.perf_counter() - t1


def _end_query(tracer, out, ok: bool) -> None:
    """Record the layers of a query whose result was checked correct."""
    if tracer and ok:
        group, df, rows, build_s, collect_s = out
        tracer.end_query(group, df, len(rows), build_s, collect_s)


def _temp_views(spark) -> int:
    return sum(1 for t in spark.catalog.listTables() if t.isTemporary)


def _duck(data_dir: str):
    import duckdb

    from pinot_spark.catalog import TABLE_NAMES

    con = duckdb.connect()
    for name in TABLE_NAMES:
        con.sql(
            f"CREATE VIEW {name} AS SELECT * FROM "
            f"read_parquet('{os.path.join(data_dir, name + '.parquet')}')"
        )
    return con


def _query_workload(b: Bench, names: list[str], sf: float, warm: str) -> Report:
    from pinot_spark import queries as Q

    data_dir = b.data_dir()
    datagen.write_tables(data_dir, sf, b.seed)
    builders = {n: Q.QUERIES[n] for n in names}
    _phase(b, "inputs written")
    setup_s = _setup(b, data_dir, lambda s: builders[warm](s, data_dir).collect())
    spark, tracer = b.spark, b.tracer
    layers = _setup_layers(b) if tracer else {}
    views0 = _temp_views(spark)
    _phase(b, "set up")

    # correctness gate, outside the timed loop: every query once on Spark
    # against its DuckDB twin; the fingerprint then checks every timed run
    con = _duck(data_dir)
    expected: dict[str, str | None] = {}
    for n in names:
        expected[n] = None  # a query that fails here fails every timed run
        try:
            df = builders[n](spark, data_dir)
            got = harness.fingerprint(df.columns, df.collect())
            rel = con.sql(Q.ORACLE[n])
            want = harness.fingerprint(rel.columns, rel.fetchall())
        except Exception as e:  # recorded, and counted in the timed loop
            print(f"# {n}: set-up run failed: {type(e).__name__}: {str(e)[:300]}", file=sys.stderr)
            continue
        if got == want:
            expected[n] = got
        else:
            print(f"# {n}: Spark {got} != DuckDB {want}", file=sys.stderr)
    con.close()
    _phase(b, "results checked against DuckDB")
    if tracer:
        tracer.reset()

    def op(name):
        return lambda: _run_query(tracer, name, lambda: builders[name](spark, data_dir))

    check_cpu = [0.0]

    def after(name, out):
        c0 = time.process_time()
        df, rows = out[1], out[2]
        ok = expected[name] is not None and harness.fingerprint(df.columns, rows) == expected[name]
        _end_query(tracer, out, ok)
        check_cpu[0] += time.process_time() - c0
        return ok

    _settle(spark)
    cpu0 = hostinfo.tree_cpu_s()
    loop = harness.run_rounds({n: op(n) for n in names}, b.seconds, b.seed, QUERY_ROUNDS, after)
    cpu_s = hostinfo.tree_cpu_s() - cpu0 - check_cpu[0]
    _phase(b, f"timed loop done: {loop.rounds} round(s)")
    if tracer:
        layers.update(tracer.query_metrics())
        layers["catalog.temp_views_end"] = _temp_views(spark) - views0
    return Report(loop, setup_s, cpu_s, layers)


def olap_headline(b: Bench) -> Report:
    import bench

    return _query_workload(b, list(bench.HEADLINE), OLAP_SF, "q6_forecast_revenue")


def pinot_sql(b: Bench) -> Report:
    return _query_workload(b, SQL_QUERIES, SQL_SF, "dialect_default_limit_selection")


# -- ingest_upsert ------------------------------------------------------


class _Expected:
    """Latest row per event_id over the batches landed so far, plus the
    offline events table: the figures every ingest-side read must show."""

    def __init__(self, offline) -> None:
        self.latest: dict[int, tuple] = {}
        self.offline = {}
        for t, v in zip(offline.column("event_type").to_pylist(), offline.column("value").to_pylist()):
            n, s = self.offline.get(t, (0, 0.0))
            self.offline[t] = (n + 1, s + v)

    def add(self, batch) -> None:
        cols = [batch.column(c).to_pylist() for c in ("event_id", "ts", "user_id", "event_type", "value")]
        for eid, ts, user, etype, value in zip(*cols):
            cur = self.latest.get(eid)
            if cur is None or ts > cur[0]:
                self.latest[eid] = (ts, user, etype, value)

    def by_type(self) -> dict[str, tuple[int, float, float]]:
        out: dict[str, tuple[int, float, float]] = {}
        for _ts, _u, t, v in self.latest.values():
            n, s, m = out.get(t, (0, 0.0, -math.inf))
            out[t] = (n + 1, s + v, max(m, v))
        return out


def _close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)


def _dir_bytes(path: str) -> tuple[int, int]:
    files = size = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(root, n))
    return files, size


def ingest_upsert(b: Bench) -> Report:
    import pyarrow.parquet as pq
    import pyspark.sql.functions as F

    from pinot_spark import catalog
    from pinot_spark.plans import materialized
    from pinot_spark.sources import segments
    from pinot_spark.streaming import ingest

    data_dir = b.data_dir()
    datagen.write_tables(data_dir, INGEST_SF, b.seed)
    offline_pa = pq.read_table(os.path.join(data_dir, "events.parquet"))
    batches = datagen.ingest_batches(
        b.seed, INGEST_STEPS, INGEST_ROWS, first_id=offline_pa.num_rows,
        users=max(15, int(15_000 * INGEST_SF)),
    )
    boundary = str(datagen.EVENTS_START + datagen.EVENTS_SPAN_US)
    setup_s = _setup(b, data_dir, lambda s: catalog.load_tables(s, data_dir)["events"].count())
    spark, tracer = b.spark, b.tracer
    layers = _setup_layers(b) if tracer else {}
    views0 = _temp_views(spark)
    offline = catalog.load_tables(spark, data_dir)["events"]
    reads = harness.LoopResult()  # query latencies: the read side
    writes = harness.LoopResult()  # ingest, segment and rollup builds
    stats = {"ingest_s": 0.0, "rows": 0, "trigger_ms": [], "input_rows": 0,
             "fresh": [], "seg_files": 0, "seg_bytes": 0, "in_bytes": 0, "visible": 0}

    def query(name, build, check):
        """Time build + collect of one read; check its rows afterwards."""
        def after(_name, out):
            ok = check(out[2])
            _end_query(tracer, out, ok)
            return ok

        return reads.attempt(name, lambda: _run_query(tracer, name, build), after)

    def one_round(root: str, record: bool, steps: int = INGEST_STEPS) -> None:
        landing, rt = os.path.join(root, "landing"), os.path.join(root, "rt")
        ckpt, seg = os.path.join(root, "ckpt"), os.path.join(root, "seg")
        os.makedirs(landing)
        stream = ingest.stream_source(
            spark, "file", file_format="parquet", schema=datagen.EVENT_DDL, path=landing
        )
        exp = _Expected(offline_pa)
        in_bytes = 0
        for step, batch in enumerate(batches[:steps]):
            tmp = os.path.join(root, f"batch-{step}.parquet")
            pq.write_table(batch, tmp)
            in_bytes += os.path.getsize(tmp)
            t_land = time.perf_counter()
            os.replace(tmp, os.path.join(landing, f"batch-{step}.parquet"))
            exp.add(batch)

            def run_ingest():
                q = ingest.start_realtime_ingest(
                    stream, rt, ckpt, keys=EVENT_KEYS, comparison=EVENT_CMP, available_now=True
                )
                q.awaitTermination()
                if q.exception() is not None:
                    raise RuntimeError(str(q.exception()))
                return q.recentProgress

            t0 = time.perf_counter()
            progress = writes.attempt("ingest", run_ingest)
            if progress is None:
                continue
            ingest_s = time.perf_counter() - t0

            def realtime():
                return ingest.realtime_table(spark, rt, keys=EVENT_KEYS, comparison=EVENT_CMP)

            n_latest = len(exp.latest)
            total = sum(v[3] for v in exp.latest.values())
            max_ts = max(v[0] for v in exp.latest.values())
            visible = query(
                "visible",
                lambda: realtime().agg(F.count("*").alias("n"), F.sum("value").alias("s"),
                                       F.max("ts").alias("t")),
                lambda rows: rows[0]["n"] == n_latest and _close(rows[0]["s"], total)
                and rows[0]["t"] == max_ts,
            )
            if visible is not None and record:
                stats["fresh"].append(time.perf_counter() - t_land)
            by_type = exp.by_type()
            hybrid_want = {
                t: (n + exp.offline.get(t, (0, 0.0))[0], s + exp.offline.get(t, (0, 0.0))[1])
                for t, (n, s, _m) in by_type.items()
            }
            query(
                "hybrid",
                lambda: ingest.hybrid_view(offline, realtime(), "ts", boundary)
                .groupBy("event_type").agg(F.count("*").alias("n"), F.sum("value").alias("s")),
                lambda rows: len(rows) == len(hybrid_want) and all(
                    r["n"] == hybrid_want[r["event_type"]][0]
                    and _close(r["s"], hybrid_want[r["event_type"]][1]) for r in rows),
            )
            written = writes.attempt("segments", lambda: segments.write_segments(
                realtime(), seg, time_col="ts", time_bucket="hour", sort_cols=["user_id"]) or True)
            mv_path = os.path.join(root, f"mv-{step}")  # a rollup is never rewritten in place
            mvc = written and writes.attempt("mv", lambda: materialized.MVCatalog([
                materialized.create_aggregate_mv(segments.read_segments(spark, seg), "events_by_type",
                                                 mv_path, dims=["event_type"], measure_cols=["value"])
            ]))
            if mvc:
                base = segments.read_segments(spark, seg)
                query(
                    "mv_routed",
                    lambda: mvc.route(spark, base, ["event_type"], [
                        ("count", "*", "n"), ("sum", "value", "s"), ("max", "value", "m")]),
                    lambda rows: len(rows) == len(by_type) and all(
                        r["n"] == by_type[r["event_type"]][0]
                        and _close(r["s"], by_type[r["event_type"]][1])
                        and r["m"] == by_type[r["event_type"]][2] for r in rows),
                )
                users = len({v[1] for v in exp.latest.values()})
                query(
                    "mv_fallback",
                    lambda: mvc.route(spark, base, ["user_id"], [
                        ("count", "*", "n"), ("sum", "value", "s")]),
                    lambda rows: len(rows) == users and sum(r["n"] for r in rows) == n_latest
                    and _close(sum(r["s"] for r in rows), total),
                )
            if record:
                stats["ingest_s"] += ingest_s
                stats["rows"] += batch.num_rows
                for p in progress:
                    stats["trigger_ms"].append(p.durationMs.get("triggerExecution", 0))
                    stats["input_rows"] += p.numInputRows
        if record:
            stats["seg_files"], stats["seg_bytes"] = _dir_bytes(seg)
            stats["in_bytes"] = in_bytes
            stats["visible"] = len(exp.latest)

    # warm-up round on its own directory, outside the timed loop; its
    # checks gate correctness like the query workloads' set-up pass
    _phase(b, "set up")
    one_round(os.path.join(b.work, "warm"), record=False, steps=1)
    _phase(b, "warm-up round checked")
    warm_failed = reads.failed + writes.failed
    reads = harness.LoopResult()
    writes = harness.LoopResult()
    if tracer:
        tracer.reset()
    _settle(spark)
    cpu0 = hostinfo.tree_cpu_s()
    start = time.perf_counter()
    while harness.more_rounds(reads, start, b.seconds, INGEST_ROUNDS, time.perf_counter):
        root = os.path.join(b.work, f"round-{reads.rounds}")
        one_round(root, record=True)
        shutil.rmtree(root, ignore_errors=True)
        reads.rounds += 1
    reads.wall_s = time.perf_counter() - start
    cpu_s = hostinfo.tree_cpu_s() - cpu0
    _phase(b, f"timed loop done: {reads.rounds} round(s)")
    reads.attempted += writes.attempted + warm_failed
    reads.failed += writes.failed + warm_failed
    reads.errors += writes.errors
    extra = {
        "ingest.rows_per_s": stats["rows"] / stats["ingest_s"] if stats["ingest_s"] else 0.0,
        "ingest.freshness_p50_ms": statistics.median(stats["fresh"]) * 1e3 if stats["fresh"] else 0.0,
        "ingest.stored_bytes_per_input_byte": stats["seg_bytes"] / stats["in_bytes"] if stats["in_bytes"] else 0.0,
    }
    if tracer:
        layers.update(tracer.query_metrics())
        layers["catalog.temp_views_end"] = _temp_views(spark) - views0
        steps = max(1, len(stats["trigger_ms"]))
        layers.update({
            "streaming.trigger_ms": statistics.median(stats["trigger_ms"]) if stats["trigger_ms"] else 0.0,
            "streaming.input_rows": stats["input_rows"] / steps,
            "streaming.upsert_keep_ratio": stats["visible"] / (INGEST_STEPS * INGEST_ROWS),
            "segments.write_ms": tracer.median_ms("segments.write"),
            "segments.files": stats["seg_files"],
            "segments.bytes": stats["seg_bytes"],
            "mv.build_ms": tracer.median_ms("mv.build"),
        })
    return Report(reads, setup_s, cpu_s, layers, extra)


WORKLOADS = {
    "olap_headline": olap_headline,
    "pinot_sql": pinot_sql,
    "ingest_upsert": ingest_upsert,
}
