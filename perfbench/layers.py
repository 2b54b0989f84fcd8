"""Per-layer tracing from outside the program.

``Tracer.install`` wraps the public entry points of each ``pinot_spark``
layer (and the py4j client) so every call records its duration and
counts; nothing inside ``pinot_spark`` changes.  A module-level function
is replaced in every loaded ``pinot_spark`` module that holds it, so
``from x import f`` call sites are traced too.  ``begin_query`` /
``end_query`` bracket one query to read what Spark itself records:
Catalyst phase times, codegen compiles, and the jobs, stages and task
metrics of the query's job group.
"""

from __future__ import annotations

import functools
import statistics
import sys
import time
from collections import defaultdict

# dialect passes are the module-level rewrite_* functions
DIALECT_PASS_PREFIX = "rewrite_"


def _first_str(args) -> str | None:
    return next((a for a in args if isinstance(a, str)), None)


class Tracer:
    def __init__(self) -> None:
        self.spans: dict[str, list[float]] = defaultdict(list)
        self.counts: dict[str, float] = defaultdict(float)
        self.pass_names: list[str] = []
        self._py4j_on = False
        self._dialect_depth = 0
        self._query = 0
        self._spark = None
        self._codegen0 = 0

    # -- installation -------------------------------------------------
    def _replace_everywhere(self, orig, wrapped) -> None:
        for name, mod in list(sys.modules.items()):
            if mod is None or not name.startswith("pinot_spark"):
                continue
            for attr, val in list(vars(mod).items()):
                if val is orig:
                    setattr(mod, attr, wrapped)

    def _timed(self, span: str, after=None):
        def deco(fn):
            @functools.wraps(fn)
            def wrapper(*args, **kwargs):
                t0 = time.perf_counter()
                out = fn(*args, **kwargs)
                self.spans[span].append(time.perf_counter() - t0)
                if after is not None:
                    after(args, out)
                return out

            return wrapper

        return deco

    def _wrap_function(self, module, attr: str, span: str, after=None) -> None:
        orig = getattr(module, attr)
        self._replace_everywhere(orig, self._timed(span, after)(orig))

    def install(self) -> None:
        import pyspark.sql
        import pinot_spark.queries  # noqa: F401  (loads every layer module)
        from pinot_spark import catalog, dialect, session
        from pinot_spark.plans import materialized
        from pinot_spark.sources import segments
        from pinot_spark.streaming import ingest

        def tables(_args, out):
            self.counts["catalog.tables"] = len(out)

        self._wrap_function(session, "get_spark", "session.start")
        self._wrap_function(catalog, "load_tables", "catalog.load", tables)
        self._wrap_function(ingest, "start_realtime_ingest", "streaming.start")
        self._wrap_function(segments, "write_segments", "segments.write")
        self._wrap_function(materialized, "create_aggregate_mv", "mv.build")
        self._wrap_function(materialized, "query_rollup", "mv.rollup")

        for attr in sorted(vars(dialect)):
            fn = getattr(dialect, attr)
            if attr.startswith(DIALECT_PASS_PREFIX) and callable(fn):
                self.pass_names.append(attr)
                self._replace_everywhere(fn, self._pass_wrapper(attr, fn))

        eng = dialect.PinotEngine
        eng.translate = self._timed("dialect.translate")(eng.translate)
        syntax_ok = eng._syntax_ok

        def counted_syntax_ok(engine, sql):
            self.counts["dialect.syntax_checks"] += 1
            return syntax_ok(engine, sql)

        eng._syntax_ok = counted_syntax_ok
        eng_sql = eng.sql

        def dialect_sql(engine, *args, **kwargs):
            self._dialect_depth += 1
            try:
                return eng_sql(engine, *args, **kwargs)
            finally:
                self._dialect_depth -= 1

        eng.sql = functools.wraps(eng_sql)(dialect_sql)
        route = materialized.MVCatalog.route

        def counted_route(mvc, *args, **kwargs):
            self.counts["mv.route_calls"] += 1
            return route(mvc, *args, **kwargs)

        materialized.MVCatalog.route = counted_route
        table = pyspark.sql.SparkSession.table

        def counted_table(spark, name):
            if self._dialect_depth:
                self.counts["dialect.schema_lookups"] += 1
            return table(spark, name)

        pyspark.sql.SparkSession.table = counted_table

    def _pass_wrapper(self, name: str, fn):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            t0 = time.perf_counter()
            out = fn(*args, **kwargs)
            self.spans[f"dialect.pass.{name}"].append(time.perf_counter() - t0)
            self.counts["dialect.pass_calls"] += 1
            if isinstance(out, str) and out != _first_str(args):
                self.counts["dialect.pass_fired"] += 1
            return out

        return wrapper

    def attach(self, spark) -> None:
        """Count py4j commands sent by the driver (only while a query is
        being built) on this session's gateway client."""
        self._spark = spark
        client = spark.sparkContext._gateway._gateway_client
        send = client.send_command

        def counted_send(*args, **kwargs):
            if self._py4j_on:
                self.counts["queries.py4j_calls"] += 1
            return send(*args, **kwargs)

        client.send_command = counted_send

    # -- per-query ----------------------------------------------------
    def _codegen_count(self) -> int:
        jvm = self._spark.sparkContext._jvm
        return jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()

    def begin_query(self, name: str) -> str:
        self._query += 1
        group = f"perfbench-{self._query}"
        self._spark.sparkContext.setJobGroup(group, name)
        self._codegen0 = self._codegen_count()
        return group

    def build(self, builder):
        self._py4j_on = True
        try:
            return builder()
        finally:
            self._py4j_on = False

    def end_query(self, group: str, df, rows: int, build_s: float, collect_s: float) -> None:
        c = self.counts
        c["queries.n"] += 1
        c["queries.build_ms"] += build_s * 1e3
        c["collect.ms"] += collect_s * 1e3
        c["collect.rows"] += rows
        c["codegen.compiles"] += self._codegen_count() - self._codegen0
        if df is not None:
            phases = df._jdf.queryExecution().tracker().phases()
            for phase in ("analysis", "optimization", "planning"):
                if phases.contains(phase):
                    c[f"catalyst.{phase}_ms"] += phases.apply(phase).durationMs()
        sc = self._spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        tracker = sc.statusTracker()
        for job in tracker.getJobIdsForGroup(group):
            c["exec.jobs"] += 1
            info = tracker.getJobInfo(job)
            for stage in info.stageIds if info else ():
                try:
                    sd = store.lastStageAttempt(stage)
                except Exception:  # a stage AQE never submitted has no record
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                c["exec.stages"] += 1
                c["exec.tasks"] += sd.numTasks()
                c["exec.executor_cpu_ms"] += sd.executorCpuTime() / 1e6
                c["exec.executor_run_ms"] += sd.executorRunTime()
                c["exec.input_bytes"] += sd.inputBytes()
                c["exec.shuffle_read_bytes"] += sd.shuffleReadBytes()
                c["exec.shuffle_write_bytes"] += sd.shuffleWriteBytes()

    # -- results --------------------------------------------------------
    def reset(self) -> None:
        """Forget everything recorded so far except catalog.tables."""
        tables = self.counts.get("catalog.tables", 0)
        self.spans.clear()
        self.counts.clear()
        self.counts["catalog.tables"] = tables

    def median_ms(self, span: str) -> float:
        v = self.spans.get(span)
        return statistics.median(v) * 1e3 if v else 0.0

    def query_metrics(self) -> dict[str, float]:
        """Per-query means over the completed queries traced since the
        last reset."""
        c = self.counts
        n = c["queries.n"] or 1
        out = {
            k: c[k] / n
            for k in (
                "queries.build_ms", "queries.py4j_calls", "catalyst.analysis_ms",
                "catalyst.optimization_ms", "catalyst.planning_ms", "codegen.compiles",
                "exec.jobs", "exec.stages", "exec.tasks", "exec.executor_cpu_ms",
                "exec.executor_run_ms", "exec.input_bytes", "exec.shuffle_read_bytes",
                "exec.shuffle_write_bytes", "collect.ms", "collect.rows",
                "dialect.pass_calls", "dialect.pass_fired", "dialect.schema_lookups",
                "dialect.syntax_checks",
            )
        }
        translate = self.spans.get("dialect.translate", [])
        out["dialect.translate_calls"] = len(translate) / n
        out["dialect.translate_ms"] = sum(translate) * 1e3 / n
        calls = c["dialect.pass_calls"]
        out["dialect.pass_fire_ratio"] = c["dialect.pass_fired"] / calls if calls else 0.0
        for p in self.pass_names:
            out[f"dialect.pass_ms.{p}"] = sum(self.spans.get(f"dialect.pass.{p}", [])) * 1e3 / n
        routes = c["mv.route_calls"]
        out["mv.route_ratio"] = len(self.spans.get("mv.rollup", [])) / routes if routes else 0.0
        return out
