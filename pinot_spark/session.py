"""SparkSession builder with scale-oriented defaults.

Pinot's broker/server runtime config collapses onto Spark session confs
(SURVEY.md §3).  The defaults below are what we would ship on a real
cluster; locally they are sized for local[32].

Scale notes (100 TB design intent):
- AQE on: runtime coalescing of shuffle partitions, skew-join splitting,
  and dynamic broadcast conversion replace Pinot's hand-placed exchange
  rules (PinotQueryRuleSets — SURVEY.md §4.2).
- ``spark.sql.shuffle.partitions`` is only the *initial* number; AQE
  coalesces.  On a 1000-executor cluster this would be set to ~2-3× total
  cores and AQE left to shrink it.
- Arrow enabled for every pandas interchange (vector/funnel/dedup UDFs).
- The generated-class cache holds 1,000 classes, not Spark's 100.  A
  broker replays the same queries, and an LRU cache smaller than that
  cyclic working set misses on every access: one round of the 19
  ``pinot_sql`` benchmark queries needs 308 distinct classes (the
  ``olap_headline`` round about 150, the whole 238-query registry
  2,458), so at 100 entries every warm query recompiled ~16 classes.
  Each class holds ~48 KB of metaspace, so 1,000 bound it near 50 MB.
  The conf is static and read once per JVM, on the first compile, so it
  only takes effect through ``get_spark``.
- Python workers start from ``pinot_spark.worker_daemon``
  (``spark.python.daemon.module``), not ``pyspark.daemon``.  Before
  every task a worker calls ``importlib.invalidate_caches()``, which on
  CPython 3.11 makes each of its ~16 zip importers of
  ``$SPARK_HOME/python/lib/pyspark.zip`` re-read that archive's whole
  directory: 0.70 s of a trivial 0.75 s reused-worker task.  The engine's
  daemon re-reads an archive only when its mtime or size changed.  Like
  the class cache, this is static: a session built without ``get_spark``
  keeps Spark's own daemon.
- Locally, ``spark.executorEnv.PYTHONPATH`` starts with the directory
  that holds this package (a caller's value is appended), so the daemon
  and every pickled engine UDF import ``pinot_spark`` whatever the
  driver's working directory is.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType

DEFAULT_CONFS = {
    # Adaptive execution: replaces Pinot's exchange-placement rules.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Broadcast dims (region/nation/supplier-scale tables) aggressively:
    # Pinot's dimension/lookup tables are fully replicated (SURVEY.md §1.1).
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Deterministic timestamp semantics vs the DuckDB oracle.
    "spark.sql.session.timeZone": "UTC",
    # Arrow for all pandas UDF paths.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Parquet pushdown (defaults on, pinned here as part of the contract).
    "spark.sql.parquet.filterPushdown": "true",
    # Read INT64 TIMESTAMP(NANOS) columns as longs; catalog.load_tables
    # converts them to micro-precision timestamps (matches DuckDB, which
    # also truncates nanos to its micro-precision TIMESTAMP).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    # PySpark 4's per-API-call error-context capture wraps EVERY
    # DataFrame/Column call with a stack walk plus extra py4j round
    # trips (conf read + PySparkCurrentOrigin set/clear) — measured
    # ~30% of every query-BUILD (q1: 156→109 ms, asof: 218→114 ms,
    # ~0.5 s per bench run summed). Pure driver-side Python overhead at
    # any scale and any core count; a production broker runs with
    # debug-context capture off (round-17 optimization, guide §1.2
    # per-task work applied to the driver).
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    # Generated-class LRU cache, static (module docstring): 3x the
    # 308-class pinot_sql working set, ~50 MB of metaspace at most.
    "spark.sql.codegen.cache.maxEntries": "1000",
    # Python-worker daemon that skips re-reading unchanged zip archives
    # on every task (module docstring); static, like the class cache.
    "spark.python.daemon.module": "pinot_spark.worker_daemon",
}

# the directory that holds the pinot_spark package
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(app_name: str = "pinot-spark", extra_confs: dict | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Locally honours ``SPARK_GRAFT_CPUS`` (default: all cores); on a real
    cluster the master/resource confs come from spark-submit and only the
    SQL confs here apply.  Python workers run the engine's daemon
    (``pinot_spark.worker_daemon``); a session built without this
    function keeps Spark's ``pyspark.daemon``.  Locally the workers'
    ``PYTHONPATH`` starts with this package's directory, ahead of any
    ``spark.executorEnv.PYTHONPATH`` in ``extra_confs``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.appName(app_name)
    confs = dict(DEFAULT_CONFS)
    confs.setdefault("spark.sql.shuffle.partitions", cpus if cpus != "*" else "32")
    confs.setdefault("spark.driver.memory", "8g")
    if extra_confs:
        confs.update(extra_confs)
    if not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
        key = "spark.executorEnv.PYTHONPATH"
        confs[key] = os.pathsep.join(p for p in (_PACKAGE_ROOT, confs.get(key)) if p)
    for k, v in confs.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def parquet_schema(schema: StructType) -> StructType:
    """The schema Spark reads back from parquet it wrote from a frame of
    ``schema``: the writer marks every field, array element and map value
    nullable.  ``spark.read.schema(parquet_schema(df.schema))`` reads
    such output without the footer-inference job a bare
    ``spark.read.parquet`` launches."""

    def nullable(dt: DataType) -> DataType:
        if isinstance(dt, StructType):
            return StructType(
                [StructField(f.name, nullable(f.dataType), True, f.metadata) for f in dt.fields]
            )
        if isinstance(dt, ArrayType):
            return ArrayType(nullable(dt.elementType), True)
        if isinstance(dt, MapType):
            return MapType(nullable(dt.keyType), nullable(dt.valueType), True)
        return dt

    return nullable(schema)


class SessionCache:
    """One memo per SparkSession: ``of(spark)`` is that session's dict.

    The dicts hang off the session object itself (one mapping, attribute
    ``_pinot_spark``, from cache name to dict), not off ``id(spark)``:
    Python reuses an id once a stopped session is collected, so an
    id-keyed table could hand a dead session's frames to a new one.  A
    session also drops its entries with itself, although its cached
    frames reference it; a ``WeakKeyDictionary`` would keep such a
    session alive through its own values.  ``clear()`` empties this
    cache in every live session."""

    def __init__(self, name: str) -> None:
        self.name = name
        self._sessions: weakref.WeakSet = weakref.WeakSet()

    def of(self, spark: SparkSession) -> dict:
        self._sessions.add(spark)
        return spark.__dict__.setdefault("_pinot_spark", {}).setdefault(self.name, {})

    def clear(self) -> None:
        for spark in list(self._sessions):
            spark.__dict__.get("_pinot_spark", {}).pop(self.name, None)


def local_dataframe(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """A DataFrame over driver-held ``rows`` of the DDL ``schema`` that
    plans as a ``LocalTableScan``.  ``createDataFrame`` on a list plans
    a ``Scan ExistingRDD`` whose collect runs one Python-worker task per
    default-parallelism slice; an Arrow table becomes a local relation
    and runs none."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = StructType.fromDDL(schema)
    arrow = to_arrow_schema(struct)
    cols = list(zip(*rows)) or [()] * len(arrow)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow)], schema=arrow
    )
    return spark.createDataFrame(table, struct)
