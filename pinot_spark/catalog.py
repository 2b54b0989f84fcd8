"""Catalog: table loading + registration.

Pinot's table/segment catalog (TableConfig, segment assignment —
SURVEY.md §1.1) collapses onto the Spark catalog: a table is a parquet
dataset registered as a (temp) view; OFFLINE/REALTIME hybrid pairs are a
UNION-by-time-boundary view (see operators.hybrid).

Scale notes: at 100 TB each table is a partitioned parquet/Delta dataset;
partition pruning and row-group min/max stats replace Pinot's
broker/server segment pruners
(reference: pinot-broker/.../routing/segmentpruner/, SURVEY.md §3.1 step 4).
A table's schema comes from one parquet footer read on the driver
(``sources.fsutil.read_parquet``: the file Spark's schema inference would
read), the way a Pinot server opens a segment from its metadata: loading
the catalog launches no Spark job.
"""

from __future__ import annotations

import logging
import os

from pyspark.sql import DataFrame, SparkSession

from pinot_spark.session import SessionCache
from pinot_spark.sources.fsutil import read_parquet

_log = logging.getLogger("pinot_spark")

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Small fully-replicated tables: Pinot "dimension tables"
# (pinot-spi/.../config/table/DimensionTableConfig.java) — always broadcast.
DIMENSION_TABLES = ("region", "nation")

# Confs the engine NEEDS on whatever session the caller hands us (the
# correctness harness passes its own vanilla SparkSession, not ours from
# session.get_spark).  All of these are runtime-settable.
# - nanosAsLong: events.parquet stores INT64 TIMESTAMP(NANOS); without this
#   the schema inference itself throws PARQUET_TYPE_ILLEGAL.
# - UTC + Arrow: deterministic timestamp semantics vs the DuckDB oracle and
#   fast pandas interchange for the UDF-backed operators.
_RUNTIME_CONFS = {
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.adaptive.enabled": "true",
}


def ensure_runtime_confs(spark: SparkSession) -> None:
    """Apply engine-required, runtime-settable confs to a foreign session.

    Deliberately NOT memoized (round-17 note): the contract — pinned by
    tests/test_vanilla_session.py — is that confs stripped or changed on
    the session between calls are re-applied at the next load_tables.
    The cost is 4 conf-probe py4j round trips per builder call (~1.5 ms),
    which is not worth weakening the driver-session guarantee for.

    Static confs cannot reach a foreign session: ``spark.conf.set`` on
    one raises, and the loop below logs that at DEBUG on the
    ``pinot_spark`` logger and goes on.  So a caller's
    vanilla session keeps Spark's 100-entry generated-class cache;
    ``spark.sql.codegen.cache.maxEntries`` stays in
    ``session.DEFAULT_CONFS`` and out of ``_RUNTIME_CONFS``."""
    for k, v in _RUNTIME_CONFS.items():
        try:
            if spark.conf.get(k, None) != v:
                spark.conf.set(k, v)
        except Exception as e:  # a static conf on some Spark build: keep going
            _log.debug("ensure_runtime_confs: cannot set %s=%s (%s)", k, v, e)


def load_tables(
    spark: SparkSession, sf_dir: str, register: bool = True
) -> dict[str, DataFrame]:
    """Load every parquet table under ``sf_dir`` and register temp views.

    Returns {name: DataFrame}. Missing tables are skipped so the loader
    works on partial fixture dirs; an unreadable table is likewise skipped,
    with a WARNING on the ``pinot_spark`` logger that carries the error
    (failure isolation: a
    corrupt file must not break queries that never touch that table).
    """
    ensure_runtime_confs(spark)
    key = os.path.abspath(sf_dir)
    tables = _TABLE_CACHE.of(spark)
    cached = tables.get(key)
    if cached is None:
        cached = {}
        for name in TABLE_NAMES:
            path = os.path.join(sf_dir, f"{name}.parquet")
            if not os.path.exists(path):
                continue
            try:
                cached[name] = _normalize_nanos(read_parquet(spark, path))
            except Exception:
                _log.warning("load_tables: skipping unreadable table %s (%s)", name, path, exc_info=True)
        tables[key] = cached
    registered = _REGISTERED.of(spark)
    if register and registered.get("dataset") != key:
        for name, df in cached.items():
            df.createOrReplaceTempView(name)
        registered["dataset"] = key
    return dict(cached)


# One catalog resolution per (session, dataset): a real deployment
# registers tables once in a metastore; re-reading parquet footers per
# query would repeat that work on every request.
_TABLE_CACHE = SessionCache("tables")
# which dataset's views are currently registered in each session
_REGISTERED = SessionCache("registered")


_NANO_TS_COLUMNS = {"ts", "event_ts", "updated_at"}


def _normalize_nanos(df: DataFrame) -> DataFrame:
    """Convert INT64-nano timestamp columns (read as long under
    ``spark.sql.legacy.parquet.nanosAsLong``) to micro-precision timestamps.

    Integer division keeps full precision (nanos ~1e18 exceed double's 2^53).
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    for f in df.schema.fields:
        if f.name in _NANO_TS_COLUMNS and isinstance(f.dataType, LongType):
            df = df.withColumn(f.name, F.timestamp_micros(F.expr(f"{f.name} div 1000")))
    return df


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load a single table by name."""
    ensure_runtime_confs(spark)
    return _normalize_nanos(read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet")))
