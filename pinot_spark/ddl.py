"""Pinot-SQL DDL surface: CREATE TABLE / CREATE MATERIALIZED VIEW /
DROP, routed through ``PinotEngine.sql()``.

Reference: pinot-sql-ddl DdlCompiler.java + MaterializedViewDdlHandler.java;
syntax per DdlCompilerMaterializedViewTest.java:

    CREATE MATERIALIZED VIEW [IF NOT EXISTS] name
        [(col TYPE [...], ...)]
        [REFRESH EVERY n UNIT]
        [PROPERTIES ('k' = 'v', ...)]
        AS SELECT ...

    CREATE TABLE [IF NOT EXISTS] name (col TYPE, ...) [PROPERTIES (...)]
    CREATE TABLE [IF NOT EXISTS] name [WITH (...)] AS SELECT ...
    DROP [MATERIALIZED VIEW | TABLE] name

Spark-first compilation: an MV materializes its defining SELECT to
parquet and registers a temp view; when the SELECT is a plain
``SELECT dims, AGG(col) … GROUP BY dims`` over one base table, it ALSO
registers an AggregateMV rollup (plans/materialized.py) so the broker
router (MVCatalog.route / rewrite paths) can answer covered group-bys
from the pre-aggregate — the star-tree behavior the reference's
MaterializedViewTask maintains incrementally. REFRESH/bucket scheduling
collapses onto re-running ``refresh()``: Structured Streaming or an
external scheduler owns periodicity at deployment.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from pinot_spark.session import local_dataframe, parquet_schema

_TYPE_MAP = {
    "INT": "int",
    "LONG": "bigint",
    "FLOAT": "float",
    "DOUBLE": "double",
    "BOOLEAN": "boolean",
    "STRING": "string",
    "VARCHAR": "string",
    "TIMESTAMP": "timestamp",
    "BYTES": "binary",
    "JSON": "string",
    "BIG_DECIMAL": "decimal(38,18)",
}

_DDL_HEAD = re.compile(
    r"^\s*(CREATE\s+MATERIALIZED\s+VIEW|CREATE\s+TABLE|DROP\s+MATERIALIZED\s+VIEW|DROP\s+TABLE)\b",
    re.IGNORECASE,
)


def is_ddl(sql: str) -> bool:
    return _DDL_HEAD.match(sql) is not None


def _parse_properties(segment: str) -> dict[str, str]:
    return {
        k.lower(): v
        for k, v in re.findall(r"'([^']+)'\s*=\s*'([^']*)'", segment or "")
    }


_CREATE_RE = re.compile(
    r"""^\s*CREATE\s+(?P<kind>MATERIALIZED\s+VIEW|TABLE)\s+
        (?:IF\s+NOT\s+EXISTS\s+)?
        (?P<name>[A-Za-z_][\w.]*)\s*
        (?:\((?P<cols>.*?)\)\s*)?
        (?:REFRESH\s+EVERY\s+(?P<refresh>\d+\s+\w+)\s*)?
        (?:(?:PROPERTIES|WITH)\s*\((?P<props>[^)]*)\)\s*)?
        (?:AS\s+(?P<select>SELECT\b.*))?$""",
    re.IGNORECASE | re.DOTALL | re.VERBOSE,
)

_DROP_RE = re.compile(
    r"^\s*DROP\s+(?:MATERIALIZED\s+VIEW|TABLE)\s+(?:IF\s+EXISTS\s+)?(?P<name>[A-Za-z_][\w.]*)\s*;?\s*$",
    re.IGNORECASE,
)

# the simple rollup-eligible shape: SELECT dims…, AGG(col) AS alias…
# FROM base GROUP BY dims
_AGG_ITEM = re.compile(
    r"^(?P<agg>count|sum|min|max|avg)\s*\(\s*(?P<col>\*|[A-Za-z_]\w*)\s*\)"
    r"(?:\s+AS\s+(?P<alias>[A-Za-z_]\w*))?$",
    re.IGNORECASE,
)
_GROUPBY_SELECT = re.compile(
    r"^\s*SELECT\s+(?P<items>.*?)\s+FROM\s+(?P<base>[A-Za-z_]\w*)\s+GROUP\s+BY\s+(?P<dims>[\w\s,]+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)


@dataclass
class DdlResult:
    """What a DDL statement did — returned as a 1-row DataFrame by
    PinotEngine.sql for a uniform surface."""

    operation: str
    name: str
    rows: int = 0
    rollup_registered: bool = False
    properties: dict[str, str] = field(default_factory=dict)


class DdlExecutor:
    """Compiles + executes the DDL subset against a SparkSession."""

    def __init__(self, spark: SparkSession, storage_dir: str | None = None):
        self.spark = spark
        self.storage_dir = storage_dir or os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".mv_cache"
        )
        from pinot_spark.plans.materialized import MVCatalog

        self.mv_catalog = MVCatalog()
        self._mv_sql: dict[str, str] = {}  # name → defining SELECT (for refresh)

    # -- public ------------------------------------------------------------

    def execute(self, sql: str, translate=None) -> DdlResult:
        m = _DROP_RE.match(sql)
        if m:
            name = m.group("name")
            self.spark.catalog.dropTempView(name)
            self._mv_sql.pop(name, None)
            self.mv_catalog.mvs = [v for v in self.mv_catalog.mvs if v.name != name]
            return DdlResult("DROP", name)
        m = _CREATE_RE.match(sql.rstrip().rstrip(";"))
        if not m:
            raise ValueError(f"unsupported DDL statement: {sql[:120]}")
        kind = "CREATE_MATERIALIZED_VIEW" if "VIEW" in m.group("kind").upper() else "CREATE_TABLE"
        name = m.group("name").split(".")[-1]  # schema-qualified → bare view name
        props = _parse_properties(m.group("props"))
        select = m.group("select")
        if select is None:
            if not m.group("cols"):
                raise ValueError("CREATE without AS SELECT needs a column list")
            schema = self._schema_from_cols(m.group("cols"))
            df = local_dataframe(self.spark, [], schema)
            df.createOrReplaceTempView(name)
            return DdlResult(kind, name, 0, properties=props)
        if translate is not None:
            select, _ = translate(select)
        return self._materialize(kind, name, select, props)

    def refresh(self, name: str) -> DdlResult:
        """Re-run an MV's defining SELECT (the REFRESH EVERY analog —
        reference MaterializedViewTask bucket re-computation)."""
        if name not in self._mv_sql:
            raise KeyError(f"unknown materialized view: {name}")
        return self._materialize("REFRESH", name, self._mv_sql[name], {})

    # -- internals ---------------------------------------------------------

    def _schema_from_cols(self, cols: str) -> str:
        fields = []
        for item in re.split(r",(?![^()]*\))", cols):
            item = item.strip()
            if not item:
                continue
            cm = re.match(r"([A-Za-z_]\w*)\s+([A-Za-z_]+)", item)
            if not cm:
                raise ValueError(f"bad column definition: {item!r}")
            col, ty = cm.group(1), cm.group(2).upper()
            fields.append(f"{col} {_TYPE_MAP.get(ty, 'string')}")
        return ", ".join(fields)

    def _materialize(self, kind: str, name: str, select: str, props: dict) -> DdlResult:
        path = os.path.join(self.storage_dir, name)
        df = self.spark.sql(select)
        df.write.mode("overwrite").parquet(path)
        out = self.spark.read.schema(parquet_schema(df.schema)).parquet(path)
        out.createOrReplaceTempView(name)
        self._mv_sql[name] = select
        rollup = False
        if kind != "CREATE_TABLE":
            rollup = self._try_register_rollup(name, path, select)
        return DdlResult(kind, name, out.count(), rollup_registered=rollup, properties=props)

    def _try_register_rollup(self, name: str, path: str, select: str) -> bool:
        """If the defining SELECT is a plain single-table GROUP BY with
        count/sum/min/max/avg aggregates, register it for MVCatalog
        routing (plans/materialized.py)."""
        from pinot_spark.plans.materialized import AggregateMV, create_aggregate_mv

        g = _GROUPBY_SELECT.match(select)
        if not g:
            return False
        dims = [d.strip() for d in g.group("dims").split(",") if d.strip()]
        measures: set[str] = set()
        for item in re.split(r",(?![^()]*\))", g.group("items")):
            item = item.strip()
            if item in dims:
                continue
            am = _AGG_ITEM.match(item)
            if not am:
                return False  # non-rollup-able expression: view only
            col = am.group("col")
            if col != "*":
                measures.add(col)
        base = self.spark.table(g.group("base"))
        mv = create_aggregate_mv(
            base, name, os.path.join(self.storage_dir, f"__rollup_{name}"),
            dims, sorted(measures),
        )
        self.mv_catalog.register(mv)
        return True
