"""Aggregation function registry: Pinot AggregationFunctionType name →
Spark aggregate Column builder (AggregationFunctionType.java:52-242;
impls in pinot-core/.../query/aggregation/function/, 107 files).

Pinot has one aggregation registry for queries and ingestion rollups,
and so does this engine: every name the SQL dialect also serves is
built from the dialect's ``FUNCTION_MAP`` template (``_from_template``),
so an ingestion rollup, a streaming window aggregate and a query over
the same column return the same bytes and types.  The builders below
cover only the names ``FUNCTION_MAP`` does not map (Spark SQL already
spells them), plus ``stunion``, whose Column surface speaks WKT text.

The partial/final merge contract (AggregationFunction.java:63,86,132,137
aggregate → merge → extractFinalResult) is exactly Spark's partial/final
HashAggregate; Catalyst supplies the two-phase execution.
"""

from __future__ import annotations

import functools
from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import Column, SparkSession

from pinot_spark.dialect import FUNCTION_MAP, _ensure_udfs, expand_function


def _c(x) -> Column:
    return x if isinstance(x, Column) else F.col(x)


def _canon(name: str) -> str:
    return name.replace("_", "").lower()


AGG_FUNCTIONS: dict[str, Callable[..., Column]] = {}


def _reg(*names):
    def deco(fn):
        for n in names:
            AGG_FUNCTIONS[_canon(n)] = fn
        return fn

    return deco


def agg_call(name: str, *args) -> Column:
    """Invoke a Pinot-named aggregation on Spark columns."""
    fn = AGG_FUNCTIONS.get(_canon(name))
    if fn is None:
        raise KeyError(f"unknown Pinot aggregation function: {name}")
    return fn(*args)


# --- the names both surfaces serve: FUNCTION_MAP's template -----------------
def _sql_arg(spark: SparkSession, a) -> str:
    """One argument as Spark SQL text.  A Column renders through Catalyst
    (a top-level alias dropped); a str names a column, as with ``F.col``,
    unless it holds ``=``: then it is a Pinot params string such as
    ``'nominalEntries=100'`` and a literal (wrap any other string literal
    in ``F.lit``); numbers are numeric literals, a bool a literal."""
    if isinstance(a, (int, float)) and not isinstance(a, bool):
        return repr(a)
    if isinstance(a, str):
        a = F.lit(a) if "=" in a else F.col(a)
    elif not isinstance(a, Column):
        a = F.lit(a)
    e = spark._jsparkSession.expression(a._jc)
    if e.nodeName() == "Alias":
        e = e.child()
    return e.sql()


def _from_template(canon: str, *args) -> Column:
    """``canon`` as the SQL surface spells it: FUNCTION_MAP's expansion
    over the rendered arguments, after registering the UDF rows it calls."""
    if canon.startswith("sumarray") and len(args) > 1:
        raise TypeError(
            f"{canon} takes one array column; sum a fixed width per index "
            "(F.sum(col[i])), or any width with sum_array_grouped"
        )
    spark = SparkSession.active()
    text = expand_function(canon, [_sql_arg(spark, a) for a in args])
    _ensure_udfs(spark, text)
    return F.expr(text)


_SQL_AGGREGATES = (
    # basic (:52-72), first/last with time, exprmin/max (:68-71, :173-182)
    "sumint", "sumlong", "minlong", "maxlong", "minstring", "maxstring",
    "sumprecision", "minmaxrange", "anyvalue", "firstwithtime",
    "lastwithtime", "exprmin", "exprmax",
    # distinct and sketch families (:77-106)
    "distinctcount", "distinctcountbitmap", "distinctcountoffheap",
    "segmentpartitioneddistinctcount", "distinctsum", "distinctavg",
    "distinctcounthll", "distinctcounthllplus", "distinctcountull",
    "distinctcountsmarthll", "distinctcountrawhll", "distinctcountrawhllplus",
    "distinctcountcpcsketch", "distinctcounttuplesketch",
    "distinctcountrawthetasketch", "distinctcountthetasketch",
    # percentiles (:122-140)
    "percentile", "percentileest", "percentiletdigest", "percentilekll",
    "percentilesmarttdigest", "percentilerawtdigest", "percentilerawkll",
    "percentilerawest",
    # stats, collections, frequent items (:141-189)
    "fourthmoment", "arrayagg", "idset", "sumarraylong", "sumarraydouble",
    "frequentstringssketch", "frequentlongssketch",
    # MV variants (:205-240)
    "countmv", "summv", "minmv", "maxmv", "avgmv", "minmaxrangemv",
    "distinctcountmv", "distinctcounthllmv", "distinctsummv",
)
if _missing := set(_SQL_AGGREGATES) - FUNCTION_MAP.keys():
    raise RuntimeError(f"aggregates without a FUNCTION_MAP template: {sorted(_missing)}")
for _name in _SQL_AGGREGATES:
    AGG_FUNCTIONS[_name] = functools.partial(_from_template, _name)


# --- names Spark SQL already spells (FUNCTION_MAP passes them through) ------
_reg("count")(lambda c="*": F.count(c if isinstance(c, str) else c))
# Pinot SUM/MIN/MAX/AVG return DOUBLE (BaseSingleInputAggregationFunction)
_reg("sum")(lambda c: F.sum(_c(c).cast("double")))
_reg("min")(lambda c: F.min(_c(c).cast("double")))
_reg("max")(lambda c: F.max(_c(c).cast("double")))
_reg("avg")(lambda c: F.avg(_c(c).cast("double")))
_reg("mode")(lambda c: F.mode(_c(c)))
_reg("median")(lambda c: F.median(_c(c)))
_reg("covarpop")(lambda a, b: F.covar_pop(_c(a), _c(b)))
_reg("covarsamp")(lambda a, b: F.covar_samp(_c(a), _c(b)))
_reg("varpop")(lambda c: F.var_pop(_c(c)))
_reg("varsamp")(lambda c: F.var_samp(_c(c)))
_reg("stddevpop")(lambda c: F.stddev_pop(_c(c)))
_reg("stddevsamp")(lambda c: F.stddev_samp(_c(c)))
_reg("skewness")(lambda c: F.skewness(_c(c)))
_reg("kurtosis")(lambda c: F.kurtosis(_c(c)))
_reg("booland")(lambda c: F.bool_and(_c(c)))
_reg("boolor")(lambda c: F.bool_or(_c(c)))
_reg("listagg")(lambda c, sep=",": F.array_join(F.array_sort(F.collect_list(_c(c))), sep))


# --- histogram (AggregationFunctionType.java:144) ----------------------------
@_reg("histogram")
def _histogram(c, lower, upper, bins):
    """HISTOGRAM(col, lower, upper, numBins) → array of per-bin counts.

    Equal-width bins over [lower, upper); the last bin includes upper
    (HistogramAggregationFunction.java). One conditional SUM per bin —
    fully declarative, partial/final aggregatable, no buffers.
    """
    x = _c(c).cast("double")
    lo, hi, n = float(lower), float(upper), int(bins)
    w = (hi - lo) / n
    counts = []
    for i in range(n):
        left, right = lo + i * w, lo + (i + 1) * w
        cond = (x >= F.lit(left)) & ((x <= F.lit(hi)) if i == n - 1 else (x < F.lit(right)))
        counts.append(F.sum(F.when(cond, 1).otherwise(0)))
    return F.array(*counts)


# --- geo union (StUnionAggregationFunction.java) -----------------------------
@_reg("stunion")
def _st_union(c):
    """ST_UNION over POINT WKTs → canonical MULTIPOINT WKT (geometry
    union of points = their distinct set, as a codegen'd Column
    expression; reference StUnionAggregationFunction.java).

    The one shared name not built from FUNCTION_MAP: the Column geo
    surface takes and returns WKT text, while the SQL STUNION returns
    geometry bytes, and ``ST_AsText`` of those does not print the
    ``MULTIPOINT ((x y), …)`` text this builder's callers pin.  A row
    that is not a POINT fails the query: union polygons with
    operators/geo.st_union_geoms."""
    wkt = _c(c)
    xy = F.regexp_extract(wkt, r"^\s*POINT\s*\(([^()]*)\)\s*$", 1)
    xy = F.when(wkt.isNull() | (xy != ""), xy).otherwise(
        F.raise_error(F.concat(
            F.lit("stUnion takes POINT WKT, got "), F.substring(wkt, 1, 60),
            F.lit("; union polygons with operators/geo.st_union_geoms"),
        ))
    )
    pts = F.array_sort(F.collect_set(xy))
    return F.concat(
        F.lit("MULTIPOINT ("),
        F.array_join(F.transform(pts, lambda p: F.concat(F.lit("("), p, F.lit(")"))), ", "),
        F.lit(")"),
    )


# --- scale paths for the buffered MV/array forms -----------------------------
def sum_array_grouped(df, keys: list[str], col: str, alias: str = "sum_array"):
    """Scale path for SUMARRAY over unknown-width arrays: posexplode →
    groupBy(keys, index) → SUM → reassemble ordered by index.  Two
    shuffles but constant memory per task (no whole-group array buffer)."""
    exploded = df.select(*keys, F.posexplode(F.col(col)).alias("_idx", "_v"))
    summed = exploded.groupBy(*keys, "_idx").agg(F.sum("_v").alias("_s"))
    return (
        summed.groupBy(*keys)
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("_idx", "_s"))), lambda s: s["_s"]
            ).alias(alias)
        )
    )


def distinct_count_mv_grouped(df, keys: list[str], col: str, alias: str = "dc_mv"):
    """Scale path for DISTINCTCOUNTMV: explode → count_distinct.  The
    Column-level form buffers every group's arrays (collect_set); this one
    pre-aggregates map-side and carries one row per (keys, value)."""
    return (
        df.select(*keys, F.explode(F.col(col)).alias("_v"))
        .groupBy(*keys)
        .agg(F.count_distinct("_v").alias(alias))
    )
