"""Aggregation function registry: Pinot AggregationFunctionType name →
Spark aggregate Column builder (AggregationFunctionType.java:52-242;
impls in pinot-core/.../query/aggregation/function/, 107 files).

The partial/final merge contract (AggregationFunction.java:63,86,132,137
aggregate → merge → extractFinalResult) is exactly Spark's partial/final
HashAggregate — every builder here returns a declarative aggregate and
Catalyst supplies the two-phase execution.

MV variants follow the systematic rule (SURVEY.md §2.4): aggMV(x) =
agg over the flattened array; implemented with higher-order functions
pre-aggregating per row where possible (no explode shuffle).
"""

from __future__ import annotations

from collections.abc import Callable

import pyspark.sql.functions as F
from pyspark.sql import Column

from pinot_spark.dialect import _theta_lgk


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


# --- basic (AggregationFunctionType.java:52-72) -----------------------------
_reg("count")(lambda c="*": F.count(c if isinstance(c, str) else c))
# Pinot SUM/MIN/MAX/AVG return DOUBLE (BaseSingleInputAggregationFunction)
_reg("sum")(lambda c: F.sum(_c(c).cast("double")))
_reg("min")(lambda c: F.min(_c(c).cast("double")))
_reg("max")(lambda c: F.max(_c(c).cast("double")))
_reg("avg")(lambda c: F.avg(_c(c).cast("double")))
_reg("sumint", "sumlong")(lambda c: F.sum(_c(c).cast("long")))
_reg("minlong")(lambda c: F.min(_c(c).cast("long")))
_reg("maxlong")(lambda c: F.max(_c(c).cast("long")))
_reg("minstring")(lambda c: F.min(_c(c).cast("string")))
_reg("maxstring")(lambda c: F.max(_c(c).cast("string")))
_reg("sumprecision")(lambda c, *a: F.sum(_c(c).cast("decimal(38,18)")))
_reg("minmaxrange")(lambda c: F.max(_c(c).cast("double")) - F.min(_c(c).cast("double")))
_reg("anyvalue")(lambda c: F.any_value(_c(c)))
_reg("mode")(lambda c: F.mode(_c(c)))

# --- first/last with time, exprmin/max (:68-71, :173-182) -------------------
_reg("firstwithtime")(lambda c, t, *dt: F.min_by(_c(c), _c(t)))
_reg("lastwithtime")(lambda c, t, *dt: F.max_by(_c(c), _c(t)))
_reg("exprmin")(lambda out, by, *more: F.min_by(_c(out), _c(by)))
_reg("exprmax")(lambda out, by, *more: F.max_by(_c(out), _c(by)))

# --- distinct family (:77-106) ----------------------------------------------
_reg("distinctcount", "distinctcountbitmap", "distinctcountoffheap",
     "segmentpartitioneddistinctcount")(lambda c: F.count_distinct(_c(c)))
_reg("distinctsum")(lambda c: F.sum_distinct(_c(c).cast("double")))
_reg("distinctavg")(lambda c: F.try_divide(F.sum_distinct(_c(c).cast("double")), F.count_distinct(_c(c))))
_reg("distinctcounthll", "distinctcounthllplus", "distinctcountull",
     "distinctcountsmarthll")(lambda c, *a: F.approx_count_distinct(_c(c)))
_reg("distinctcountrawhll", "distinctcountrawhllplus")(lambda c, *a: F.hll_sketch_agg(_c(c)))
_reg("distinctcountcpcsketch",
     "distinctcounttuplesketch")(lambda c, *a: F.approx_count_distinct(_c(c)))
# theta: Spark's native DataSketches aggregate, as on the SQL surface
# (the optional params string is DISTINCT_COUNT_RAW_THETA_SKETCH's)
_reg("distinctcountrawthetasketch")(
    lambda c, *a: F.theta_sketch_agg(_c(c), _theta_lgk(list(a)))
)
_reg("distinctcountthetasketch")(
    lambda c, *a: F.theta_sketch_estimate(F.theta_sketch_agg(_c(c), _theta_lgk(list(a))))
)


@_reg("percentilerawtdigest", "percentilerawkll", "percentilerawest")
def _raw_tdigest(c, *a):
    raise NotImplementedError(
        "PERCENTILERAWTDIGEST/KLL is a two-step plan: "
        "operators.tdigest.tdigest_sketch(df, col).to_bytes() — mergeable "
        "t-digest; use PERCENTILETDIGEST (percentile_approx) for values"
    )

# --- percentiles (:122-140) -------------------------------------------------
_reg("percentile")(lambda c, p: F.percentile(_c(c), F.lit(float(p) / 100 if not isinstance(p, Column) else p)))
_reg("percentileest", "percentiletdigest", "percentilekll",
     "percentilesmarttdigest")(lambda c, p, *a: F.percentile_approx(_c(c), F.lit(float(p) / 100), F.lit(10000)))
_reg("median")(lambda c: F.median(_c(c)))

# --- stats (:146-155) -------------------------------------------------------
_reg("covarpop")(lambda a, b: F.covar_pop(_c(a), _c(b)))
_reg("covarsamp")(lambda a, b: F.covar_samp(_c(a), _c(b)))
_reg("varpop")(lambda c: F.var_pop(_c(c)))
_reg("varsamp")(lambda c: F.var_samp(_c(c)))
_reg("stddevpop")(lambda c: F.stddev_pop(_c(c)))
_reg("stddevsamp")(lambda c: F.stddev_samp(_c(c)))
_reg("skewness")(lambda c: F.skewness(_c(c)))
_reg("kurtosis")(lambda c: F.kurtosis(_c(c)))
@_reg("fourthmoment")
def _fourth_moment(c):
    # central 4th moment from raw moments: E[x⁴]−4E[x]E[x³]+6E[x]²E[x²]−3E[x]⁴
    x = _c(c).cast("double")
    m1, m2, m3, m4 = (F.avg(F.pow(x, i)) for i in (1, 2, 3, 4))
    return m4 - 4 * m1 * m3 + 6 * F.pow(m1, 2) * m2 - 3 * F.pow(m1, 4)

# --- boolean (:168-169) -----------------------------------------------------
_reg("booland")(lambda c: F.bool_and(_c(c)))
_reg("boolor")(lambda c: F.bool_or(_c(c)))

# --- collections (:141, :185-186) -------------------------------------------
_reg("arrayagg")(lambda c, *a: F.array_sort(F.collect_list(_c(c))))
_reg("listagg")(lambda c, sep=",": F.array_join(F.array_sort(F.collect_list(_c(c))), sep))
_reg("idset")(lambda c, *a: F.array_sort(F.collect_set(_c(c))))


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


# --- element-wise array sums (:188-189) -------------------------------------
def _sum_array(c, dim, out_type):
    if dim is not None:
        # fixed dimension (embeddings, fixed-width MV): one declarative SUM
        # per index — partial-aggregatable, constant memory, the 100 TB path.
        return F.array(*[F.sum(_c(c)[i].cast(out_type)) for i in range(int(dim))])
    # unknown dimension: buffered fold (whole group's arrays in one agg
    # buffer) — small-group fallback only; pass dim, or use
    # sum_array_grouped() for the explode-based scale path.
    return F.aggregate(
        F.collect_list(_c(c)),
        F.expr(f"cast(array() as array<{out_type}>)"),
        lambda acc, x: F.when(F.size(acc) == 0, x.cast(f"array<{out_type}>")).otherwise(
            F.zip_with(acc, x, lambda a, b: a + b.cast(out_type))
        ),
    )


_reg("sumarraylong")(lambda c, dim=None: _sum_array(c, dim, "bigint"))
_reg("sumarraydouble")(lambda c, dim=None: _sum_array(c, dim, "double"))


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


# --- geo union (StUnionAggregationFunction.java) -----------------------------
@_reg("stunion")
def _st_union(c):
    """ST_UNION over POINT WKTs → canonical MULTIPOINT WKT (geometry
    union of points = their distinct set, as a codegen'd Column
    expression; reference StUnionAggregationFunction.java).  Polygon
    columns fold with operators/geo.st_union_geoms."""
    pts = F.array_sort(
        F.collect_set(F.regexp_extract(_c(c), r"POINT \(([^)]*)\)", 1))
    )
    return F.concat(
        F.lit("MULTIPOINT ("),
        F.array_join(F.transform(pts, lambda p: F.concat(F.lit("("), p, F.lit(")"))), ", "),
        F.lit(")"),
    )


# --- frequent items (:158-160) -----------------------------------------------
@_reg("frequentstringssketch", "frequentlongssketch")
def _frequent_items(c, *a):
    # No declarative per-group heavy-hitters exists as a single Column;
    # a silent wrong answer here is worse than an error.
    raise NotImplementedError(
        "FREQUENTSTRINGSSKETCH/FREQUENTLONGSSKETCH need a two-step plan: "
        "use frequent_items_grouped(df, keys, col, k) (count + window top-k)"
    )


def frequent_items_grouped(df, keys: list[str], col: str, k: int = 10):
    """Exact heavy-hitters per group (FrequentStringsSketch equivalent):
    count pre-aggregates map-side, window rank keeps top-k per group."""
    from pyspark.sql import Window

    counts = df.groupBy(*keys, col).agg(F.count("*").alias("cnt"))
    w = Window.partitionBy(*keys).orderBy(F.desc("cnt"), F.asc(col))
    return counts.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") <= k).drop("_rn")

# --- MV variants (:205-240): aggMV(x) = agg(flatten(x)) ---------------------
_ARRSUM = lambda c: F.aggregate(_c(c), F.lit(0.0), lambda a, x: a + x.cast("double"))  # noqa: E731
_reg("countmv")(lambda c: F.sum(F.size(_c(c))))
_reg("summv")(lambda c: F.sum(_ARRSUM(c)))
_reg("minmv")(lambda c: F.min(F.array_min(_c(c)).cast("double")))
_reg("maxmv")(lambda c: F.max(F.array_max(_c(c)).cast("double")))
_reg("avgmv")(lambda c: F.try_divide(F.sum(_ARRSUM(c)), F.sum(F.size(_c(c)))))
_reg("minmaxrangemv")(
    lambda c: F.max(F.array_max(_c(c)).cast("double")) - F.min(F.array_min(_c(c)).cast("double"))
)
# Column-level DISTINCTCOUNTMV buffers the group's arrays (collect_set) —
# correct but memory ∝ group size; distinct_count_mv_grouped() above is the
# explode-based scale path with map-side partial aggregation. NULL elements
# are dropped (array_compact) before dedup: Pinot's MV distinct aggregates
# ignore nulls, like COUNT(DISTINCT) and the explode path.
_MV_DEDUP = lambda c: F.array_distinct(F.array_compact(_c(c)))  # noqa: E731
_reg("distinctcountmv")(lambda c: F.size(F.array_distinct(F.flatten(F.collect_set(_MV_DEDUP(c))))))
_reg("distinctcounthllmv")(lambda c: F.size(F.array_distinct(F.flatten(F.collect_set(_MV_DEDUP(c))))))
_reg("distinctsummv")(
    lambda c: _ARRSUM(F.array_distinct(F.flatten(F.collect_set(_MV_DEDUP(c)))))
)
