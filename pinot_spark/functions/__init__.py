"""Pinot function-name surface mapped onto Spark expressions.

The reference registers ~450 function names/aliases via
@ScalarFunction classpath scan into FunctionRegistry
(pinot-common/.../function/FunctionRegistry.java:74,167) plus the
TransformFunctionType enum (TransformFunctionType.java:46-258) and the
AggregationFunctionType enum (AggregationFunctionType.java:52-242).

Here that whole surface is a *mapping table*, not an execution engine
(SURVEY.md §2.2): each Pinot name resolves to a builder returning a
Spark Column — JVM-side, codegen-friendly. Python UDFs exist only for
the handful of functions with no Spark expression equivalent
(functions/udfs.py), and those are vectorized pandas UDFs.

Aggregates share the SQL dialect's table: ``agg_call`` builds every name
that ``FUNCTION_MAP`` maps from the same template, so a Column aggregate
returns what the SQL statement returns.  An argument is a Column, a
column name, or a literal (a number, or a string that is not a name).

Usage:
    from pinot_spark.functions import call, agg_call
    df.select(call("datetrunc", F.lit("hour"), F.col("ts")))
    df.groupBy(...).agg(
        agg_call("distinctcounthll", F.col("x")),
        agg_call("distinctcountrawthetasketch", "x", "nominalEntries=1024"),
    )
"""

from pinot_spark.functions.scalar import SCALAR_FUNCTIONS, call
from pinot_spark.functions.aggregate import AGG_FUNCTIONS, agg_call

__all__ = ["SCALAR_FUNCTIONS", "call", "AGG_FUNCTIONS", "agg_call"]
