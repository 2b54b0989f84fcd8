"""Pinot-SQL dialect layer: accept a query written for Pinot and run it
on Spark SQL (SURVEY.md §4.4 item 1 — the engine's main custom surface).

What Pinot-specific semantics this layer reproduces:

- ``SET key=value;`` statement prefixes → query options
  (reference: pinot-common/.../sql/parsers/CalciteSqlParser.java — option
  statements are split off before parsing; QueryOptionsUtils.java).
- **Default LIMIT 10** when the query has no explicit LIMIT
  (pinot-common/src/thrift/query.thrift:29 ``10: optional i32 limit = 10``).
- **Function-name translation**: Pinot's registry names
  (TransformFunctionType.java:46-258, scalar/*.java, or
  AggregationFunctionType.java:52-242) rewritten to Spark SQL
  expressions — e.g. ``STRPOS``→``INSTR``, ``PERCENTILE(x, 95)``→
  ``percentile(x, 0.95)``, ``FROMEPOCHSECONDS``→``timestamp_seconds``,
  ``DISTINCTCOUNTHLL``→``approx_count_distinct``, MV aggregate variants
  (``SUMMV`` …) via higher-order array folds.
- **Multi-value filter semantics** (§2.3): for columns that are arrays,
  ``mvCol = v`` matches if ANY element matches; ``mvCol != v`` only if
  ALL elements differ (BaseRawValueBasedPredicateEvaluator.java:72-85).
  Rewritten to ``array_contains`` / ``NOT array_contains`` using the
  schemas of the referenced tables.
- **ASOF JOIN** MSE syntax (``a [LEFT] ASOF JOIN b MATCH_CONDITION(...)
  ON ...`` — AsofJoinOperator.java) routed to the union+window builder.
- **GAPFILL** query-time syntax (GapfillProcessor.java), top-level or as
  an aggregated-over derived table, executed as a spine+window plan.
- **MV-distinct scale rewrite**: DISTINCTCOUNTMV/DISTINCTSUMMV/
  DISTINCTAVGMV in simple statements become LATERAL VIEW explode
  subqueries with map-side partial aggregation (no collect buffers).
- **GROOVY inline transforms**: literal-script calls compile through the
  expression-subset evaluator (functions/groovy_expr.py) and register as
  per-call pandas UDFs.
- **ResultTable shaping**: the broker's JSON result format
  (columnNames / columnDataTypes / rows — pinot-common/.../response/).

Everything else IS Spark SQL: Pinot's grammar is Calcite-babel ANSI, so
joins, windows, set-ops, CTEs, grouping sets pass straight through to
Catalyst.
"""

from __future__ import annotations

import contextvars
import math
import os
import re
import weakref
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


class PinotSqlError(ValueError):
    pass


# ---------------------------------------------------------------------------
# SET-option prefix statements
# ---------------------------------------------------------------------------

_SET_RE = re.compile(r"^\s*SET\s+(\w+)\s*=\s*('[^']*'|\"[^\"]*\"|[\w.]+)\s*;", re.IGNORECASE)


def split_options(sql: str) -> tuple[dict[str, str], str]:
    """Strip leading ``SET key=value;`` statements (CalciteSqlParser
    handles these before compilation) and return ({key: value}, rest)."""
    options: dict[str, str] = {}
    rest = sql
    while True:
        m = _SET_RE.match(rest)
        if not m:
            break
        options[m.group(1)] = m.group(2).strip("'\"")
        rest = rest[m.end():]
    return options, rest


# ---------------------------------------------------------------------------
# tokenizer: split SQL into code and string-literal segments so rewrites
# never touch literals
# ---------------------------------------------------------------------------


def _scan_strings(sql: str) -> list[tuple[bool, str]]:
    """[(is_literal, segment)] — literals keep their quotes."""
    out: list[tuple[bool, str]] = []
    i, n, start = 0, len(sql), 0
    while i < n:
        if sql[i] == "'":
            if start < i:
                out.append((False, sql[start:i]))
            j = i + 1
            while j < n:
                if sql[j] == "'" and j + 1 < n and sql[j + 1] == "'":
                    j += 2
                elif sql[j] == "'":
                    break
                else:
                    j += 1
            out.append((True, sql[i : j + 1]))
            i = start = j + 1
        else:
            i += 1
    if start < n:
        out.append((False, sql[start:]))
    return out


# ---------------------------------------------------------------------------
# function-call rewriting
# ---------------------------------------------------------------------------

# canonical (lowercase, no underscores) Pinot name → template.
# A template is either a plain Spark function name (args pass through) or
# a callable(args: list[str]) -> str.
def _epoch_div(unit_ms: int) -> Callable[[list[str]], str]:
    return lambda a: f"CAST(FLOOR(({a[0]}) / {unit_ms}) AS BIGINT)"


def _lookup_sql(a: list[str]) -> str:
    """lookUp('dimTable', 'valueCol', 'joinKey', factExpr[, 'key2',
    expr2…]) → correlated scalar subquery over the registered dimension
    view (reference LookupTransformFunction.java:97-134).  Catalyst plans
    the subquery as a join, broadcast for small dims — the Spark analog
    of Pinot's in-memory DimensionTableDataManager."""

    def _unq(s: str) -> str:
        s = s.strip()
        return s[1:-1].replace("''", "'") if s.startswith("'") and s.endswith("'") else s

    if len(a) < 4 or len(a) % 2 != 0:
        raise ValueError(
            "LOOKUP needs (tableName, columnName, joinKey, joinValue[, ...]) — got "
            f"{len(a)} args"
        )
    table, col = _unq(a[0]), _unq(a[1])
    conds = " AND ".join(
        f"{_unq(a[i])} = ({a[i + 1]})" for i in range(2, len(a), 2)
    )
    # any_value: guarantees a scalar result even on duplicate dim keys
    return f"(SELECT any_value({col}) FROM {table} WHERE {conds})"


def _text_match_sql(a: list[str]) -> str:
    """TEXT_MATCH(col, 'lucene query'[, 'options']) rewrite: compile the
    Lucene-syntax subset to a boolean SQL expression
    (operators/lucene.py).  The optional third argument is the
    reference's parser-options string (MultiColumnTextIndicesTest
    testTextMatchWithThirdParameter): ``parser=CLASSIC`` (the only
    supported parser), ``defaultOperator=AND|OR``, and
    ``caseSensitive=true|false`` (the per-column case-preserving
    analyzer config, surfaced as an option).  Non-literal second arg →
    RLIKE fallback."""
    m = re.fullmatch(r"\s*'((?:[^']|'')*)'\s*", a[1])
    if not m:
        return f"({a[0]} RLIKE {a[1]})"
    from pinot_spark.operators.lucene import compile_sql

    case_sensitive = False
    default_and = False
    if len(a) > 2:
        om = re.fullmatch(r"\s*'((?:[^']|'')*)'\s*", a[2])
        if not om:
            raise PinotSqlError("TEXT_MATCH options must be a string literal")
        for item in om.group(1).replace("''", "'").split(","):
            if not item.strip():
                continue
            k, _, v = item.partition("=")
            k, v = k.strip().lower(), v.strip().lower()
            if k == "parser":
                if v != "classic":
                    raise PinotSqlError(f"unsupported TEXT_MATCH parser {v!r}")
            elif k == "defaultoperator":
                default_and = v == "and"
            elif k == "casesensitive":
                case_sensitive = v == "true"
            else:
                raise PinotSqlError(f"unsupported TEXT_MATCH option {k!r}")
    return compile_sql(
        a[0], m.group(1).replace("''", "'"), case_sensitive, default_and
    )


def _epoch_mul(unit_ms: int) -> Callable[[list[str]], str]:
    return lambda a: f"CAST(({a[0]}) * {unit_ms} AS BIGINT)"


_JSON_TYPE_MAP = {
    "INT": "INT",
    "LONG": "BIGINT",
    "FLOAT": "FLOAT",
    "DOUBLE": "DOUBLE",
    "BOOLEAN": "BOOLEAN",
    "STRING": "STRING",
}


def _json_extract_scalar(a: list[str]) -> str:
    path = a[1]
    # Pinot uses jayway '$.x' paths — get_json_object shares the syntax
    typ = a[2].strip().strip("'\"").upper() if len(a) > 2 else "STRING"
    spark_t = _JSON_TYPE_MAP.get(typ, "STRING")
    expr = f"CAST(get_json_object({a[0]}, {path}) AS {spark_t})"
    if len(a) > 3:
        expr = f"COALESCE({expr}, {a[3]})"
    return expr


def _json_extract_index_sql(a: list[str]) -> str:
    """JSONEXTRACTINDEX(json, path, type[, default[, filterJson]]) —
    JsonExtractIndexTransformFunction semantics re-expressed without
    the index: the optional 5th arg is a filter over double-quoted
    JsonPath references (``'"$.k1" = ''v'''`` /
    ``REGEXP_LIKE("$.k1", ...)``); non-matching docs yield the
    default.  The json index is an execution detail (the reference
    asserts identical RESULTS for indexed vs scan paths)."""
    typ = a[2].strip().strip("'\"").upper()
    if typ not in _JSON_TYPE_MAP:
        raise PinotSqlError(
            f"JSONEXTRACTINDEX: result type {typ!r} is not wired "
            f"(scalar types only: {sorted(_JSON_TYPE_MAP)}); the "
            "reference's *_ARRAY multi-value extraction is a named gap"
        )
    spark_t = _JSON_TYPE_MAP[typ]
    val = f"CAST(get_json_object({a[0]}, {a[1]}) AS {spark_t})"
    if len(a) < 4:
        return val
    default = f"CAST({a[3]} AS {spark_t})"
    if len(a) < 5:
        return f"COALESCE({val}, {default})"
    ftok = a[4].strip()
    if not (ftok.startswith("'") and ftok.endswith("'")):
        raise PinotSqlError(
            "JSONEXTRACTINDEX: filterJsonExpression must be a string literal"
        )
    pred = ftok[1:-1].replace("''", "'")
    pred = re.sub(
        r'"(\$[^"]*)"',
        lambda m: f"get_json_object({a[0]}, '{m.group(1)}')",
        pred,
    )
    return (
        f"CASE WHEN {pred} THEN COALESCE({val}, {default}) "
        f"ELSE {default} END"
    )


def _json_extract_key(a: list[str]) -> str:
    """JSONEXTRACTKEY(json, path[, paramString]) — see FUNCTION_MAP
    entry comment. The optional 3rd arg is the reference's
    ``'maxDepth=N;dotNotation=BOOL'`` parameter string
    (JsonFunctions.JsonExtractFunctionParameters:792-830)."""
    max_depth, dot = 2**31 - 1, False
    if len(a) > 2:
        ps = a[2].strip()
        if not (ps.startswith("'") and ps.endswith("'")):
            raise PinotSqlError(
                "JSONEXTRACTKEY: the parameter string must be a literal"
            )
        for pair in ps[1:-1].split(";"):
            if not pair.strip():
                continue
            k, _, v = pair.partition("=")
            key = k.strip().upper()
            if key == "MAXDEPTH":
                max_depth = int(v.strip())
                if max_depth < 0:
                    max_depth = 2**31 - 1  # non-positive → unlimited
            elif key == "DOTNOTATION":
                dot = v.strip().lower() == "true"
            else:
                raise PinotSqlError(f"JSONEXTRACTKEY: invalid parameter {pair!r}")
        if max_depth == 0:
            return "CAST(array() AS ARRAY<STRING>)"
    all_keys = f"__json_all_keys({a[0]}, {max_depth}, {str(dot).lower()})"
    if len(a) < 2:
        return all_keys  # reference: missing/empty path → all keys
    p = a[1].strip()
    if p.startswith("'") and p.endswith("'"):
        inner = p[1:-1]
        if inner in ("$.*", "$[*]"):
            if dot:
                return f"json_object_keys({a[0]})"
            return (
                f"transform(json_object_keys({a[0]}), "
                f"k -> concat('$[', char(39), k, char(39), ']'))"
            )
        if inner in ("", "$..", "$..**"):
            return all_keys
        raise PinotSqlError(
            f"JSONEXTRACTKEY: only '$.*' (top-level) and ''/'$..'/'$..**' "
            f"(recursive) paths are wired — got {inner!r}; arbitrary "
            f"JsonPath key extraction is a documented gap"
        )
    raise PinotSqlError(
        "JSONEXTRACTKEY: the jsonPath argument must be a string literal"
    )


_DTC_UNIT_MS = {
    "milliseconds": 1,
    "seconds": 1000,
    "minutes": 60_000,
    "hours": 3_600_000,
    "days": 86_400_000,
}


def _ts_operand(x: str) -> str:
    """Millis-domain operand → timestamp expression, without
    double-wrapping text that is already TIMESTAMP-typed."""
    s = x.strip()
    if re.match(r"(?i)^CAST\s*\(", s) and re.search(
        r"(?i)AS\s+TIMESTAMP\s*\)\s*$", s
    ):
        return s
    if re.match(
        r"(?i)^(timestamp_millis|to_timestamp|from_utc_timestamp|"
        r"to_utc_timestamp|date_trunc)\s*\(", s
    ):
        return s
    return f"timestamp_millis({x})"


_SDF_TZ_RE = re.compile(r"\s+tz\(([^)]+)\)\s*$")


def _split_sdf_tz(pat: str | None) -> tuple[str | None, str | None]:
    """Pinot DateTimeFormatPatternSpec: ``<pattern>[ tz(<zone>)]``."""
    if not pat:
        return pat, None
    m = _SDF_TZ_RE.search(pat)
    if m:
        return pat[: m.start()], m.group(1)
    return pat, None


def _wall_field_trunc(wall: str, size: int, unit: str) -> str:
    """Joda field-wise granularity truncation on a wall-clock timestamp
    expression (BaseDateTimeTransformer.java:82-199: set the field to
    (field / size) * size, then roundFloor — month-relative for DAYS)."""
    if unit == "milliseconds":
        if size == 1:
            return wall
        # FLOOR semantics (Joda roundFloor), not truncate-toward-zero:
        # millisOfSecond is 0..999 even pre-1970, so take a positive
        # mod and subtract it for the floored second
        ms = f"unix_millis({wall})"
        pos_ms = f"((({ms}) % 1000 + 1000) % 1000)"
        return (
            f"timestamp_millis(({ms}) - {pos_ms} + "
            f"({pos_ms} DIV {size}) * {size})"
        )
    base = {"seconds": "SECOND", "minutes": "MINUTE", "hours": "HOUR",
            "days": "DAY"}[unit]
    if size == 1:
        return f"date_trunc('{base}', {wall})"
    if unit == "seconds":
        return (f"timestamp_millis(unix_millis(date_trunc('MINUTE', {wall}))"
                f" + ((second({wall}) DIV {size}) * {size}) * 1000)")
    if unit == "minutes":
        return (f"timestamp_millis(unix_millis(date_trunc('HOUR', {wall}))"
                f" + ((minute({wall}) DIV {size}) * {size}) * 60000)")
    if unit == "hours":
        return (f"timestamp_millis(unix_millis(date_trunc('DAY', {wall}))"
                f" + ((hour({wall}) DIV {size}) * {size}) * 3600000)")
    # days are month-relative: setDayOfMonth(((d - 1) / size) * size + 1)
    return (f"timestamp_millis(unix_millis(date_trunc('MONTH', {wall}))"
            f" + (((dayofmonth({wall}) - 1) DIV {size}) * {size}) * 86400000)")


def _sdf_print(ms: str, pat: str, tz: str | None) -> str:
    """Render an epoch-millis expression under a Joda SDF pattern,
    optionally in a zone; a trailing (unquoted) ``Z`` prints the REAL
    zone offset the way Joda does — Spark's date_format would print the
    session offset for the shifted wall clock, which is wrong."""
    if tz is None:
        return f"date_format(timestamp_millis({ms}), '{pat}')"
    wall = f"from_utc_timestamp(timestamp_millis({ms}), '{tz}')"
    if pat.endswith("Z") and not pat.endswith("'Z'"):
        off = f"(unix_millis({wall}) - {ms})"
        offstr = (
            f"concat(IF({off} >= 0, '+', '-'), "
            f"lpad(CAST(abs({off}) DIV 3600000 AS STRING), 2, '0'), "
            f"lpad(CAST((abs({off}) % 3600000) DIV 60000 AS STRING), 2, '0'))"
        )
        return f"concat(date_format({wall}, '{pat[:-1]}'), {offstr})"
    return f"date_format({wall}, '{pat}')"


def _datetime_convert_sql(a: list[str]) -> str:
    """dateTimeConvert with literal DateTimeFormatSpec args → pure SQL
    (epoch/TIMESTAMP/SIMPLE_DATE_FORMAT in & out, granularity bucket,
    ``tz(...)`` pattern zones).  SDF output truncates FIELD-WISE in the
    output zone (BaseDateTimeTransformer.transformMillisToSDF: bucketing
    is implicit in the printed fields); epoch/TIMESTAMP output keeps the
    plain millis floor of transformToOutputGranularity."""

    def parse(tok: str) -> tuple[int, str, str, str | None, str | None]:
        parts = tok.strip().strip("'\"").split(":")
        pat, tz = _split_sdf_tz(":".join(parts[3:]) if len(parts) > 3 else None)
        return int(parts[0]), parts[1].lower(), parts[2].upper(), pat, tz

    in_size, in_unit, in_type, in_pat, in_tz = parse(a[1])
    out_size, out_unit, out_type, out_pat, out_tz = parse(a[2])
    g = a[3].strip().strip("'\"").split(":")
    g_size, g_unit = int(g[0]), g[1].lower()
    g_ms = g_size * _DTC_UNIT_MS[g_unit]

    if in_type == "EPOCH":
        ms = f"(CAST({a[0]} AS BIGINT) * {in_size * _DTC_UNIT_MS[in_unit]})"
    elif in_type == "TIMESTAMP":
        ms = f"unix_millis(CAST({a[0]} AS TIMESTAMP))"
    elif in_type == "SIMPLE_DATE_FORMAT":
        parsed = f"to_timestamp({a[0]}, '{in_pat}')"
        if in_tz:
            parsed = f"to_utc_timestamp({parsed}, '{in_tz}')"
        ms = f"unix_millis(CAST({parsed} AS TIMESTAMP))"
    else:
        raise PinotSqlError(f"unsupported dateTimeConvert input type {in_type}")

    if out_type == "SIMPLE_DATE_FORMAT":
        if out_tz:
            wall = f"from_utc_timestamp(timestamp_millis({ms}), '{out_tz}')"
            trunc = _wall_field_trunc(wall, g_size, g_unit)
            back = f"unix_millis(to_utc_timestamp({trunc}, '{out_tz}'))"
            return _sdf_print(back, out_pat, out_tz)
        trunc = _wall_field_trunc(f"timestamp_millis({ms})", g_size, g_unit)
        return f"date_format({trunc}, '{out_pat}')"

    ms = f"(CAST(FLOOR({ms} / {g_ms}) AS BIGINT) * {g_ms})"
    if out_type == "EPOCH":
        return f"CAST(FLOOR({ms} / {out_size * _DTC_UNIT_MS[out_unit]}) AS BIGINT)"
    if out_type == "TIMESTAMP":
        return f"timestamp_millis({ms})"
    raise PinotSqlError(f"unsupported dateTimeConvert output type {out_type}")


_CHARSET_ALIASES = {
    "ascii": "US-ASCII", "latin1": "ISO-8859-1", "iso8859-1": "ISO-8859-1",
    "utf8": "UTF-8", "utf-16": "UTF-16", "utf16": "UTF-16",
}


def _charset_lit(tok: str) -> str:
    """Normalize a charset literal through Java's Charset alias table
    (Spark's encode/decode accepts only canonical names)."""
    t = tok.strip()
    if t.startswith("'") and t.endswith("'"):
        name = t[1:-1]
        return repr(_CHARSET_ALIASES.get(name.lower(), name))
    return tok


def _filtermv_sql(a: list[str]) -> str:
    """FILTER_MV(mvCol, '<predicate on v>') → Spark filter() lambda
    (FilterMvPredicateEvaluator.java: EQ/NOT_EQ/IN/NOT_IN/RANGE/
    REGEXP_LIKE over placeholder ``v``, AND/OR/NOT combinations).
    Pinot evaluates BOOLEAN columns in the int domain (``v = 1``), so
    comparisons against literal 0/1 go through a DOUBLE cast that is
    valid for boolean AND numeric element types alike (0/1 are exact
    in double for every element type)."""
    tok = a[1].strip()
    if not (tok.startswith("'") and tok.endswith("'")):
        raise PinotSqlError("filterMv predicate must be a string literal")
    pred = tok[1:-1].replace("''", "'")
    pred = re.sub(
        r"\bv\s*(=|!=|<>|>=|<=|>|<)\s*(0|1)(?![\d.])",
        r"CAST(v AS DOUBLE) \1 \2",
        pred,
        flags=re.IGNORECASE,
    )
    return f"filter({a[0]}, v -> ({pred}))"


def _todatetime_sql(a: list[str]) -> str:
    """DateTimeFunctions.toDateTime(millis, pattern[, zoneId]) → the
    Joda-printed string; a trailing Z prints the real offset."""
    pat, tz = _split_sdf_tz(a[1].strip().strip("'\""))
    if len(a) > 2:
        tz = a[2].strip().strip("'\"")
    return _sdf_print(f"CAST({a[0]} AS BIGINT)", pat, tz)


def _fromdatetime_sql(a: list[str]) -> str:
    """DateTimeFunctions.fromDateTime(dateTimeString, pattern[, zoneId])
    → epoch millis.  The 'S' field: Joda's DateTimeFormat maps S-runs to
    appendFractionOfSecond — a true decimal fraction ('.4' = 400 ms,
    '.45' with 'SS' = 450 ms) — which is exactly Spark's to_timestamp
    semantics, verified against the in-container joda-time 2.14 jar
    (tests/test_custom_suites.py::test_fromdatetime_fraction_joda_parity);
    both engines also reject a digit run longer than the S-run.  (An
    earlier comment here claimed Joda reads '.4' as 4 ms — that is
    SimpleDateFormat's numeric-S behavior, not Joda's.)"""
    pat, tz = _split_sdf_tz(a[1].strip().strip("'\""))
    parsed = f"to_timestamp({a[0]}, '{pat}')"
    if len(a) > 2:
        tz = a[2].strip().strip("'\"")
    if tz:
        parsed = f"to_utc_timestamp({parsed}, '{tz}')"
    return f"unix_millis({parsed})"


def _percentile_family(fn: str) -> Callable[[list[str]], str]:
    def tpl(a: list[str]) -> str:
        pct = a[1].strip()
        try:
            frac = str(float(pct) / 100.0)
        except ValueError:  # non-literal percentile arg
            frac = f"(({pct}) / 100.0)"
        return f"{fn}({a[0]}, {frac})"

    return tpl


_ARR_SUM = "aggregate({0}, CAST(0 AS DOUBLE), (acc, v) -> acc + v)"


def _sql_gap(name: str, why: str) -> Callable[[list[str]], str]:
    """A FUNCTION_MAP entry that resolves the name but raises a clear
    PinotSqlError at rewrite time — the SQL-surface analog of the
    registry's loud NotImplementedError boundaries."""

    def f(_a: list[str]) -> str:
        raise PinotSqlError(f"{name}: {why}")

    return f


_MV_DISTINCT_FLAT = (
    "array_distinct(flatten(collect_set(array_distinct(array_compact({0})))))"
)
_MV_FLAT_SORTED = "array_sort(flatten(collect_list(array_compact({0}))))"


def _percentile_mv_family() -> Callable[[list[str]], str]:
    """PERCENTILEMV(arr, p): interpolated percentile of the flattened MV
    values — the in-expression bounded form (groups buffer their value
    arrays; the structural explode path is queries/aggregates.py
    agg_mv_grouped_percentile). Interpolation matches Spark/DuckDB
    percentile/quantile_cont."""

    def tpl(a: list[str]) -> str:
        pct = a[1].strip()
        try:
            frac = str(float(pct) / 100.0)
        except ValueError:
            frac = f"(({pct}) / 100.0)"
        arr = _MV_FLAT_SORTED.format(a[0])
        pos = f"({frac} * (size({arr}) - 1))"
        lo = f"CAST(floor({pos}) AS INT)"
        # empty-group guard: when every MV array in the group is empty,
        # size(arr)=0 makes pos negative and element_at(arr, 0) raises
        # INVALID_INDEX_OF_ZERO — return NULL like the scalar percentile
        # over zero rows would
        interp = (
            f"(element_at({arr}, {lo} + 1) + ({pos} - {lo}) * "
            f"(element_at({arr}, CAST(ceil({pos}) AS INT) + 1) - element_at({arr}, {lo} + 1)))"
        )
        return f"(CASE WHEN size({arr}) = 0 THEN CAST(NULL AS DOUBLE) ELSE {interp} END)"

    return tpl


def _hll_pair_expr(col: str, log2m: int) -> str:
    """Encode one value's HyperLogLog contribution as a single BIGINT
    ``register_index * 64 + rho`` — computed entirely JVM-side so the
    raw-HLL SQL names can aggregate with a BOUNDED-domain collect_set
    instead of collecting every value's hash (the 100 TB scale fix).

    Bit-for-bit identical to operators/hll.py HllSketch.from_hashes:
    signed xxhash64 → unsigned via the order-preserving +2^63 shift
    (= XOR of the sign bit), top ``log2m`` bits pick the register, and
    rho = leading zeros of the remaining bits (left-aligned) + 1. The
    leading-zero count uses ``bin()`` string length — exact, unlike a
    float log2. The pair domain has at most 2^log2m * (64-log2m+1)
    values (~15k at log2m=8), so the aggregation state is sketch-sized
    no matter how many rows flow through, and collect_set's map-side
    partial dedup keeps the shuffle bounded too."""
    flip = f"(xxhash64({col}) ^ shiftleft(CAST(1 AS BIGINT), 63))"
    rest = f"shiftleft({flip}, {log2m})"
    rho = (
        f"(CASE WHEN {rest} = 0 THEN {64 - log2m + 1} "
        f"WHEN {rest} < 0 THEN 1 "
        f"ELSE CAST(65 - length(bin({rest})) AS INT) END)"
    )
    idx = f"shiftrightunsigned({flip}, {64 - log2m})"
    return (
        f"CASE WHEN {col} IS NULL THEN CAST(NULL AS BIGINT) "
        f"ELSE {idx} * 64 + {rho} END"
    )


# RAW-HLL wire format: 'clearspring' (default — the serialization the
# reference actually ships, stream-lib bytes via ObjectSerDeUtils.
# HYPER_LOG_LOG_SER_DE) or 'engine' (the pre-round-11 engine-own
# xxhash64 register blob; GETHLLESTIMATE/HLL_UNION still read both).
_HLL_WIRE = os.environ.get("PINOT_SPARK_HLL_WIRE", "clearspring").lower()

# See PinotEngine's suppression-window comment: dynamically scoped so the
# internal re-entrant sql() calls of the raw-window routes see it while
# concurrent queries on other threads never do.
_NO_DEFAULT_LIMIT: contextvars.ContextVar[bool] = contextvars.ContextVar(
    "pinot_spark_no_default_limit", default=False
)
_INT_TYPEOFS = "('tinyint', 'smallint', 'int', 'bigint', 'boolean')"
_INT_ARR_TYPEOFS = (
    "('array<tinyint>', 'array<smallint>', 'array<int>', "
    "'array<bigint>', 'array<boolean>')"
)


def _cs_murmur32_pair_expr(vexpr: str, log2m: int) -> str:
    """stream-lib MurmurHash.hashLong + the HyperLogLog (register,
    run-length) pair, composed ENTIRELY from JVM Column arithmetic for
    integer-family values — murmur2-int is multiply/shift/xor on 32-bit
    words, every intermediate < 2^63, so plain BIGINT arithmetic is
    exact with no overflow (ANSI-safe).  Textual substitution duplicates
    subexpressions (~10 KB per call); Catalyst's common-subexpression
    elimination collapses them in codegen.  Bit-for-bit identical to
    operators/cs_hll.hash32_long + hll_pair32 (tests/test_cs_hll.py)."""
    mul, m32 = 0x5BD1E995, 0xFFFFFFFF
    v = f"CAST({vexpr} AS BIGINT)"
    k1 = f"((({v} & {m32}) * {mul}) & {m32})"
    k1 = f"({k1} ^ shiftrightunsigned({k1}, 24))"
    h = f"(({k1} * {mul}) & {m32})"
    k2 = f"((shiftrightunsigned({v}, 32) * {mul}) & {m32})"
    k2 = f"({k2} ^ shiftrightunsigned({k2}, 24))"
    h = f"(((({h} * {mul}) & {m32}) ^ (({k2} * {mul}) & {m32})))"
    h = f"({h} ^ shiftrightunsigned({h}, 13))"
    h = f"((({h} * {mul}) & {m32}))"
    h = f"({h} ^ shiftrightunsigned({h}, 15))"
    j = f"shiftrightunsigned({h}, {32 - log2m})"
    sentinel = (1 << (log2m - 1)) + 1
    probe = f"((shiftleft({h}, {log2m}) & {m32}) | {sentinel})"
    rho = f"(33 - length(bin({probe})))"
    return (
        f"CASE WHEN ({vexpr}) IS NULL THEN CAST(NULL AS BIGINT) "
        f"ELSE {j} * 64 + {rho} END"
    )


def _cs_hll_pair_sql(col: str, log2m: int) -> str:
    """Clearspring register pair for one value, dispatched on the
    runtime column type: integer family rides the pure-JVM murmur
    expression; float/double/string/binary need IEEE bits or byte
    hashing, which only the Arrow-batched pair UDF can compute."""
    return (
        f"CASE WHEN typeof({col}) IN {_INT_TYPEOFS} "
        f"THEN {_cs_murmur32_pair_expr(col, log2m)} "
        f"ELSE __cs_hll_pair({col}, typeof({col}), {log2m}) END"
    )


def _cs_hll_pairs_arr_sql(col: str, log2m: int) -> str:
    """MV pair array: integer-element arrays transform per element with
    the JVM murmur expression (UDFs cannot appear inside higher-order
    lambdas); other element types batch through the array pair UDF."""
    pair = _cs_murmur32_pair_expr("x", log2m)
    jvm = (
        f"array_distinct(transform(filter({col}, x -> x IS NOT NULL), "
        f"x -> {pair}))"
    )
    return (
        f"CASE WHEN typeof({col}) IN {_INT_ARR_TYPEOFS} THEN {jvm} "
        f"ELSE __cs_hll_pairs_arr({col}, typeof({col}), {log2m}) END"
    )


def _cs_hllpp_pair_sql(col: str, p: int) -> str:
    """HLL++ NORMAL pair for one value.  stream-lib hash64(Object)
    hashes toString() bytes for every number — a byte loop no Column
    expression reaches — so the pair always computes in an
    Arrow-batched UDF; integer values ship as exact 32-bit halves
    (nullable int64 is lossy through pandas float64 past 2^53)."""
    v = f"CAST({col} AS BIGINT)"
    return (
        f"CASE WHEN ({col}) IS NULL THEN CAST(NULL AS BIGINT) "
        f"WHEN typeof({col}) IN {_INT_TYPEOFS} "
        f"THEN __cs_hllpp_pair_long(shiftright({v}, 32), {v} & 4294967295, {p}) "
        f"ELSE __cs_hllpp_pair({col}, typeof({col}), {p}) END"
    )


def _hllpp_params(a: list[str]) -> tuple[int, int]:
    """(p, sp) from DISTINCTCOUNTRAWHLLPLUS args — reference defaults
    p=14, sp=0 (CommonConstants.DEFAULT_HYPERLOGLOG_PLUS_{P,SP};
    DistinctCountHLLPlusAggregationFunction.java:46-64)."""
    p = int(a[1].strip()) if len(a) > 1 and a[1].strip().isdigit() else 14
    sp = int(a[2].strip()) if len(a) > 2 and a[2].strip().isdigit() else 0
    return p, sp


def _cpc_lgk(a: list[str]) -> int:
    """lgK from the optional second arg (reference default 12,
    CommonConstants.DEFAULT_CPC_SKETCH_LGK)."""
    return int(a[1].strip()) if len(a) > 1 and a[1].strip().isdigit() else 12


def _cpc_coupon_sql(col: str, lg_k: int) -> str:
    """Per-value CPC coupon (row*64 + col in the murmur3-9001 domain)
    with CpcSketch.update(Object) type semantics — integer values ship
    as exact 32-bit halves; the domain is bounded by 64*2^lgK, so
    collect_set state stays sketch-scale at any row count."""
    v = f"CAST({col} AS BIGINT)"
    return (
        f"CASE WHEN ({col}) IS NULL THEN CAST(NULL AS BIGINT) "
        f"WHEN typeof({col}) IN {_INT_TYPEOFS} "
        f"THEN __cpc_coupon_long(shiftright({v}, 32), {v} & 4294967295, {lg_k}) "
        f"ELSE __cpc_coupon({col}, typeof({col}), {lg_k}) END"
    )


def _raw_hll_sql(a: list[str], default_log2m: int) -> str:
    log2m = (
        int(a[1].strip())
        if len(a) > 1 and a[1].strip().isdigit()
        else default_log2m
    )
    if _HLL_WIRE == "engine":
        return f"__hll_from_regs(collect_set({_hll_pair_expr(a[0], log2m)}), {log2m})"
    return (
        f"__cs_hll_from_regs(collect_set({_cs_hll_pair_sql(a[0], log2m)}), "
        f"{log2m})"
    )


def _raw_hllpp_sql(a: list[str]) -> str:
    """DISTINCTCOUNTRAWHLLPLUS → clearspring HyperLogLogPlus wire bytes
    (NORMAL format).  Byte-canonical with a flat stream-lib build at the
    reference default sp=0; explicit sp>0 emits the post-conversion
    NORMAL state (valid + union-compatible; the library's small-n
    SPARSE regime is a documented boundary)."""
    p, sp = _hllpp_params(a)
    if _HLL_WIRE == "engine":
        return _raw_hll_sql(a[:1], 8)
    return (
        f"__cs_hllpp_from_regs(collect_set({_cs_hllpp_pair_sql(a[0], p)}), "
        f"{p}, {sp})"
    )


def _raw_hll_mv_sql(a: list[str], default_log2m: int) -> str:
    """MV variant: each row contributes its array's (deduplicated)
    register pairs; the bounded pair domain keeps every buffer element
    tiny, though the collect_list entry count still scales with rows —
    the fully bounded path is the SV form over an exploded view."""
    log2m = (
        int(a[1].strip())
        if len(a) > 1 and a[1].strip().isdigit()
        else default_log2m
    )
    if _HLL_WIRE == "engine":
        pair = _hll_pair_expr("x", log2m)
        return (
            f"__hll_from_regs(array_distinct(flatten(collect_list("
            f"array_distinct(transform(filter({a[0]}, x -> x IS NOT NULL), "
            f"x -> {pair}))))), {log2m})"
        )
    return (
        f"__cs_hll_from_regs(array_distinct(flatten(collect_list("
        f"{_cs_hll_pairs_arr_sql(a[0], log2m)}))), {log2m})"
    )


def _raw_hllpp_mv_sql(a: list[str]) -> str:
    p, sp = _hllpp_params(a)
    if _HLL_WIRE == "engine":
        return _raw_hll_mv_sql(a[:1], 8)
    return (
        f"__cs_hllpp_from_regs(array_distinct(flatten(collect_list("
        f"__cs_hllpp_pairs_arr({a[0]}, typeof({a[0]}), {p})))), {p}, {sp})"
    )


# t-digest quantile grid: Chebyshev (cosine) spacing — denser at the
# tails, mirroring the t-digest k1 scale function. 129 probes keep the
# percentile_approx result array small while bounding the rank error of
# the reconstructed digest to ~(1/128)/2 mid-range and much tighter at
# the tails.
_TDIGEST_GRID = [
    (1 - math.cos(math.pi * i / 128)) / 2 for i in range(129)
]


def _raw_tdigest_sql(values_expr: str) -> str:
    """PERCENTILERAW* scale shape: Spark-native percentile_approx
    (bounded GK/KLL state, partial/final map-side combine) probes a
    fixed quantile grid; a scalar UDF reassembles engine-own t-digest
    bytes from (grid quantiles, row count). No per-value collection
    anywhere — the aggregation state is sketch-sized at any row count."""
    grid = ", ".join(f"{q!r}" for q in _TDIGEST_GRID)
    return (
        f"__tdigest_from_quantiles("
        f"percentile_approx({values_expr}, array({grid}), 10000), "
        f"count({values_expr}))"
    )


def _theta_nominal_entries(a: list[str]) -> int:
    """Parse the optional 'nominalEntries=N' parameter string of
    DISTINCT_COUNT_RAW_THETA_SKETCH (CommonConstants default 4096)."""
    for arg in a[1:]:
        m = re.search(r"nominalEntries\s*=\s*(\d+)", arg, re.IGNORECASE)
        if m:
            return int(m.group(1))
    return 4096


def _theta_raw_build_expr(a: list[str]) -> str:
    """KMV theta build over values as a native-aggregate expression (see
    the FUNCTION_MAP comment at ``distinctcountrawthetasketch``)."""
    return (
        "__theta_from_hashes(slice(sort_array(collect_set("
        "CASE WHEN {0} IS NULL THEN CAST(NULL AS BIGINT) ELSE xxhash64({0}) END"
        ")), 1, {1}), {2})".format(
            a[0], _theta_nominal_entries(a) + 1, _theta_nominal_entries(a)
        )
    )


FUNCTION_MAP: dict[str, str | Callable[[list[str]], str]] = {
    # --- string (StringFunctions.java) ---
    # Pinot strPos = StringUtils.indexOf/ordinalIndexOf: 0-based, -1 on miss
    # (StringFunctions.java). The 3-arg form finds the Nth occurrence with
    # OVERLAPPING matches (ordinalIndexOf advances by 1, not by match
    # length: strpos('aaa','aa',2) = 1) — enumerate every match position
    # with a filtered index sequence, then take the Nth.
    "strpos": lambda a: (
        f"(instr({a[0]}, {a[1]}) - 1)"
        if len(a) < 3
        else (
            f"coalesce(try_element_at(filter(sequence(1, greatest(length({a[0]}), 1)), "
            f"i -> substring({a[0]}, i, length({a[1]})) = {a[1]}), CAST({a[2]} AS INT)) - 1, -1)"
        )
    ),
    "codepoint": "ascii",
    "chr": "char",
    # Pinot splitPart (StringFunctions.java) = splitByWholeSeparator:
    # LITERAL delimiter (regex-quoted via \Q..\E so any delimiter works,
    # literal or column), EMPTY tokens dropped (consecutive/leading
    # delimiters collapse), 0-based index, and the literal string 'null'
    # when the index is out of range. 4-arg form caps the token count
    # (last token keeps the remainder — Spark split's limit arg).
    "splitpart": lambda a: (
        f"coalesce(try_element_at(filter(split({a[0]}, concat('\\\\Q', {a[1]}, '\\\\E')"
        + (f", CAST({a[2]} AS INT)" if len(a) > 3 else "")
        + f"), x -> x != ''), CAST({a[3] if len(a) > 3 else a[2]} AS INT) + 1), 'null')"
    ),
    "regexpreplace": "regexp_replace",
    "regexpextract": "regexp_extract",
    # Pinot substr is 0-based with an END INDEX 3rd arg, -1 = to end
    # (StringFunctions.java:112-130); Spark substring is 1-based + length.
    # `substring` (canon "substring") stays 1-based — distinct function.
    "substr": lambda a: (
        f"substring({a[0]}, ({a[1]}) + 1)"
        if len(a) == 2
        else (
            f"CASE WHEN ({a[2]}) = -1 THEN substring({a[0]}, ({a[1]}) + 1) "
            f"ELSE substring({a[0]}, ({a[1]}) + 1, ({a[2]}) - ({a[1]})) END"
        )
    ),
    # corpus spells these starts_with/ends_with; Spark has no-underscore names
    "startswith": "startswith",
    "endswith": "endswith",
    # Pinot StringFunctions.concat(s1, s2, separator): the THIRD arg is a
    # separator between the first two (corpus WindowFunctions.json uses
    # CONCAT(col1, col2, '-')) — Spark's concat would append it instead
    "concat": lambda a: (
        f"concat({a[0]}, {a[2]}, {a[1]})"
        if len(a) == 3
        else "concat(" + ", ".join(a) + ")"
    ),
    "regexplike": lambda a: f"({a[0]} RLIKE {a[1]})",
    # regexpLikeVar (RegexpLikeVarTransformFunction.java): pattern is a
    # COLUMN, not a literal — Spark's RLIKE accepts non-foldable patterns
    "regexplikevar": lambda a: f"({a[0]} RLIKE {a[1]})",
    # TEXT_MATCH(col, 'lucene query') → compiled boolean expression over
    # tokenized text (operators/lucene.py Lucene-syntax subset); falls
    # back to RLIKE when the query isn't a string literal.
    "textmatch": lambda a: _text_match_sql(a),
    "lookup": lambda a: _lookup_sql(a),
    "normalize": lambda a: f"{a[0]}",  # NFC normalize: Spark strings are UTF-8 already
    "toutf8": lambda a: f"encode({a[0]}, 'UTF-8')",
    "fromutf8": lambda a: f"decode({a[0]}, 'UTF-8')",
    "toascii": lambda a: f"encode({a[0]}, 'US-ASCII')",
    "fromascii": lambda a: f"decode({a[0]}, 'US-ASCII')",
    "tobase64": lambda a: f"base64({a[0]})",
    "frombase64": lambda a: f"unbase64({a[0]})",
    # UUID <-> 16 canonical big-endian bytes (StringFunctions.java
    # toUUIDBytes/fromUUIDBytes: UUID msb|lsb == the dash-stripped hex)
    "touuidbytes": lambda a: f"unhex(replace({a[0]}, '-', ''))",
    "fromuuidbytes": lambda a: (
        f"lower(concat_ws('-', substr(hex({a[0]}), 1, 8), "
        f"substr(hex({a[0]}), 9, 4), substr(hex({a[0]}), 13, 4), "
        f"substr(hex({a[0]}), 17, 4), substr(hex({a[0]}), 21, 12)))"
    ),
    # --- datetime (DateTimeFunctions.java; epoch-long domain) ---
    "now": lambda a: "unix_millis(current_timestamp())",
    "fromepochseconds": lambda a: f"timestamp_seconds({a[0]})",
    "fromepochmillis": lambda a: f"timestamp_millis({a[0]})",
    "fromepochdays": lambda a: f"date_from_unix_date(CAST({a[0]} AS INT))",
    "toepochseconds": _epoch_div(1000),
    "toepochminutes": _epoch_div(60_000),
    "toepochhours": _epoch_div(3_600_000),
    "toepochdays": _epoch_div(86_400_000),
    "toepochmillis": lambda a: f"unix_millis(CAST({a[0]} AS TIMESTAMP))",
    "totimestamp": lambda a: f"timestamp_millis({a[0]})",
    "fromtimestamp": lambda a: f"unix_millis(CAST({a[0]} AS TIMESTAMP))",
    "datetrunc": lambda a: (
        # Pinot dateTrunc(unit, epochMillis) stays in the epoch-millis
        # domain; an argument that is ALREADY a timestamp expression
        # (textual CAST .. AS TIMESTAMP, or one of our own
        # timestamp-producing rewrites) is not re-wrapped
        f"unix_millis(date_trunc({a[0]}, {_ts_operand(a[1])}))"
    ),
    "datetimeconvert": lambda a: _datetime_convert_sql(a),
    "yearofweek": "extract(yearofweek FROM {0})",
    "weekofyear": "weekofyear",
    # Pinot dayOfWeek is Joda ISO Mon=1..Sun=7 (DateTimeFunctions.java:843);
    # Spark dayofweek is Sun=1..Sat=7.
    "dayofweek": lambda a: f"(((dayofweek({a[0]}) + 5) % 7) + 1)",
    "dayofyear": "dayofyear",
    "dayofmonth": "dayofmonth",
    "millisecond": lambda a: f"CAST((unix_millis(CAST({a[0]} AS TIMESTAMP)) % 1000) AS INT)",
    # --- arithmetic / misc scalars ---
    "div": lambda a: f"(CAST({a[0]} AS DOUBLE) / {a[1]})",
    "intdiv": lambda a: f"CAST(FLOOR(CAST({a[0]} AS DOUBLE) / {a[1]}) AS BIGINT)",
    "mult": lambda a: "(" + " * ".join(a) + ")",
    "plus": lambda a: f"({a[0]} + {a[1]})",
    "minus": lambda a: f"({a[0]} - {a[1]})",
    "mod": lambda a: f"({a[0]} % {a[1]})",
    # --- bitwise (BitFunctions.json corpus; scalar twins in scalar_ext.py) ---
    "bitand": lambda a: f"({a[0]} & {a[1]})",
    "bitor": lambda a: f"({a[0]} | {a[1]})",
    "bitxor": lambda a: f"({a[0]} ^ {a[1]})",
    "bitnot": lambda a: f"(~{a[0]})",
    "bitshiftleft": lambda a: f"shiftleft({a[0]}, {a[1]})",
    "bitshiftright": lambda a: f"shiftright({a[0]}, {a[1]})",
    "bitshiftrightunsigned": lambda a: f"shiftrightunsigned({a[0]}, {a[1]})",
    # BitwiseFunctions.bitMask returns LONG regardless of shift type
    # (BitwiseFunctionsIntegrationTest asserts LONG for INT shifts)
    "bitmask": lambda a: f"shiftleft(CAST(1 AS BIGINT), {a[0]})",
    "bitextract": lambda a: f"CAST((shiftright({a[0]}, {a[1]}) & 1) AS INT)",
    "extractbit": lambda a: f"CAST((shiftright({a[0]}, {a[1]}) & 1) AS INT)",
    "bitshiftrightlogical": lambda a: f"shiftrightunsigned({a[0]}, {a[1]})",
    # ArithmeticFunctions.java aliases (corpus SpecialSyntax.json calls
    # ADD/PLUS/TIMES interchangeably, case-insensitive)
    "add": lambda a: f"({a[0]} + {a[1]})",
    "sub": lambda a: f"({a[0]} - {a[1]})",
    "times": lambda a: "(" + " * ".join(a) + ")",
    "divide": lambda a: (
        f"({a[0]} / {a[1]})"
        if len(a) == 2
        else f"(CASE WHEN {a[1]} = 0 THEN {a[2]} ELSE {a[0]} / {a[1]} END)"
    ),
    "rounddecimal": lambda a: f"round({a[0]}, {a[1] if len(a) > 1 else 0})",
    "truncate": lambda a: f"trunc({a[0]}, {a[1]})" if len(a) > 1 else f"trunc({a[0]})",
    # --- json (JsonFunctions.java) ---
    "jsonextractscalar": _json_extract_scalar,
    "jsonextractindex": lambda a: _json_extract_index_sql(a),
    # Pinot returns JsonPath-formatted keys: $['key'] (JsonFunctions.java
    # jsonExtractKey:567-600; JsonType.json corpus output shape).
    # char(39) = '. Wired paths: '$.*'/'$[*]' → top-level keys (native
    # json_object_keys); ''/'$..'/'$..**' → recursive all-keys
    # (reference isExtractAllKeys) via __json_all_keys; any other path
    # raises loudly rather than silently returning top-level keys.
    "jsonextractkey": _json_extract_key,
    # mapValue(keysMvCol, key, valuesMvCol): value at the key's position
    # in the parallel keys array (MapTypeTest.java; Pinot's __KEYS /
    # __VALUES map-column encoding). get() is 0-based and null-safe for
    # an absent key (array_position yields 0 -> index -1 -> NULL).
    "mapvalue": lambda a: (
        f"get({a[2]}, CAST(array_position({a[0]}, {a[1]}) - 1 AS INT))"
        if len(a) == 3
        else f"element_at({a[0]}, {a[1]})"
    ),
    "jsonformat": "to_json",
    "jsonpath": lambda a: f"get_json_object({a[0]}, {a[1]})",
    "jsonpathstring": lambda a: f"get_json_object({a[0]}, {a[1]})",
    "jsonpathlong": lambda a: f"CAST(get_json_object({a[0]}, {a[1]}) AS BIGINT)",
    "jsonpathdouble": lambda a: f"CAST(get_json_object({a[0]}, {a[1]}) AS DOUBLE)",
    # --- arrays / MV (ArrayFunctions.java, TransformFunctionType:162-172) ---
    "arraylength": "cardinality",
    "generatearray": lambda a: f"sequence({', '.join(a)})",
    # MSE ARRAY_TO_MV converts an array literal/column to the MV domain
    # for predicates; arrays ARE the MV domain here, so it's identity
    # (the MV predicate rewrite then applies to the bare column)
    "arraytomv": lambda a: a[0],
    "arrayreverse": "reverse",
    "arraycontains": lambda a: f"array_contains({a[0]}, {a[1]})",
    "arrayindexof": lambda a: f"(array_position({a[0]}, {a[1]}) - 1)",
    "arraymin": "array_min",
    "arraymax": "array_max",
    "arraysum": lambda a: _ARR_SUM.format(a[0]),
    "arrayaverage": lambda a: f"({_ARR_SUM.format(a[0])} / cardinality({a[0]}))",
    "arraydistinct": "array_distinct",
    "arrayunion": "array_union",
    "arrayconcat": "concat",
    "arrayslice": lambda a: f"slice({a[0]}, {a[1]} + 1, {a[2]} - {a[1]})",  # 0-based [from,to)
    "arraysortint": "array_sort",
    "arraysortstring": "array_sort",
    "valuein": lambda a: f"filter({a[0]}, v -> v IN ({', '.join(a[1:])}))",
    # --- aggregations (AggregationFunctionType.java:52-242) ---
    "distinctcount": lambda a: f"count(DISTINCT {', '.join(a)})",
    "distinctcountbitmap": lambda a: f"count(DISTINCT {a[0]})",
    "segmentpartitioneddistinctcount": lambda a: f"count(DISTINCT {a[0]})",
    # optional 2nd arg is log2m (corpus CountDistinct.json: HLL(val, 8));
    # HLL standard error = 1.04/sqrt(2^log2m) maps onto Spark's rsd param,
    # which must be a double LITERAL — computed here at rewrite time
    # (non-literal precision falls back to default accuracy)
    "distinctcounthll": lambda a: "approx_count_distinct({}{})".format(
        a[0],
        (
            ", {:.6f}".format(1.04 / (2.0 ** float(a[1].strip())) ** 0.5)
            if len(a) > 1 and a[1].strip().replace(".", "", 1).isdigit()
            else ""
        ),
    ),
    "distinctcounthllplus": lambda a: f"approx_count_distinct({a[0]})",
    "distinctcountull": lambda a: f"approx_count_distinct({a[0]})",
    "distinctcountsmarthll": lambda a: f"approx_count_distinct({a[0]})",
    # Pinot returns Math.round(sketch.getEstimate()) as a LONG, and a
    # theta sketch below nominalEntries is EXACT — approx_count_distinct
    # (an HLL) is not, even at tiny cardinalities.  Ride the RAW theta
    # machinery.  The filtered multi-parameter form is handled by
    # rewrite_theta_value_calls / rewrite_theta_blob_calls before
    # FUNCTION_MAP; a shape neither pass matched raises rather than
    # silently ignoring its filter predicates.
    "distinctcountthetasketch": lambda a: (
        _sql_gap(
            "DISTINCTCOUNTTHETASKETCH",
            "multi-parameter form not in the "
            "(col, params, 'p1', .., 'SET_OP($1, ..)') shape",
        )(a)
        if len(a) > 2
        else "CAST(ROUND(__theta_estimate({})) AS BIGINT)".format(
            _theta_raw_build_expr(a)
        )
    ),
    # true CPC semantics since round 11: the same bounded coupon-domain
    # aggregation as DISTINCTCOUNTRAWCPCSKETCH, estimated with
    # Math.round of the merged sketch's ICON estimate — what a real
    # distributed query returns (operators/ds_cpc.py)
    "distinctcountcpcsketch": lambda a: (
        "__cpc_estimate(__cpc_from_coupons(collect_set({0}), {1}))".format(
            _cpc_coupon_sql(a[0], _cpc_lgk(a)), _cpc_lgk(a)
        )
    ),
    # --- raw theta sketch pipeline (UDFAggregates.json corpus:
    # GET_THETA_SKETCH_ESTIMATE(THETA_SKETCH_DIFF(DISTINCT_COUNT_RAW_THETA_
    # SKETCH(col,'nominalEntries=16'), ...))). Values are hashed JVM-side
    # (xxhash64); the KMV top-k + engine-own wire format is operators/
    # theta.py's ThetaSketch, exposed through pandas UDFs that
    # PinotEngine registers lazily (_ensure_theta_sql_udfs). ---
    # KMV build as NATIVE aggregates (collect_set → sort → k+1 smallest;
    # the +1 carries the theta boundary) + a SCALAR pandas UDF for the
    # wire format — a grouped-agg pandas UDF can't mix with other
    # aggregates in one SELECT (INVALID_PANDAS_UDF_PLACEMENT), and the
    # corpus does exactly that (AVG(x), GET_THETA_SKETCH_ESTIMATE(...)).
    # Scale note: canonical grouped statements are restructured FIRST by
    # rewrite_raw_sketch_two_phase (partial-per-bucket + final merge,
    # bounded buffers); this in-expression form is the fallback for
    # non-canonical shapes, where collect_set holds all distinct hashes
    # (map-side-deduped). The DataFrame-level bounded path is
    # operators/theta.theta_sketch.
    # NULLs are masked (CASE → NULL, collect_set drops NULLs) so raw and
    # non-raw theta names agree: DISTINCTCOUNTTHETASKETCH's
    # approx_count_distinct skips NULLs and TO_THETA_SKETCH emits an
    # empty sketch for NULL — xxhash64(NULL) would otherwise contribute
    # the seed hash as a phantom distinct value
    "distinctcountrawthetasketch": lambda a: _theta_raw_build_expr(a),
    "getthetasketchestimate": lambda a: f"__theta_estimate({a[0]})",
    "thetasketchdiff": lambda a: f"__theta_diff({a[0]}, {a[1]})",
    "thetasketchunion": lambda a: (
        a[0]
        if len(a) == 1
        else "__theta_union(" + ", __theta_union(".join(a[:-1]) + ", " + a[-1] + ")" * (len(a) - 1)
    ),
    "thetasketchintersect": lambda a: f"__theta_intersect({a[0]}, {a[1]})",
    # integer tuple sketch aggregations over serialized sketch columns
    # (functions/sketches.py wire format; built scalar-side by
    # TO_INTEGER_SUM_TUPLE_SKETCH) — merge with sum mode, then extract
    "distinctcounttuplesketch": lambda a: (
        f"__tuple_estimate(__tuple_merge_sum(collect_list({a[0]})))"
    ),
    "distinctcountrawintegersumtuplesketch": lambda a: (
        f"__tuple_merge_sum(collect_list({a[0]}))"
    ),
    "sumvaluesintegersumtuplesketch": lambda a: (
        f"__tuple_sum_values(__tuple_merge_sum(collect_list({a[0]})))"
    ),
    "avgvalueintegersumtuplesketch": lambda a: (
        f"__tuple_avg_value(__tuple_merge_sum(collect_list({a[0]})))"
    ),
    "getinttuplesketchestimate": lambda a: f"__tuple_estimate({a[0]})",
    # TupleSketchTest.java scalar set operations over serialized
    # integer-sum tuple sketches (sum mode, either wire format)
    "intsumtuplesketchunion": lambda a: f"__tuple_union({a[0]}, {a[1]})",
    "intsumtuplesketchintersect": lambda a: (
        f"__tuple_intersect({a[0]}, {a[1]})"
    ),
    "tointegersumtuplesketch": lambda a: (
        "__tuple_singleton(CASE WHEN {0} IS NULL THEN CAST(NULL AS BIGINT) "
        "ELSE xxhash64({0}) END, CAST({1} AS BIGINT), {2})".format(
            a[0], a[1], 2 ** int(a[2]) if len(a) > 2 and a[2].strip().isdigit() else 4096
        )
    ),
    "tothetasketch": lambda a: (
        "__theta_singleton(CASE WHEN {0} IS NULL THEN CAST(NULL AS BIGINT) "
        "ELSE xxhash64({0}) END, {1})".format(
            a[0], a[1].strip() if len(a) > 1 and a[1].strip().isdigit() else 4096
        )
    ),
    "thetasketchtostring": lambda a: f"__theta_to_string({a[0]})",
    # engine extension: single-item sketch in the DataSketches COMPACT
    # wire format (murmur-9001 update-hash domain, operators/ds_theta.py)
    # — byte-level twin of the reference toThetaSketch output
    # (SketchFunctions.java:98-106) for cross-engine exchange; consumers
    # auto-detect the format and refuse mixed-domain set operations
    # typeof() threads the Spark column type so true double columns hash
    # IEEE bit patterns for ALL values (Java update(double) domain)
    "todatasketchestheta": lambda a: f"__ds_theta_single({a[0]}, typeof({a[0]}))",
    "todatasketchestuple": lambda a: f"__ds_tuple_single({a[0]}, {a[1]})",
    # DataSketches register/items wire formats: loud SQL boundary
    # (COVERAGE.md Known gaps) — estimates are served by the non-raw names
    # raw HLL: ENGINE-OWN register bytes (operators/hll.py — log2m byte +
    # dense registers, merged register-wise; TRUE clearspring wire
    # interop lives in operators/cs_hll.py behind TO_CLEARSPRING_HLL /
    # HLL_UNION and the auto-detecting reader). GETHLLESTIMATE is the engine's
    # reader extension; optional 2nd arg is log2m (reference default 8,
    # CommonConstants.DEFAULT_HYPERLOGLOG_LOG2M). SCALE SHAPE: values
    # reduce JVM-side to bounded-domain register pairs (_hll_pair_expr)
    # aggregated with collect_set — the state is sketch-sized (≤ m*57
    # bigints) at ANY row count; no per-value collection remains.
    "distinctcountrawhll": lambda a: _raw_hll_sql(a, 8),
    "distinctcountrawhllplus": lambda a: _raw_hllpp_sql(a),
    "distinctcountrawhllmv": lambda a: _raw_hll_mv_sql(a, 8),
    "distinctcountrawhllplusmv": lambda a: _raw_hllpp_mv_sql(a),
    "gethllestimate": lambda a: f"__hll_estimate({a[0]})",
    # engine extensions: clearspring (stream-lib) wire-format emitters —
    # byte-level twins of the reference toHLL output and of what
    # DISTINCTCOUNTHLLPLUS serializes (ObjectSerDeUtils.java:741-775;
    # operators/cs_hll.py) for cross-engine exchange; GETHLLESTIMATE and
    # HLL_UNION auto-detect the format and refuse mixed-domain unions
    "toclearspringhll": lambda a: (
        "__cs_hll_single({0}, typeof({0}), {1})".format(
            a[0], a[1].strip() if len(a) > 1 and a[1].strip().isdigit() else 8
        )
    ),
    "toclearspringhllplus": lambda a: (
        "__cs_hllpp_single({0}, typeof({0}), {1}, {2})".format(
            a[0],
            a[1].strip() if len(a) > 1 and a[1].strip().isdigit() else 14,
            a[2].strip() if len(a) > 2 and a[2].strip().isdigit() else 0,
        )
    ),
    "hllunion": lambda a: f"__hll_union({a[0]}, {a[1]})",
    # engine extensions: DataSketches KLL doubles-sketch wire interop
    # (operators/ds_kll.py — the layout PERCENTILEKLL exchanges,
    # ObjectSerDeUtils.KLL_SKETCH_SER_DE); GETTDIGESTQUANTILE
    # auto-detects foreign KLL blobs vs engine-own t-digest bytes
    "todatasketcheskll": lambda a: (
        "__ds_kll_single(CAST({0} AS DOUBLE), {1})".format(
            a[0], a[1].strip() if len(a) > 1 and a[1].strip().isdigit() else 200
        )
    ),
    "kllmerge": lambda a: f"__ds_kll_merge({a[0]}, {a[1]})",
    "kllquantile": lambda a: f"__ds_kll_quantile({a[0]}, CAST({a[1]} AS DOUBLE))",
    # TOHLL emits the reference's ACTUAL bytes (SketchFunctions.toHLL
    # builds stream-lib HyperLogLog — a clearspring singleton, identical
    # to TOCLEARSPRINGHLL) so its output unions with the RAWHLL family;
    # PINOT_SPARK_HLL_WIRE=engine restores the legacy engine-own blob
    "tohll": lambda a: (
        "__cs_hll_single({0}, typeof({0}), {1})".format(
            a[0], a[1].strip() if len(a) > 1 and a[1].strip().isdigit() else 8
        )
        if _HLL_WIRE != "engine"
        else "__hll_singleton(CASE WHEN {0} IS NULL THEN CAST(NULL AS BIGINT) "
        "ELSE xxhash64({0}) END, {1})".format(
            a[0], a[1].strip() if len(a) > 1 and a[1].strip().isdigit() else 8
        )
    ),
    # raw ULL: ENGINE-OWN UltraLogLog register bytes (operators/ull.py —
    # Ertl's packed 4*u+flags layout; hash4j binary stays a documented
    # gap). Same bounded-domain register-pair scale shape as raw HLL;
    # optional 2nd arg is p (reference default 12,
    # CommonConstants.DEFAULT_ULTRALOGLOG_P). GETULLESTIMATE is the
    # engine's reader extension.
    "distinctcountrawull": lambda a: (
        "__ull_from_regs(collect_set({0}), {1})".format(
            _hll_pair_expr(
                a[0],
                int(a[1].strip()) if len(a) > 1 and a[1].strip().isdigit() else 12,
            ),
            a[1].strip() if len(a) > 1 and a[1].strip().isdigit() else 12,
        )
    ),
    "getullestimate": lambda a: f"__ull_estimate({a[0]})",
    "toull": lambda a: (
        "__ull_singleton(CASE WHEN {0} IS NULL THEN CAST(NULL AS BIGINT) "
        "ELSE xxhash64({0}) END, {1})".format(
            a[0], a[1].strip() if len(a) > 1 and a[1].strip().isdigit() else 12
        )
    ),
    "fromull": _sql_gap(
        "FROMULL", "re-wrapping hash4j-serialized UltraLogLog bytes needs the "
        "foreign wire format — a documented gap; engine-own ULL bytes come "
        "from DISTINCTCOUNTRAWULL / TOULL"
    ),
    # CPC write/union (round 11, operators/ds_cpc.py): real DataSketches
    # CPC bytes — the aggregations ride a bounded coupon domain
    # (row*64+col, at most 64*2^lgK values) and emit the CpcUnion-
    # result bytes a real cluster's broker merge produces; TOCPCSKETCH
    # singletons are byte-identical to SketchFunctions.toCpcSketch and
    # CPCSKETCHUNION fully decompresses + unions foreign payloads
    "distinctcountrawcpcsketch": lambda a: (
        "__cpc_from_coupons(collect_set({0}), {1})".format(
            _cpc_coupon_sql(a[0], _cpc_lgk(a)), _cpc_lgk(a)
        )
    ),
    "tocpcsketch": lambda a: (
        # The NULL branch must NOT forward the typed column: a SQL NULL
        # in a DOUBLE/FLOAT column reaches the pandas UDF as NaN, which
        # the float paths treat as a genuine value — pass an
        # unambiguous string NULL so the UDF emits the empty sketch
        # (SketchFunctions.toCpcSketch(null) semantics).
        "CASE WHEN ({0}) IS NULL "
        "THEN __ds_cpc_single(CAST(NULL AS STRING), 'string', {1}) "
        "WHEN typeof({0}) IN {2} "
        "THEN __ds_cpc_single_long(shiftright(CAST({0} AS BIGINT), 32), "
        "CAST({0} AS BIGINT) & 4294967295, {1}) "
        "ELSE __ds_cpc_single({0}, typeof({0}), {1}) END".format(
            a[0], _cpc_lgk(a), _INT_TYPEOFS
        )
    ),
    "cpcsketchunion": lambda a: (
        f"__cpc_union(array({', '.join(a)}))"
    ),
    # foreign-read CPC estimates (round 10, operators/ds_cpc.py): the
    # reference scalar getCpcSketchEstimate(bytes) rounds getEstimate(),
    # which needs only preamble fields (HIP accumulator / ICON estimator)
    "getcpcsketchestimate": lambda a: f"__cpc_estimate({a[0]})",
    # DataSketches frequencies aggregations (round 10,
    # operators/ds_freq.py — LongsSketch / ItemsSketch<String> wire
    # formats, Java-parity reverse-purge semantics): canonical grouped
    # statements take the bounded two-phase (_rs_pandas_forms); these
    # map entries are the single-level GROUPED_AGG fallback.  BYTES
    # inputs merge as foreign sketches (the reference's contract).
    # FREQUENT_STRINGS_ESTIMATE / FREQUENT_LONGS_ESTIMATE are the
    # engine's reader extensions.
    "frequentstringssketch": lambda a: (
        "__freq_str_partial({0}, {1})".format(
            a[0], a[1].strip() if len(a) > 1 and a[1].strip().isdigit() else 256
        )
    ),
    "frequentlongssketch": lambda a: (
        "__freq_long_partial({0}, {1})".format(
            a[0], a[1].strip() if len(a) > 1 and a[1].strip().isdigit() else 256
        )
    ),
    "frequentstringsestimate": lambda a: f"__freq_str_estimate({a[0]}, {a[1]})",
    "frequentlongsestimate": lambda a: f"__freq_long_estimate({a[0]}, {a[1]})",
    # raw percentile sketches: ENGINE-OWN t-digest bytes (operators/
    # tdigest.py wire format — k/n/means/weights; merging-compatible with
    # tdigest_sketch and agg_raw_sketch_bytes). The reference emits
    # QDigest/KLL/t-digest DataSketches binaries per flavor; here every
    # raw percentile flavor serializes the same engine-own digest (the
    # percentile arg is part of the CLIENT's later query, not the bytes).
    # SCALE SHAPE: Spark-native percentile_approx probes a Chebyshev
    # quantile grid (bounded partial/final state), and the digest bytes
    # are assembled from (grid, count) — no per-value collection. The MV
    # flavors restructure through rewrite_raw_sketch_two_phase in
    # canonical grouped statements (per-bucket partial digests +
    # __tdigest_merge final); the flatten(collect_list) entries below
    # are their non-canonical-shape fallback.
    "percentilerawest": lambda a: _raw_tdigest_sql(f"CAST({a[0]} AS DOUBLE)"),
    "percentilerawestmv": lambda a: (
        f"__tdigest_from_values(flatten(collect_list({a[0]})))"
    ),
    "percentilerawkll": lambda a: _raw_tdigest_sql(f"CAST({a[0]} AS DOUBLE)"),
    "percentilerawkllmv": lambda a: (
        f"__tdigest_from_values(flatten(collect_list({a[0]})))"
    ),
    "percentilerawtdigest": lambda a: _raw_tdigest_sql(f"CAST({a[0]} AS DOUBLE)"),
    "percentilerawtdigestmv": lambda a: (
        f"__tdigest_from_values(flatten(collect_list({a[0]})))"
    ),
    "gettdigestquantile": lambda a: f"__tdigest_quantile({a[0]}, {a[1]})",
    "percentilesmarttdigest": lambda a: _percentile_family("percentile_approx")(a),
    # funnel family: handled structurally BEFORE function rewriting —
    # FUNNELCOUNT's STEPS()/CORRELATE_BY() form by rewrite_funnel_count,
    # the windowed FUNNEL{MAX,MATCH}STEP / FUNNELCOMPLETECOUNT forms by
    # rewrite_funnel_window. Reaching these entries means the statement
    # shape wasn't the canonical grouped form.
    "funnelcount": _sql_gap(
        "FUNNELCOUNT", "only the SELECT [dims,] FUNNEL_COUNT(STEPS(..), "
        "CORRELATE_BY(key)) FROM t [GROUP BY dims] shape is wired — use "
        "operators/funnel.py funnel_count otherwise"
    ),
    "funnelcompletecount": _sql_gap(
        "FUNNELCOMPLETECOUNT", "only the SELECT key, FUNNELCOMPLETECOUNT(...) "
        "FROM t GROUP BY key shape is wired — use operators/funnel.py otherwise"
    ),
    "funnelmatchstep": _sql_gap(
        "FUNNELMATCHSTEP", "only the SELECT key, FUNNELMATCHSTEP(...) FROM t "
        "GROUP BY key shape is wired — use operators/funnel.py otherwise"
    ),
    "funnelmaxstep": _sql_gap(
        "FUNNELMAXSTEP", "only the SELECT key, FUNNELMAXSTEP(...) FROM t "
        "GROUP BY key shape is wired — use operators/funnel.py otherwise"
    ),
    "funnelstepdurationstats": _sql_gap(
        "FUNNELSTEPDURATIONSTATS", "only the SELECT key, "
        "FUNNELSTEPDURATIONSTATS(..., 'DURATIONFUNCTIONS=..') FROM t "
        "GROUP BY key shape is wired — use operators/funnel.py otherwise"
    ),
    "funneleventsfunctioneval": _sql_gap(
        "FUNNELEVENTSFUNCTIONEVAL", "use operators/funnel.py (agg_funnel_events_eval query)"
    ),
    "timeseriesaggregate": _sql_gap(
        "TIMESERIESAGGREGATE", "internal time-series engine name — use the "
        "plans/timeseries.py range-query surface or M3QL (plans/m3ql.py)"
    ),
    "distinctsum": lambda a: f"sum(DISTINCT {a[0]})",
    "distinctavg": lambda a: f"avg(DISTINCT {a[0]})",
    # --- typed min/max/sum variants (AggregationFunctionType MINLONG
    # family — leaf-stage typed specializations; semantics are the plain
    # aggregate in the named domain) ---
    "minlong": lambda a: f"CAST(min({a[0]}) AS BIGINT)",
    "maxlong": lambda a: f"CAST(max({a[0]}) AS BIGINT)",
    "minstring": lambda a: f"min(CAST({a[0]} AS STRING))",
    "maxstring": lambda a: f"max(CAST({a[0]} AS STRING))",
    "sumint": lambda a: f"CAST(sum({a[0]}) AS BIGINT)",
    "sumlong": lambda a: f"CAST(sum({a[0]}) AS BIGINT)",
    # Calcite $SUM0: empty input sums to 0, not NULL
    "sum0": lambda a: f"coalesce(sum({a[0]}), 0)",
    # internal EXPRMIN/EXPRMAX planner decomposition names — never valid
    # in user SQL (the reference planner synthesizes them); resolve with
    # a clear redirect instead of an unknown-function passthrough
    "pinotchildaggexprmin": _sql_gap(
        "PINOT_CHILD_AGGREGATE_EXPRMIN", "internal planner name — write EXPRMIN(proj, measure)"
    ),
    "pinotchildaggexprmax": _sql_gap(
        "PINOT_CHILD_AGGREGATE_EXPRMAX", "internal planner name — write EXPRMAX(proj, measure)"
    ),
    "pinotparentaggexprmin": _sql_gap(
        "PINOT_PARENT_AGGREGATE_EXPRMIN", "internal planner name — write EXPRMIN(proj, measure)"
    ),
    "pinotparentaggexprmax": _sql_gap(
        "PINOT_PARENT_AGGREGATE_EXPRMAX", "internal planner name — write EXPRMAX(proj, measure)"
    ),
    "distinctcountoffheap": lambda a: f"count(DISTINCT {a[0]})",
    "distinctcountsmarthllplus": lambda a: f"approx_count_distinct({a[0]})",
    "distinctcountsmartull": lambda a: f"approx_count_distinct({a[0]})",
    "sumprecision": lambda a: f"sum(CAST({a[0]} AS DECIMAL(38,18)))",
    "minmaxrange": lambda a: f"(max({a[0]}) - min({a[0]}))",
    "anyvalue": "any_value",
    "firstwithtime": lambda a: f"min_by({a[0]}, {a[1]})",
    "lastwithtime": lambda a: f"max_by({a[0]}, {a[1]})",
    "exprmin": lambda a: f"min_by({a[0]}, {a[1]})",
    "exprmax": lambda a: f"max_by({a[0]}, {a[1]})",
    "percentile": _percentile_family("percentile"),
    "percentileest": _percentile_family("percentile_approx"),
    "percentiletdigest": _percentile_family("percentile_approx"),
    "percentilekll": _percentile_family("percentile_approx"),
    "boolandagg": "bool_and",
    "booloragg": "bool_or",
    # arrayAgg(col, 'TYPE'[, distinct]) — the type tag is advisory;
    # the distinct flag maps to array_distinct.  MV columns are
    # flattened by rewrite_mv_collect_aggs (Pinot aggregates flatten
    # multi-values: ArrayAggFunction.java MV code paths).
    "arrayagg": lambda a: (
        f"array_distinct(collect_list({a[0]}))"
        if len(a) > 2 and a[2].strip().lower() == "true"
        else f"collect_list({a[0]})"
    ),
    # listAgg passes through to Spark's native listagg (4.x), which
    # carries Pinot's full surface: separator, DISTINCT, and
    # WITHIN GROUP (ORDER BY ...) — ListAggFunction.java
    "filtermv": lambda a: _filtermv_sql(a),
    "fourthmoment": lambda a: (
        f"(sum(pow({a[0]}, 4))/count({a[0]})"
        f" - 4*avg({a[0]})*sum(pow({a[0]}, 3))/count({a[0]})"
        f" + 6*pow(avg({a[0]}), 2)*sum(pow({a[0]}, 2))/count({a[0]})"
        f" - 3*pow(avg({a[0]}), 4))"
    ),
    # MV aggregation variants: aggMV(x) = agg over flattened x (§2.4)
    "countmv": lambda a: f"sum(cardinality({a[0]}))",
    "summv": lambda a: f"sum({_ARR_SUM.format(a[0])})",
    "minmv": lambda a: f"min(array_min({a[0]}))",
    "maxmv": lambda a: f"max(array_max({a[0]}))",
    "avgmv": lambda a: f"(sum({_ARR_SUM.format(a[0])}) / sum(cardinality({a[0]})))",
    "minmaxrangemv": lambda a: f"(max(array_max({a[0]})) - min(array_min({a[0]})))",
    # DISTINCTCOUNTMV / DISTINCTSUMMV: distinct over flattened MV values,
    # NULL elements ignored (Pinot skips nulls; array_compact drops them).
    # These in-expression forms buffer per-group state and are only the
    # FALLBACK for statements the structural explode rewrite
    # (rewrite_mv_distinct_aggs, the scale path: count(DISTINCT) over
    # LATERAL VIEW explode with map-side partials) cannot handle —
    # per-row array_distinct(array_compact(...)) bounds what collect_set
    # buffers to already-deduped arrays.
    "distinctcountmv": lambda a: (
        f"size(array_distinct(flatten(collect_set(array_distinct(array_compact({a[0]}))))))"
    ),
    "distinctsummv": lambda a: (
        "("
        + _ARR_SUM.format(
            f"array_distinct(flatten(collect_set(array_distinct(array_compact({a[0]})))))"
        )
        + ")"
    ),
    "distinctavgmv": lambda a: (
        "(" + _ARR_SUM.format(_MV_DISTINCT_FLAT.format(a[0]))
        + f" / size({_MV_DISTINCT_FLAT.format(a[0])}))"
    ),
    # bitmap/HLL/HLL++ MV distinct-counts: exact bounded form (the MV
    # approximate variants exist for memory, not different answers)
    "distinctcountbitmapmv": lambda a: f"size({_MV_DISTINCT_FLAT.format(a[0])})",
    "distinctcounthllmv": lambda a: f"size({_MV_DISTINCT_FLAT.format(a[0])})",
    "distinctcounthllplusmv": lambda a: f"size({_MV_DISTINCT_FLAT.format(a[0])})",
    # MV percentiles: interpolated percentile of the flattened values
    "percentilemv": _percentile_mv_family(),
    "percentileestmv": _percentile_mv_family(),
    "percentilekllmv": _percentile_mv_family(),
    "percentiletdigestmv": _percentile_mv_family(),
    # elementwise array sums: bounded fold over the group's arrays (the
    # scale path is the posexplode structural form, queries/aggregates.py
    # agg_sum_array_scale_path)
    "sumarraylong": lambda a: (
        # the inner parens keep rewrite_mv_collect_aggs from flattening
        # this collect_list: the fold consumes the array-of-arrays shape
        f"aggregate(collect_list(({a[0]})), CAST(array() AS array<bigint>), "
        "(acc, v) -> CASE WHEN size(acc) = 0 THEN v "
        "ELSE zip_with(acc, v, (x, y) -> x + y) END)"
    ),
    "sumarraydouble": lambda a: (
        f"aggregate(collect_list(({a[0]})), CAST(array() AS array<double>), "
        "(acc, v) -> CASE WHEN size(acc) = 0 THEN CAST(v AS array<double>) "
        "ELSE zip_with(acc, v, (x, y) -> x + y) END)"
    ),
    # IDSET: the engine's idset form is the sorted comma-joined distinct
    # string (queries/aggregates.py agg_idset_membership), consumed by
    # IN_ID_SET membership checks
    "idset": lambda a: (
        f"array_join(array_sort(collect_set(CAST({a[0]} AS STRING))), ',')"
    ),
    # --- vector (VectorFunctions.java) ---
    # 2-arg: a zero-norm side yields NaN (Java 0.0/0.0); the optional
    # 3rd arg is the default returned INSTEAD of NaN
    # (VectorFunctions.cosineDistance(v1, v2, defaultValue))
    "cosinedistance": lambda a: (
        f"(CASE WHEN aggregate({a[0]}, CAST(0 AS DOUBLE), (s, v) -> s + v * v) = 0.0"
        f" OR aggregate({a[1]}, CAST(0 AS DOUBLE), (s, v) -> s + v * v) = 0.0"
        f" THEN CAST({a[2] if len(a) > 2 else chr(39) + 'NaN' + chr(39)} AS DOUBLE) ELSE "
        f"(1.0 - aggregate(zip_with({a[0]}, {a[1]}, (x, y) -> x * y), CAST(0 AS DOUBLE), (s, v) -> s + v)"
        f" / (sqrt(aggregate({a[0]}, CAST(0 AS DOUBLE), (s, v) -> s + v * v))"
        f" * sqrt(aggregate({a[1]}, CAST(0 AS DOUBLE), (s, v) -> s + v * v)))) END)"
    ),
    "innerproduct": lambda a: (
        f"aggregate(zip_with({a[0]}, {a[1]}, (x, y) -> x * y), CAST(0 AS DOUBLE), (s, v) -> s + v)"
    ),
    # VectorFunctions.dotProduct — same computation, second public name
    "dotproduct": lambda a: (
        f"aggregate(zip_with({a[0]}, {a[1]}, (x, y) -> x * y), CAST(0 AS DOUBLE), (s, v) -> s + v)"
    ),
    "l2distance": lambda a: (
        f"sqrt(aggregate(zip_with({a[0]}, {a[1]}, (x, y) -> (x - y) * (x - y)), CAST(0 AS DOUBLE), (s, v) -> s + v))"
    ),
    # the SQUARED L2 sum, NO sqrt — VectorFunctions.euclideanDistance
    # (java:112-119) differs from l2Distance exactly by the root
    "euclideandistance": lambda a: (
        f"aggregate(zip_with({a[0]}, {a[1]}, (x, y) -> (x - y) * (x - y)), CAST(0 AS DOUBLE), (s, v) -> s + v)"
    ),
    "l1distance": lambda a: (
        f"aggregate(zip_with({a[0]}, {a[1]}, (x, y) -> abs(x - y)), CAST(0 AS DOUBLE), (s, v) -> s + v)"
    ),
    "vectordims": "cardinality",
    "vectornorm": lambda a: f"sqrt(aggregate({a[0]}, CAST(0 AS DOUBLE), (s, v) -> s + v * v))",
}


def _canon(name: str) -> str:
    return name.replace("_", "").lower()


# --- extended long-tail SQL templates (mirrors functions/scalar_ext.py;
# names that differ from Spark SQL built-ins so PinotEngine.sql users get
# the same surface as the Column registry) ---------------------------------

_MS_TS = "timestamp_millis(CAST({0} AS BIGINT))"


def _mvt(expr_tpl: str):
    """Template for MV datetime variants: transform over an epoch-millis
    array, applying expr_tpl to each element x."""
    return lambda a: f"transform({a[0]}, x -> {expr_tpl.format('x')})"


_EXT_TEMPLATES: dict[str, str | Callable[[list[str]], str]] = {
    # string extras
    "leftsubstr": lambda a: f"left({a[0]}, {a[1]})",
    "rightsubstr": lambda a: f"right({a[0]}, {a[1]})",
    "strrpos": lambda a: (
        f"(CASE WHEN instr(reverse({a[0]}), reverse({a[1]})) > 0 "
        f"THEN length({a[0]}) - length({a[1]}) - instr(reverse({a[0]}), reverse({a[1]})) + 1 "
        f"ELSE -1 END)"
    ),
    "substringindex": lambda a: f"substring_index({a[0]}, {a[1]}, {a[2]})",
    "levenshteindistance": "levenshtein",
    "charlength": "length",
    "characterlength": "length",
    "isvalidascii": lambda a: f"({a[0]} RLIKE '^[\\\\x00-\\\\x7F]*$')",
    "startswithcaseinsensitive": lambda a: f"startswith(lower({a[0]}), lower({a[1]}))",
    "endswithcaseinsensitive": lambda a: f"endswith(lower({a[0]}), lower({a[1]}))",
    "firstline": lambda a: f"substring_index({a[0]}, '\\n', 1)",
    "uniquengrams": lambda a: (
        f"array_distinct(transform(sequence(1, greatest(length({a[0]}) - {a[1]} + 1, 0)),"
        f" i -> substring({a[0]}, i, {a[1]})))"
    ),
    "base64encode": lambda a: f"base64(CAST({a[0]} AS BINARY))",
    "base64decode": lambda a: f"decode(unbase64({a[0]}), 'UTF-8')",
    "urlencode": "url_encode",
    "urldecode": "url_decode",
    # Java Charset aliases Spark's fixed charset list doesn't know
    "tobytes": lambda a: (
        f"encode({a[0]}, {_charset_lit(a[1]) if len(a) > 1 else repr('UTF-8')})"
    ),
    "frombytes": lambda a: (
        f"decode({a[0]}, {_charset_lit(a[1]) if len(a) > 1 else repr('UTF-8')})"
    ),
    "strcmp": lambda a: (
        f"(CASE WHEN {a[0]} < {a[1]} THEN -1 WHEN {a[0]} > {a[1]} THEN 1 ELSE 0 END)"
    ),
    # arithmetic extras
    "exp2": lambda a: f"power(2.0, {a[0]})",
    "exp10": lambda a: f"power(10.0, {a[0]})",
    "sigmoid": lambda a: f"(1.0 / (1.0 + exp(-({a[0]}))))",
    "intdivorzero": lambda a: (
        f"(CASE WHEN {a[1]} != 0 THEN CAST(FLOOR(CAST({a[0]} AS DOUBLE) / {a[1]}) AS BIGINT) ELSE 0 END)"
    ),
    "moduloorzero": lambda a: f"(CASE WHEN {a[1]} != 0 THEN {a[0]} % {a[1]} ELSE 0 END)",
    # reference ArithmeticFunctions.positiveModulo: result >= 0 ?
    # result : result + Math.abs(b) — abs(), NOT the raw divisor, so a
    # negative divisor still yields a non-negative result
    "positivemodulo": lambda a: (
        f"((({a[0]} % {a[1]}) + abs({a[1]})) % abs({a[1]}))"
    ),
    "negate": lambda a: f"(-({a[0]}))",
    "isfinite": lambda a: f"CAST((NOT isnan({a[0]}) AND abs({a[0]}) != double('inf')) AS INT)",
    "isinfinite": lambda a: f"CAST((abs({a[0]}) = double('inf')) AS INT)",
    "isnan": lambda a: f"CAST(isnan({a[0]}) AS INT)",
    "ifnotfinite": lambda a: (
        f"(CASE WHEN isnan({a[0]}) OR abs({a[0]}) = double('inf') THEN {a[1]} ELSE {a[0]} END)"
    ),
    "bitcount": "bit_count",
    "widthbucket": "width_bucket",
    "hypot": lambda a: f"sqrt({a[0]} * {a[0]} + {a[1]} * {a[1]})",
    # datetime extras (epoch-millis long domain)
    "toiso8601": lambda a: f"date_format({_MS_TS.format(a[0])}, \"yyyy-MM-dd'T'HH:mm:ss.SSS'Z'\")",
    "fromiso8601": lambda a: f"unix_millis(to_timestamp({a[0]}))",
    # Pinot's 2-arg round(timeValue, roundToNearest) is ALWAYS the
    # long-domain bucket (DateTimeFunctions.java:507: (tv / n) * n with
    # Java long division, i.e. truncation toward zero = Spark DIV) —
    # the reference has NO decimal-places round under this name; that is
    # ROUNDDECIMAL (ArithmeticFunctions). 1-arg round passes through.
    "round": lambda a: (
        f"((CAST({a[0]} AS BIGINT) DIV CAST({a[1]} AS BIGINT)) * CAST({a[1]} AS BIGINT))"
        if len(a) == 2
        else f"round({', '.join(a)})"
    ),
    "yearofweek": "extract(yearofweek FROM {0})",
    "yow": "extract(yearofweek FROM {0})",
    # DateTimeFunctions.java extract aliases (Joda field names): WEEK ==
    # WEEK_OF_YEAR, MONTH_OF_YEAR == MONTH, DOY/DOW shorthand; DOW is
    # ISO (Mon=1..Sun=7) like the dayofweek mapping above
    "monthofyear": "month",
    "week": "weekofyear",
    "doy": "dayofyear",
    "dow": lambda a: f"(((dayofweek({a[0]}) + 5) % 7) + 1)",
    # DateTimeFunctions.toDateTime / fromDateTime (Joda pattern printing
    # and parsing over epoch millis); the optional 3rd arg is a zone id
    "todatetime": lambda a: _todatetime_sql(a),
    "fromdatetime": lambda a: _fromdatetime_sql(a),
    # jsons
    "jsonpathexists": lambda a: f"(get_json_object({a[0]}, {a[1]}) IS NOT NULL)",
    "jsonstringtomap": lambda a: f"from_json({a[0]}, 'map<string,string>')",
    "jsonstringtoarray": lambda a: f"from_json({a[0]}, 'array<string>')",
    "tojsonmapstr": "to_json",
    # binary/hex
    "bytestohex": lambda a: f"lower(hex({a[0]}))",
    "hextobytes": "unhex",
    "longtohexdecimal": lambda a: f"lower(hex(CAST({a[0]} AS BIGINT)))",
    "hexdecimaltolong": lambda a: f"CAST(conv({a[0]}, 16, 10) AS BIGINT)",
    # geospatial (Pinot-parity serialized-BYTES carrier since round 13 —
    # functions/pinot_geometry.py; UDFs registered lazily by
    # _ensure_geo_sql_udfs, which also sniffs this engine's legacy WKT
    # text carrier per value)
    "stgeomfromtext": lambda a: f"__geo_from_text({a[0]}, false)",
    "stgeogfromtext": lambda a: f"__geo_from_text({a[0]}, true)",
    "stgeometrytype": lambda a: f"__geo_geometry_type({a[0]})",
    "stpoint": lambda a: (
        f"__geo_point(CAST({a[0]} AS DOUBLE), CAST({a[1]} AS DOUBLE), "
        + (f"CAST({a[2]} AS BOOLEAN))" if len(a) > 2 else "false)")
    ),
    "stastext": lambda a: f"__geo_as_text({a[0]})",
    "starea": lambda a: f"__geo_area({a[0]})",
    "stx": lambda a: f"__geo_x({a[0]})",
    "sty": lambda a: f"__geo_y({a[0]})",
    "stdistance": lambda a: f"__geo_distance({a[0]}, {a[1]})",
    # boolean output (Spark-idiomatic) where the reference's multistage
    # type derivation says INTEGER (TransformFunctionType.java:220-222,
    # itself tagged "TODO: Revisit whether we should return BOOLEAN")
    "stwithin": lambda a: f"__geo_within({a[0]}, {a[1]})",
    "stcontains": lambda a: f"__geo_contains({a[0]}, {a[1]})",
    "stequals": lambda a: f"__geo_equals({a[0]}, {a[1]})",
    "stunion": lambda a: f"__geo_union_fold(collect_list({a[0]}))",
    "stpolygon": lambda a: f"__geo_from_text({a[0]}, false)",
    "stgeomfromgeojson": lambda a: f"__geo_from_geojson({a[0]}, false)",
    "stgeogfromgeojson": lambda a: f"__geo_from_geojson({a[0]}, true)",
    "stasgeojson": lambda a: f"__geo_as_geojson({a[0]})",
    "stgeomfromwkb": lambda a: f"__geo_from_wkb({a[0]}, false)",
    "stgeogfromwkb": lambda a: f"__geo_from_wkb({a[0]}, true)",
    "stasbinary": lambda a: f"__geo_as_wkb({a[0]})",
    # engine-own aperture-7 grid ids (functions/h3grid.py wire-format
    # note), NOT H3 cell ids
    "geotoh3": lambda a: (
        f"__geo_to_h3_coords({a[0]}, {a[1]}, {a[2]})"
        if len(a) > 2
        else f"__geo_to_h3_point({a[0]}, {a[1]})"
    ),
    "griddistance": lambda a: f"__h3_grid_distance({a[0]}, {a[1]})",
    "griddisk": lambda a: f"__h3_grid_disk({a[0]}, {a[1]})",
}

# epoch bucket family + MV datetime variants (generated)
for _u, _d in (("seconds", 1_000), ("minutes", 60_000), ("hours", 3_600_000), ("days", 86_400_000)):
    _EXT_TEMPLATES[f"toepoch{_u}bucket"] = (
        lambda a, d=_d: f"CAST(CAST(FLOOR(({a[0]}) / {d}) AS BIGINT) / ({a[1]}) AS BIGINT)"
    )
    _EXT_TEMPLATES[f"fromepoch{_u}bucket"] = (
        lambda a, d=_d: f"(CAST({a[0]} AS BIGINT) * ({a[1]}) * {d})"
    )
    _EXT_TEMPLATES[f"toepoch{_u}mv"] = (
        lambda a, d=_d: f"transform({a[0]}, x -> CAST(FLOOR(x / {d}) AS BIGINT))"
    )
    _EXT_TEMPLATES[f"fromepoch{_u}mv"] = (
        lambda a, d=_d: f"transform({a[0]}, x -> CAST(x * {d} AS BIGINT))"
    )
for _f, _sql in (
    ("year", "year"), ("quarter", "quarter"), ("month", "month"),
    ("week", "weekofyear"), ("weekofyear", "weekofyear"),
    ("day", "dayofmonth"), ("dayofmonth", "dayofmonth"),
    ("dayofyear", "dayofyear"), ("doy", "dayofyear"),
    ("hour", "hour"), ("minute", "minute"), ("second", "second"),
):
    _EXT_TEMPLATES[f"{_f}mv"] = _mvt(f"{_sql}({_MS_TS.format('{0}')})")
_EXT_TEMPLATES["dayofweekmv"] = _mvt(
    f"(((dayofweek({_MS_TS.format('{0}')}) + 5) % 7) + 1)"
)
_EXT_TEMPLATES["dowmv"] = _EXT_TEMPLATES["dayofweekmv"]
_EXT_TEMPLATES["millisecondmv"] = _mvt("CAST({0} % 1000 AS INT)")

# typed array variants share the generic rewrites
for _t in ("int", "long", "float", "double", "string"):
    _EXT_TEMPLATES[f"arrayconcat{_t}"] = lambda a: f"concat({a[0]}, {a[1]})"
    _EXT_TEMPLATES[f"arrayelementat{_t}"] = lambda a: f"element_at({a[0]}, {a[1]} + 1)"
    _EXT_TEMPLATES[f"arraypushback{_t}"] = lambda a: f"concat({a[0]}, array({a[1]}))"
    _EXT_TEMPLATES[f"arraypushfront{_t}"] = lambda a: f"concat(array({a[1]}), {a[0]})"
    _EXT_TEMPLATES[f"generate{_t}array"] = lambda a: f"sequence({a[0]}, {a[1]}, {a[2]})"
for _t in ("int", "string"):
    _EXT_TEMPLATES[f"arraycontains{_t}"] = lambda a: f"array_contains({a[0]}, {a[1]})"
    _EXT_TEMPLATES[f"arraydistinct{_t}"] = lambda a: f"array_distinct({a[0]})"
    _EXT_TEMPLATES[f"arrayindexof{_t}"] = lambda a: f"(array_position({a[0]}, {a[1]}) - 1)"
    _EXT_TEMPLATES[f"arrayremove{_t}"] = lambda a: f"array_remove({a[0]}, {a[1]})"
    _EXT_TEMPLATES[f"arrayreverse{_t}"] = lambda a: f"reverse({a[0]})"
    _EXT_TEMPLATES[f"arrayunion{_t}"] = lambda a: f"array_union({a[0]}, {a[1]})"
for _t in ("int", "long", "string"):
    _EXT_TEMPLATES[f"arrayslice{_t}"] = lambda a: f"slice({a[0]}, {a[1]} + 1, {a[2]} - {a[1]})"

# ObjectFunctions#arrayToString analog (registry twin scalar_ext.py);
# the cast keeps it total over numeric MV columns.
# Null divergence vs reference ArrayFunctions.java:402-408 (documented,
# deliberate): Spark's 2-arg array_join DROPS null elements where
# String.join renders the literal "null", and the reference returns
# NullValuePlaceHolder.STRING for null/empty input arrays where Spark
# returns ''. Pass an explicit nullReplacement (3rd arg) for
# reference-identical null rendering.
_EXT_TEMPLATES["arraytostring"] = (
    lambda a: f"array_join(cast({a[0]} as array<string>), {a[1]}"
    + (f", {a[2]})" if len(a) > 2 else ")")
)

for _k, _v in _EXT_TEMPLATES.items():
    FUNCTION_MAP.setdefault(_k, _v)


_GEO_SQL_RE = re.compile(
    r"\b(?:ST_?(?:POINT|POLYGON|GEOMFROMTEXT|GEOGFROMTEXT|GEOMFROMGEOJSON|"
    r"GEOGFROMGEOJSON|GEOMFROMWKB|GEOGFROMWKB|DISTANCE|WITHIN|CONTAINS|"
    r"EQUALS|AREA|ASTEXT|ASBINARY|ASGEOJSON|GEOMETRYTYPE|X|Y)|ST_?UNION|"
    r"GEOTOH3|GRIDDISK|GRIDDISTANCE)\s*\(",
    re.IGNORECASE,
)

_IDENT_CALL = re.compile(r"\b([A-Za-z_][A-Za-z0-9_]*)\s*\(")
_KEYWORDS = {
    # never treat these as function calls even when followed by '('
    "and", "or", "not", "in", "exists", "on", "as", "case", "when", "then",
    "else", "end", "over", "partition", "by", "order", "group", "where",
    "from", "select", "having", "limit", "join", "union", "all", "values",
    "interval", "between", "is", "cast", "filter", "distinct", "with",
}


def _find_matching(s: str, open_idx: int) -> int:
    """Index of the ')' matching the '(' at open_idx (string-safe)."""
    depth, i, n = 0, open_idx, len(s)
    while i < n:
        c = s[i]
        if c == "'":
            i += 1
            while i < n and not (s[i] == "'" and (i + 1 >= n or s[i + 1] != "'")):
                i += 2 if s[i] == "'" else 1
        elif c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth == 0:
                return i
        i += 1
    raise PinotSqlError(f"unbalanced parentheses at {open_idx}: {s[open_idx:open_idx+40]!r}")


def _split_args(s: str) -> list[str]:
    """Split top-level comma-separated args (paren- and string-aware)."""
    args, depth, start, i, n = [], 0, 0, 0, len(s)
    while i < n:
        c = s[i]
        if c == "'":
            i += 1
            while i < n and not (s[i] == "'" and (i + 1 >= n or s[i + 1] != "'")):
                i += 2 if s[i] == "'" else 1
        elif c in "([":
            depth += 1
        elif c in ")]":
            depth -= 1
        elif c == "," and depth == 0:
            args.append(s[start:i].strip())
            start = i + 1
        i += 1
    tail = s[start:].strip()
    if tail or args:
        args.append(tail)
    return args


_QUOTED_IDENT_RE = re.compile(r'"((?:[^"]|"")*)"')


def rewrite_quoted_identifiers(sql: str) -> str:
    """Calcite/Pinot double-quoted identifiers → Spark backticks
    (LexicalStructure / SelectExpressions corpus shapes: Pinot string
    literals are single-quoted, so a double-quoted token is ALWAYS an
    identifier — including reserved words used as aliases, e.g.
    ``AS "from"``). ``\"\"`` escapes collapse to a literal quote;
    backticks inside are escaped by doubling."""

    def repl(m: re.Match) -> str:
        ident = m.group(1).replace('""', '"').replace("`", "``")
        return f"`{ident}`"

    return "".join(
        seg if is_lit else _QUOTED_IDENT_RE.sub(repl, seg)
        for is_lit, seg in _scan_strings(sql)
    )


def _literal_spans(sql: str) -> list[tuple[int, int]]:
    spans, pos = [], 0
    for is_lit, seg in _scan_strings(sql):
        if is_lit:
            spans.append((pos, pos + len(seg)))
        pos += len(seg)
    return spans


# Pinot CAST type names Spark doesn't know (DataType.java / corpus
# TypeCasting.json). The (?=\s*\)) lookahead anchors to the CAST-closing
# paren so column aliases named e.g. `bytes` are never touched.
_CAST_TYPE_REWRITES = [
    # array casts first: BIG_DECIMAL_ARRAY must not be eaten by the
    # scalar BIG_DECIMAL rule (CastTransformFunction's underscored
    # names + Calcite's `TYPE ARRAY` form, BigDecimalTypeTest.java)
    (re.compile(r"\bAS\s+(?:BIG_DECIMAL_ARRAY|(?:BIG_DECIMAL|DECIMAL)\s+ARRAY)(?=\s*\))",
                re.IGNORECASE), "AS ARRAY<DECIMAL(38,18)>"),
    (re.compile(r"\bAS\s+(?:INT_ARRAY|INT\s+ARRAY|INTEGER\s+ARRAY)(?=\s*\))",
                re.IGNORECASE), "AS ARRAY<INT>"),
    (re.compile(r"\bAS\s+(?:LONG_ARRAY|BIGINT\s+ARRAY)(?=\s*\))",
                re.IGNORECASE), "AS ARRAY<BIGINT>"),
    (re.compile(r"\bAS\s+(?:FLOAT_ARRAY|FLOAT\s+ARRAY)(?=\s*\))",
                re.IGNORECASE), "AS ARRAY<FLOAT>"),
    (re.compile(r"\bAS\s+(?:DOUBLE_ARRAY|DOUBLE\s+ARRAY)(?=\s*\))",
                re.IGNORECASE), "AS ARRAY<DOUBLE>"),
    (re.compile(r"\bAS\s+(?:STRING_ARRAY|VARCHAR\s+ARRAY|STRING\s+ARRAY)(?=\s*\))",
                re.IGNORECASE), "AS ARRAY<STRING>"),
    (re.compile(r"\bAS\s+BIG_DECIMAL(?=\s*\))", re.IGNORECASE), "AS DECIMAL(38,18)"),
    (re.compile(r"\bAS\s+(?:BYTES|VARBINARY)(?=\s*\))", re.IGNORECASE), "AS BINARY"),
    (re.compile(r"\bAS\s+VARCHAR(?=\s*\))", re.IGNORECASE), "AS STRING"),
]


def rewrite_uuid_casts(sql: str) -> str:
    """``CAST(x AS UUID)`` → the canonical dash-less lowercase hex form
    (FieldSpec.DataType.UUID is a 128-bit value type: the dashed and
    dash-less spellings compare equal — UuidBloomFilterTest queries the
    same row as ``uuidColumn = '<hex>'`` and
    ``uuidColumn = CAST('<dashed>' AS UUID)``).  UUID columns ingest in
    the same canonical form (sources/ingestion.canonicalize_uuid), so
    equality is plain string equality afterwards.  CAST text inside
    string literals is never rewritten."""
    spans = _literal_spans(sql)
    out = []
    i = 0
    while True:
        m = re.search(r"\bCAST\s*\(", sql[i:], re.IGNORECASE)
        while m and any(a <= i + m.start() < b for a, b in spans):
            i += m.end()
            out.append(sql[i - m.end() : i])
            m = re.search(r"\bCAST\s*\(", sql[i:], re.IGNORECASE)
        if not m:
            out.append(sql[i:])
            break
        start = i + m.start()
        open_idx = i + m.end() - 1
        close = _find_matching(sql, open_idx)
        inner = sql[open_idx + 1 : close]
        am = re.search(r"\s+AS\s+UUID\s*$", inner, re.IGNORECASE)
        out.append(sql[i:start])
        if am:
            expr = rewrite_uuid_casts(inner[: am.start()])
            out.append(f"lower(replace({expr}, '-', ''))")
        else:
            out.append("CAST(" + rewrite_uuid_casts(inner) + ")")
        i = close + 1
    return "".join(out)


def rewrite_cast_types(sql: str) -> str:
    """Map Pinot CAST target types (BIG_DECIMAL/BYTES/VARBINARY/bare
    VARCHAR) to Spark types, outside string literals."""

    def fix(seg: str) -> str:
        for rx, repl in _CAST_TYPE_REWRITES:
            seg = rx.sub(repl, seg)
        return seg

    return "".join(
        seg if is_lit else fix(seg) for is_lit, seg in _scan_strings(sql)
    )


def rewrite_functions(sql: str) -> str:
    """Rewrite Pinot-registry function calls into Spark SQL equivalents.

    Innermost-first recursive rewrite; names not in FUNCTION_MAP pass
    through untouched (most of Pinot's surface is name-compatible).
    String literals are never rewritten (calls may CONTAIN literals —
    the argument parser is quote-aware)."""
    spans = _literal_spans(sql)
    out, i = [], 0
    while True:
        m = _IDENT_CALL.search(sql, i)
        while m and any(a <= m.start() < b for a, b in spans):
            m = _IDENT_CALL.search(sql, m.end())
        if not m:
            out.append(sql[i:])
            break
        name = m.group(1)
        open_idx = sql.index("(", m.end() - 1)
        canon = _canon(name)
        if name.lower() in _KEYWORDS or canon not in FUNCTION_MAP:
            out.append(sql[i : m.end()])
            i = m.end()
            continue
        close_idx = _find_matching(sql, open_idx)
        inner = rewrite_functions(sql[open_idx + 1 : close_idx])
        args = _split_args(inner)
        tpl = FUNCTION_MAP[canon]
        if callable(tpl):
            repl = tpl(args)
        elif "{" in tpl:
            repl = tpl.format(*args)
        else:
            repl = f"{tpl}({', '.join(args)})"
        out.append(sql[i : m.start()])
        out.append(repl)
        i = close_idx + 1
    return "".join(out)


# ---------------------------------------------------------------------------
# table references and their schemas
# ---------------------------------------------------------------------------

# Words that may follow a table reference but never alias it: clause,
# join and set-operator keywords.  LATERAL is left out so the MV-distinct
# rewrite's ``FROM <table> LATERAL VIEW ...`` keeps its translated text
# (tests/test_translate_golden.py).
_SQL_KEYWORDS = frozenset({
    "ON", "USING", "WHERE", "GROUP", "ORDER", "LIMIT", "OFFSET", "HAVING",
    "QUALIFY", "WINDOW", "TABLESAMPLE", "NATURAL", "LEFT", "RIGHT", "INNER",
    "OUTER", "CROSS", "FULL", "SEMI", "ANTI", "JOIN", "ASOF",
    "MATCH_CONDITION", "UNION", "INTERSECT", "EXCEPT", "MINUS", "SET", "AS",
    "SORT", "CLUSTER", "DISTRIBUTE", "PIVOT", "UNPIVOT",
})
# FROM|JOIN <table> [TABLESAMPLE (...)] [[AS] <alias>] — Spark's grammar
# puts the sample clause before the alias
_TABLE_REF_RE = re.compile(
    r"\b(?P<kw>FROM|JOIN)\s+(?P<table>[A-Za-z_]\w*)"
    r"(?:\s+TABLESAMPLE\s*\((?:[^()]|\([^()]*\))*\)"
    r"(?:\s*REPEATABLE\s*\(\s*\d+\s*\))?)?"
    r"(?:\s+(?:AS\s+)?(?!(?:" + "|".join(sorted(_SQL_KEYWORDS)) + r")\b)"
    r"(?P<alias>[A-Za-z_]\w*))?",
    re.IGNORECASE,
)


def _table_refs(sql: str) -> list[re.Match]:
    """Every ``FROM|JOIN <table> [[AS] <alias>]`` reference outside
    string literals, in order, as matches on ``sql`` itself (``alias``
    is None for an unaliased reference)."""
    refs, pos = [], 0
    for is_lit, seg in _scan_strings(sql):
        if not is_lit:
            refs.extend(_TABLE_REF_RE.finditer(sql, pos, pos + len(seg)))
        pos += len(seg)
    return refs


# Schemas resolved so far in the current statement: translate opens a
# fresh memo per statement (dynamically scoped like _NO_DEFAULT_LIMIT, so
# threads never share one); outside translate lookups are not cached.
_SCHEMA_MEMO: contextvars.ContextVar[dict[str, T.StructType] | None] = contextvars.ContextVar(
    "pinot_spark_schema_memo", default=None
)


def _table_schema(spark: SparkSession, table: str) -> T.StructType:
    """Schema of the catalog table or view ``table``; empty when the
    name does not resolve (a CTE or derived-table name, a keyword)."""
    memo = _SCHEMA_MEMO.get()
    if memo is not None and table in memo:
        return memo[table]
    try:
        schema = spark.table(table).schema
    except Exception:
        schema = T.StructType([])
    if memo is not None:
        memo[table] = schema
    return schema


def _substitute_views(sql: str, view_of: Callable[[str], str | None]) -> str:
    """Point every table reference (outside string literals) for which
    ``view_of(table)`` names a view at that view; an unaliased reference
    is aliased with the original name so qualified column references
    (``t.col``) keep resolving."""
    views: dict[str, str | None] = {}
    out, last = [], 0
    for ref in _table_refs(sql):
        t = ref["table"]
        if t not in views:
            views[t] = view_of(t)
        if views[t] is None:
            continue
        out += [sql[last : ref.start()], f"{ref['kw']} {views[t]}",
                sql[ref.end("table") : ref.end()]]
        if ref["alias"] is None:
            out.append(f" AS {t}")
        last = ref.end()
    return "".join(out) + sql[last:]


def _typed_columns(spark: SparkSession, sql: str, types: tuple) -> set[str]:
    """Lowercased column names of the given Spark types across every
    referenced table."""
    cols: set[str] = set()
    for t in {ref["table"] for ref in _table_refs(sql)}:
        for f in _table_schema(spark, t).fields:
            if isinstance(f.dataType, types):
                cols.add(f.name.lower())
    return cols


# ---------------------------------------------------------------------------
# MV (multi-value) predicate rewrite — §2.3 any/all-match semantics
# ---------------------------------------------------------------------------


def _mv_columns(spark: SparkSession, sql: str) -> dict[str, str]:
    """Array-typed columns of every referenced table: lowercased name →
    element type DDL string (the rewrites cast numeric literals to it —
    a bare 25.0 parses as DECIMAL(3,1), which Spark refuses to compare
    against ARRAY<FLOAT> elements).

    Keys carry BOTH forms: ``"col"`` (unqualified — last-scanned table
    wins on a cross-table name clash) and ``"tbl.col"`` / ``"alias.col"``
    so a qualified predicate resolves against its own table's element
    type even when two tables share a column name (ADVICE r7)."""
    cols: dict[str, str] = {}
    for ref in _table_refs(sql):
        t, alias = ref["table"], ref["alias"]
        for f in _table_schema(spark, t).fields:
            if isinstance(f.dataType, T.ArrayType):
                el = f.dataType.elementType.simpleString()
                cols[f.name.lower()] = el
                cols[f"{t.lower()}.{f.name.lower()}"] = el
                if alias:
                    cols[f"{alias.lower()}.{f.name.lower()}"] = el
    return cols


_ARRAY_CTOR_RE = re.compile(r"\bARRAY\s*\[", re.IGNORECASE)


_ARRAY_STR_CTOR_RE = re.compile(r"\bARRAY\s*'\{([^}']*)\}'", re.IGNORECASE)


def rewrite_array_constructor(sql: str) -> str:
    """Calcite ``ARRAY[a, b, c]`` literal syntax (corpus
    ValueExpressions.json) → Spark ``array(a, b, c)``; nested
    constructors recurse, string literals untouched.  Also accepts
    Pinot's postgres-style ``ARRAY'{1,2,3}'`` string form
    (ArrayTest.java testIntArrayLiteral)."""
    sql = _ARRAY_STR_CTOR_RE.sub(lambda m: f"array({m.group(1)})", sql)
    spans = _literal_spans(sql)
    out, i = [], 0
    while True:
        m = _ARRAY_CTOR_RE.search(sql, i)
        while m and any(a <= m.start() < b for a, b in spans):
            m = _ARRAY_CTOR_RE.search(sql, m.end())
        if not m:
            out.append(sql[i:])
            break
        open_idx = sql.index("[", m.start())
        depth, j = 0, open_idx
        while j < len(sql):
            if sql[j] == "[":
                depth += 1
            elif sql[j] == "]":
                depth -= 1
                if depth == 0:
                    break
            j += 1
        if depth != 0:
            out.append(sql[i:])
            break
        inner = rewrite_array_constructor(sql[open_idx + 1 : j])
        out.append(sql[i : m.start()])
        out.append(f"array({inner})")
        i = j + 1
    return "".join(out)


_ROW_CMP_OPS = ("<=", ">=", "<>", "!=", "=", "<", ">")


def _row_cmp_expand(lhs: list[str], op: str, rhs: list[str]) -> str:
    """Standard SQL row-value comparison as a boolean expression —
    the same expansion Calcite applies before the reference's
    multistage engine executes ``(a, b) > (x, y)``
    (RowExpressionTest.java): ``=`` is pairwise AND, ``<>`` pairwise
    OR, and the inequalities are lexicographic."""

    def wrap(s: str) -> str:
        s = s.strip()
        return s if re.fullmatch(r"[\w.$']+", s) else f"({s})"

    pairs = [(wrap(a), wrap(b)) for a, b in zip(lhs, rhs)]
    if op == "=":
        return "(" + " AND ".join(f"{a} = {b}" for a, b in pairs) + ")"
    if op in ("<>", "!="):
        return "(" + " OR ".join(f"{a} <> {b}" for a, b in pairs) + ")"
    strict = op[0]  # '<' or '>'
    a, b = pairs[-1]
    expr = f"{a} {op} {b}" if len(op) == 2 else f"{a} {strict} {b}"
    for a, b in reversed(pairs[:-1]):
        expr = f"{a} {strict} {b} OR ({a} = {b} AND ({expr}))"
    return f"({expr})"


def rewrite_row_comparisons(sql: str) -> str:
    """Row-value constructor comparisons ``(a, b[, ...]) OP (x, y[, ...])``
    (OP one of = <> != < <= > >=) → their boolean expansion.  The
    reference accepts these through Calcite on the multistage engine
    (pinot-integration-tests/.../custom/RowExpressionTest.java —
    keyset pagination is the headline use case); Spark's parser
    rejects the syntax outright, so the dialect expands them the way
    Calcite's RexBuilder does.  Row constructors inside IN lists /
    VALUES rows are untouched (those parse natively), as are
    parenthesized function argument lists (detected by a preceding
    identifier) and scalar subqueries."""
    out = sql
    # restart the scan after each splice: positions shift
    guard = 0
    while guard < 100:
        guard += 1
        spans = _literal_spans(out)
        replaced = False
        i = 0
        n = len(out)
        while i < n:
            c = out[i]
            if c != "(" or any(a <= i < b for a, b in spans):
                i += 1
                continue
            # a '(' preceded by an identifier is a function call UNLESS
            # the identifier is a keyword that legitimately precedes a
            # boolean term; ')' / ']' / quotes are calls or indexing too
            k = i - 1
            while k >= 0 and out[k].isspace():
                k -= 1
            if k >= 0 and out[k] in ")]'\"":
                i += 1
                continue
            if k >= 0 and (out[k].isalnum() or out[k] == "_"):
                e = k
                while k >= 0 and (out[k].isalnum() or out[k] == "_"):
                    k -= 1
                word = out[k + 1 : e + 1].upper()
                if word not in (
                    "WHERE", "AND", "OR", "NOT", "ON", "WHEN", "THEN",
                    "ELSE", "HAVING", "SELECT", "ROW",
                ):
                    i += 1
                    continue
                if word == "ROW":  # explicit constructor: splice it out too
                    lstart = k + 1
                else:
                    lstart = i
            else:
                lstart = i
            try:
                close = _find_matching(out, i)
            except PinotSqlError:
                break
            lhs = _split_args(out[i + 1 : close])
            if len(lhs) < 2 or any(
                not a or re.match(r"\(?\s*SELECT\b", a, re.IGNORECASE) for a in lhs
            ):
                i += 1
                continue
            j = close + 1
            while j < n and out[j].isspace():
                j += 1
            op = next((o for o in _ROW_CMP_OPS if out.startswith(o, j)), None)
            if op is None:
                i += 1
                continue
            r = j + len(op)
            while r < n and out[r].isspace():
                r += 1
            if r < n and out[r : r + 3].upper() == "ROW":
                r2 = r + 3
                while r2 < n and out[r2].isspace():
                    r2 += 1
                if r2 < n and out[r2] == "(":
                    r = r2
            if r >= n or out[r] != "(":
                i += 1
                continue
            try:
                rclose = _find_matching(out, r)
            except PinotSqlError:
                break
            rhs = _split_args(out[r + 1 : rclose])
            if len(rhs) != len(lhs) or any(
                not b or re.match(r"\(?\s*SELECT\b", b, re.IGNORECASE) for b in rhs
            ):
                i += 1
                continue
            out = out[:lstart] + _row_cmp_expand(lhs, op, rhs) + out[rclose + 1 :]
            replaced = True
            break
        if not replaced:
            break
    return out


_UNNEST_RE = re.compile(
    r"\bCROSS\s+JOIN\s+UNNEST\s*\(", re.IGNORECASE
)
# a REAL join relation following the UNNEST (not another UNNEST, which
# rewrites to an adjacent LATERAL VIEW and needs no reordering)
_JOIN_AFTER_UNNEST_RE = re.compile(
    r"\s*(?:(?:CROSS|INNER|LEFT(?:\s+OUTER)?|RIGHT(?:\s+OUTER)?"
    r"|FULL(?:\s+OUTER)?|NATURAL)\s+)?JOIN\s+(?!UNNEST\b)",
    re.IGNORECASE,
)
_LATERAL_STOP_RE = re.compile(
    r"(?:WHERE|GROUP\s+BY|HAVING|ORDER\s+BY|LIMIT|UNION|INTERSECT"
    r"|EXCEPT)\b",
    re.IGNORECASE,
)


def _lateral_insert_pos(tail: str) -> int:
    """First top-level position in ``tail`` where a LATERAL VIEW may be
    spliced: before the first clause keyword (WHERE/GROUP BY/...), at an
    enclosing subquery's closing paren, or end-of-string.  Spark only
    parses lateral views AFTER all join relations of the FROM clause
    (SqlBaseParser.g4 relation rule), so a LATERAL VIEW spliced at the
    original CROSS JOIN UNNEST position would be unparseable when
    another JOIN follows — the reference accepts that shape
    (UnnestIntegrationTest.java)."""
    span_at = {a: b for a, b in _literal_spans(tail)}
    depth = 0
    i, n = 0, len(tail)
    while i < n:
        if i in span_at:
            i = span_at[i]
            continue
        c = tail[i]
        if c == "(":
            depth += 1
        elif c == ")":
            if depth == 0:
                return i
            depth -= 1
        elif (
            depth == 0
            and (c.isalpha() or c == "_")
            and (i == 0 or not (tail[i - 1].isalnum() or tail[i - 1] == "_"))
            and _LATERAL_STOP_RE.match(tail, i)
        ):
            return i
        i += 1
    return n


def rewrite_unnest(sql: str) -> str:
    """Calcite ``CROSS JOIN UNNEST(a[, b ...]) [WITH ORDINALITY] AS
    u(x[, y ...][, idx])`` (UnnestIntegrationTest.java) → Spark
    ``LATERAL VIEW inline(...)``.  Multiple arrays zip with null
    padding (Calcite semantics); WITH ORDINALITY appends a 1-based
    index.  inline() exposes the names BOTH bare (``idx``) and
    qualified (``u.idx``), which the suite's queries mix freely."""
    while True:
        spans = _literal_spans(sql)
        m = _UNNEST_RE.search(sql)
        while m and any(a <= m.start() < b for a, b in spans):
            m = _UNNEST_RE.search(sql, m.end())
        if not m:
            return sql
        open_idx = sql.index("(", m.start())
        close = _find_matching(sql, open_idx)
        arrays = _split_args(sql[open_idx + 1 : close])
        tail = sql[close + 1 :]
        tm = re.match(
            r"\s*(WITH\s+ORDINALITY\s+)?AS\s+([A-Za-z_]\w*)\s*\(",
            tail,
            re.IGNORECASE,
        )
        if tm is None:
            raise PinotSqlError(
                "UNNEST requires an AS alias(column...) clause"
            )
        ord_ = bool(tm.group(1))
        alias = tm.group(2)
        nopen = close + 1 + tm.end() - 1
        nclose = _find_matching(sql, nopen)
        names = _split_args(sql[nopen + 1 : nclose])
        if len(names) != len(arrays) + (1 if ord_ else 0):
            raise PinotSqlError(
                f"UNNEST arity mismatch: {len(arrays)} arrays + "
                f"{'ordinality' if ord_ else 'no ordinality'} vs "
                f"{len(names)} column aliases"
            )
        if len(arrays) == 1 and not ord_:
            arr = f"transform({arrays[0]}, v -> struct(v AS {names[0]}))"
        else:
            n = len(arrays)
            g = (
                f"size({arrays[0]})"
                if n == 1
                else "greatest(" + ", ".join(f"size({a})" for a in arrays) + ")"
            )
            # lambda var __ui: a plain `i` would shadow a source column
            # named i inside the zipped array expressions
            fields = ", ".join(
                # get() null-pads past the shorter arrays' ends (ANSI
                # [] would throw), matching Calcite's zip semantics
                f"get({a}, CAST(__ui AS INT)) AS {names[k]}"
                for k, a in enumerate(arrays)
            )
            if ord_:
                fields += f", CAST(__ui + 1 AS BIGINT) AS {names[-1]}"
            # empty/NULL arrays yield an empty slice of the THEN shape
            # (a CASE ELSE branch could never type-check generically)
            arr = (
                f"slice(transform(sequence(0, greatest({g}, 1) - 1), "
                f"__ui -> struct({fields})), 1, "
                f"CASE WHEN {g} > 0 THEN {g} ELSE 0 END)"
            )
        repl = f"LATERAL VIEW inline({arr}) {alias} AS " + ", ".join(names)
        rest = sql[nclose + 1 :]
        if _JOIN_AFTER_UNNEST_RE.match(rest):
            # Spark parses lateral views only after ALL join relations:
            # float this one past the remaining joins (a following ON
            # that references the unnest aliases still fails loudly at
            # analysis — a named boundary, not silent corruption)
            ip = _lateral_insert_pos(rest)
            sql = (
                sql[: m.start()].rstrip()
                + " "
                + rest[:ip].strip()
                + " "
                + repl
                + " "
                + rest[ip:].lstrip()
            )
        else:
            sql = sql[: m.start()] + repl + rest


_MAP_ACCESS_RE = re.compile(
    r"\b((?:[A-Za-z_]\w*\s*\.\s*)?)([A-Za-z_]\w*)\s*\[\s*('(?:[^']|'')*'|\d+)\s*\]"
)
# FieldSpec default DIMENSION null values (FieldSpec.java
# DEFAULT_DIMENSION_NULL_VALUE_OF_*): a missing map key materializes the
# type default, never SQL NULL (MapFieldTypeTest: stringMap['kk'] ->
# 'null', intMap['kk'] -> Integer.MIN_VALUE)
_MAP_DIM_DEFAULT_SQL: dict[type, str] = {
    T.IntegerType: "-2147483648",
    T.LongType: "-9223372036854775808",
    T.FloatType: "CAST('-Infinity' AS FLOAT)",
    T.DoubleType: "CAST('-Infinity' AS DOUBLE)",
    T.StringType: "'null'",
    T.BooleanType: "false",
}


def rewrite_map_default_access(spark: SparkSession, sql: str) -> str:
    """``mapCol['key']`` / ``mapCol[123]`` on a MAP-typed column →
    ``COALESCE(mapCol['key'], <type default>)`` so missing keys yield
    Pinot's materialized defaultNullValue instead of SQL NULL
    (MapFieldTypeTest.java testQueries; Spark's native subscript
    returns NULL).  Array subscripts and non-map columns pass through
    untouched — the wrap keys on the column's resolved Spark type, and
    a QUALIFIED subscript resolves against that specific table's schema
    (r14 ADVICE: a same-named array column of another joined table must
    not inherit the map column's wrap)."""
    value_types: dict[str, str] = {}  # name-only fallback (single-table)
    by_qual: dict[str, dict[str, str]] = {}  # table/alias -> wrappable cols
    for ref in _table_refs(sql):
        t, alias = ref["table"], ref["alias"]
        per: dict[str, str] = {}
        for f in _table_schema(spark, t).fields:
            if isinstance(f.dataType, T.MapType):
                d = _MAP_DIM_DEFAULT_SQL.get(type(f.dataType.valueType))
                if d is not None:
                    per[f.name.lower()] = d
                    value_types[f.name.lower()] = d
        by_qual[t.lower()] = per
        if alias:
            by_qual[alias.lower()] = per
    if not value_types:
        return sql
    spans = _literal_spans(sql)

    def repl(m: re.Match) -> str:
        if any(a <= m.start() < b for a, b in spans):
            return m.group(0)
        # group(1) is an optional table/alias qualifier — it must stay
        # INSIDE the wrap ('t.m[k]' -> COALESCE(t.m[k], d), never
        # 't.COALESCE(...)'), and when present it scopes resolution to
        # THAT table's schema
        qual = m.group(1).replace(" ", "").rstrip(".").lower()
        name = m.group(2).lower()
        if qual:
            # a qualifier scopes resolution to THAT table's schema; an
            # UNRESOLVABLE qualifier (subquery / derived-table alias)
            # must pass through unwrapped — falling back to the global
            # name map would re-introduce the r14 cross-table wrap bug
            # for derived tables (r15 ADVICE)
            default = by_qual.get(qual, {}).get(name)
        else:
            default = value_types.get(name)
        if default is None:
            return m.group(0)
        return f"COALESCE({m.group(0)}, {default})"

    return _MAP_ACCESS_RE.sub(repl, sql)


_IDENT_OR_NUM = r"(?:[A-Za-z_]\w*\.)?[A-Za-z_]\w*|\d+"
_CMP_RE = re.compile(
    rf"({_IDENT_OR_NUM})\s*(=|!=|<>|<=|>=|<|>)\s*({_IDENT_OR_NUM})"
)
_TS_TYPES = (T.TimestampType, T.TimestampNTZType)
_LONG_TYPES = (T.LongType, T.IntegerType)


def rewrite_timestamp_coercion(spark: SparkSession, sql: str) -> str:
    """Pinot coerces TIMESTAMP↔LONG as epoch MILLIS (TimestampUtils;
    corpus TypeCoercion.json: ``ts_col = 1678861800000``,
    ``ts_col > long_col``, ``CAST(1700000000000 AS TIMESTAMP)``). Spark
    would interpret the long as SECONDS — a silent 1000× error — so
    comparisons between a timestamp column and an integral operand are
    rewritten to ``unix_millis(CAST(ts AS TIMESTAMP))`` and long→
    TIMESTAMP casts to ``timestamp_millis``."""
    # CAST(unix_millis(...) AS TIMESTAMP): the inner expression is
    # epoch millis BY CONSTRUCTION (our own fn rewrites emit
    # unix_millis for millis-domain functions like FROMDATETIME), so
    # the cast must go through timestamp_millis, not Spark's
    # seconds-interpreting long->TIMESTAMP cast
    pos = 0
    while True:
        m = re.search(
            r"\bCAST\s*\(\s*(?=unix_millis\s*\()", sql[pos:], re.IGNORECASE
        )
        if not m:
            break
        start = pos + m.start()
        if any(a <= start < b for a, b in _literal_spans(sql)):
            pos = start + 1
            continue
        open_idx = sql.index("(", start)
        close = _find_matching(sql, open_idx)
        inner = sql[open_idx + 1 : close].strip()
        um = re.match(r"unix_millis\s*\(", inner, re.IGNORECASE)
        call_end = _find_matching(inner, um.end() - 1)
        tail = inner[call_end + 1 :].strip()
        if re.fullmatch(r"AS\s+TIMESTAMP", tail, re.IGNORECASE):
            repl = f"timestamp_millis({inner[: call_end + 1]})"
            sql = sql[:start] + repl + sql[close + 1 :]
            # keep scanning INSIDE the replacement: the inner text may
            # hold further nested CAST(unix_millis(...) AS TIMESTAMP)
            pos = start + 1
        else:
            pos = open_idx + 1
    # CAST(expr AS VARCHAR) of a textual timestamp expression is Java
    # Timestamp.toString() in Pinot — fraction printed with trailing
    # zeros trimmed but at least one digit ('....00:00:00.0'), which
    # downstream FROMDATETIME('yyyy-MM-dd HH:mm:ss.S') parses; Spark's
    # CAST prints no fraction at all and the parse would throw
    pos = 0
    while True:
        m = re.search(r"\bCAST\s*\(", sql[pos:], re.IGNORECASE)
        if not m:
            break
        start = pos + m.start()
        if any(a <= start < b for a, b in _literal_spans(sql)):
            pos = start + 1
            continue
        open_idx = sql.index("(", start)
        try:
            close = _find_matching(sql, open_idx)
        except PinotSqlError:
            break
        inner = sql[open_idx + 1 : close].strip()
        vm = re.search(r"\s+AS\s+(VARCHAR|STRING)$", inner, re.IGNORECASE)
        operand = inner[: vm.start()].strip() if vm else ""
        if vm and re.match(r"(?i)^CAST\s*\(", operand) and re.search(
            r"(?i)AS\s+TIMESTAMP\s*\)$", operand
        ):
            repl = (
                f"regexp_replace(date_format({operand}, "
                f"'yyyy-MM-dd HH:mm:ss.SSS'), '(\\\\.\\\\d+?)0+$', '$1')"
            )
            sql = sql[:start] + repl + sql[close + 1 :]
            pos = start + len(repl)
        else:
            pos = open_idx + 1
    # <timestamp expr> <cmp> unix_millis(...): compare in the millis
    # long domain (Pinot TIMESTAMP<->LONG coercion) — covers comparisons
    # our own millis-producing rewrites (FROMDATETIME etc.) appear in
    _HEAD_RE = re.compile(
        r"\b(CAST|unix_millis|timestamp_millis)\s*\(", re.IGNORECASE
    )

    def _side_kind(head: str, expr: str) -> str | None:
        h = head.upper()
        if h == "UNIX_MILLIS":
            return "ms"
        if h == "TIMESTAMP_MILLIS":
            return "ts"
        if h == "CAST" and re.search(r"(?i)AS\s+TIMESTAMP\s*\)$", expr):
            return "ts"
        return None

    pos = 0
    while True:
        m = _HEAD_RE.search(sql, pos)
        if not m:
            break
        start = m.start()
        if any(a <= start < b for a, b in _literal_spans(sql)):
            pos = start + 1
            continue
        open_idx = sql.index("(", start)
        try:
            close = _find_matching(sql, open_idx)
        except PinotSqlError:
            break
        lkind = _side_kind(m.group(1), sql[start : close + 1])
        om = re.match(r"\s*(=|!=|<>|<=|>=|<|>)\s*", sql[close + 1 :])
        if lkind and om:
            rstart = close + 1 + om.end()
            rm = _HEAD_RE.match(sql, rstart)
            if rm:
                ropen = sql.index("(", rstart)
                try:
                    rclose = _find_matching(sql, ropen)
                except PinotSqlError:
                    break
                rkind = _side_kind(rm.group(1), sql[rstart : rclose + 1])
                if lkind == "ts" and rkind == "ms":
                    sql = (
                        sql[:start]
                        + f"unix_millis({sql[start:close + 1]})"
                        + sql[close + 1 :]
                    )
                    pos = rclose + 1 + len("unix_millis()")
                    continue
                if lkind == "ms" and rkind == "ts":
                    sql = (
                        sql[:rstart]
                        + f"unix_millis({sql[rstart:rclose + 1]})"
                        + sql[rclose + 1 :]
                    )
                    pos = rclose + 1 + len("unix_millis()")
                    continue
        pos = open_idx + 1
    ts_cols = _typed_columns(spark, sql, _TS_TYPES)
    long_cols = _typed_columns(spark, sql, _LONG_TYPES)

    def kind(tok: str) -> str:
        if tok.isdigit():
            return "num"
        base = tok.split(".")[-1].lower()
        if base in ts_cols:
            return "ts"
        if base in long_cols:
            return "num"
        return "other"

    def fix_seg(seg: str) -> str:
        if ts_cols:
            # CAST(ts AS LONG/BIGINT) (and through MIN/MAX/etc.) is
            # epoch MILLIS in Pinot (TimestampUtils), seconds in Spark
            def cast_long_fix(m: re.Match) -> str:
                if m.group("col").split(".")[-1].lower() in ts_cols:
                    return f"unix_millis(CAST({m.group(1)} AS TIMESTAMP))"
                return m.group(0)

            seg = re.sub(
                rf"\bCAST\s*\(\s*((?:(?:MIN|MAX|ANY_VALUE|FIRST|LAST)\s*\(\s*)?"
                rf"(?P<col>(?:[A-Za-z_]\w*\.)?[A-Za-z_]\w*)(?:\s*\))?)"
                rf"\s+AS\s+(?:BIGINT|LONG)\s*\)",
                cast_long_fix,
                seg,
                flags=re.IGNORECASE,
            )

            def cmp_fix(m: re.Match) -> str:
                left, op, right = m.group(1), m.group(2), m.group(3)
                kl, kr = kind(left), kind(right)
                if kl == "ts" and kr == "num":
                    return f"unix_millis(CAST({left} AS TIMESTAMP)) {op} {right}"
                if kl == "num" and kr == "ts":
                    return f"{left} {op} unix_millis(CAST({right} AS TIMESTAMP))"
                return m.group(0)

            seg = _CMP_RE.sub(cmp_fix, seg)

        def cast_fix(m: re.Match) -> str:
            arg = m.group(1)
            if arg.isdigit() or arg.split(".")[-1].lower() in long_cols:
                return f"timestamp_millis({arg})"
            return m.group(0)

        return re.sub(
            rf"\bCAST\s*\(\s*({_IDENT_OR_NUM})\s+AS\s+TIMESTAMP\s*\)",
            cast_fix,
            seg,
            flags=re.IGNORECASE,
        )

    return "".join(
        seg if is_lit else fix_seg(seg) for is_lit, seg in _scan_strings(sql)
    )


def rewrite_mv_collect_aggs(spark: SparkSession, sql: str) -> str:
    """``collect_list(<mv column>)`` → ``flatten(collect_list(...))``:
    Pinot aggregation functions consume MV columns element-wise
    (ArrayAggFunction MV code paths aggregate every value of every
    row), so an arrayAgg over an MV column yields one flat array."""
    if "collect_list" not in sql:
        return sql
    mv = _mv_columns(spark, sql)
    if not mv:
        return sql

    def fix(m: re.Match) -> str:
        qual, col = (m.group(1) or "").rstrip("."), m.group(2)
        key = col.lower() if not qual else f"{qual.lower()}.{col.lower()}"
        if key in mv or (not qual and any(
            k.endswith("." + col.lower()) for k in mv
        )) or col.lower() in mv:
            return f"flatten({m.group(0)})"
        return m.group(0)

    return re.sub(
        r"\bcollect_list\(\s*((?:[A-Za-z_]\w*\.)?)([A-Za-z_]\w*)\s*\)",
        fix,
        sql,
    )


_MV_SCALAR_CAST_RE = re.compile(
    r"\bCAST\s*\(\s*((?:[A-Za-z_]\w*\.)?([A-Za-z_]\w*))\s+AS\s+"
    r"(INT|INTEGER|LONG|BIGINT|FLOAT|DOUBLE|STRING|BOOLEAN)\s*\)",
    re.IGNORECASE,
)


def rewrite_mv_scalar_casts(spark: SparkSession, sql: str) -> str:
    """``CAST(<mv column> AS <scalar type>)`` casts ELEMENT-WISE in
    Pinot (CastTransformFunction over an MV operand,
    CastQueriesTest.testCastMV); Spark rejects array→scalar casts, so
    rewrite to a transform lambda."""
    mv = _mv_columns(spark, sql)
    if not mv:
        return sql

    def fix(m: re.Match) -> str:
        if m.group(2).lower() not in mv and m.group(1).lower() not in mv:
            return m.group(0)
        return f"transform({m.group(1)}, __cx -> CAST(__cx AS {m.group(3)}))"

    return "".join(
        seg if is_lit else _MV_SCALAR_CAST_RE.sub(fix, seg)
        for is_lit, seg in _scan_strings(sql)
    )


def rewrite_mv_predicates(spark: SparkSession, sql: str) -> str:
    """mvCol = v → array_contains(mvCol, v); mvCol != v → NOT
    array_contains; mvCol IN (…) → arrays_overlap; mvCol NOT IN (…) →
    NOT arrays_overlap (inclusive = ANY element, exclusive = ALL
    elements — BaseRawValueBasedPredicateEvaluator.java:72-85)."""
    mv = _mv_columns(spark, sql)
    if not mv:
        return sql

    def mv_type(qual: str, col: str) -> str | None:
        """Element type for a predicate reference, honoring the table/
        alias qualifier; a qualified ref whose table is known but whose
        column is not MV THERE must not fall back to another table's
        same-named column."""
        if qual:
            q = qual.rstrip(".").lower()
            k = f"{q}.{col.lower()}"
            if k in mv:
                return mv[k]
            if any(key.startswith(q + ".") for key in mv):
                return None
        return mv.get(col.lower())

    def sub_outside(pattern: str, repl, s: str, flags: int = 0) -> str:
        # span-aware like rewrite_pinot_hints: a match starting inside a
        # string literal is left untouched (the patterns need the
        # literal OPERAND in view, so the SQL can't be pre-split into
        # literal/non-literal segments — guard per match instead)
        spans = _literal_spans(s)

        def guarded(m: re.Match) -> str:
            if any(a <= m.start() < b for a, b in spans):
                return m.group(0)
            return repl(m)

        return re.sub(pattern, guarded, s, flags=flags)

    def seg_rewrite(seg: str) -> str:
        def eq(m: re.Match) -> str:
            qual, col, op, lit = m.group(1) or "", m.group(2), m.group(3), m.group(4)
            el = mv_type(qual, col)
            if el is None:
                return m.group(0)
            ref = f"{qual}{col}"  # keep the table qualifier inside the call
            lit = f"CAST({lit} AS {el})"
            if op == "=":
                return f"array_contains({ref}, {lit})"
            return f"(NOT array_contains({ref}, {lit}))"

        seg = sub_outside(
            r"\b((?:[A-Za-z_][A-Za-z0-9_]*\.)?)([A-Za-z_][A-Za-z0-9_]*)\s*(=|!=|<>)\s*('[^']*'|-?[0-9.]+)",
            eq,
            seg,
        )

        def in_list(m: re.Match) -> str:
            qual, col, neg, items = m.group(1) or "", m.group(2), m.group(3), m.group(4)
            el = mv_type(qual, col)
            if el is None:
                return m.group(0)
            arr = f"CAST(array({items}) AS ARRAY<{el}>)"
            base = f"arrays_overlap({qual}{col}, {arr})"
            return f"(NOT {base})" if neg else base

        seg = sub_outside(
            r"\b((?:[A-Za-z_][A-Za-z0-9_]*\.)?)([A-Za-z_][A-Za-z0-9_]*)\s+(NOT\s+)?IN\s*\(([^()]*)\)",
            in_list,
            seg,
            flags=re.IGNORECASE,
        )

        def between(m: re.Match) -> str:
            qual, col, neg, lo, hi = (
                m.group(1) or "", m.group(2), m.group(3), m.group(4), m.group(5),
            )
            if mv_type(qual, col) is None:
                return m.group(0)
            base = f"exists({qual}{col}, x -> x >= {lo} AND x <= {hi})"
            return f"(NOT {base})" if neg else base

        lit_pat = r"'[^']*'|-?[0-9][0-9.]*"
        seg = sub_outside(
            rf"\b((?:[A-Za-z_][A-Za-z0-9_]*\.)?)([A-Za-z_][A-Za-z0-9_]*)\s+"
            rf"(NOT\s+)?BETWEEN\s+({lit_pat})\s+AND\s+({lit_pat})",
            between,
            seg,
            flags=re.IGNORECASE,
        )

        def cmp(m: re.Match) -> str:
            # range predicate on an MV column: ANY element in range
            # (BaseRawValueBasedPredicateEvaluator.java:72-85)
            qual, col, op, lit = m.group(1) or "", m.group(2), m.group(3), m.group(4)
            if mv_type(qual, col) is None:
                return m.group(0)
            return f"exists({qual}{col}, x -> x {op} {lit})"

        seg = sub_outside(
            rf"\b((?:[A-Za-z_][A-Za-z0-9_]*\.)?)([A-Za-z_][A-Za-z0-9_]*)\s*"
            rf"(>=|<=|>|<)\s*({lit_pat})",
            cmp,
            seg,
        )
        return seg

    # operate on the full SQL (the patterns need the literal operand in
    # view, e.g. col = 'v'); sub_outside guards each match against
    # starting inside a string literal.
    return seg_rewrite(sql)


# ---------------------------------------------------------------------------
# ASOF JOIN syntax — Pinot MSE (Calcite):
#   FROM a ASOF JOIN b MATCH_CONDITION(a.ts >= b.ts) ON a.k = b.k
# (reference pinot-query-runtime/.../operator/AsofJoinOperator.java:37,
# match-condition types :59-64; corpus queries/AsOfJoin.json).  Routed to
# the union+window builder in operators/asof.py — one shuffle, no range
# explosion — then the join clause is replaced by a temp view.
# ---------------------------------------------------------------------------

_ASOF_JOIN_RE = re.compile(
    r"\bFROM\s+(?P<left>[A-Za-z_]\w*)"
    r"(?:\s+(?:AS\s+)?(?P<lalias>(?!ASOF\b|LEFT\b|JOIN\b)[A-Za-z_]\w*))?\s+"
    r"(?P<outer>LEFT\s+)?ASOF\s+JOIN\s+"
    r"(?P<right>[A-Za-z_]\w*)"
    r"(?:\s+(?:AS\s+)?(?P<ralias>(?!MATCH_CONDITION\b)[A-Za-z_]\w*))?\s+"
    r"MATCH_CONDITION\b",
    re.IGNORECASE,
)

_QREF = r"[A-Za-z_]\w*\.[A-Za-z_]\w*"
_MATCH_CMP_RE = re.compile(
    rf"^\s*(?P<l>{_QREF})\s*(?P<op><=|>=|<|>)\s*(?P<r>{_QREF})\s*$"
)
_ON_EQ_RE = re.compile(rf"^\s*(?P<l>{_QREF})\s*=\s*(?P<r>{_QREF})\s*$")
_ASOF_VIEW_SEQ = [0]


def has_asof_join(sql: str) -> bool:
    return re.search(r"\bASOF\s+JOIN\b", sql, re.IGNORECASE) is not None


def rewrite_asof_join(spark: SparkSession, sql: str) -> str:
    """Replace one ``a [LEFT] ASOF JOIN b MATCH_CONDITION(...) ON ...``
    clause with a temp view materializing the as-of join (plain ASOF JOIN
    = inner: unmatched left rows dropped; LEFT ASOF keeps them).

    Requirements (PinotSqlError otherwise): both sides are named
    tables/views, MATCH_CONDITION and ON use qualified column refs, and
    non-key column names don't collide across the sides (qualifiers are
    stripped from the remaining statement after the rewrite)."""
    from pinot_spark.operators.asof import asof_join

    m = _ASOF_JOIN_RE.search(sql)
    if not m:
        return sql
    lname, rname = m.group("left"), m.group("right")
    lalias = (m.group("lalias") or lname).lower()
    ralias = (m.group("ralias") or rname).lower()
    is_left = bool(m.group("outer"))

    i = m.end()
    while i < len(sql) and sql[i].isspace():
        i += 1
    if i < len(sql) and sql[i] == "(":
        close = _find_matching(sql, i)
        cond, i = sql[i + 1 : close], close + 1
    else:
        on_kw = re.compile(r"\bON\b", re.IGNORECASE).search(sql, i)
        if not on_kw:
            raise PinotSqlError("ASOF JOIN: missing ON after MATCH_CONDITION")
        cond, i = sql[i : on_kw.start()], on_kw.start()
    on_kw = re.compile(r"\s*ON\b", re.IGNORECASE).match(sql, i)
    if not on_kw:
        raise PinotSqlError("ASOF JOIN: missing ON clause")
    j = on_kw.end()
    tail_kw = re.compile(r"\b(WHERE|GROUP\s+BY|HAVING|ORDER\s+BY|LIMIT)\b", re.IGNORECASE)
    k = tail_kw.search(sql, j)
    on_end = k.start() if k else len(sql)
    on_sql = sql[j:on_end]

    cm = _MATCH_CMP_RE.match(cond)
    if not cm:
        raise PinotSqlError(
            f"ASOF JOIN MATCH_CONDITION must be 'x.t <cmp> y.t' with qualified refs, got {cond!r}"
        )

    def side(ref: str) -> tuple[str, str]:
        q, c = ref.split(".", 1)
        if q.lower() in (lalias, lname.lower()):
            return "L", c
        if q.lower() in (ralias, rname.lower()):
            return "R", c
        raise PinotSqlError(f"ASOF JOIN: unknown qualifier in {ref!r}")

    s1, t1 = side(cm.group("l"))
    s2, t2 = side(cm.group("r"))
    op = cm.group("op")
    if s1 == s2:
        raise PinotSqlError("ASOF JOIN MATCH_CONDITION must compare the two sides")
    if s1 == "R":  # normalize to left-side-first
        t1, t2 = t2, t1
        op = {"<": ">", ">": "<", "<=": ">=", ">=": "<="}[op]
    left_time, right_time = t1, t2
    direction = "backward" if op in (">=", ">") else "forward"
    strict = op in (">", "<")

    pairs = []
    if not re.fullmatch(r"\s*\(?\s*true\s*\)?\s*", on_sql, re.IGNORECASE):
        for term in re.split(r"\bAND\b", on_sql, flags=re.IGNORECASE):
            em = _ON_EQ_RE.match(term)
            if not em:
                raise PinotSqlError(f"ASOF JOIN ON must be AND-ed equi conditions, got {term!r}")
            es1, c1 = side(em.group("l"))
            es2, c2 = side(em.group("r"))
            if es1 == es2:
                raise PinotSqlError("ASOF JOIN ON condition must join the two sides")
            pairs.append((c1, c2) if es1 == "L" else (c2, c1))
    # else: ON true = global as-of with no partition key (AsOfJoin.json
    # as_of_join_queries_without_hash_key_join). asof_join handles on=[]
    # as a single global window — a documented single-partition sort,
    # matching the reference's own degenerate keyless broadcast shape.

    from pyspark.sql import functions as F

    left_df, right_df = spark.table(lname), spark.table(rname)
    keys = []
    for lk, rk in pairs:
        if rk != lk and lk in right_df.columns:
            raise PinotSqlError(f"ASOF JOIN: key rename {rk}->{lk} collides on right side")
        keys.append(lk)
    overlap = (set(right_df.columns) - {rk for _, rk in pairs}) & set(left_df.columns)

    if not overlap and pairs:
        # disjoint fast path: the view carries both sides' columns
        # unqualified; qualifiers are stripped from the statement tail
        for lk, rk in pairs:
            if rk != lk:
                right_df = right_df.withColumnRenamed(rk, lk)
        joined = asof_join(
            left_df, right_df, on=keys,
            left_time=left_time, right_time=right_time,
            direction=direction, strict=strict,
        )
        if not is_left:
            joined = joined.filter(F.col(right_time).isNotNull())

        _ASOF_VIEW_SEQ[0] += 1
        view = f"__asof_join_{_ASOF_VIEW_SEQ[0]}"
        joined.createOrReplaceTempView(view)

        out = sql[: m.start()] + f"FROM {view} " + sql[on_end:]
        out = re.sub(
            rf"\b({re.escape(lalias)}|{re.escape(ralias)}|{re.escape(lname)}|{re.escape(rname)})\s*\.\s*",
            "",
            out,
            flags=re.IGNORECASE,
        )
        return out

    # qualified-output mode: the two sides share column names (or there
    # is no partition key), so the view prefixes every column with its
    # side's alias and the statement tail's qualified refs are rewritten
    # to the prefixed names. Right-side KEY columns are re-emitted as
    # NULL-when-unmatched copies, matching reference LEFT ASOF output.
    if lalias == ralias:
        raise PinotSqlError("ASOF JOIN self-join needs distinct aliases")
    lpre, rpre = f"{lalias}__", f"{ralias}__"
    left_p = left_df.select(*[F.col(c).alias(lpre + c) for c in left_df.columns])
    right_p = right_df.select(*[F.col(c).alias(rpre + c) for c in right_df.columns])
    keys_p = []
    for lk, rk in pairs:
        right_p = right_p.withColumnRenamed(rpre + rk, lpre + lk)
        keys_p.append(lpre + lk)
    joined = asof_join(
        left_p, right_p, on=keys_p,
        left_time=lpre + left_time, right_time=rpre + right_time,
        direction=direction, strict=strict,
    )
    matched = F.col(rpre + right_time).isNotNull()
    for lk, rk in pairs:
        joined = joined.withColumn(rpre + rk, F.when(matched, F.col(lpre + lk)))
    if not is_left:
        joined = joined.filter(matched)

    _ASOF_VIEW_SEQ[0] += 1
    view = f"__asof_join_{_ASOF_VIEW_SEQ[0]}"
    joined.createOrReplaceTempView(view)

    out = sql[: m.start()] + f"FROM {view} " + sql[on_end:]
    out = re.sub(
        rf"\b({re.escape(lalias)}|{re.escape(lname)})\s*\.\s*([A-Za-z_]\w*)",
        lambda mm: lpre + mm.group(2),
        out,
        flags=re.IGNORECASE,
    )
    out = re.sub(
        rf"\b({re.escape(ralias)}|{re.escape(rname)})\s*\.\s*([A-Za-z_]\w*)",
        lambda mm: rpre + mm.group(2),
        out,
        flags=re.IGNORECASE,
    )
    return out


# ---------------------------------------------------------------------------
# Scale-safe MV-distinct aggregate rewrite.
#
# DISTINCTCOUNTMV/DISTINCTSUMMV/DISTINCTAVGMV in a *simple* statement
# (single named table, optional WHERE, GROUP BY of bare columns) are
# rewritten STRUCTURALLY: each MV column gets a LATERAL VIEW explode
# subquery computing count(DISTINCT)/sum(DISTINCT)/avg(DISTINCT) per
# group — Spark plans that with map-side partial aggregation over the
# exploded values, the same shape as the scale path in
# functions/aggregate.distinct_count_mv_grouped — and the per-group
# results are joined back so the rest of the statement (other aggs,
# HAVING, ORDER BY) is untouched.  Statements outside this shape fall
# back to the bounded in-expression form in FUNCTION_MAP.
# ---------------------------------------------------------------------------

_MVD_RE = re.compile(
    r"\b(DISTINCT_?COUNT_?MV|DISTINCT_?SUM_?MV|DISTINCT_?AVG_?MV)\s*\(", re.IGNORECASE
)

_MVD_AGG = {
    "distinctcountmv": ("count(DISTINCT __mv_v)", True),
    "distinctsummv": ("sum(DISTINCT __mv_v)", False),
    "distinctavgmv": ("avg(DISTINCT __mv_v)", False),
}


def rewrite_mv_distinct_aggs(sql: str) -> str:
    """Structural explode rewrite for MV-distinct aggregates (see block
    comment above); returns ``sql`` unchanged when the statement shape
    isn't rewritable (the expression fallback then applies)."""
    if not _MVD_RE.search(sql):
        return sql
    code = "".join(s for lit, s in _scan_strings(sql) if not lit)
    if re.search(r"\b(JOIN|UNION|INTERSECT|EXCEPT|DISTINCT\s+\*)\b", code, re.IGNORECASE):
        return sql
    frm = _top_level_kw(sql, "FROM")
    if not frm:
        return sql
    tm = re.match(r"\s*([A-Za-z_]\w*)", sql[frm.end():])
    if not tm:
        return sql
    table = tm.group(1)
    pos = frm.end() + tm.end()

    where_m = _top_level_kw(sql, "WHERE", pos)
    group_m = _top_level_kw(sql, r"GROUP\s+BY", pos)
    having_m = _top_level_kw(sql, "HAVING", pos)
    order_m = _top_level_kw(sql, r"ORDER\s+BY", pos)
    limit_m = _top_level_kw(sql, "LIMIT", pos)
    clauses = [m for m in (where_m, group_m, having_m, order_m, limit_m) if m]
    nxt = min((m.start() for m in clauses), default=len(sql))
    if sql[pos:nxt].strip():  # table alias / comma join — not rewritable
        return sql

    where_sql = ""
    if where_m:
        w_end = min(
            (m.start() for m in (group_m, having_m, order_m, limit_m) if m),
            default=len(sql),
        )
        where_sql = sql[where_m.start() : w_end].strip().rstrip(";")

    keys: list[str] = []
    if group_m:
        g_end = min(
            (m.start() for m in (having_m, order_m, limit_m) if m), default=len(sql)
        )
        for part in _split_args(sql[group_m.end() : g_end].strip().rstrip(";")):
            if not re.fullmatch(r"[A-Za-z_]\w*", part.strip()):
                return sql  # expression group keys — fall back
            keys.append(part.strip())

    # locate every MV-distinct call
    calls = []
    for cm in _MVD_RE.finditer(sql):
        open_idx = sql.index("(", cm.end() - 1)
        close_idx = _find_matching(sql, open_idx)
        args = _split_args(sql[open_idx + 1 : close_idx])
        if len(args) != 1:
            return sql
        calls.append((cm.start(), close_idx + 1, _canon(cm.group(1)), args[0]))

    subs, edits = [], []
    for idx, (s, e, canon, arg) in enumerate(calls):
        aggexpr, zero_default = _MVD_AGG[canon]
        alias, sub_alias = f"__mvd_{idx}", f"__mvs_{idx}"
        sel_keys = (", ".join(keys) + ", ") if keys else ""
        sub = (
            f"(SELECT {sel_keys}{aggexpr} AS {alias} "
            f"FROM {table} LATERAL VIEW explode({arg}) __lv AS __mv_v "
            f"{where_sql}{' ' if where_sql else ''}"
            f"{'GROUP BY ' + ', '.join(keys) if keys else ''}) {sub_alias}"
        )
        on = (
            " AND ".join(f"__b.{k} <=> {sub_alias}.{k}" for k in keys)
            if keys
            else "true"
        )
        subs.append((sub, on, sub_alias, alias))
        repl = f"any_value({alias})"
        if zero_default:
            repl = f"coalesce({repl}, 0)"
        edits.append((s, e, repl))

    join_sql = " ".join(f"LEFT JOIN {sub} ON {on}" for sub, on, _, _ in subs)
    proj = ", ".join(f"{sa}.{al}" for _, _, sa, al in subs)
    new_from = f"FROM (SELECT __b.*, {proj} FROM {table} __b {join_sql}) {table}"
    edits.append((frm.start(), pos, new_from))

    out = sql
    for s, e, repl in sorted(edits, reverse=True):
        out = out[:s] + repl + out[e:]
    return out


# ---------------------------------------------------------------------------
# GAPFILL query-time syntax (pinot-core/.../query/reduce/
# GapfillProcessor.java:48,136-173; GapfillUtils arg layout):
#   SELECT GAPFILL(timeExpr, '<fmt spec>', '<start>', '<end>', '<bucket>',
#                  FILL(col, 'FILL_PREVIOUS_VALUE'), TIMESERIESON(k...))
#          AS t, k..., col...  FROM <inner> [ORDER BY ...] [LIMIT n]
# Routed to the spine+window gapfill plan (operators/gapfill.py design):
# sequence() spine per observed series, left join, last(ignorenulls) fill.
# ---------------------------------------------------------------------------

_GAPFILL_CALL_RE = re.compile(r"\bGAPFILL\s*\(", re.IGNORECASE)


def has_gapfill(sql: str) -> bool:
    return _GAPFILL_CALL_RE.search(sql) is not None


def find_gapfill_subquery(sql: str) -> tuple[int, int] | None:
    """Span (open paren, close paren) of the innermost derived table that
    contains the GAPFILL call — Pinot's aggregation-over-gapfill shape
    ``SELECT ..., SUM(x) FROM (SELECT GAPFILL(...) ...) GROUP BY ...``
    (GapfillProcessor two-stage form).  None when GAPFILL is top-level."""
    m = _GAPFILL_CALL_RE.search(sql)
    if not m:
        return None
    lit_spans = _literal_spans(sql)

    def in_literal(i: int) -> bool:
        return any(a <= i < b for a, b in lit_spans)

    stack: list[int] = []
    enclosing: list[int] = []
    for i, ch in enumerate(sql):
        if in_literal(i):
            continue
        if ch == "(":
            stack.append(i)
        elif ch == ")":
            if stack:
                stack.pop()
        if i == m.start():
            enclosing = list(stack)
            break
    for open_idx in reversed(enclosing):  # innermost first
        if re.match(r"\s*SELECT\b", sql[open_idx + 1 :], re.IGNORECASE):
            return open_idx, _find_matching(sql, open_idx)
    return None


def _parse_format_spec(tok: str) -> tuple[int, str, str, str | None]:
    """'1:MILLISECONDS:EPOCH[:pattern]' → (size, unit, type, pattern)."""
    parts = tok.strip().strip("'\"").split(":")
    return (
        int(parts[0]),
        parts[1].lower(),
        parts[2].upper(),
        ":".join(parts[3:]) if len(parts) > 3 else None,
    )


def _parse_granularity(tok: str) -> int:
    g = tok.strip().strip("'\"").split(":")
    return int(g[0]) * _DTC_UNIT_MS[g[1].lower()]


def _top_level_kw(sql: str, kw: str, start: int = 0) -> re.Match | None:
    """First match of ``kw`` outside parens and string literals."""
    for m in re.finditer(rf"\b{kw}\b", sql, re.IGNORECASE):
        if m.start() < start:
            continue
        seg = sql[: m.start()]
        code = "".join(s for lit, s in _scan_strings(seg) if not lit)
        if code.count("(") == code.count(")"):
            return m
    return None


# ---------------------------------------------------------------------------
# default LIMIT 10 (query.thrift:29)
# ---------------------------------------------------------------------------

_HAS_LIMIT = re.compile(r"\bLIMIT\s+\d+", re.IGNORECASE)


def apply_default_limit(sql: str, limit: int = 10) -> str:
    code = "".join(seg for is_lit, seg in _scan_strings(sql) if not is_lit)
    if _HAS_LIMIT.search(code):
        return sql
    return f"{sql.rstrip().rstrip(';')} LIMIT {limit}"


# ---------------------------------------------------------------------------
# query-option consumption (QueryOptionsUtils.java) + query hints
# (PinotHintOptions.java:39-71)
# ---------------------------------------------------------------------------

_TRUE_VALUES = {"true", "1", "yes"}

# options the engine consumes or deliberately accepts as no-ops.  Keys are
# canonical lowercase; QueryOptionsUtils.java holds the reference set.
_KNOWN_OPTIONS = {
    "limit": "dialect default-LIMIT override (engine extension)",
    "enablenullhandling": "null-mode routing (QueryOptionsUtils.java:389)",
    "timeoutms": "accepted no-op: local engine has no broker timeout budget",
    "usemultistageengine": "accepted no-op: Catalyst is always multi-stage",
    "numreplicagroupstoquery": "accepted no-op: replica routing is a "
    "serving-cluster concern (Spark has no replica groups)",
    "explain": "accepted no-op: use DataFrame.explain()",
    "stageparallelism": "accepted no-op: Spark task parallelism is "
    "spark.sql.shuffle.partitions / input splits (Parallelism.json corpus)",
    "skipplannerrules": "accepted no-op: Catalyst rule set is not "
    "user-maskable per query (SetOpsH2.json corpus)",
    "usespools": "accepted no-op: Catalyst reuses repeated subplans "
    "automatically (ReusedExchange/ReusedSubquery — corpus Spool.json)",
    "maxexecutionthreads": "accepted no-op: parallelism is the Spark "
    "scheduler's concern (spark.sql.shuffle.partitions etc.)",
    # vector-index probe hints (IvfPqVectorTest: set vectorNprobe=...;
    # set vectorExactRerank=...; set vectorMaxCandidates=...): the SQL
    # vectorSimilarity rewrite computes the EXACT top-k — a superset of
    # any probe-limited approximate result — so the hints are accepted
    # no-ops; the approximate scale path is operators/ivfpq.py + hnsw.py
    "vectornprobe": "accepted no-op: SQL path is exact top-k "
    "(operators/ivfpq.py serves probe-limited ANN)",
    "vectorexactrerank": "accepted no-op: SQL path is already exact",
    "vectormaxcandidates": "accepted no-op: SQL path is exact top-k",
    "vectordistancethreshold": "vectorSimilarity radius cut "
    "(IvfFlatVectorTest testThresholdSearch: squared-L2 space for "
    "l2/euclidean, ranking-distance space otherwise)",
    "vectordistancefunction": "vectorSimilarity ranking distance: "
    "cosine (default) | l2 | euclidean | dot — the per-column "
    "VectorIndexConfig.distanceFunction surfaced as a query option",
    "skipupsert": "read raw rows of a registered upsert table instead "
    "of the latest-per-key view (QueryOptionsUtils skipUpsert)",
    # DISTINCT work budgets (DistinctQueriesTest): the reference stops
    # scanning at the budget and returns a PARTIAL result; this engine
    # always computes the exact distinct set — ignoring a work-limiting
    # hint can only improve the answer, never change correct results
    "maxrowsindistinct": "accepted no-op: exact DISTINCT always "
    "returned (the reference's partial-result scan budget)",
    "maxrowswithoutchangeindistinct": "accepted no-op: exact DISTINCT "
    "always returned (the no-change scan budget twin)",
    # RawForwardIndexWithDictionaryTest: SET skipIndexes='col=inverted'
    # forces the reference's scan path; here index/encoding routing is
    # Catalyst + Parquet's and answers are identical either way
    "skipindexes": "accepted no-op: access-path selection is Catalyst/"
    "Parquet's; results are encoding-independent "
    "(RawForwardIndexWithDictionaryTest)",
}


def consume_options(options: dict[str, str]) -> None:
    """Validate SET options: unknown keys warn loudly instead of being
    silently ignored (a semantics-changing option the engine does not
    implement must never fail silent)."""
    import warnings

    for k in options:
        if k.lower() not in _KNOWN_OPTIONS:
            warnings.warn(
                f"unknown query option {k!r} ignored "
                "(known: " + ", ".join(sorted(_KNOWN_OPTIONS)) + ")",
                stacklevel=3,
            )


def null_handling_enabled(options: dict[str, str], default: bool) -> bool:
    """``SET enableNullHandling=true`` → SQL null semantics;
    false/absent → Pinot's default-value mode (QueryOptionsUtils.java:389,
    corpus NullHandling.json)."""
    for k, v in options.items():
        if k.lower() == "enablenullhandling":
            return v.strip().lower() in _TRUE_VALUES
    return default


def _null_default_literal(dt: T.DataType) -> str | None:
    """Pinot defaultNullValue for a Spark type as a SQL literal
    (FieldSpec.java:198 metric defaults; NullValuePlaceHolder for
    strings). Dimension defaults (Integer.MIN_VALUE family) are
    schema-declared in Pinot — absent an explicit schema the engine
    applies the metric/neutral default. Complex types return None
    (left as stored)."""
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return "0"
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return "0.0"
    if isinstance(dt, T.DecimalType):
        return "0"
    if isinstance(dt, T.StringType):
        return "'null'"
    if isinstance(dt, T.BooleanType):
        return "false"
    if isinstance(dt, T.TimestampType):
        return "TIMESTAMP '1970-01-01 00:00:00'"
    return None


# Calcite-style hint block right after SELECT: /*+ hintA(k=v, ...), ... */
_HINT_BLOCK_RE = re.compile(r"/\*\+\s*(.*?)\s*\*/", re.DOTALL)
_HINT_CALL_RE = re.compile(r"([A-Za-z_]\w*)\s*(?:\(([^()]*)\))?")


def _parse_hint_kv(body: str) -> dict[str, str]:
    out: dict[str, str] = {}
    for part in body.split(","):
        if "=" not in part:
            continue
        k, v = part.split("=", 1)
        out[k.strip().strip("'\"").lower()] = v.strip().strip("'\"")
    return out


def rewrite_pinot_hints(sql: str) -> str:
    """Map Pinot multistage query hints (PinotHintOptions.java:39-71,
    corpus QueryHints.json) onto Spark's join-strategy / repartition
    hints so the hint actually changes the executed plan:

    - ``joinOptions(join_strategy='hash'|'hash_table')`` →
      ``SHUFFLE_HASH(<right side of the first JOIN>)``
    - ``joinOptions(join_strategy='lookup'|'broadcast'|
      'dynamic_broadcast')`` → ``BROADCAST(<right side>)`` (lookup joins
      and Pinot's dynamic-broadcast semi are both broadcast shapes on
      Spark)
    - ``tableOptions(partition_key=..., partition_size=N |
      partition_parallelism=N)`` → ``REPARTITION(N, key)``
    - ``aggOptions(...)`` / ``skipLeafStageGroupByAggregation`` →
      recognized no-ops (Catalyst always plans partial/final aggregation;
      AQE re-plans at runtime) — dropped with a warning only when nothing
      else maps.
    """
    import warnings

    m = None
    for cand in _HINT_BLOCK_RE.finditer(sql):
        # literal-span-aware: ignore '/*+' inside string constants
        pos = 0
        inside_literal = False
        for is_lit, seg in _scan_strings(sql):
            if pos <= cand.start() < pos + len(seg):
                inside_literal = is_lit
                break
            pos += len(seg)
        if not inside_literal:
            m = cand
            break
    if not m:
        return sql
    body = m.group(1)
    spark_hints: list[str] = []
    recognized_noop = False
    i = 0
    while i < len(body):
        cm = _HINT_CALL_RE.match(body, i)
        if not cm or not cm.group(1):
            i += 1
            continue
        name = cm.group(1).lower()
        kv = _parse_hint_kv(cm.group(2) or "")
        if name == "joinoptions":
            strategy = kv.get("join_strategy", "").lower()
            # the hint may sit after the JOIN
            jt = next((r for r in _table_refs(sql) if r["kw"].upper() == "JOIN"), None)
            if jt is None:
                warnings.warn("joinOptions hint on a query with no JOIN; dropped")
            else:
                target = jt["alias"] or jt["table"]
                if strategy in ("hash", "hash_table"):
                    spark_hints.append(f"SHUFFLE_HASH({target})")
                elif strategy in ("lookup", "broadcast", "dynamic_broadcast"):
                    spark_hints.append(f"BROADCAST({target})")
                else:
                    warnings.warn(f"unknown join_strategy {strategy!r}; dropped")
        elif name == "tableoptions":
            key = kv.get("partition_key")
            n = kv.get("partition_size") or kv.get("partition_parallelism")
            if key and n and n.isdigit():
                spark_hints.append(f"REPARTITION({n}, {key})")
            else:
                recognized_noop = True
        elif name in ("aggoptions", "skipleafstagegroupbyaggregation"):
            recognized_noop = True
        else:
            warnings.warn(f"unknown Pinot hint {name!r} dropped")
        i = cm.end()
        while i < len(body) and body[i] in ", \n\t":
            i += 1
    # Pinot accepts hint blocks after SELECT *or* after a table reference
    # (corpus QueryHints.json uses `FROM tbl /*+ tableOptions(...) */`);
    # Spark only honors hints immediately after SELECT — so the original
    # block is removed in place and the mapped hints are inserted after
    # the first top-level SELECT.
    without = sql[: m.start()] + sql[m.end() :]
    if not spark_hints:
        if not recognized_noop:
            warnings.warn("Pinot hint block had no mappable hints; removed")
        return without
    sel = re.search(r"\bSELECT\b", without, re.IGNORECASE)
    if sel is None:
        warnings.warn("hint on a statement without SELECT; dropped")
        return without
    hint_str = " /*+ " + ", ".join(spark_hints) + " */"
    return without[: sel.end()] + hint_str + without[sel.end() :]


# ---------------------------------------------------------------------------
# engine facade
# ---------------------------------------------------------------------------


_FUNNEL_WINDOW_RE = re.compile(
    r"\bFUNNEL_?(?P<kind>MAX_?STEP|MATCH_?STEP|COMPLETE_?COUNT"
    r"|EVENTS_?FUNCTION_?EVAL|STEP_?DURATION_?STATS)\s*\(",
    re.IGNORECASE,
)
_FUNNEL_COUNT_RE = re.compile(r"\bFUNNEL_?COUNT\s*\(", re.IGNORECASE)
_FUNNEL_STMT_RE = re.compile(
    r"^\s*SELECT\s+(?P<select>.*?)\s+FROM\s+(?P<table>[A-Za-z_]\w*)"
    r"(?:\s+WHERE\s+(?P<where>.*?))?"
    r"\s+GROUP\s+BY\s+(?P<group>[A-Za-z_]\w*)\b(?P<tail>.*)$",
    re.IGNORECASE | re.DOTALL,
)
_FUNNEL_GLOBAL_STMT_RE = re.compile(
    r"^\s*SELECT\s+(?P<select>.*?)\s+FROM\s+(?P<table>[A-Za-z_]\w*)"
    r"(?:\s+WHERE\s+(?P<where>.*?))?"
    r"(?P<tail>\s+(?:ORDER\s+BY|LIMIT)\b.*)?$",
    re.IGNORECASE | re.DOTALL,
)


def rewrite_funnel_window(spark: SparkSession, sql: str) -> str:
    """Structural rewrite of the reference's windowed SQL funnel forms
    (FunnelBaseAggregationFunction.java:53-97 argument convention):

        SELECT <key>, FUNNEL{MAXSTEP|MATCHSTEP|COMPLETECOUNT}(
            tsExpr, windowSize, numSteps, step1, .., [mode, ..]) FROM t
        [WHERE p] GROUP BY <key> [HAVING/ORDER BY/LIMIT ...]

    The GROUP BY key is the correlation key; the call becomes the
    matching operators/funnel.py window operator over the (filtered)
    table — FUNNELMAXSTEP → funnel_max_step_window (int),
    FUNNELMATCHSTEP → the same window then the reference's 0/1 step
    array (FunnelMatchStepAggregationFunction.java:49-77),
    FUNNELCOMPLETECOUNT → funnel_completed_rounds_window (completed
    rounds per key) — materialized as a temp view keyed by <key>, and
    the statement is re-pointed at the view (HAVING degrades to WHERE —
    the aggregation already happened inside the operator)."""
    from pyspark.sql import functions as F

    from pinot_spark.operators.funnel import (
        funnel_completed_rounds_window,
        funnel_max_step_window,
    )

    spans = _literal_spans(sql)
    call = _FUNNEL_WINDOW_RE.search(sql)
    while call and any(a <= call.start() < b for a, b in spans):
        call = _FUNNEL_WINDOW_RE.search(sql, call.end())
    if not call:
        return sql
    # maxstep | matchstep | completecount | eventsfunctioneval
    kind = re.sub("_", "", call.group("kind")).lower()
    fname = f"FUNNEL{kind.upper()}"
    open_idx = sql.index("(", call.end() - 1)
    close_idx = _find_matching(sql, open_idx)
    args = _split_args(sql[open_idx + 1 : close_idx])
    if len(args) < 4:
        raise PinotSqlError(
            f"{fname} expects (timestampExpr, windowSize, numSteps, stepExpr, ...)"
        )
    ts_expr = rewrite_functions(args[0].strip())
    window_ms = int(args[1].strip().strip("'\""))
    num_steps = int(args[2].strip())
    if len(args) < 3 + num_steps:
        raise PinotSqlError(f"{fname}: {num_steps} step expressions expected")
    steps = [F.expr(rewrite_functions(a.strip())) for a in args[3 : 3 + num_steps]]
    extra_exprs: list[str] = []
    mode_args = args[3 + num_steps :]
    if kind == "eventsfunctioneval":
        # (ts, windowSize, numSteps, steps.., numExtraFields, extraExpr..,
        # modes..) — FunnelEventsFunctionEvalAggregationFunction.java:58-90
        if len(args) < 4 + num_steps:
            raise PinotSqlError(f"{fname}: numExtraFields argument expected")
        n_extra = int(args[3 + num_steps].strip())
        extra_exprs = [
            rewrite_functions(a.strip())
            for a in args[4 + num_steps : 4 + num_steps + n_extra]
        ]
        mode_args = args[4 + num_steps + n_extra :]
    modes: set[str] = set()
    duration_fns: list[str] = []
    max_step_duration = 0
    for extra in mode_args:
        e = extra.strip().strip("'\"").upper()
        if "=" in e:
            k, v = e.split("=", 1)
            if k.strip() == "MODE":
                modes |= {x.strip().lower() for x in v.split(",")}
            elif k.strip() == "DURATIONFUNCTIONS" and kind == "stepdurationstats":
                duration_fns = [x.strip() for x in v.split(",")]
            elif k.strip() == "MAXSTEPDURATION":
                max_step_duration = int(v.strip())
                if max_step_duration <= 0:
                    raise PinotSqlError(f"{fname}: MaxStepDuration must be > 0")
            else:
                raise PinotSqlError(f"{fname}: unsupported extra argument {e!r}")
        elif e:
            modes.add(e.lower())
    if max_step_duration and kind not in ("maxstep", "matchstep"):
        raise PinotSqlError(
            f"{fname}: maxStepDuration is wired for FUNNELMAXSTEP/"
            "FUNNELMATCHSTEP only"
        )
    if "keep_all" in modes and kind not in ("maxstep", "matchstep"):
        # the other kinds' operators drop non-matching events
        # unconditionally — silently ignoring KEEP_ALL would change
        # strict-mode results (FunnelBaseAggregationFunction.java:145)
        raise PinotSqlError(
            f"{fname}: keep_all is wired for FUNNELMAXSTEP/"
            "FUNNELMATCHSTEP only"
        )
    if kind == "stepdurationstats" and not duration_fns:
        raise PinotSqlError(
            "FUNNELSTEPDURATIONSTATS: 'DURATIONFUNCTIONS=avg,median,..' "
            "must be provided (reference contract)"
        )

    am = re.match(r"\s+AS\s+([A-Za-z_]\w*)", sql[close_idx + 1 :], re.IGNORECASE)
    default_alias = {
        "maxstep": "max_step", "matchstep": "match_step",
        "completecount": "complete_count",
        "eventsfunctioneval": "matched_events",
        "stepdurationstats": "duration_stats",
    }[kind]
    alias = am.group(1) if am else default_alias
    call_end = close_idx + 1 + (am.end() if am else 0)

    stmt = _FUNNEL_STMT_RE.match(sql)
    is_global = False
    if stmt:
        table, where, group = (
            stmt.group("table"), stmt.group("where"), stmt.group("group")
        )
    else:
        # global aggregation: the whole table is ONE funnel group
        # (WindowFunnelTest.testFunnelMaxStepQueries)
        gm = _FUNNEL_GLOBAL_STMT_RE.match(sql)
        if not gm:
            raise PinotSqlError(
                f"{fname} needs the shape SELECT [<key>,] {fname}(...) "
                "FROM <table> [WHERE ..] [GROUP BY <key>] — use "
                "operators/funnel.py for other statement shapes"
            )
        table, where, group = gm.group("table"), gm.group("where"), "__funnel_g"
        is_global = True

    df = spark.table(table)
    if is_global:
        df = df.withColumn("__funnel_g", F.lit(1))
    if where:
        df = df.filter(F.expr(rewrite_functions(where.strip())))
    # the operator orders by the raw time expression; project it if computed
    ts_col = ts_expr.strip()
    if not re.fullmatch(r"[A-Za-z_]\w*", ts_col):
        df = df.withColumn("__funnel_ts", F.expr(ts_col))
        ts_col = "__funnel_ts"
    if kind == "stepdurationstats":
        from pinot_spark.operators.funnel import funnel_step_duration_stats_window

        try:
            out = funnel_step_duration_stats_window(
                df, group, ts_col, window_ms, steps, duration_fns,
                modes or None, out_col=alias,
            )
        except ValueError as e:
            raise PinotSqlError(f"{fname}: {e}") from e
    elif kind == "eventsfunctioneval":
        from pinot_spark.operators.funnel import funnel_events_eval

        if modes:
            raise PinotSqlError(
                f"{fname}: only the default mode is wired in SQL — use "
                "operators/funnel.funnel_events_eval for mode variants"
            )
        extra_cols = []
        for i, ex in enumerate(extra_exprs):
            if re.fullmatch(r"[A-Za-z_]\w*", ex):
                extra_cols.append(ex)
            else:
                df = df.withColumn(f"__funnel_x{i}", F.expr(ex))
                extra_cols.append(f"__funnel_x{i}")
        out = funnel_events_eval(
            df, group, ts_col, window_ms, steps, extra_cols, out_col=alias
        )
    elif kind == "completecount":
        out = funnel_completed_rounds_window(
            df, group, ts_col, window_ms, steps, modes or None, out_col=alias
        )
    else:
        out = funnel_max_step_window(
            df, group, ts_col, window_ms, steps, modes or None,
            out_col="__ms" if kind == "matchstep" else alias,
            max_step_duration=max_step_duration,
        )
        if kind == "matchstep":
            out = out.select(
                group,
                F.expr(
                    f"transform(sequence(1, {num_steps}), "
                    f"i -> CAST(CASE WHEN i <= __ms THEN 1 ELSE 0 END AS INT))"
                ).alias(alias),
            )
    if is_global:
        out = out.drop("__funnel_g")
    _ASOF_VIEW_SEQ[0] += 1
    view = f"__funnel_{_ASOF_VIEW_SEQ[0]}"
    out.createOrReplaceTempView(view)

    # re-point the statement: call → alias column, FROM/GROUP BY → view
    new_sql = sql[: call.start()] + alias + sql[call_end:]
    stmt2 = (_FUNNEL_STMT_RE if not is_global else _FUNNEL_GLOBAL_STMT_RE).match(
        new_sql
    )
    tail = stmt2.group("tail") or ""
    tail = re.sub(r"^\s*HAVING\b", " WHERE", tail, flags=re.IGNORECASE)
    return f"SELECT {stmt2.group('select')} FROM {view}{tail}"


_FUNNEL_COUNT_STMT_RE = re.compile(
    r"^\s*SELECT\s+(?P<select>.*?)\s+FROM\s+(?P<table>[A-Za-z_]\w*)"
    r"(?:\s+WHERE\s+(?P<where>.*?))?"
    r"(?:\s+GROUP\s+BY\s+(?P<group>.+?))?"
    r"(?P<tail>\s+(?:HAVING|ORDER\s+BY|LIMIT)\b.*)?$",
    re.IGNORECASE | re.DOTALL,
)


def rewrite_funnel_count(spark: SparkSession, sql: str) -> str:
    """Structural rewrite of the reference's set-based funnel form
    (FunnelCountAggregationFunction.java:45-62):

        SELECT [dims ..,] FUNNEL_COUNT(
            STEPS(step1, .., stepN), CORRELATE_BY(key)
            [, SETTINGS('strategy', ..)]) [AS alias]
        FROM t [WHERE p] [GROUP BY dims] [HAVING/ORDER BY/LIMIT ...]

    Routed to operators/funnel.funnel_count (progressive set
    intersections, one shuffle per (dims, key)); dims may be plain
    columns, aliased select expressions, or select ordinals (the
    reference's ``GROUP BY 1``). SETTINGS strategy hints (bitmap / set /
    sorted / partitioned / theta_sketch) pick the reference's internal
    accumulator; the counts are the same, so they are accepted and
    ignored — this engine always serves the exact counts."""
    from pyspark.sql import functions as F

    from pinot_spark.operators.funnel import funnel_count

    spans = _literal_spans(sql)
    call = _FUNNEL_COUNT_RE.search(sql)
    while call and any(a <= call.start() < b for a, b in spans):
        call = _FUNNEL_COUNT_RE.search(sql, call.end())
    if not call:
        return sql
    open_idx = sql.index("(", call.end() - 1)
    close_idx = _find_matching(sql, open_idx)
    steps_exprs: list[str] | None = None
    key_expr: str | None = None
    for part in _split_args(sql[open_idx + 1 : close_idx]):
        m = re.match(r"\s*(STEPS|CORRELATE_BY|SETTINGS)\s*\(", part, re.IGNORECASE)
        if not m:
            raise PinotSqlError(
                "FUNNELCOUNT arguments must be STEPS(...), CORRELATE_BY(...)"
                " [, SETTINGS(...)]"
            )
        p_open = part.index("(", m.end() - 1)
        inner = part[p_open + 1 : _find_matching(part, p_open)]
        word = m.group(1).upper()
        if word == "STEPS":
            steps_exprs = _split_args(inner)
        elif word == "CORRELATE_BY":
            key_expr = inner.strip()
        # SETTINGS: accepted, ignored (docstring)
    if not steps_exprs or not key_expr:
        raise PinotSqlError("FUNNELCOUNT needs both STEPS(...) and CORRELATE_BY(...)")
    if not re.fullmatch(r"[A-Za-z_]\w*", key_expr):
        raise PinotSqlError("FUNNELCOUNT: CORRELATE_BY must name a single column")

    am = re.match(r"\s+AS\s+([A-Za-z_]\w*)", sql[close_idx + 1 :], re.IGNORECASE)
    alias = am.group(1) if am else "step_counts"
    call_end = close_idx + 1 + (am.end() if am else 0)
    new_sql = sql[: call.start()] + alias + sql[call_end:]

    stmt = _FUNNEL_COUNT_STMT_RE.match(new_sql)
    if not stmt:
        raise PinotSqlError(
            "FUNNELCOUNT needs the shape SELECT [dims ..,] FUNNEL_COUNT(...) "
            "FROM <table> [WHERE ..] [GROUP BY dims] — use operators/funnel.py "
            "for other statement shapes"
        )
    sel_items = [x.strip() for x in _split_args(stmt.group("select"))]
    group = stmt.group("group")
    # paren-aware split so dims like DATETRUNC('day', ts) stay whole
    group_dims = [g.strip() for g in _split_args(group)] if group else []

    def split_alias(item: str) -> tuple[str, str]:
        ma = re.match(r"(?s)^(.*?)\s+AS\s+([A-Za-z_]\w*)\s*$", item, re.IGNORECASE)
        if ma:
            return ma.group(1).strip(), ma.group(2)
        if re.fullmatch(r"[A-Za-z_]\w*", item):
            return item, item
        raise PinotSqlError(
            f"FUNNELCOUNT: GROUP BY dimension {item!r} must be a column, "
            "an aliased expression, or a select ordinal"
        )

    aliases = {split_alias(i)[1]: i for i in sel_items if i != alias}
    # a GROUP BY dim may also repeat an aliased select EXPRESSION verbatim
    # (e.g. GROUP BY DATETRUNC('day', ts) with SELECT DATETRUNC('day', ts)
    # AS d) — resolve it through the select list by normalized text.
    by_expr = {
        re.sub(r"\s+", "", split_alias(i)[0]).lower(): i
        for i in sel_items
        if i != alias
    }
    resolved: list[tuple[str, str]] = []
    for gdim in group_dims:
        if gdim.isdigit():
            item = sel_items[int(gdim) - 1]
        elif gdim in aliases:
            item = aliases[gdim]
        else:
            item = by_expr.get(re.sub(r"\s+", "", gdim).lower(), gdim)
        resolved.append(split_alias(item))

    df = spark.table(stmt.group("table"))
    where = stmt.group("where")
    if where:
        df = df.filter(F.expr(rewrite_functions(where.strip())))
    for expr_s, name in resolved:
        if expr_s != name:
            df = df.withColumn(name, F.expr(rewrite_functions(expr_s)))
    steps = [F.expr(rewrite_functions(x.strip())) for x in steps_exprs]
    out = funnel_count(
        df, key_expr, steps, out_col=alias, group_cols=[n for _, n in resolved]
    )
    _ASOF_VIEW_SEQ[0] += 1
    view = f"__funnel_{_ASOF_VIEW_SEQ[0]}"
    out.createOrReplaceTempView(view)

    dim_names = {n for _, n in resolved}
    new_items = []
    for item in sel_items:
        if item == alias:
            new_items.append(alias)
            continue
        _, name = split_alias(item)
        if name not in dim_names:
            raise PinotSqlError(
                f"FUNNELCOUNT: select item {item!r} is neither the funnel "
                "call nor a GROUP BY dimension — use operators/funnel.py"
            )
        new_items.append(name)
    tail = stmt.group("tail") or ""
    tail = re.sub(r"^\s*HAVING\b", " WHERE", tail, flags=re.IGNORECASE)
    return f"SELECT {', '.join(new_items)} FROM {view}{tail}"


_U_AMP_LIT_RE = re.compile(r"U&'((?:[^']|'')*)'", re.IGNORECASE)


def rewrite_unicode_literals(sql: str) -> str:
    """Decode SQL-standard ``U&'...'`` unicode-escape string constants
    (LexicalStructure.json corpus, psql 4.1.2.3): ``\\XXXX`` is a 4-hex
    escape, ``\\+XXXXXX`` a 6-hex escape, ``\\\\`` a literal backslash.
    The decoded text is re-emitted as a plain quoted literal."""

    def decode(m: re.Match) -> str:
        body = m.group(1)
        out, i = [], 0
        while i < len(body):
            c = body[i]
            if c == "\\":
                if body[i + 1 : i + 2] == "\\":
                    out.append("\\")
                    i += 2
                elif body[i + 1 : i + 2] == "+":
                    out.append(chr(int(body[i + 2 : i + 8], 16)))
                    i += 8
                else:
                    out.append(chr(int(body[i + 1 : i + 5], 16)))
                    i += 5
            else:
                out.append(c)
                i += 1
        return "'" + "".join(out).replace("'", "''") + "'"

    return _U_AMP_LIT_RE.sub(decode, sql)


_THETA_SQL_RE = re.compile(
    r"\b(DISTINCT_?COUNT_?RAW_?THETA_?SKETCH|GET_?THETA_?SKETCH_?ESTIMATE"
    r"|THETA_?SKETCH_?(?:DIFF|UNION|INTERSECT|TO_?STRING)|TO_?THETA_?SKETCH"
    r"|TO_?DATA_?SKETCHES_?(?:THETA|TUPLE)"
    r"|TO_?INTEGER_?SUM_?TUPLE_?SKETCH|GET_?INT_?TUPLE_?SKETCH_?ESTIMATE"
    r"|INT_?SUM_?TUPLE_?SKETCH_?(?:UNION|INTERSECT)"
    r"|DISTINCT_?COUNT_?(?:RAW_?INTEGER_?SUM_?)?TUPLE_?SKETCH"
    r"|(?:SUM_?VALUES|AVG_?VALUE)_?INTEGER_?SUM_?TUPLE_?SKETCH"
    r"|PERCENTILE_?RAW_?(?:EST|KLL|TDIGEST)(?:MV|_MV)?|GET_?TDIGEST_?QUANTILE"
    r"|DISTINCT_?COUNT_?RAW_?HLL(?:PLUS)?(?:MV|_MV)?|TO_?HLL|GET_?HLL_?ESTIMATE"
    r"|JSON_?EXTRACT_?KEY|DISTINCT_?COUNT_?(?:RAW_?)?ULL|TO_?ULL"
    r"|GET_?ULL_?ESTIMATE"
    r"|TO_?CLEARSPRING_?HLL(?:_?PLUS)?|HLL_?UNION"
    r"|TO_?DATA_?SKETCHES_?KLL|KLL_?MERGE|KLL_?QUANTILE"
    r"|FREQUENT_?(?:STRINGS|LONGS)_?(?:SKETCH|ESTIMATE)"
    r"|GET_?CPC_?SKETCH_?ESTIMATE|TO_?CPC_?SKETCH|CPC_?SKETCH_?UNION"
    r"|DISTINCT_?COUNT_?(?:RAW_?)?CPC_?SKETCH)\s*\(",
    re.IGNORECASE,
)
# WeakSet of SparkSession, not id(): a GC'd session's id can be
# reused by a new session, which would silently skip registration
# (ADVICE r13)
_THETA_UDF_SESSIONS: weakref.WeakSet = weakref.WeakSet()

# ---------------------------------------------------------------------------
# Two-phase raw theta/tuple aggregation — the KMV top-k and sketch-merge
# aggregates have no bounded single-expression form in native Spark SQL
# (there is no bounded top-k-distinct aggregate), so the canonical
# grouped statement is restructured into partial-per-bucket + final
# merge: the inner level groups by (keys, pmod(hash, fanout)), the outer
# level merges ≤ fanout bounded partial blobs per group. Same
# asymptotics as the reference's segment→broker merge
# (AggregationFunction.java:63,86,132) and the repo's two-phase distinct
# (operators/skew.py).
#
# TWO inner shapes, chosen by what else the statement aggregates:
#
# - PURE-SKETCH statements (no co-occurring COUNT/SUM/MIN/MAX/AVG): the
#   inner partial is a pandas GROUPED_AGG UDAF (__theta_partial /
#   __tuple_partial / __tdigest_partial / __hll_mv_partial) — the
#   persistent aggregation state IS the sketch blob at every level; the
#   bucket's rows only stream transiently through Arrow, bounded by the
#   fanout. This matches the reference's partial-state contract exactly.
#   Trade-off vs the native shape: pandas aggregation has no map-side
#   combine, so raw ROWS shuffle on (keys, bucket) — O(rows) shuffle
#   volume for O(sketch) memory, where collect_set shuffles O(distinct)
#   for O(distinct) memory. The zero-shuffle partition-local build
#   remains the DataFrame operator (operators/theta.theta_sketch,
#   mapInPandas + tree merge) — SQL text cannot express mapInPandas.
#
# - MIXED statements (sketch + basic aggregates in one SELECT): Spark
#   cannot place a pandas UDAF and a native aggregate in the same
#   aggregation (INVALID_PANDAS_UDF_PLACEMENT — verified on 4.1.2), so
#   since round 9 the statement SPLITS into two subqueries joined
#   null-safely on the group keys: the native aggregates stay a plain
#   grouped subquery (Catalyst partial/final, map-side combine); the raw
#   sketch calls take the same bounded GROUPED_AGG two-phase as
#   pure-sketch statements. Memory is sketch-bounded at every level on
#   BOTH sides — this retires the round-8 native-partial inner whose
#   collect_set BUFFER was O(distinct/fanout) per bucket. The trade is a
#   second scan of the source (a columnar re-read at 100 TB, not a
#   buffer blowup; the reference pays one pass with sketch state,
#   AggregationFunction.java:63,86,132).
#
# Non-canonical statements (set ops/window/subquery-SELECT) route
# through rewrite_raw_sketch_inexpr_udaf below; only mixed-aggregate
# non-canonical statements remain on the per-value fallback entries.
# ---------------------------------------------------------------------------

_RAW_SKETCH_CALL_RE = re.compile(
    r"\b(?P<name>DISTINCT_?COUNT_?RAW_?THETA_?SKETCH"
    r"|DISTINCT_?COUNT_?RAW_?INTEGER_?SUM_?TUPLE_?SKETCH"
    r"|SUM_?VALUES_?INTEGER_?SUM_?TUPLE_?SKETCH"
    r"|AVG_?VALUE_?INTEGER_?SUM_?TUPLE_?SKETCH"
    r"|DISTINCT_?COUNT_?TUPLE_?SKETCH"
    r"|DISTINCT_?COUNT_?RAW_?HLL(?:_?PLUS)?_?MV"
    r"|FREQUENT_?STRINGS_?SKETCH|FREQUENT_?LONGS_?SKETCH"
    r"|PERCENTILE_?RAW_?(?:EST|KLL|TDIGEST)_?MV)\s*\(",
    re.IGNORECASE,
)
# raw-sketch names that can appear in WINDOW position (superset of
# _RAW_SKETCH_CALL_RE: adds the plain HLL/HLLPLUS/ULL and non-MV
# percentile-raw forms, whose grouped fallbacks are bounded but whose
# naive OVER() substitution Spark rejects — the scalar wrapper around
# collect_set cannot carry a window spec)
_RAW_WINDOW_CALL_RE = re.compile(
    r"\b(?P<name>DISTINCT_?COUNT_?RAW_?THETA_?SKETCH"
    r"|DISTINCT_?COUNT_?RAW_?INTEGER_?SUM_?TUPLE_?SKETCH"
    r"|SUM_?VALUES_?INTEGER_?SUM_?TUPLE_?SKETCH"
    r"|AVG_?VALUE_?INTEGER_?SUM_?TUPLE_?SKETCH"
    r"|DISTINCT_?COUNT_?TUPLE_?SKETCH"
    r"|DISTINCT_?COUNT_?RAW_?HLL(?:_?PLUS)?(?:_?MV)?"
    r"|DISTINCT_?COUNT_?RAW_?ULL"
    r"|FREQUENT_?STRINGS_?SKETCH|FREQUENT_?LONGS_?SKETCH"
    r"|DISTINCT_?COUNT_?(?:RAW_?)?CPC_?SKETCH"
    r"|PERCENTILE_?RAW_?(?:EST|KLL|TDIGEST)(?:_?MV)?)\s*\(",
    re.IGNORECASE,
)
def _parse_running_over(over_body: str):
    """Parse a raw-sketch window's OVER body into ``(partition_exprs,
    order_items, mode)`` — mode is ``unbounded`` (no ORDER BY / no
    frame: the per-partition grouped route serves it), ``rows`` /
    ``range`` (running frames ending at CURRENT ROW; ``range`` means
    peer rows tied on every ORDER BY key share one value — the SQL
    default ordered frame), or ``all`` (UNBOUNDED PRECEDING ..
    UNBOUNDED FOLLOWING: whole-partition value on an ordered window).
    order_items are ``(expr, ascending, nulls_first)`` with Spark's
    default null ordering (ASC→NULLS FIRST, DESC→NULLS LAST — the
    semantics every other window in this engine inherits from Spark).
    Round 12 adds ``rows_sliding:N`` (ROWS N PRECEDING .. CURRENT ROW:
    per-row rebuild bounded by the frame width) and serves shrinking
    CURRENT ROW .. UNBOUNDED FOLLOWING frames as the running frame on
    the REVERSED order (order_items come back flipped).  Value-based
    RANGE N PRECEDING and two-sided N PRECEDING .. M FOLLOWING frames
    still raise loudly."""
    s = over_body.strip()
    if not s:
        return [], [], "unbounded"
    spans = _literal_spans(s)
    kw_re = re.compile(
        r"(PARTITION\s+BY|ORDER\s+BY|ROWS|RANGE|GROUPS)\b", re.IGNORECASE
    )
    marks = []
    depth = 0
    i = 0
    while i < len(s):
        if any(a <= i < b for a, b in spans):
            i += 1
            continue
        c = s[i]
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif depth == 0 and (
            i == 0 or not (s[i - 1].isalnum() or s[i - 1] == "_")
        ):
            m = kw_re.match(s, i)
            if m:
                marks.append(
                    (re.sub(r"\s+", " ", m.group(1)).upper(), i, m.end())
                )
                i = m.end()
                continue
        i += 1
    if not marks or marks[0][1] != 0:
        raise NotImplementedError(
            "RAW sketch window aggregates accept only OVER bodies built "
            "from PARTITION BY / ORDER BY / a frame clause (or the "
            "global OVER ())"
        )
    segs: dict[str, str] = {}
    for j, (kw, _start, kend) in enumerate(marks):
        end = marks[j + 1][1] if j + 1 < len(marks) else len(s)
        segs[kw] = s[kend:end].strip()
    if "GROUPS" in segs:
        raise NotImplementedError(
            "RAW sketch windows do not support GROUPS frames"
        )
    pexprs = (
        [e.strip() for e in _split_args(segs["PARTITION BY"])]
        if "PARTITION BY" in segs
        else []
    )
    order_items: list[tuple[str, bool, bool]] = []
    if "ORDER BY" in segs:
        for item in _split_args(segs["ORDER BY"]):
            it = item.strip()
            asc = True
            nf = None
            m = re.search(r"\bNULLS\s+(FIRST|LAST)\s*$", it, re.IGNORECASE)
            if m:
                nf = m.group(1).upper() == "FIRST"
                it = it[: m.start()].strip()
            m = re.search(r"\b(ASC|DESC)\s*$", it, re.IGNORECASE)
            if m:
                asc = m.group(1).upper() == "ASC"
                it = it[: m.start()].strip()
            if nf is None:
                nf = asc
            order_items.append((it, asc, nf))
    frame_kw = "ROWS" if "ROWS" in segs else ("RANGE" if "RANGE" in segs else None)
    if frame_kw is None:
        if not order_items:
            return pexprs, [], "unbounded"
        return pexprs, order_items, "range"  # SQL default ordered frame
    ft = re.sub(r"\s+", " ", segs[frame_kw]).strip().upper()
    if ft == "BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING":
        return pexprs, order_items, "all"
    if ft in ("UNBOUNDED PRECEDING", "BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"):
        if not order_items:
            raise NotImplementedError(
                "a running ROWS/RANGE frame on a RAW sketch window "
                "requires ORDER BY"
            )
        return pexprs, order_items, "rows" if frame_kw == "ROWS" else "range"
    # SLIDING ROWS frames (round 12): `ROWS [BETWEEN] N PRECEDING [AND
    # CURRENT ROW]` — sketches never retract, so each row REBUILDS its
    # sketch from the ≤ N+1 buffered token tuples: O(frame) work and
    # state per row, bounded by the user's own frame width.  RANGE
    # N PRECEDING (value-based sliding) stays a loud boundary.
    m = re.fullmatch(
        r"(?:BETWEEN )?(\d+) PRECEDING(?: AND CURRENT ROW)?", ft
    )
    if m and frame_kw == "ROWS":
        if not order_items:
            raise NotImplementedError(
                "a sliding ROWS frame on a RAW sketch window requires "
                "ORDER BY"
            )
        return pexprs, order_items, f"rows_sliding:{int(m.group(1))}"
    # SHRINKING frames (round 12): `BETWEEN CURRENT ROW AND UNBOUNDED
    # FOLLOWING` is the running frame on the REVERSED order — flip every
    # ORDER BY direction (ASC NULLS FIRST ↔ DESC NULLS LAST) and
    # accumulate forward; RANGE peers tie identically in either
    # direction, so the peer-block semantics carry over unchanged.
    if ft == "BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING":
        if not order_items:
            raise NotImplementedError(
                "a shrinking ROWS/RANGE frame on a RAW sketch window "
                "requires ORDER BY"
            )
        flipped = [(e, not asc, not nf) for e, asc, nf in order_items]
        return pexprs, flipped, "rows" if frame_kw == "ROWS" else "range"
    raise NotImplementedError(
        f"RAW sketch aggregates cannot serve the window frame "
        f"'{frame_kw} {segs[frame_kw]}': sketch states never retract, so "
        f"frame starts must be UNBOUNDED PRECEDING, a fixed ROWS "
        f"`N PRECEDING` (bounded per-row rebuild), or CURRENT ROW with "
        f"an UNBOUNDED FOLLOWING end (reversed running)"
    )


_DISTINCT_WINDOW_RE = re.compile(
    r"\bDISTINCT_?COUNT(?:_?BITMAP)?\s*\(", re.IGNORECASE
)


def rewrite_distinct_window_aggs(sql: str) -> str:
    """ENGINE EXTENSION: exact ``DISTINCTCOUNT[BITMAP](x) OVER (...)``
    → ``size(collect_set(x) OVER (...))``.  Spark rejects DISTINCT
    window aggregates outright (DISTINCT_WINDOW_FUNCTION_UNSUPPORTED)
    and the reference's window factory serves only
    COUNT/SUM/MIN/MAX/AVG/BOOLAND/BOOLOR (pinot-query-runtime/.../
    window/aggregate/WindowValueAggregatorFactory.java:52-71 throws
    for everything else) — but collect_set IS a supported Spark window
    function, nulls drop exactly as DISTINCTCOUNT drops them, and
    ordered frames give the exact running distinct count.  State is
    one distinct-value set per frame — the inherent cost of the exact
    answer; the sketch-bounded alternative is the RAW-sketch window
    route."""
    hits = []
    spans = _literal_spans(sql)
    for m in _DISTINCT_WINDOW_RE.finditer(sql):
        if any(a <= m.start() < b for a, b in spans):
            continue
        close = _find_matching(sql, m.end() - 1)
        om = re.match(r"\s*OVER\s*\(", sql[close + 1 :], re.IGNORECASE)
        if not om:
            continue
        oopen = close + 1 + om.end() - 1
        oclose = _find_matching(sql, oopen)
        hits.append((m.start(), m.end(), close, oopen, oclose))
    out = sql
    for start, aopen, close, oopen, oclose in reversed(hits):
        arg = sql[aopen:close]
        body = sql[oopen + 1 : oclose]
        out = (
            out[:start]
            + f"size(collect_set({arg}) OVER ({body}))"
            + out[oclose + 1 :]
        )
    return out


_BASIC_AGG_CALL_RE = re.compile(r"\b(?P<name>COUNT|SUM|MIN|MAX|AVG)\s*\(", re.IGNORECASE)
# scalar wrappers allowed around the hoisted aggregates in the outer
# level, plus the final-merge machinery hoisting itself introduces
# (sum/count/min/max over the __ag partials)
_RS_SCALAR_ALLOW = {
    "getthetasketchestimate", "thetasketchdiff", "thetasketchunion",
    "thetasketchintersect", "thetasketchtostring",
    "getinttuplesketchestimate", "round", "cast", "abs", "coalesce",
    "sum", "count", "min", "max",
    "gethllestimate", "getullestimate", "gettdigestquantile",
    "toclearspringhll", "toclearspringhllplus", "hllunion",
    "todatasketcheskll", "kllmerge", "kllquantile",
    "frequentstringsestimate", "frequentlongsestimate",
    "getcpcsketchestimate",
    # structural SQL keywords the call-shaped regex also matches when a
    # paren follows (AND (expr), CASE WHEN (..) ...) — not functions
    "and", "or", "not", "in", "when", "then", "else", "case", "between",
    "like", "is", "exists",
}
_RS_FANOUT = int(os.environ.get("PINOT_SPARK_RAW_SKETCH_FANOUT", "256"))


def _strip_raw_calls(s: str) -> str:
    """Excise every raw-sketch call span (name through matching close
    paren) so co-occurring aggregate detection can't be confused by
    aggregate-looking text inside the sketch arguments."""
    out, i = [], 0
    spans = _literal_spans(s)
    while True:
        m = _RAW_SKETCH_CALL_RE.search(s, i)
        while m and any(a <= m.start() < b for a, b in spans):
            m = _RAW_SKETCH_CALL_RE.search(s, m.end())
        if not m:
            out.append(s[i:])
            break
        open_idx = s.index("(", m.end() - 1)
        close_idx = _find_matching(s, open_idx)
        out.append(s[i : m.start()])
        i = close_idx + 1
    return "".join(out)


def _search_outside_literals(pattern: re.Pattern, s: str):
    spans = _literal_spans(s)
    m = pattern.search(s)
    while m and any(a <= m.start() < b for a, b in spans):
        m = pattern.search(s, m.end())
    return m


def _split_hash_expr(a0: str) -> tuple[str, str]:
    """NULL-masked xxhash64 of a value expression, SPLIT into hi/lo
    32-bit halves — a nullable BIGINT reaches a pandas UDAF as float64,
    which cannot hold a 64-bit hash exactly; the halves can."""
    h = (
        "CASE WHEN {0} IS NULL THEN CAST(NULL AS BIGINT) "
        "ELSE xxhash64({0}) END".format(a0)
    )
    return f"shiftrightunsigned({h}, 32)", f"({h}) & 4294967295"


_RS_CLAUSE_RE = re.compile(
    r"(?i)(SELECT|FROM|WHERE|GROUP\s+BY|HAVING|ORDER\s+BY|LIMIT"
    r"|UNION|INTERSECT|EXCEPT|JOIN)\b"
)


def _top_level_clauses(body: str) -> list[tuple[str, int, int]] | None:
    """(keyword, start, end-of-keyword) for every TOP-LEVEL SQL clause
    keyword — parens and string literals are tracked explicitly, so a
    GROUP BY inside a subquery or a ' FROM ' inside a literal can never
    register as a clause boundary (the failure modes of regex
    backtracking). Returns None on unbalanced parens."""
    spans = _literal_spans(body)
    span_at = {a: b for a, b in spans}
    out: list[tuple[str, int, int]] = []
    depth = 0
    i, n = 0, len(body)
    while i < n:
        if i in span_at:
            i = span_at[i]
            continue
        c = body[i]
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
            if depth < 0:
                return None
        elif depth == 0 and (c.isalpha() or c == "_"):
            if i == 0 or not (body[i - 1].isalnum() or body[i - 1] == "_"):
                m = _RS_CLAUSE_RE.match(body, i)
                if m:
                    out.append(
                        (re.sub(r"\s+", " ", m.group(1)).upper(), i, m.end())
                    )
                    i = m.end()
                    continue
            j = i + 1
            while j < n and (body[j].isalnum() or body[j] == "_"):
                j += 1
            i = j
            continue
        i += 1
    return out if depth == 0 else None


def _hoist_having_grouping(sql: str) -> str | None:
    """``HAVING ... GROUPING[_ID](x) ...`` with x not in the SELECT
    list → project the grouping calls in a derived table and filter
    outside (Spark resolves HAVING against the aggregate output only;
    Pinot/Calcite resolve against the grouping context)."""
    stmt = _parse_canonical_stmt(sql, allow_join=True)
    if stmt is None or not stmt.get("having") or not stmt.get("group"):
        return None
    having = stmt["having"]
    g_exprs: list[tuple[str, str]] = []
    pat = re.compile(r"\bGROUPING(?:_ID)?\s*\(", re.IGNORECASE)
    pos = 0
    while True:
        m = pat.search(having, pos)
        if not m:
            break
        open_idx = having.index("(", m.start())
        close = _find_matching(having, open_idx)
        expr = having[m.start() : close + 1]
        alias = f"__gs_h{len(g_exprs)}"
        g_exprs.append((expr, alias))
        having = having[: m.start()] + alias + having[close + 1 :]
        pos = m.start() + len(alias)
    if not g_exprs:
        return None
    proj = ", ".join(f"{e} AS {a}" for e, a in g_exprs)
    inner = (
        f"SELECT {stmt['select']}, {proj} FROM {stmt['table']}"
        + (f" WHERE {stmt['where']}" if stmt["where"] else "")
        + f" GROUP BY {stmt['group']}"
    )
    drop = ", ".join(a for _, a in g_exprs)
    return (
        f"SELECT * EXCEPT ({drop}) FROM ({inner}) WHERE {having}"
        + (f" {stmt['tail']}" if stmt["tail"] else "")
    )


def _parse_canonical_stmt(
    sql: str, allow_join: bool = False
) -> dict[str, str | None] | None:
    """Recognize the canonical grouped-aggregate statement ``SELECT ...
    FROM <src> [WHERE ...] [GROUP BY ...] [HAVING ...] [ORDER BY ...]
    [LIMIT n]`` via top-level clause spans (paren- and literal-aware —
    the round-8 replacement for the backtracking ``_RS_STMT_RE`` regex).
    Returns {"select", "table", "where", "group", "having", "tail"} or
    None for any other shape (set ops; joins/subquery-FROM/aliases
    decline unless ``allow_join``, in which case the whole FROM source
    text — joins, aliases and all — is carried verbatim into "table"
    for the caller to re-emit)."""
    body = sql.strip().rstrip(";").strip()
    kws = _top_level_clauses(body)
    if not kws or kws[0][0] != "SELECT" or kws[0][1] != 0:
        return None
    names = [k[0] for k in kws]
    if any(n in ("UNION", "INTERSECT", "EXCEPT") for n in names):
        return None
    if "JOIN" in names:
        if not allow_join:
            return None
        # JOIN keywords are part of the FROM source text, not clause
        # boundaries — drop them so FROM spans the whole join tree
        kws = [k for k in kws if k[0] != "JOIN"]
        names = [k[0] for k in kws]
    order = ["SELECT", "FROM", "WHERE", "GROUP BY", "HAVING", "ORDER BY", "LIMIT"]
    if "FROM" not in names or any(n not in order for n in names):
        return None
    ranks = [order.index(n) for n in names]
    if ranks != sorted(ranks) or len(set(ranks)) != len(ranks):
        return None
    bounds: dict[str, tuple[int, int]] = {}
    for i, (name, start, kw_end) in enumerate(kws):
        clause_end = kws[i + 1][1] if i + 1 < len(kws) else len(body)
        bounds[name] = (kw_end, clause_end)
    table_txt = body[bounds["FROM"][0] : bounds["FROM"][1]].strip()
    if not allow_join and not re.fullmatch(r"[A-Za-z_]\w*", table_txt):
        return None  # subqueries, aliases, comma-joins all decline
    tail = None
    for t in ("ORDER BY", "LIMIT"):
        if t in bounds:
            kw_start = next(s for n, s, _ in kws if n == t)
            tail = " " + body[kw_start:]
            break
    return {
        "select": body[bounds["SELECT"][0] : bounds["SELECT"][1]].strip(),
        "table": table_txt,
        "where": (
            body[bounds["WHERE"][0] : bounds["WHERE"][1]].strip()
            if "WHERE" in bounds
            else None
        ),
        "group": (
            body[bounds["GROUP BY"][0] : bounds["GROUP BY"][1]].strip()
            if "GROUP BY" in bounds
            else None
        ),
        "having": (
            body[bounds["HAVING"][0] : bounds["HAVING"][1]].strip()
            if "HAVING" in bounds
            else None
        ),
        "tail": tail,
    }


def _rs_pandas_forms(name: str, args: list[str], n: int) -> tuple[str, str]:
    """(inner partial expr, outer final-merge expr over ``__rs{n}``) for
    the GROUPED_AGG pandas path — the aggregation state IS the sketch
    blob at every level (the reference's partial-state contract,
    AggregationFunction.java:63,86,132)."""
    a0 = args[0].strip()
    if name in ("distinctcountrawhllmv", "distinctcountrawhllplusmv"):
        if _HLL_WIRE != "engine":
            if name == "distinctcountrawhllplusmv":
                p, sp = _hllpp_params(args)
                pairs_arr = f"__cs_hllpp_pairs_arr({a0}, typeof({a0}), {p})"
                return (
                    f"__cs_hllpp_mv_partial({pairs_arr}, {p}, {sp})",
                    f"__cs_hll_merge_blobs(collect_list(__rs{n}))",
                )
            log2m = (
                int(args[1].strip())
                if len(args) > 1 and args[1].strip().isdigit()
                else 8
            )
            return (
                f"__cs_hll_mv_partial({_cs_hll_pairs_arr_sql(a0, log2m)}, {log2m})",
                f"__cs_hll_merge_blobs(collect_list(__rs{n}))",
            )
        log2m = (
            int(args[1].strip())
            if name == "distinctcountrawhllmv"
            and len(args) > 1 and args[1].strip().isdigit()
            else 8
        )
        pair = _hll_pair_expr("x", log2m)
        pairs_arr = (
            "array_distinct(transform(filter({0}, "
            "x -> x IS NOT NULL), x -> {1}))".format(a0, pair)
        )
        return (
            f"__hll_mv_partial({pairs_arr}, {log2m})",
            f"__hll_merge_blobs(collect_list(__rs{n}))",
        )
    if name in ("percentilerawestmv", "percentilerawkllmv", "percentilerawtdigestmv"):
        return (
            f"__tdigest_partial({a0})",
            f"__tdigest_merge(collect_list(__rs{n}))",
        )
    if name == "distinctcountrawthetasketch":
        k = _theta_nominal_entries(args)
        hi, lo = _split_hash_expr(a0)
        return (
            f"__theta_partial({hi}, {lo}, {k})",
            f"__theta_merge_blobs(collect_list(__rs{n}))",
        )
    if name in ("frequentstringssketch", "frequentlongssketch"):
        mm = (
            args[1].strip()
            if len(args) > 1 and args[1].strip().isdigit()
            else "256"
        )
        fl = "str" if name == "frequentstringssketch" else "long"
        return (
            f"__freq_{fl}_partial({a0}, {mm})",
            f"__freq_{fl}_merge(collect_list(__rs{n}))",
        )
    merged = f"__tuple_merge_sum(collect_list(__rs{n}))"
    return (
        f"__tuple_partial({a0})",
        {
            "distinctcountrawintegersumtuplesketch": merged,
            "distinctcounttuplesketch": f"__tuple_estimate({merged})",
            "sumvaluesintegersumtuplesketch": f"__tuple_sum_values({merged})",
            "avgvalueintegersumtuplesketch": f"__tuple_avg_value({merged})",
        }[name],
    )


_TUPLE_RAW_NAMES = {
    "distinctcountrawintegersumtuplesketch", "distinctcounttuplesketch",
    "sumvaluesintegersumtuplesketch", "avgvalueintegersumtuplesketch",
}


def _parse_tuple_build(a0: str):
    """``TO_INTEGER_SUM_TUPLE_SKETCH(key, val[, lgK])`` call text →
    (key expr, value expr, nominal k) or None when ``a0`` is anything
    else (a pre-built blob column, a nested expression, ...)."""
    a0 = a0.strip()
    m = re.match(r"(?i)^TO_?INTEGER_?SUM_?TUPLE_?SKETCH\s*\(", a0)
    if not m:
        return None
    open_idx = a0.index("(", m.end() - 1)
    close_idx = _find_matching(a0, open_idx)
    if close_idx != len(a0) - 1:
        return None
    args = _split_args(a0[open_idx + 1 : close_idx])
    if len(args) < 2:
        return None
    k = 2 ** int(args[2]) if len(args) > 2 and args[2].strip().isdigit() else 4096
    return args[0].strip(), args[1].strip(), k


def _zs_descriptor(name: str, args: list[str]):
    """Zero-shuffle call descriptor for the grouped-partials route:
    ("theta", a0, k), ("tuple", key, val, k), ("hll", arr, log2m),
    ("tdigest", arr), or None (not routable)."""
    if name == "distinctcountrawthetasketch":
        return ("theta", args[0].strip(), _theta_nominal_entries(args))
    if name in _TUPLE_RAW_NAMES:
        p = _parse_tuple_build(args[0])
        if p:
            return ("tuple", p[0], p[1], p[2])
    if name in ("distinctcountrawhllmv", "distinctcountrawhllplusmv"):
        if _HLL_WIRE != "engine":
            if name == "distinctcountrawhllplusmv":
                p, sp = _hllpp_params(args)
                return ("cs_hllpp", args[0].strip(), p, sp)
            log2m = (
                int(args[1].strip())
                if len(args) > 1 and args[1].strip().isdigit()
                else 8
            )
            return ("cs_hll", args[0].strip(), log2m)
        log2m = (
            int(args[1].strip())
            if name == "distinctcountrawhllmv"
            and len(args) > 1 and args[1].strip().isdigit()
            else 8
        )
        return ("hll", args[0].strip(), log2m)
    if name in ("percentilerawestmv", "percentilerawkllmv", "percentilerawtdigestmv"):
        return ("tdigest", args[0].strip())
    if name in ("frequentstringssketch", "frequentlongssketch"):
        mm = (
            int(args[1].strip())
            if len(args) > 1 and args[1].strip().isdigit()
            else 256
        )
        kind = "freq_str" if name == "frequentstringssketch" else "freq_long"
        return (kind, args[0].strip(), mm)
    return None


def _zs_final(name: str, col: str) -> str:
    """Final merge expression over a partials-view blob column for the
    given raw-sketch canonical name."""
    if name == "distinctcountrawthetasketch":
        return f"__theta_merge_blobs(collect_list({col}))"
    if name in ("distinctcountrawhllmv", "distinctcountrawhllplusmv"):
        if _HLL_WIRE != "engine":
            return f"__cs_hll_merge_blobs(collect_list({col}))"
        return f"__hll_merge_blobs(collect_list({col}))"
    if name in ("percentilerawestmv", "percentilerawkllmv", "percentilerawtdigestmv"):
        return f"__tdigest_merge(collect_list({col}))"
    if name == "frequentstringssketch":
        return f"__freq_str_merge(collect_list({col}))"
    if name == "frequentlongssketch":
        return f"__freq_long_merge(collect_list({col}))"
    merged = f"__tuple_merge_sum(collect_list({col}))"
    return {
        "distinctcountrawintegersumtuplesketch": merged,
        "distinctcounttuplesketch": f"__tuple_estimate({merged})",
        "sumvaluesintegersumtuplesketch": f"__tuple_sum_values({merged})",
        "avgvalueintegersumtuplesketch": f"__tuple_avg_value({merged})",
    }[name]


def _alias_map_of(items: list[str]) -> dict[str, str]:
    """select alias → aliased expression text."""
    out = {}
    for item in items:
        am = re.match(r"(?s)^(.*?)\s+AS\s+([A-Za-z_]\w*)\s*$", item, re.IGNORECASE)
        if am:
            out[am.group(2)] = am.group(1).strip()
    return out


def _keys_shadowed_by_alias(keys: list[str], items: list[str]) -> bool:
    """True when a GROUP BY key token is really a select ALIAS of some
    other expression — copying such a key into a generated subquery
    would emit SQL that parses but cannot resolve (the round-9 latent
    bug class; the engine normalizes these shapes before the text
    rewrites run, so the text layer declines them)."""
    amap = {a.lower(): e for a, e in _alias_map_of(items).items()}
    # Spark resolves identifiers case-insensitively: GROUP BY K hits
    # alias k, so the shadow check must compare folded names too
    return any(
        k.lower() in amap and amap[k.lower()].lower() != k.lower() for k in keys
    )


def _replace_word_outside_literals(text: str, word: str, repl: str) -> str:
    spans = _literal_spans(text)
    out, i = [], 0
    for m in re.finditer(r"\b%s\b" % re.escape(word), text):
        if any(a <= m.start() < b for a, b in spans):
            continue
        out.append(text[i : m.start()])
        out.append(repl)
        i = m.end()
    out.append(text[i:])
    return "".join(out)


def rewrite_raw_sketch_two_phase(sql: str) -> str:
    """Restructure ``SELECT [keys,] ...RAW_THETA/TUPLE_SKETCH aggs...
    FROM t [WHERE] [GROUP BY keys] [ORDER BY/LIMIT]`` into the bounded
    two-phase shape (see block comment). Returns the SQL unchanged when
    the statement doesn't match the canonical shape."""
    if not _RAW_SKETCH_CALL_RE.search(sql):
        return sql
    if re.search(r"\bOVER\s*\(", sql, re.IGNORECASE):
        return sql
    # joins allowed since round 8: the FROM source text (join tree,
    # aliases, subqueries) carries verbatim into the inner level, so
    # post-JOIN grouped raw sketches get the same bucketed partials
    stmt = _parse_canonical_stmt(sql, allow_join=True)
    if stmt is None:
        return sql
    group = stmt["group"]
    keys = [g.strip() for g in _split_args(group)] if group else []
    if any(not re.fullmatch(r"[A-Za-z_]\w*", k) for k in keys):
        return sql

    items = [x.strip() for x in _split_args(stmt["select"])]
    if _keys_shadowed_by_alias(keys, items):
        return sql  # alias keys normalize at the engine; decline here
    # shape decision: pure-sketch statements become a single two-phase
    # statement (GROUPED_AGG partials, sketch-sized aggregation state);
    # statements that also aggregate natively split into two subqueries
    # joined on the group keys (no pandas/native mixing in one SELECT)
    has_basic = any(
        _search_outside_literals(_BASIC_AGG_CALL_RE, _strip_raw_calls(item))
        for item in items + ([stmt["having"]] if stmt["having"] else [])
    )
    if has_basic:
        return _rewrite_mixed_split(sql, stmt, keys, items)
    partials: list[str] = []
    placeholders: dict[str, str] = {}
    bucket_arg: list[str] = []
    seq = [0]

    def hoist_raw(item: str) -> str:
        out = []
        i = 0
        spans = _literal_spans(item)
        while True:
            m = _RAW_SKETCH_CALL_RE.search(item, i)
            while m and any(a <= m.start() < b for a, b in spans):
                m = _RAW_SKETCH_CALL_RE.search(item, m.end())
            if not m:
                out.append(item[i:])
                break
            open_idx = item.index("(", m.end() - 1)
            close_idx = _find_matching(item, open_idx)
            args = _split_args(item[open_idx + 1 : close_idx])
            name = re.sub("_", "", m.group("name")).lower()
            n = seq[0]
            seq[0] += 1
            if not bucket_arg:
                bucket_arg.append(args[0].strip())
            partial, outer = _rs_pandas_forms(name, args, n)
            partials.append(f"{partial} AS __rs{n}")
            ph = f"__RSPH{n}__"
            placeholders[ph] = outer
            out.append(item[i : m.start()])
            out.append(ph)
            i = close_idx + 1
        return "".join(out)

    rebuilt: list[str] = []
    for item in items:
        am = re.match(r"(?s)^(.*?)\s+AS\s+([A-Za-z_]\w*)\s*$", item, re.IGNORECASE)
        expr, alias = (am.group(1), am.group(2)) if am else (item, None)
        if expr.strip() in keys:
            rebuilt.append(item)
            continue
        expr2 = hoist_raw(expr)
        # every remaining call must be an allowed scalar wrapper
        for cm in re.finditer(r"\b([A-Za-z_][A-Za-z0-9_]*)\s*\(", expr2):
            if re.sub("_", "", cm.group(1)).lower() not in _RS_SCALAR_ALLOW:
                return sql
        rebuilt.append(expr2 + (f" AS {alias}" if alias else ""))
    having2 = stmt["having"]
    if having2:
        # the HAVING predicate rides on the OUTER aggregation: its raw
        # calls hoist exactly like select items (alias references pass
        # through — Spark resolves select aliases in HAVING)
        having2 = hoist_raw(having2)
        for cm in re.finditer(r"\b([A-Za-z_][A-Za-z0-9_]*)\s*\(", having2):
            if re.sub("_", "", cm.group(1)).lower() not in _RS_SCALAR_ALLOW:
                return sql
    if not placeholders:
        return sql
    for ph, outer in placeholders.items():
        rebuilt = [x.replace(ph, outer) for x in rebuilt]
        if having2:
            having2 = having2.replace(ph, outer)

    bucket = f"pmod(xxhash64({bucket_arg[0]}), {_RS_FANOUT})"
    inner_select = ", ".join(keys + partials)
    inner_group = ", ".join(keys + [bucket])
    where = stmt["where"]
    inner = (
        f"SELECT {inner_select} FROM {stmt['table']}"
        + (f" WHERE {where}" if where else "")
        + f" GROUP BY {inner_group}"
    )
    outer_group = f" GROUP BY {', '.join(keys)}" if keys else ""
    having_sql = f" HAVING {having2}" if having2 else ""
    tail = stmt["tail"] or ""
    return (
        f"SELECT {', '.join(rebuilt)} FROM ({inner}) "
        f"__rs_partials{outer_group}{having_sql}{tail}"
    )


def _rewrite_mixed_split(
    sql: str,
    stmt: dict[str, str | None],
    keys: list[str],
    items: list[str],
    theta_view_builder=None,
) -> str:
    """MIXED raw-sketch statements (native aggregates + raw sketch names
    in one SELECT/HAVING) split into two subqueries joined NULL-SAFELY
    on the group keys: the native aggregates stay a plain grouped
    subquery (Catalyst partial/final, map-side combine — DISTINCT and
    arbitrary native aggregates welcome); the raw sketch calls take the
    same bounded GROUPED_AGG two-phase as pure-sketch statements.
    Memory is sketch-bounded at every level on both sides — this
    retires the round-8 O(distinct/fanout) collect_set inner. The trade
    is a second scan of the source: a columnar re-read at 100 TB, not a
    buffer blowup. Returns ``sql`` unchanged when the statement resists
    the split (exotic aggregates mixed into a sketch expression).

    ``theta_view_builder`` (engine-provided, round 9): when every raw
    call is a theta sketch, the callback receives [(a0, k), ...] and may
    register a ZERO-SHUFFLE partials temp view (one mapInPandas pass,
    operators/theta.grouped_sketch_partials) returning its name — the
    sketch subquery then merges view blobs instead of running the
    bucketed GROUPED_AGG inner, so neither side of the split shuffles
    raw rows. Returning None keeps the bucketed SQL inner."""
    NAT, SK = "__rsn", "__rss"
    sk_partials: list[str] = []
    sk_finals: list[str] = []
    nat_items: list[str] = []
    bucket_arg: list[str] = []
    seq = [0]
    zs_calls: list = []  # zero-shuffle descriptors, view order (or None)
    call_meta: list[tuple[int, str]] = []  # (seq n, canonical name)

    def hoist_raw(item: str) -> str:
        out, i = [], 0
        spans = _literal_spans(item)
        while True:
            m = _RAW_SKETCH_CALL_RE.search(item, i)
            while m and any(a <= m.start() < b for a, b in spans):
                m = _RAW_SKETCH_CALL_RE.search(item, m.end())
            if not m:
                out.append(item[i:])
                break
            open_idx = item.index("(", m.end() - 1)
            close_idx = _find_matching(item, open_idx)
            args = _split_args(item[open_idx + 1 : close_idx])
            name = re.sub("_", "", m.group("name")).lower()
            n = seq[0]
            seq[0] += 1
            if not bucket_arg:
                bucket_arg.append(args[0].strip())
            partial, final = _rs_pandas_forms(name, args, n)
            sk_partials.append(f"{partial} AS __rs{n}")
            sk_finals.append(f"{final} AS __rsph{n}")
            zs_calls.append(_zs_descriptor(name, args))
            call_meta.append((n, name))
            out.append(item[i : m.start()])
            out.append(f"{SK}.__rsph{n}")
            i = close_idx + 1
        return "".join(out)

    def hoist_basic(item: str) -> str:
        # native aggregate calls move VERBATIM into the native subquery
        # (evaluated finally there — no partial/final decomposition
        # needed, Catalyst does that); the outer references the column
        out, i = [], 0
        spans = _literal_spans(item)
        while True:
            m = _BASIC_AGG_CALL_RE.search(item, i)
            while m and any(a <= m.start() < b for a, b in spans):
                m = _BASIC_AGG_CALL_RE.search(item, m.end())
            if not m:
                out.append(item[i:])
                break
            open_idx = item.index("(", m.end() - 1)
            close_idx = _find_matching(item, open_idx)
            n = seq[0]
            seq[0] += 1
            nat_items.append(f"{item[m.start() : close_idx + 1]} AS __ag{n}")
            out.append(item[i : m.start()])
            out.append(f"{NAT}.__ag{n}")
            i = close_idx + 1
        return "".join(out)

    def qualify(text: str) -> str:
        # group-key references become native-side references so the
        # post-join expression is unambiguous
        for k in keys:
            text = _replace_word_outside_literals(text, k, f"{NAT}.{k}")
        return text

    rebuilt: list[str] = []
    alias_map: dict[str, str] = {}
    for item in items:
        am = re.match(r"(?s)^(.*?)\s+AS\s+([A-Za-z_]\w*)\s*$", item, re.IGNORECASE)
        expr, alias = (am.group(1), am.group(2)) if am else (item, None)
        if expr.strip() in keys:
            k = expr.strip()
            rebuilt.append(f"{NAT}.{k} AS {alias or k}")
            alias_map[alias or k] = f"{NAT}.{k}"
            continue
        if not _search_outside_literals(_RAW_SKETCH_CALL_RE, expr):
            # pure-native item: the whole expression evaluates in the
            # native subquery (any aggregate/scalar shape is fine there)
            n = seq[0]
            seq[0] += 1
            nat_items.append(f"{expr} AS __nat{n}")
            out_ref = f"{NAT}.__nat{n}"
            rebuilt.append(out_ref + (f" AS {alias}" if alias else ""))
            if alias:
                alias_map[alias] = out_ref
            continue
        e2 = hoist_basic(hoist_raw(expr))
        for cm in re.finditer(r"\b([A-Za-z_][A-Za-z0-9_]*)\s*\(", e2):
            if re.sub("_", "", cm.group(1)).lower() not in _RS_SCALAR_ALLOW:
                return sql
        e2 = qualify(e2)
        rebuilt.append(e2 + (f" AS {alias}" if alias else ""))
        if alias:
            alias_map[alias] = e2
    having2 = stmt["having"]
    if having2:
        # the HAVING predicate becomes a WHERE over the joined result —
        # select-alias references must inline first (WHERE cannot see
        # select aliases the way HAVING can)
        for alias, out_ref in alias_map.items():
            having2 = _replace_word_outside_literals(
                having2, alias, f"({out_ref})"
            )
        having2 = hoist_basic(hoist_raw(having2))
        for cm in re.finditer(r"\b([A-Za-z_][A-Za-z0-9_]*)\s*\(", having2):
            if re.sub("_", "", cm.group(1)).lower() not in _RS_SCALAR_ALLOW:
                return sql
        having2 = qualify(having2)
    if not sk_finals:
        return sql
    where = f" WHERE {stmt['where']}" if stmt["where"] else ""
    key_csv = ", ".join(keys)
    nat_sub = (
        f"SELECT {', '.join(keys + nat_items)} FROM {stmt['table']}{where}"
        + (f" GROUP BY {key_csv}" if keys else "")
    )
    view = None
    if theta_view_builder is not None and zs_calls and all(
        c is not None for c in zs_calls
    ):
        view = theta_view_builder(zs_calls)
    if view is not None:
        # zero-shuffle sketch side: view columns __rs0.. are in CALL
        # order; re-alias the merges to the seq-numbered __rsph refs
        finals = [
            f"{_zs_final(name, f'__rs{j}')} AS __rsph{n}"
            for j, (n, name) in enumerate(call_meta)
        ]
        sk_sub = (
            f"SELECT {', '.join(keys + finals)} FROM {view} __rs_partials"
            + (f" GROUP BY {key_csv}" if keys else "")
        )
    else:
        bucket = f"pmod(xxhash64({bucket_arg[0]}), {_RS_FANOUT})"
        sk_inner = (
            f"SELECT {', '.join(keys + sk_partials)} FROM {stmt['table']}{where}"
            f" GROUP BY {', '.join(keys + [bucket])}"
        )
        sk_sub = (
            f"SELECT {', '.join(keys + sk_finals)} FROM ({sk_inner}) __rs_partials"
            + (f" GROUP BY {key_csv}" if keys else "")
        )
    if keys:
        on = " AND ".join(f"{NAT}.{k} <=> {SK}.{k}" for k in keys)
        join = f"({nat_sub}) {NAT} JOIN ({sk_sub}) {SK} ON {on}"
    else:
        join = f"({nat_sub}) {NAT} CROSS JOIN ({sk_sub}) {SK}"
    having_sql = f" WHERE {having2}" if having2 else ""
    tail = stmt["tail"] or ""
    return f"SELECT {', '.join(rebuilt)} FROM {join}{having_sql}{tail}"


# Function names that may remain in a statement (outside the raw-sketch
# call spans) for the in-expression UDAF path to apply: the sketch scalar
# wrappers, a few scalar conveniences, and structural SQL tokens the
# fn-name regex also matches. Anything else — especially ANY native
# aggregate — declines to the per-value fallback, because Spark cannot
# mix pandas UDAFs with native aggregates in one SELECT.
_RS_INEXPR_ALLOW = {
    "getthetasketchestimate", "thetasketchdiff", "thetasketchunion",
    "thetasketchintersect", "thetasketchtostring",
    "getinttuplesketchestimate", "gethllestimate", "getullestimate",
    "gettdigestquantile", "tointegersumtuplesketch", "tothetasketch",
    "todatasketchestheta", "todatasketchestuple",
    "toclearspringhll", "toclearspringhllplus", "hllunion",
    "todatasketcheskll", "kllmerge", "kllquantile",
    "frequentstringsestimate", "frequentlongsestimate",
    "getcpcsketchestimate",
    "round", "cast", "abs", "coalesce", "upper", "lower", "substr",
    "in", "not", "exists", "values", "any", "all", "some", "using",
    # known-SCALAR conveniences (safe next to a pandas UDAF; only
    # aggregates break placement) — common dims/filters in sketch queries
    "datetrunc", "datetimeconvert", "year", "month", "day", "hour",
    "minute", "second", "dayofweek", "dayofmonth", "concat", "length",
    "trim", "ltrim", "rtrim", "replace", "split", "elementat",
    "fromepochseconds", "fromepochdays", "toepochseconds", "toepochdays",
    "floor", "ceil", "mod", "sqrt", "exp", "power", "if", "ifnull",
    "nullif", "greatest", "least",
}


def _inexpr_udaf_expr(name: str, args: list[str]) -> str:
    a0 = args[0].strip()
    if name == "distinctcountrawthetasketch":
        k = _theta_nominal_entries(args)
        hi, lo = _split_hash_expr(a0)
        return f"__theta_partial({hi}, {lo}, {k})"
    if name == "distinctcountrawintegersumtuplesketch":
        return f"__tuple_partial({a0})"
    if name == "distinctcounttuplesketch":
        return f"__tuple_estimate(__tuple_partial({a0}))"
    if name == "sumvaluesintegersumtuplesketch":
        return f"__tuple_sum_values(__tuple_partial({a0}))"
    if name == "avgvalueintegersumtuplesketch":
        return f"__tuple_avg_value(__tuple_partial({a0}))"
    if name in ("percentilerawestmv", "percentilerawkllmv", "percentilerawtdigestmv"):
        return f"__tdigest_partial({a0})"
    if name in ("frequentstringssketch", "frequentlongssketch"):
        mm = args[1].strip() if len(args) > 1 and args[1].strip().isdigit() else "256"
        fl = "str" if name == "frequentstringssketch" else "long"
        return f"__freq_{fl}_partial({a0}, {mm})"
    # distinctcountrawhllmv / plusmv
    if _HLL_WIRE != "engine":
        if name == "distinctcountrawhllplusmv":
            p, sp = _hllpp_params(args)
            return (
                f"__cs_hllpp_mv_partial("
                f"__cs_hllpp_pairs_arr({a0}, typeof({a0}), {p}), {p}, {sp})"
            )
        log2m = (
            int(args[1].strip())
            if len(args) > 1 and args[1].strip().isdigit()
            else 8
        )
        return f"__cs_hll_mv_partial({_cs_hll_pairs_arr_sql(a0, log2m)}, {log2m})"
    log2m = (
        int(args[1].strip())
        if name == "distinctcountrawhllmv"
        and len(args) > 1 and args[1].strip().isdigit()
        else 8
    )
    pair = _hll_pair_expr("x", log2m)
    pairs_arr = (
        f"array_distinct(transform(filter({a0}, x -> x IS NOT NULL), x -> {pair}))"
    )
    return f"__hll_mv_partial({pairs_arr}, {log2m})"


def rewrite_raw_sketch_inexpr_udaf(sql: str) -> str:
    """Bounded aggregation for raw THETA/TUPLE/MV-digest/MV-HLL names in
    NON-canonical statements (JOIN / HAVING / subqueries — shapes where
    ``rewrite_raw_sketch_two_phase`` declines): when nothing else in the
    statement aggregates, each raw call becomes a pandas GROUPED_AGG
    UDAF **in place** — a plain aggregate expression, valid under any
    statement shape, whose aggregation state is the sketch blob itself
    (the reference's partial-state contract,
    AggregationFunction.java:63,86,132). Statements mixing raw names
    with other aggregates keep the per-value fallback entries (Spark
    disallows pandas UDAFs next to native aggregates in one SELECT)."""
    if not _RAW_SKETCH_CALL_RE.search(sql):
        return sql
    # window contexts keep the native fallback: OVER(...) frames accept
    # collect_set but constrain pandas UDAFs (unbounded frames only)
    if re.search(r"\bOVER\s*\(", sql, re.IGNORECASE):
        return sql
    stripped = _strip_raw_calls(sql)
    for cm in re.finditer(r"\b([A-Za-z_][A-Za-z0-9_]*)\s*\(", stripped):
        if any(a <= cm.start() < b for a, b in _literal_spans(stripped)):
            continue
        if re.sub("_", "", cm.group(1)).lower() not in _RS_INEXPR_ALLOW:
            return sql
    out, i = [], 0
    spans = _literal_spans(sql)
    while True:
        m = _RAW_SKETCH_CALL_RE.search(sql, i)
        while m and any(a <= m.start() < b for a, b in spans):
            m = _RAW_SKETCH_CALL_RE.search(sql, m.end())
        if not m:
            out.append(sql[i:])
            break
        open_idx = sql.index("(", m.end() - 1)
        close_idx = _find_matching(sql, open_idx)
        args = _split_args(sql[open_idx + 1 : close_idx])
        name = re.sub("_", "", m.group("name")).lower()
        out.append(sql[i : m.start()])
        out.append(_inexpr_udaf_expr(name, args))
        i = close_idx + 1
    return "".join(out)


_THETA_BLOB_CALL_RE = re.compile(
    r"\bDISTINCT_?COUNT_?(RAW_?)?(THETA|CPC)_?SKETCH\s*\(", re.IGNORECASE
)
_AGG_FILTER_RE = re.compile(r"\s*FILTER\s*\(\s*WHERE\b", re.IGNORECASE)


_ST_UNION_CALL_RE = re.compile(r"\bST_?UNION\s*\(", re.IGNORECASE)
_ST_UNION_FANOUT = int(os.environ.get("PINOT_SPARK_ST_UNION_FANOUT", "64"))
# scalar post-processing allowed around the hoisted union in the outer
# level (Pinot names — this rewrite runs before rewrite_functions)
_ST_UNION_SCALAR_ALLOW = {
    "stastext", "stasbinary", "stasgeojson", "starea", "stx", "sty",
    "stgeometrytype", "round", "cast", "coalesce", "abs",
}


def _st_union_mixed_split(
    sql: str,
    stmt: dict[str, str | None],
    keys: list[str],
    items: list[str],
) -> str:
    """MIXED statements (native aggregates + STUNION in one SELECT)
    split into two subqueries joined NULL-SAFELY on the group keys —
    the _rewrite_mixed_split shape: native aggregates stay a plain
    grouped subquery (Catalyst partial/final), STUNION takes the same
    bounded two-phase fold as pure statements.  Memory stays
    geometry-bounded on the union side; the trade is a second columnar
    scan of the source.  Statements with HAVING or shapes that resist
    the split return ``sql`` unchanged (collect_list fallback)."""
    if stmt["having"]:
        return sql
    NAT, SK = "__stn", "__sts"
    arg_exprs: list[str] = []
    sk_finals: list[str] = []
    nat_items: list[str] = []
    seq = [0]

    def hoist_union(item: str) -> str:
        out, i = [], 0
        spans = _literal_spans(item)
        while True:
            m = _ST_UNION_CALL_RE.search(item, i)
            while m and any(a <= m.start() < b for a, b in spans):
                m = _ST_UNION_CALL_RE.search(item, m.end())
            if not m:
                out.append(item[i:])
                break
            open_idx = item.index("(", m.end() - 1)
            close_idx = _find_matching(item, open_idx)
            args = _split_args(item[open_idx + 1 : close_idx])
            if len(args) != 1:
                raise ValueError("STUNION takes one argument")
            n = len(arg_exprs)
            arg_exprs.append(args[0].strip())
            sk_finals.append(f"__geo_union_agg(__stp{n}) AS __stu{n}")
            out.append(item[i : m.start()])
            out.append(f"{SK}.__stu{n}")
            i = close_idx + 1
        return "".join(out)

    def hoist_basic(item: str) -> str:
        out, i = [], 0
        spans = _literal_spans(item)
        while True:
            m = _BASIC_AGG_CALL_RE.search(item, i)
            while m and any(a <= m.start() < b for a, b in spans):
                m = _BASIC_AGG_CALL_RE.search(item, m.end())
            if not m:
                out.append(item[i:])
                break
            open_idx = item.index("(", m.end() - 1)
            close_idx = _find_matching(item, open_idx)
            n = seq[0]
            seq[0] += 1
            nat_items.append(f"{item[m.start() : close_idx + 1]} AS __ag{n}")
            out.append(item[i : m.start()])
            out.append(f"{NAT}.__ag{n}")
            i = close_idx + 1
        return "".join(out)

    rebuilt: list[str] = []
    try:
        for item in items:
            am = re.match(
                r"(?s)^(.*?)\s+AS\s+([A-Za-z_]\w*)\s*$", item, re.IGNORECASE
            )
            expr, alias = (am.group(1), am.group(2)) if am else (item, None)
            if expr.strip() in keys:
                k = expr.strip()
                rebuilt.append(f"{NAT}.{k} AS {alias or k}")
                continue
            e2 = hoist_basic(hoist_union(expr))
            for cm in re.finditer(r"\b([A-Za-z_][A-Za-z0-9_]*)\s*\(", e2):
                if re.sub("_", "", cm.group(1)).lower() not in _ST_UNION_SCALAR_ALLOW:
                    return sql
            for k in keys:
                e2 = _replace_word_outside_literals(e2, k, f"{NAT}.{k}")
            rebuilt.append(e2 + (f" AS {alias}" if alias else ""))
    except ValueError:
        return sql
    if not arg_exprs:
        return sql

    where = f" WHERE {stmt['where']}" if stmt["where"] else ""
    key_csv = ", ".join(keys)
    nat_sub = (
        f"SELECT {', '.join(keys + nat_items)} FROM {stmt['table']}{where}"
        + (f" GROUP BY {key_csv}" if keys else "")
    )
    proj = keys + [f"{e} AS __g{n}" for n, e in enumerate(arg_exprs)]
    partials = keys + [
        f"__geo_union_agg(__g{n}) AS __stp{n}" for n in range(len(arg_exprs))
    ]
    bucket = f"pmod(xxhash64(__g0), {_ST_UNION_FANOUT})"
    sk_inner = (
        f"SELECT {', '.join(partials)} FROM "
        f"(SELECT {', '.join(proj)} FROM {stmt['table']}{where}) __st_rows"
        f" GROUP BY {', '.join(keys + [bucket])}"
    )
    sk_sub = (
        f"SELECT {', '.join(keys + sk_finals)} FROM ({sk_inner}) __st_partials"
        + (f" GROUP BY {key_csv}" if keys else "")
    )
    if keys:
        on = " AND ".join(f"{NAT}.{k} <=> {SK}.{k}" for k in keys)
        join = f"({nat_sub}) {NAT} JOIN ({sk_sub}) {SK} ON {on}"
    else:
        join = f"({nat_sub}) {NAT} CROSS JOIN ({sk_sub}) {SK}"
    tail = stmt["tail"] or ""
    return f"SELECT {', '.join(rebuilt)} FROM {join}{tail}"


def rewrite_st_union_two_phase(sql: str) -> str:
    """Restructure canonical ``SELECT [keys,] ...STUNION(g)... FROM t
    [WHERE] [GROUP BY keys] [ORDER BY/LIMIT]`` into a bounded two-phase
    fold (VERDICT r13 item 2 — the expression-level
    ``__geo_union_fold(collect_list(g))`` shape buffers EVERY serialized
    geometry of a group in one aggregation buffer, which OOMs at scale):

        SELECT [keys,] __geo_union_agg(__stp{n}) ...
        FROM (SELECT [keys,] __geo_union_agg(__g{n}) AS __stp{n}
              FROM (SELECT [keys,] <arg_n> AS __g{n} FROM t [WHERE])
              GROUP BY [keys,] pmod(xxhash64(__g0), FANOUT))
        [GROUP BY keys] [tail]

    Inner buffers are a hash-bucketed 1/FANOUT slice of each group and
    the incremental ``__geo_union_agg`` state is one geometry, not a
    list; the outer merge sees ≤ FANOUT partials per group — the
    reference's segment-fold + broker-merge shape
    (StUnionAggregationFunction.java).  Statements that don't match the
    canonical shape (window position, mixed native aggregates, STUNION
    in HAVING) return unchanged and fall back to the fixture-scale
    collect_list path."""
    if not _search_outside_literals(_ST_UNION_CALL_RE, sql):
        return sql
    if re.search(r"\bOVER\s*\(", sql, re.IGNORECASE):
        return sql
    stmt = _parse_canonical_stmt(sql, allow_join=True)
    if stmt is None:
        return sql
    if stmt["having"] and (
        _search_outside_literals(_ST_UNION_CALL_RE, stmt["having"])
        or _search_outside_literals(_BASIC_AGG_CALL_RE, stmt["having"])
    ):
        # a native aggregate in HAVING (e.g. HAVING COUNT(*) > 5) must
        # evaluate over BASE rows; re-emitting it on the outer
        # partial-merge query would count <=FANOUT hash-bucket partials
        # instead — fall back to the expression-level collect_list path
        # (mirrors the mixed-split HAVING rejection above).
        return sql
    group = stmt["group"]
    keys = [g.strip() for g in _split_args(group)] if group else []
    if any(not re.fullmatch(r"[A-Za-z_]\w*", k) for k in keys):
        return sql
    items = [x.strip() for x in _split_args(stmt["select"])]
    if _keys_shadowed_by_alias(keys, items):
        return sql
    if any(_search_outside_literals(_BASIC_AGG_CALL_RE, it) for it in items):
        # native aggregates cannot share a SELECT with the grouped-agg
        # pandas UDF — split into two subqueries joined on the keys
        return _st_union_mixed_split(sql, stmt, keys, items)

    arg_exprs: list[str] = []
    placeholders: dict[str, str] = {}

    def hoist_union(item: str) -> str:
        out = []
        i = 0
        spans = _literal_spans(item)
        while True:
            m = _ST_UNION_CALL_RE.search(item, i)
            while m and any(a <= m.start() < b for a, b in spans):
                m = _ST_UNION_CALL_RE.search(item, m.end())
            if not m:
                out.append(item[i:])
                break
            open_idx = item.index("(", m.end() - 1)
            close_idx = _find_matching(item, open_idx)
            args = _split_args(item[open_idx + 1 : close_idx])
            if len(args) != 1:
                raise ValueError("STUNION takes one argument")
            n = len(arg_exprs)
            arg_exprs.append(args[0].strip())
            ph = f"__STUPH{n}__"
            placeholders[ph] = f"__geo_union_agg(__stp{n})"
            out.append(item[i : m.start()])
            out.append(ph)
            i = close_idx + 1
        return "".join(out)

    rebuilt: list[str] = []
    try:
        for item in items:
            am = re.match(
                r"(?s)^(.*?)\s+AS\s+([A-Za-z_]\w*)\s*$", item, re.IGNORECASE
            )
            expr, alias = (am.group(1), am.group(2)) if am else (item, None)
            if expr.strip() in keys:
                rebuilt.append(item)
                continue
            expr2 = hoist_union(expr)
            # every remaining call must be an allowed scalar wrapper —
            # in particular no native aggregate may share the outer
            # SELECT with the grouped-agg pandas UDF (Spark rejects
            # mixing them in one aggregation)
            for cm in re.finditer(r"\b([A-Za-z_][A-Za-z0-9_]*)\s*\(", expr2):
                if re.sub("_", "", cm.group(1)).lower() not in _ST_UNION_SCALAR_ALLOW:
                    return sql
            rebuilt.append(expr2 + (f" AS {alias}" if alias else ""))
    except ValueError:
        return sql
    if not placeholders:
        return sql
    for ph, outer in placeholders.items():
        rebuilt = [x.replace(ph, outer) for x in rebuilt]

    proj = keys + [f"{e} AS __g{n}" for n, e in enumerate(arg_exprs)]
    partials = keys + [
        f"__geo_union_agg(__g{n}) AS __stp{n}" for n in range(len(arg_exprs))
    ]
    where = stmt["where"]
    rows = (
        f"SELECT {', '.join(proj)} FROM {stmt['table']}"
        + (f" WHERE {where}" if where else "")
    )
    bucket = f"pmod(xxhash64(__g0), {_ST_UNION_FANOUT})"
    inner = (
        f"SELECT {', '.join(partials)} FROM ({rows}) __st_rows"
        f" GROUP BY {', '.join(keys + [bucket])}"
    )
    outer_group = f" GROUP BY {', '.join(keys)}" if keys else ""
    having_sql = f" HAVING {stmt['having']}" if stmt["having"] else ""
    tail = stmt["tail"] or ""
    return (
        f"SELECT {', '.join(rebuilt)} FROM ({inner}) "
        f"__st_partials{outer_group}{having_sql}{tail}"
    )


_VECTOR_SIM_RE = re.compile(r"\bVECTOR_?SIMILARITY\s*\(", re.IGNORECASE)


def rewrite_vector_similarity(sql: str, options: dict | None = None) -> str:
    """``WHERE vectorSimilarity(vec, queryVec, topK)`` (VectorTest.java
    — the reference probes its HNSW index for the topK nearest, then
    applies remaining predicates) → a row_number window over the exact
    cosine distance in a derived table, with the predicate replaced by
    ``__vs_rank <= topK``.  Exact top-K is a SUPERSET guarantee of the
    reference's approximate probe.  This SQL form materializes a global
    ordering — the scale path is operators/similarity.topk_cosine
    (TakeOrderedAndProject) or the HNSW/IVF operators."""
    stmt = _parse_canonical_stmt(sql, allow_join=False)
    if stmt is None or not stmt.get("where"):
        raise PinotSqlError(
            "vectorSimilarity is wired for single-table canonical "
            "statements (SELECT .. FROM t WHERE vectorSimilarity(...) ..)"
        )
    opts = {k.lower(): v for k, v in (options or {}).items()}
    dist_fn = opts.get("vectordistancefunction", "cosine").lower()
    rank_names = {
        "cosine": "cosinedistance",
        "l2": "l2distance",
        "euclidean": "euclideandistance",
    }
    if dist_fn not in rank_names and dist_fn not in ("dot", "innerproduct", "dotproduct"):
        raise PinotSqlError(
            f"unsupported vectorDistanceFunction {dist_fn!r} "
            "(cosine | l2 | euclidean | dot)"
        )
    threshold = opts.get("vectordistancethreshold")
    if threshold is not None:
        try:
            threshold = float(threshold)
        except ValueError:
            raise PinotSqlError(
                f"vectorDistanceThreshold must be numeric, got {threshold!r}"
            ) from None
    where = stmt["where"]
    ranks: list[str] = []
    guard = 0
    while guard < 10:
        guard += 1
        m = _VECTOR_SIM_RE.search(where)
        if not m:
            break
        open_idx = where.index("(", m.start())
        close = _find_matching(where, open_idx)
        args = _split_args(where[open_idx + 1 : close])
        if len(args) < 3:
            raise PinotSqlError("vectorSimilarity(vec, queryVec, topK) expected")
        pair = [args[0].strip(), args[1].strip()]
        if dist_fn in rank_names:
            dist = FUNCTION_MAP[rank_names[dist_fn]](pair)
        else:
            # dot/inner-product ranking: larger is closer, so the
            # distance is the negated product (IvfPqVectorIndexReader's
            # INNER_PRODUCT branch)
            dist = f"(0.0 - {FUNCTION_MAP['innerproduct'](pair)})"
        alias = f"__vs_rank{len(ranks)}"
        ranks.append(f"row_number() OVER (ORDER BY {dist} ASC) AS {alias}")
        pred = f"{alias} <= {args[2].strip()}"
        if threshold is not None:
            # vectorDistanceThreshold (IvfFlatVectorTest
            # testThresholdSearch): the threshold space is SQUARED L2
            # ("euclideanDistance space, no sqrt") for the l2/euclidean
            # functions, and the ranking distance itself otherwise
            thr_expr = (
                FUNCTION_MAP["euclideandistance"](pair)
                if dist_fn in ("l2", "euclidean")
                else dist
            )
            pred = f"({pred} AND {thr_expr} <= {threshold!r})"
        where = where[: m.start()] + pred + where[close + 1 :]
    inner = f"SELECT *, {', '.join(ranks)} FROM {stmt['table']}"
    return (
        f"SELECT {stmt['select']} FROM ({inner}) WHERE {where}"
        + (f" GROUP BY {stmt['group']}" if stmt.get("group") else "")
        + (f" HAVING {stmt['having']}" if stmt.get("having") else "")
        + (f" {stmt['tail']}" if stmt.get("tail") else "")
    )


_SKETCH_AGG_FILTER_RE = re.compile(
    r"\b(DISTINCT_?COUNT_?(?:RAW_?)?(?:THETA|CPC|TUPLE|INTEGER_?SUM_?TUPLE)"
    r"_?SKETCH"
    r"|(?:SUM_?VALUES|AVG_?VALUE)_?INTEGER_?SUM_?TUPLE_?SKETCH"
    r"|DISTINCT_?COUNT_?RAW_?(?:HLL|HLLPLUS|ULL))\s*\(",
    re.IGNORECASE,
)


def rewrite_sketch_agg_filters(sql: str) -> str:
    """Aggregation-level ``FILTER (WHERE p)`` on sketch aggregations →
    folded into the first argument as ``CASE WHEN p THEN arg END``
    (NULLs never enter a sketch build or blob merge).  The sketch
    rewrites expand these calls into collect_list/collect_set
    compositions where a trailing FILTER clause would no longer attach
    to an aggregate."""
    out = sql
    pos = 0
    guard = 0
    while guard < 100:
        guard += 1
        m = _SKETCH_AGG_FILTER_RE.search(out, pos)
        if not m:
            break
        open_idx = out.index("(", m.start())
        close = _find_matching(out, open_idx)
        fm = _AGG_FILTER_RE.match(out[close + 1 :])
        if not fm:
            pos = open_idx + 1
            continue
        fopen = out.index("(", close + 1)
        fclose = _find_matching(out, fopen)
        pred = re.sub(
            r"(?is)^\s*WHERE\b", "", out[fopen + 1 : fclose]
        ).strip()
        args = _split_args(out[open_idx + 1 : close])
        args[0] = f"(CASE WHEN {pred} THEN {args[0].strip()} END)"
        repl = out[m.start() : open_idx + 1] + ", ".join(args) + ")"
        out = out[: m.start()] + repl + out[fclose + 1 :]
        pos = m.start() + len(repl)
    return out


_THETA_VALUE_CALL_RE = re.compile(
    r"\bDISTINCT_?COUNT_?THETA_?SKETCH\s*\(", re.IGNORECASE
)
_OVER_AFTER_CALL_RE = re.compile(r"\s*OVER\s*\(", re.IGNORECASE)


def rewrite_theta_value_calls(
    sql: str, blob_cols: set[str] | None = None
) -> str:
    """Value-build ``DISTINCTCOUNTTHETASKETCH(x[, params])`` →
    ``CAST(ROUND(GETTHETASKETCHESTIMATE(DISTINCTCOUNTRAWTHETASKETCH(..)))
    AS BIGINT)`` — Pinot returns ``Math.round(getEstimate())`` and a
    theta sketch below nominalEntries is EXACT
    (DistinctCountThetaSketchAggregationFunction.java), while Spark's
    approx_count_distinct (an HLL) errs even at single-digit
    cardinalities.  Runs AFTER the blob rewrite (any surviving call is a
    value build) and BEFORE the raw-sketch restructuring passes so the
    emitted RAW call rides the bounded two-phase / running-window
    machinery.  A trailing OVER clause moves INSIDE the estimate wrapper
    (window attaches to the aggregate, not the CAST).  The filtered
    multi-parameter VALUE form (arity > 2) is left to the existing
    fallback."""
    out = sql
    pos = 0
    guard = 0
    while guard < 200:
        guard += 1
        m = _THETA_VALUE_CALL_RE.search(out, pos)
        if not m:
            break
        if any(a <= m.start() < b for a, b in _literal_spans(out)):
            pos = m.end()
            continue
        open_idx = out.index("(", m.start())
        close = _find_matching(out, open_idx)
        args = _split_args(out[open_idx + 1 : close])
        if not args or not args[0].strip():
            pos = open_idx + 1
            continue
        if blob_cols and any(
            tok.split(".")[-1].lower() in blob_cols
            for tok in re.findall(r"[A-Za-z_][\w.]*", args[0])
        ):
            # references a pre-built sketch BYTES column — leave for the
            # blob-union rewrite
            pos = open_idx + 1
            continue
        if len(args) > 2:
            # V1 filtered multi-parameter form over a VALUE column:
            # ``(col, params, 'p1', .., 'SET_OP($1, ..)')``
            # (DistinctCountThetaSketchAggregationFunction.java) — each
            # $i becomes a RAW build over CASE WHEN p_i, the post-agg's
            # SET_* ops become the theta set-op scalars, estimate+round
            # last.  Non-matching arity>2 shapes skip (loud downstream).
            lits = [
                a.strip() for a in args[1:]
                if a.strip().startswith("'") and a.strip().endswith("'")
            ]
            if (
                len(lits) != len(args) - 1
                or len(lits) < 2
                or "$" not in lits[-1]
            ):
                pos = open_idx + 1
                continue
            params = lits[0][1:-1].replace("''", "'").strip()
            preds = [p[1:-1].replace("''", "'") for p in lits[1:-1]]
            postagg = lits[-1][1:-1].replace("''", "'")
            ptail = ", '{}'".format(params.replace("'", "''")) if params else ""
            expr = postagg
            for i in range(len(preds), 0, -1):
                build = (
                    "DISTINCTCOUNTRAWTHETASKETCH((CASE WHEN {} THEN {} "
                    "END){})".format(preds[i - 1], args[0].strip(), ptail)
                )
                expr = expr.replace(f"${i}", build)
            expr = re.sub(r"(?i)\bSET_UNION\b", "THETASKETCHUNION", expr)
            expr = re.sub(
                r"(?i)\bSET_INTERSECT\b", "THETASKETCHINTERSECT", expr
            )
            expr = re.sub(r"(?i)\bSET_DIFF\b", "THETASKETCHDIFF", expr)
            repl = f"CAST(ROUND(GETTHETASKETCHESTIMATE({expr})) AS BIGINT)"
            out = out[: m.start()] + repl + out[close + 1 :]
            pos = m.start() + len(repl)
            continue
        inner = "DISTINCTCOUNTRAWTHETASKETCH({})".format(
            ", ".join(a.strip() for a in args)
        )
        call_end = close + 1
        om = _OVER_AFTER_CALL_RE.match(out[call_end:])
        if om:
            oopen = out.index("(", call_end)
            oclose = _find_matching(out, oopen)
            inner += out[call_end : oclose + 1]
            call_end = oclose + 1
        repl = f"CAST(ROUND(GETTHETASKETCHESTIMATE({inner})) AS BIGINT)"
        out = out[: m.start()] + repl + out[call_end:]
        pos = m.start() + len(repl)
    return out


def rewrite_theta_blob_calls(spark: SparkSession, sql: str) -> str:
    """DISTINCTCOUNT[RAW]THETASKETCH over a PRE-BUILT sketch BYTES
    column (ThetaSketchTest.java: ingested datasketches-java compact
    blobs): the aggregation UNIONS the stored sketches instead of
    building from values.  Also wires the aggregation-level
    ``FILTER (WHERE p)`` clause (pushed into the collected argument)
    and the filtered multi-parameter form
    ``distinctCountThetaSketch(col, params, 'p1', .., 'SET_OP($1, ..)')``
    (DistinctCountThetaSketchAggregationFunction.java)."""
    bin_cols = _typed_columns(spark, sql, (T.BinaryType,))
    if not bin_cols:
        return sql

    def is_blob_expr(e: str) -> bool:
        # a bare (optionally qualified) column, or the exact
        # ``(CASE WHEN <pred> THEN <col> END)`` wrapper the FILTER fold
        # produces around one.  Anything else — e.g. a derived
        # expression like ``length(bytesCol)`` that merely REFERENCES a
        # binary column — is a value build, not a pre-built blob.
        e = e.strip()
        cm = re.match(
            r"(?is)^\(\s*CASE\s+WHEN\s+.*\s+THEN\s+(.*?)\s+END\s*\)$", e
        )
        if cm:
            e = cm.group(1).strip()
        return bool(
            re.fullmatch(r"[A-Za-z_][\w.]*", e)
            and e.split(".")[-1].lower() in bin_cols
        )

    out = sql
    guard = 0
    pos = 0
    while guard < 100:
        guard += 1
        m = _THETA_BLOB_CALL_RE.search(out, pos)
        if not m:
            break
        raw = bool(m.group(1))
        kind = m.group(2).upper()
        open_idx = out.index("(", m.start())
        close = _find_matching(out, open_idx)
        args = _split_args(out[open_idx + 1 : close])
        call_end = close + 1
        # aggregation-level FILTER (WHERE p): fold into the argument
        fm = _AGG_FILTER_RE.match(out[call_end:])
        filter_pred = None
        if fm:
            fopen = out.index("(", call_end)
            fclose = _find_matching(out, fopen)
            filter_pred = re.sub(
                r"(?is)^\s*WHERE\b", "", out[fopen + 1 : fclose]
            ).strip()
            call_end = fclose + 1
        if not args or not is_blob_expr(args[0]):
            pos = open_idx + 1
            continue
        col = args[0].strip()
        if filter_pred:
            col = f"(CASE WHEN {filter_pred} THEN {col} END)"
        lits = [
            a.strip() for a in args[1:]
            if a.strip().startswith("'") and a.strip().endswith("'")
        ]
        if kind == "CPC":
            # pre-built CPC blobs union via the full decompress/union
            # path (operators/ds_cpc.cpc_union); estimate = HIP round
            merged = f"__cpc_union(collect_list({col}))"
            repl = merged if raw else f"__cpc_estimate({merged})"
            out = out[: m.start()] + repl + out[call_end:]
            pos = m.start() + len(repl)
            continue
        if not raw and len(lits) >= 2 and "$" in lits[-1]:
            # filtered form: params first (may be ''), predicates, then
            # the $-referencing post-aggregation expression last
            preds = [
                p[1:-1].replace("''", "'")
                for p in lits[1:-1]
            ]
            if not preds:
                raise PinotSqlError(
                    "DISTINCTCOUNTTHETASKETCH: post-aggregation "
                    "expression given without filter predicates"
                )
            postagg = lits[-1][1:-1].replace("''", "'")
            groups = ", ".join(
                f"collect_list(CASE WHEN {p} THEN {col} END)" for p in preds
            )
            repl = (
                f"CAST(__theta_filtered('{postagg}', array({groups})) "
                f"AS BIGINT)"
            )
        elif raw:
            repl = f"__theta_union_blobs(collect_list({col}))"
        else:
            repl = (
                f"CAST(__theta_estimate(__theta_union_blobs("
                f"collect_list({col}))) AS BIGINT)"
            )
        out = out[: m.start()] + repl + out[call_end:]
        pos = m.start() + len(repl)
    return out


def rewrite_raw_sketch_setop(sql: str) -> str:
    """Bounded aggregation for raw-sketch statements under TOP-LEVEL set
    operations (the last per-value-fallback shape class): split the
    statement at top-level UNION/INTERSECT/EXCEPT [ALL|DISTINCT]
    (paren- and literal-aware via ``_top_level_clauses``), detach a
    trailing set-op-global ORDER BY/LIMIT, run each branch through the
    canonical two-phase / in-place-UDAF rewrites independently, and
    reassemble with parenthesized branches.  Branch results are
    bit-identical to the per-value forms (KMV truncation at k+1 is
    associative), so UNION-DISTINCT/INTERSECT/EXCEPT semantics over the
    branch outputs are unchanged.  Declines (returns ``sql`` unchanged)
    whenever any raw-call branch fails to bound — fail-safe to the
    per-value fallback, never a half-rewritten statement."""
    if not _RAW_SKETCH_CALL_RE.search(sql):
        return sql
    if re.search(r"\bOVER\s*\(", sql, re.IGNORECASE):
        return sql
    body = sql.strip().rstrip(";").strip()
    kws = _top_level_clauses(body)
    if not kws:
        return sql
    setops = [k for k in kws if k[0] in ("UNION", "INTERSECT", "EXCEPT")]
    if not setops:
        return sql
    # a trailing ORDER BY / LIMIT after the last set operator binds to
    # the whole set operation — detach it before branch rewriting
    tail = ""
    last_op_end = setops[-1][2]
    tail_kws = [
        k for k in kws if k[0] in ("ORDER BY", "LIMIT") and k[1] > last_op_end
    ]
    if tail_kws:
        cut = tail_kws[0][1]
        tail = " " + body[cut:].strip()
        body = body[:cut].rstrip()
        kws = _top_level_clauses(body) or []
        setops = [k for k in kws if k[0] in ("UNION", "INTERSECT", "EXCEPT")]
        if not setops:
            return sql
    pieces: list[str] = []
    ops: list[str] = []
    pos = 0
    for name, start, kw_end in setops:
        pieces.append(body[pos:start].strip())
        qual = re.match(r"(?is)\s*(ALL|DISTINCT)\b", body[kw_end:])
        op_end = kw_end + (qual.end() if qual else 0)
        ops.append(re.sub(r"\s+", " ", body[start:op_end]).upper())
        pos = op_end
    pieces.append(body[pos:].strip())
    changed = False
    rewritten: list[str] = []
    for piece in pieces:
        cand = piece
        if _search_outside_literals(_RAW_SKETCH_CALL_RE, piece):
            for rw in (rewrite_raw_sketch_two_phase, rewrite_raw_sketch_inexpr_udaf):
                cand = rw(piece)
                if cand != piece:
                    break
            if cand == piece:
                return sql  # this branch can't bound — keep the original
            changed = True
        rewritten.append(cand)
    if not changed:
        return sql
    out = " ".join(
        p if i == 0 else f"{ops[i - 1]} {p}"
        for i, p in enumerate(f"({b})" for b in rewritten)
    )
    return out + tail


_GEO_UDF_SESSIONS: weakref.WeakSet = weakref.WeakSet()


def _ensure_geo_sql_udfs(spark: SparkSession) -> None:
    """Register the Pinot-parity geometry pandas UDFs the FUNCTION_MAP
    geo templates call (functions/pinot_geometry.py: GeometrySerializer
    byte layout, JTS within/contains/equals, geography spherical area
    and great-circle distance — see that module's reference citations).
    Idempotent per SparkSession.

    Carrier sniffing: every geometry argument arrives as BINARY (Spark
    implicitly casts STRING → UTF-8 bytes), and the first byte decides
    the form — Pinot type bytes are 0x00-0x06 (0x80 bit for geography)
    while WKT text begins with an ASCII letter or space, so the sniff is
    deterministic."""
    if spark in _GEO_UDF_SESSIONS:
        return
    import pandas as pd
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    from pinot_spark.functions import pinot_geometry as pgeo

    def parse_any(v):
        if v is None:
            return None
        if isinstance(v, str):
            return pgeo.parse_wkt(v)
        b = bytes(v)
        if b and (b[0] & 0x7F) <= 6:
            return pgeo.deserialize(b)
        return pgeo.parse_wkt(b.decode("utf-8"))

    def as_text(v):
        return v if isinstance(v, str) else bytes(v).decode("utf-8")

    def rowwise(out_type, fn):
        @pandas_udf(out_type, PandasUDFType.SCALAR)
        def _udf(*cols):
            out = []
            for vals in zip(*cols):
                if any(v is None for v in vals):
                    out.append(None)
                else:
                    out.append(fn(*vals))
            return pd.Series(out, dtype=object)

        return _udf

    spark.udf.register(
        "__geo_from_text",
        rowwise("binary", lambda w, g: pgeo.serialize(pgeo.parse_wkt(as_text(w), geog=bool(g)))),
    )
    spark.udf.register(
        "__geo_point",
        rowwise("binary", lambda x, y, g: pgeo.serialize(("POINT", (float(x), float(y)), bool(g)))),
    )
    spark.udf.register("__geo_as_text", rowwise("string", lambda v: pgeo.format_wkt(parse_any(v))))
    spark.udf.register(
        "__geo_geometry_type", rowwise("string", lambda v: pgeo.geometry_type(parse_any(v)))
    )
    spark.udf.register("__geo_area", rowwise("double", lambda v: pgeo.area(parse_any(v))))
    spark.udf.register(
        "__geo_x",
        rowwise("double", lambda v: None if parse_any(v)[1] is None else float(parse_any(v)[1][0])),
    )
    spark.udf.register(
        "__geo_y",
        rowwise("double", lambda v: None if parse_any(v)[1] is None else float(parse_any(v)[1][1])),
    )
    spark.udf.register(
        "__geo_distance", rowwise("double", lambda a, b: pgeo.distance(parse_any(a), parse_any(b)))
    )
    spark.udf.register(
        "__geo_within", rowwise("boolean", lambda a, b: pgeo.within(parse_any(a), parse_any(b)))
    )
    spark.udf.register(
        "__geo_contains", rowwise("boolean", lambda a, b: pgeo.contains(parse_any(a), parse_any(b)))
    )
    spark.udf.register(
        "__geo_equals", rowwise("boolean", lambda a, b: pgeo.equals(parse_any(a), parse_any(b)))
    )

    def from_wkt_carrier(wkt: str, geog: bool) -> bytes:
        return pgeo.serialize(pgeo.parse_wkt(wkt, geog=geog))

    def geojson_in(v, g):
        from pinot_spark.functions.wkb import geojson_to_wkt

        return from_wkt_carrier(geojson_to_wkt(as_text(v)), bool(g))

    def geojson_out(v):
        from pinot_spark.functions.wkb import wkt_to_geojson

        return wkt_to_geojson(pgeo.format_wkt(parse_any(v)))

    def wkb_in(v, g):
        # input is OGC WKB by contract (no sniffing — a big-endian WKB
        # header byte 0x00 collides with the Pinot POINT type byte)
        from pinot_spark.functions.wkb import wkb_to_wkt

        return from_wkt_carrier(wkb_to_wkt(bytes(v)), bool(g))

    def wkb_out(v):
        from pinot_spark.functions.wkb import wkt_to_wkb

        return wkt_to_wkb(pgeo.format_wkt(parse_any(v)))

    spark.udf.register("__geo_from_geojson", rowwise("binary", geojson_in))
    spark.udf.register("__geo_as_geojson", rowwise("string", geojson_out))
    spark.udf.register("__geo_from_wkb", rowwise("binary", wkb_in))
    spark.udf.register("__geo_as_wkb", rowwise("binary", wkb_out))

    from pinot_spark.functions import h3grid

    spark.udf.register(
        "__geo_to_h3_coords",
        rowwise("long", lambda lng, lat, res: h3grid.geo_to_cell(float(lng), float(lat), int(res))),
    )

    def h3_point(v, res):
        g = parse_any(v)
        if g[0] != "POINT" or g[1] is None:
            raise ValueError("geoToH3 needs a non-empty point")
        return h3grid.geo_to_cell(float(g[1][0]), float(g[1][1]), int(res))

    spark.udf.register("__geo_to_h3_point", rowwise("long", h3_point))
    spark.udf.register(
        "__h3_grid_distance",
        rowwise("long", lambda a, b: h3grid.grid_distance(int(a), int(b))),
    )
    spark.udf.register(
        "__h3_grid_disk",
        rowwise("array<long>", lambda c, k: h3grid.grid_disk(int(c), int(k))),
    )

    @pandas_udf("binary", PandasUDFType.SCALAR)
    def __geo_union_fold(groups):
        """STUNION final fold over collect_list(geometry) — fixture-scale
        SQL path; the 100 TB path is the executor-side tree fold in
        operators/geo.py (one partial per partition, isqrt tree rounds)."""

        def run(lst):
            geoms = [parse_any(v) for v in lst if v is not None]
            if not geoms:
                return None
            if all(g[0] in ("POINT", "MULTIPOINT") for g in geoms):
                pts = sorted({p for g in geoms for p in ([g[1]] if g[0] == "POINT" else g[1]) if p})
                kind = "POINT" if len(pts) == 1 else "MULTIPOINT"
                return pgeo.serialize((kind, pts[0] if kind == "POINT" else pts, geoms[0][2]))
            return pgeo.serialize(pgeo.union(geoms))

        return pd.Series([run(lst) for lst in groups], dtype=object)

    spark.udf.register("__geo_union_fold", __geo_union_fold)

    def _union_chunk(acc, chunk):
        """Fold ``chunk`` (parsed geometries) into accumulator ``acc``
        (one geometry or None).  Pure-point runs stay on the sorted
        set-union fast path; anything areal goes through the exact
        overlay (pgeo.union).  Union is associative/commutative, so
        chunked folding matches the one-shot fold bit-for-bit after
        canonicalization (pinned by test_geo_st_union_golden)."""
        geoms = ([acc] if acc is not None else []) + chunk
        if all(g[0] in ("POINT", "MULTIPOINT") for g in geoms):
            pts = sorted({p for g in geoms for p in ([g[1]] if g[0] == "POINT" else g[1]) if p})
            kind = "POINT" if len(pts) == 1 else "MULTIPOINT"
            return (kind, pts[0] if kind == "POINT" else pts, geoms[0][2])
        return pgeo.union(geoms)

    @pandas_udf("binary", PandasUDFType.GROUPED_AGG)
    def __geo_union_agg(vals):
        """Incremental STUNION fold — the aggregation state is ONE
        geometry plus a ≤64-element parse buffer, never a group-sized
        list (the reference accumulates a single growing union,
        StUnionAggregationFunction.java aggregate()).  Used at both
        levels of the two-phase rewrite_st_union_two_phase shape: the
        inner level sees a hash-bucketed slice of each group, the outer
        level merges ≤ _ST_UNION_FANOUT partials."""
        acc, buf = None, []
        # union is idempotent: skip byte-identical blobs (telemetry
        # columns repeat shapes heavily — a grid-cell column has
        # thousands of copies of each square).  The seen-set holds raw
        # bytes only and is capped so a pathological all-distinct
        # stream degrades to plain folding, never OOM.
        seen: set[bytes] = set()
        for v in vals:
            if v is None or v in seen:
                continue
            if len(seen) < 4096:
                seen.add(v)
            buf.append(parse_any(v))
            if len(buf) >= 64:
                acc, buf = _union_chunk(acc, buf), []
        if buf:
            acc = _union_chunk(acc, buf)
        return pgeo.serialize(acc) if acc is not None else None

    spark.udf.register("__geo_union_agg", __geo_union_agg)
    _GEO_UDF_SESSIONS.add(spark)


def _ensure_theta_sql_udfs(spark: SparkSession) -> None:
    """Register the raw-theta-sketch pandas UDFs FUNCTION_MAP's
    rewrites call (__theta_agg grouped-agg + scalar estimate/diff/
    union/intersect over the engine-own wire format, operators/theta.py).
    Idempotent per SparkSession."""
    if spark in _THETA_UDF_SESSIONS:
        return
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import PandasUDFType, pandas_udf

    from pinot_spark.operators.theta import ThetaSketch

    def _from_hash_list(hs, k: int) -> bytes:
        raw = np.asarray(hs, dtype=np.int64).astype(np.uint64)
        raw += np.uint64(2**63)  # signed xxhash64 → unsigned, order-preserving
        return ThetaSketch.from_hashes(k, raw).to_bytes()

    # eval types are explicit: hint strings can't resolve the
    # function-local pandas import
    @pandas_udf("binary", PandasUDFType.SCALAR)
    def __theta_from_hashes(arrs, k):
        kk = int(k.iloc[0]) if len(k) else 4096
        return pd.Series(
            [_from_hash_list(hs if hs is not None else [], kk) for hs in arrs]
        )

    # DataSketches wire-format interop (operators/ds_theta.py): every
    # theta consumer auto-detects the compact DataSketches layout per
    # argument, so foreign sketches exchanged with a real Pinot cluster
    # estimate/union/intersect/diff correctly. The two hash domains
    # (engine xxhash64 vs DataSketches murmur-9001) must never mix in
    # one set operation — that would silently double-count — so a mixed
    # pair raises loudly by name instead.
    from pinot_spark.operators.ds_theta import DsThetaSketch, is_ds_theta_bytes

    def _load_any_theta(x):
        b = bytes(x)
        if is_ds_theta_bytes(b):
            return "ds", DsThetaSketch.parse(b)
        return "own", ThetaSketch.from_bytes(b)

    def _binop(own_op: str):
        def f(a: pd.Series, b: pd.Series) -> pd.Series:
            out = []
            for x, y in zip(a, b):
                if x is None or y is None:
                    out.append(None)
                    continue
                da, sa = _load_any_theta(x)
                db, sb = _load_any_theta(y)
                if da != db:
                    raise ValueError(
                        "theta set operation mixes a DataSketches-format "
                        "sketch (murmur-9001 hash domain) with an "
                        "engine-native sketch (xxhash64 domain) — the "
                        "domains are incompatible; rebuild both sides in "
                        "one format"
                    )
                r = getattr(sa, own_op)(sb)
                out.append(r.serialize() if da == "ds" else r.to_bytes())
            return pd.Series(out)

        return f

    @pandas_udf("binary", PandasUDFType.SCALAR)
    def __theta_diff(a, b):
        return _binop("a_not_b")(a, b)

    @pandas_udf("binary", PandasUDFType.SCALAR)
    def __theta_union(a, b):
        return _binop("union")(a, b)

    @pandas_udf("binary", PandasUDFType.SCALAR)
    def __theta_intersect(a, b):
        return _binop("intersect")(a, b)

    @pandas_udf("bigint", PandasUDFType.SCALAR)
    def __theta_estimate(a):
        return pd.Series(
            [
                round(_load_any_theta(x)[1].estimate()) if x is not None else None
                for x in a
            ],
            dtype="Int64",
        )

    from pinot_spark.functions.sketches import TupleSketch, _MODES

    @pandas_udf("binary", PandasUDFType.SCALAR)
    def __theta_singleton(h, k):
        kk = int(k.iloc[0]) if len(k) else 4096
        out = []
        for raw in h:
            if pd.isna(raw):
                out.append(ThetaSketch(kk, 2**64, np.array([], dtype=np.uint64)).to_bytes())
            else:
                # XOR of the sign bit == +2^63 mod 2^64 without the
                # numpy scalar-overflow warning
                u = np.int64(raw).astype(np.uint64) ^ np.uint64(1 << 63)
                out.append(ThetaSketch(kk, 2**64, np.array([u], dtype=np.uint64)).to_bytes())
        return pd.Series(out)

    @pandas_udf("binary", PandasUDFType.SCALAR)
    def __ds_theta_single(v, t):
        from pinot_spark.functions.sketches import ds_theta_single_series

        return ds_theta_single_series(v, str(t.iloc[0]) if len(t) else None)

    @pandas_udf("binary", PandasUDFType.SCALAR)
    def __ds_tuple_single(k, v):
        from pinot_spark.functions.sketches import ds_tuple_single_series

        return ds_tuple_single_series(k, v)

    @pandas_udf("string", PandasUDFType.SCALAR)
    def __theta_to_string(b):
        def fmt(x):
            if x is None:
                return None
            domain, s = _load_any_theta(bytes(x))
            if domain == "ds":
                return s.to_string()
            return (
                f"ThetaSketch(k={s.k}, theta={s.theta:.6f}, "
                f"retained={len(s.hashes)}, estimate={s.estimate():.1f})"
            )

        return b.map(fmt)

    @pandas_udf("binary", PandasUDFType.SCALAR)
    def __tuple_singleton(h, v, k):
        kk = int(k.iloc[0]) if len(k) else 4096
        out = []
        for raw, val in zip(h, v):
            if pd.isna(raw) or pd.isna(val):
                out.append(TupleSketch.empty(kk).to_bytes())
            else:
                u = int(np.int64(raw).astype(np.uint64) ^ np.uint64(1 << 63))
                out.append(TupleSketch.singleton(kk, u, int(val)).to_bytes())
        return pd.Series(out)

    @pandas_udf("binary", PandasUDFType.SCALAR)
    def __tuple_merge_sum(arrs):
        from pinot_spark.operators.ds_theta import DsTupleSketch, is_ds_tuple_bytes

        def run(lst):
            if lst is None:
                return None
            acc = None
            domain = None
            for b in lst:
                if b is None:
                    continue
                if is_ds_tuple_bytes(bytes(b)):
                    s, d = DsTupleSketch.parse(bytes(b)), "ds"
                else:
                    s, d = TupleSketch.from_bytes(bytes(b)), "own"
                if domain is None:
                    domain = d
                elif domain != d:
                    raise ValueError(
                        "tuple sketch merge mixes DataSketches-format "
                        "(murmur-9001) and engine-native (xxhash64) "
                        "sketches — the hash domains are incompatible"
                    )
                if acc is None:
                    acc = s
                elif d == "ds":
                    acc = acc.union(s)
                else:
                    acc = acc.union(s, mode=_MODES["sum"])
            if acc is None:
                return TupleSketch.empty().to_bytes()
            return acc.serialize() if domain == "ds" else acc.to_bytes()

        return pd.Series([run(lst) for lst in arrs])

    # DataSketches integer-tuple interop: consumers auto-detect the
    # library's compact tuple layout (operators/ds_theta.DsTupleSketch)
    # so sketches exchanged with a real Pinot cluster estimate and
    # aggregate correctly; engine-own tuple bytes stay the fast path.
    from pinot_spark.operators.ds_theta import DsTupleSketch, is_ds_tuple_bytes

    def _load_any_tuple(x):
        b = bytes(x)
        if is_ds_tuple_bytes(b):
            return "ds", DsTupleSketch.parse(b)
        return "own", TupleSketch.from_bytes(b)

    @pandas_udf("bigint", PandasUDFType.SCALAR)
    def __tuple_estimate(b):
        return pd.Series(
            [None if x is None else round(_load_any_tuple(x)[1].estimate()) for x in b],
            dtype="Int64",
        )

    @pandas_udf("bigint", PandasUDFType.SCALAR)
    def __tuple_sum_values(b):
        return pd.Series(
            [None if x is None else int(_load_any_tuple(x)[1].values.sum()) for x in b],
            dtype="Int64",
        )

    @pandas_udf("double", PandasUDFType.SCALAR)
    def __tuple_avg_value(b):
        def run(x):
            if x is None:
                return None
            s = _load_any_tuple(x)[1]
            return float(s.values.mean()) if len(s.values) else None

        return pd.Series([run(x) for x in b])

    def _tuple_binop(op: str):
        def f(a: pd.Series, b: pd.Series) -> pd.Series:
            out = []
            for x, y in zip(a, b):
                if x is None or y is None:
                    out.append(None)
                    continue
                da, sa = _load_any_tuple(x)
                db, sb = _load_any_tuple(y)
                if da != db:
                    raise ValueError(
                        "tuple set operation mixes DataSketches-format "
                        "and engine-native sketches — incompatible hash "
                        "domains"
                    )
                if da == "ds":
                    r = getattr(sa, op)(sb)
                else:
                    r = getattr(sa, op)(sb, mode=_MODES["sum"])
                out.append(r.serialize() if da == "ds" else r.to_bytes())
            return pd.Series(out)

        return f

    __tuple_union = pandas_udf("binary", PandasUDFType.SCALAR)(
        _tuple_binop("union")
    )
    __tuple_intersect = pandas_udf("binary", PandasUDFType.SCALAR)(
        _tuple_binop("intersect")
    )

    from pinot_spark.operators.hll import HllSketch
    from pinot_spark.operators.tdigest import TDigest

    def _hll_from_hash_list(hs, log2m: int) -> bytes:
        raw = np.asarray([h for h in hs if h is not None], dtype=np.int64).astype(np.uint64)
        raw += np.uint64(2**63)  # signed xxhash64 → unsigned shift
        return HllSketch.from_hashes(raw, log2m).to_bytes()

    @pandas_udf("binary", PandasUDFType.SCALAR)
    def __hll_from_hashes(arrs, log2m):
        lm = int(log2m.iloc[0]) if len(log2m) else 8
        return pd.Series(
            [_hll_from_hash_list(hs if hs is not None else [], lm) for hs in arrs]
        )

    def _hll_from_pair_list(pairs, log2m: int) -> bytes:
        s = HllSketch.empty(log2m)
        if pairs is not None and len(pairs):
            p = np.asarray(pairs, dtype=np.int64)
            np.maximum.at(s.registers, p >> 6, (p & 63).astype(np.uint8))
        return s.to_bytes()

    @pandas_udf("binary", PandasUDFType.SCALAR)
    def __hll_from_regs(arrs, log2m):
        # bounded-domain register pairs (idx*64+rho, _hll_pair_expr)
        # → engine-own dense registers; byte-identical to from_hashes
        lm = int(log2m.iloc[0]) if len(log2m) else 8
        return pd.Series([_hll_from_pair_list(ps, lm) for ps in arrs])

    from pinot_spark.operators.ull import UllSketch

    @pandas_udf("binary", PandasUDFType.SCALAR)
    def __ull_from_regs(arrs, p):
        pp = int(p.iloc[0]) if len(p) else 12
        return pd.Series(
            [
                UllSketch.from_pairs(
                    np.asarray(ps if ps is not None else [], dtype=np.int64), pp
                ).to_bytes()
                for ps in arrs
            ]
        )

    @pandas_udf("binary", PandasUDFType.SCALAR)
    def __ull_singleton(h, p):
        pp = int(p.iloc[0]) if len(p) else 12

        def one(x):
            if pd.isna(x):
                return UllSketch.empty(pp).to_bytes()
            raw = np.array([x], dtype=np.int64).astype(np.uint64) + np.uint64(2**63)
            return UllSketch.from_hashes(raw, pp).to_bytes()

        return pd.Series([one(x) for x in h])

    @pandas_udf("bigint", PandasUDFType.SCALAR)
    def __ull_estimate(b):
        return pd.Series(
            [None if x is None else round(UllSketch.from_bytes(bytes(x)).estimate()) for x in b],
            dtype="Int64",
        )

    @pandas_udf("binary", PandasUDFType.SCALAR)
    def __hll_singleton(h, log2m):
        lm = int(log2m.iloc[0]) if len(log2m) else 8
        return pd.Series(
            [_hll_from_hash_list([] if pd.isna(x) else [x], lm) for x in h]
        )

    @pandas_udf("bigint", PandasUDFType.SCALAR)
    def __hll_estimate(b):
        # auto-detects clearspring plain/plus wire bytes (the formats a
        # real reference cluster ships, operators/cs_hll.py) vs the
        # engine-own register blob — foreign sketches estimate with
        # Java-identical Math.round cardinalities
        from pinot_spark.functions.sketches import cs_hll_estimate_series

        return cs_hll_estimate_series(b)

    @pandas_udf("binary", PandasUDFType.SCALAR)
    def __cs_hll_single(v, t, log2m):
        from pinot_spark.functions.sketches import cs_hll_single_series

        return cs_hll_single_series(
            v,
            str(t.iloc[0]) if len(t) else None,
            int(log2m.iloc[0]) if len(log2m) else 8,
        )

    @pandas_udf("binary", PandasUDFType.SCALAR)
    def __cs_hllpp_single(v, t, p_, sp_):
        from pinot_spark.functions.sketches import cs_hllpp_single_series

        return cs_hllpp_single_series(
            v,
            str(t.iloc[0]) if len(t) else None,
            int(p_.iloc[0]) if len(p_) else 14,
            int(sp_.iloc[0]) if len(sp_) else 0,
        )

    @pandas_udf("binary", PandasUDFType.SCALAR)
    def __hll_union(a, b):
        from pinot_spark.functions.sketches import hll_union_series

        return hll_union_series(a, b)

    @pandas_udf("bigint", PandasUDFType.SCALAR)
    def __cpc_estimate(b):
        # Math.round(CpcSketch.getEstimate()) over foreign CPC bytes
        # (SketchFunctions.java:388-392; operators/ds_cpc.py)
        import math

        from pinot_spark.operators.ds_cpc import DsCpcView

        return pd.Series(
            [
                None if x is None
                else int(math.floor(DsCpcView.parse(bytes(x)).estimate() + 0.5))
                for x in b
            ],
            dtype="Int64",
        )

    @pandas_udf("binary", PandasUDFType.SCALAR)
    def __ds_kll_single(v, k):
        from pinot_spark.functions.sketches import ds_kll_single_series

        return ds_kll_single_series(v, int(k.iloc[0]) if len(k) else 200)

    @pandas_udf("binary", PandasUDFType.SCALAR)
    def __ds_kll_merge(a, b):
        from pinot_spark.functions.sketches import ds_kll_merge_series

        return ds_kll_merge_series(a, b)

    @pandas_udf("double", PandasUDFType.SCALAR)
    def __ds_kll_quantile(b, p):
        from pinot_spark.functions.sketches import ds_kll_quantile_series

        return ds_kll_quantile_series(b, p)

    @pandas_udf("binary", PandasUDFType.SCALAR)
    def __tdigest_from_values(arrs):
        def run(vals):
            td = TDigest()
            if vals is not None and len(vals):
                td.add([float(v) for v in vals if v is not None])
            return td.to_bytes()

        return pd.Series([run(vals) for vals in arrs])

    @pandas_udf("binary", PandasUDFType.SCALAR)
    def __tdigest_from_quantiles(qs, n):
        # reassemble engine-own t-digest bytes from percentile_approx's
        # Chebyshev-grid probes (_raw_tdigest_sql): centroid means are
        # the grid quantiles; weights apportion the row count by the
        # half-open rank interval around each probe
        def run(grid, count):
            td = TDigest()
            if grid is None or count is None or count == 0 or len(grid) == 0:
                return td.to_bytes()
            means = np.asarray(grid, dtype=np.float64)
            k = len(means)
            if k == 1:
                w = np.array([float(count)])
            else:
                qs_grid = np.array(_TDIGEST_GRID[:k])
                gaps = np.empty(k)
                gaps[0] = (qs_grid[1] - qs_grid[0]) / 2
                gaps[-1] = (qs_grid[-1] - qs_grid[-2]) / 2
                gaps[1:-1] = (qs_grid[2:] - qs_grid[:-2]) / 2
                w = gaps / gaps.sum() * float(count)
            td.means, td.weights = means, w
            td._compress()
            return td.to_bytes()

        return pd.Series([run(g, c) for g, c in zip(qs, n)])

    import json as _json

    @pandas_udf("array<string>", PandasUDFType.SCALAR)
    def __json_all_keys(docs, max_depth, dot_notation):
        # recursive key extraction in reference path formats
        # (JsonFunctions.extractKeysFromNode:639-669): objects emit
        # path['field'] (dot: a.b), arrays emit path[i] (dot: a.0),
        # preorder, depth-limited, parse errors yield an empty list
        md = int(max_depth.iloc[0]) if len(max_depth) else 2**31 - 1
        dot = bool(dot_notation.iloc[0]) if len(dot_notation) else False

        def walk(node, path, out, depth):
            if depth > md:
                return
            items = (
                node.items()
                if isinstance(node, dict)
                else enumerate(node) if isinstance(node, list) else ()
            )
            for k, v in items:
                if dot:
                    p = str(k) if path == "" else f"{path}.{k}"
                elif isinstance(node, dict):
                    p = f"{path}['{k}']"
                else:
                    p = f"{path}[{k}]"
                out.append(p)
                if depth < md and isinstance(v, (dict, list)):
                    walk(v, p, out, depth + 1)

        def run(doc):
            if doc is None:
                return None
            out: list[str] = []
            try:
                walk(_json.loads(doc), "" if dot else "$", out, 1)
            except Exception:
                return []
            return out

        return pd.Series([run(d) for d in docs])

    @pandas_udf("binary", PandasUDFType.SCALAR)
    def __tdigest_merge(arrs):
        # merge a (bounded) list of engine-own digests — the final level
        # of the two-phase MV percentile shape
        def run(lst):
            acc = TDigest()
            if lst is None:
                return acc.to_bytes()
            for b in lst:
                if b is not None:
                    acc = acc.merge(TDigest.from_bytes(bytes(b)))
            return acc.to_bytes()

        return pd.Series([run(lst) for lst in arrs])

    @pandas_udf("double", PandasUDFType.SCALAR)
    def __tdigest_quantile(b, pct):
        # auto-detects foreign DataSketches KLL blobs (family-15
        # preamble, operators/ds_kll.py) vs engine-own t-digest bytes
        from pinot_spark.functions.sketches import tdigest_quantile_any_series

        return tdigest_quantile_any_series(b, pct)

    # ---- bounded GROUPED_AGG partials (two-phase inner / in-expression
    # path for pure-sketch statements). Persistent aggregation state is
    # the emitted sketch blob; the group's rows stream to Python as Arrow
    # batches (the transient feed is bounded by the two-phase bucket
    # fanout where the rewrite applies). 64-bit hashes arrive SPLIT into
    # hi/lo 32-bit halves: a nullable BIGINT column reaches pandas as
    # float64, which cannot represent xxhash64 exactly — 32-bit halves
    # can (both < 2^32), and NULLs stay detectable as NaN.
    def _join_halves(hi: pd.Series, lo: pd.Series) -> np.ndarray:
        mask = hi.notna().to_numpy()
        h = np.asarray(hi, dtype=np.float64)[mask].astype(np.uint64)
        l = np.asarray(lo, dtype=np.float64)[mask].astype(np.uint64)
        # (hi<<32)|lo reassembles the unsigned reinterpretation of the
        # signed xxhash64; ^2^63 matches the +2^63 shift used everywhere
        return ((h << np.uint64(32)) | l) ^ np.uint64(1 << 63)

    @pandas_udf("binary", PandasUDFType.GROUPED_AGG)
    def __theta_partial(hi, lo, k):
        kk = int(k.iloc[0]) if len(k) else 4096
        return ThetaSketch.from_hashes(kk, _join_halves(hi, lo)).to_bytes()

    @pandas_udf("binary", PandasUDFType.GROUPED_AGG)
    def __tuple_partial(blobs):
        from pinot_spark.operators.ds_theta import DsTupleSketch, is_ds_tuple_bytes

        acc = None
        domain = None
        for b in blobs:
            if b is None:
                continue
            if is_ds_tuple_bytes(bytes(b)):
                s, d = DsTupleSketch.parse(bytes(b)), "ds"
            else:
                s, d = TupleSketch.from_bytes(bytes(b)), "own"
            if domain is None:
                domain = d
            elif domain != d:
                raise ValueError(
                    "tuple sketch aggregation mixes DataSketches-format "
                    "(murmur-9001) and engine-native (xxhash64) sketches "
                    "— the hash domains are incompatible"
                )
            if acc is None:
                acc = s
            elif d == "ds":
                acc = acc.union(s)
            else:
                acc = acc.union(s, mode=_MODES["sum"])
        if acc is None:
            # NULL, not an engine-native empty: a format-less empty
            # partial must not pollute a DataSketches-format merge
            return None
        return acc.serialize() if domain == "ds" else acc.to_bytes()

    @pandas_udf("binary", PandasUDFType.GROUPED_AGG)
    def __tdigest_partial(arrs):
        td = TDigest()
        for vals in arrs:
            if vals is None or len(vals) == 0:
                continue
            v = np.asarray(vals, dtype=np.float64)
            v = v[~np.isnan(v)]
            if len(v):
                td.add(v.tolist())
        return td.to_bytes()

    @pandas_udf("binary", PandasUDFType.GROUPED_AGG)
    def __hll_mv_partial(pair_arrs, log2m):
        lm = int(log2m.iloc[0]) if len(log2m) else 8
        s = HllSketch.empty(lm)
        for ps in pair_arrs:
            if ps is None or len(ps) == 0:
                continue
            p = np.asarray(ps, dtype=np.int64)
            np.maximum.at(s.registers, p >> 6, (p & 63).astype(np.uint8))
        return s.to_bytes()

    @pandas_udf("binary", PandasUDFType.GROUPED_AGG)
    def __freq_long_partial(vals, mm):
        # DataSketches frequencies partial (operators/ds_freq.py):
        # numeric values update the reverse-purge map; BYTES values are
        # serialized foreign sketches and MERGE (the reference's
        # BYTES-column contract, FrequentLongsSketchAggregationFunction)
        from pinot_spark.operators.ds_freq import DsFrequentSketch

        m = int(mm.iloc[0]) if len(mm) else 256
        s = DsFrequentSketch.empty(m)
        for v in vals:
            if v is None or (isinstance(v, float) and np.isnan(v)):
                continue
            if isinstance(v, (bytes, bytearray)):
                s = s.merge(DsFrequentSketch.parse(bytes(v), strings=False))
            else:
                s.update(int(v))
        return s.serialize()

    @pandas_udf("binary", PandasUDFType.GROUPED_AGG)
    def __freq_str_partial(vals, mm):
        from pinot_spark.operators.ds_freq import DsFrequentSketch

        m = int(mm.iloc[0]) if len(mm) else 256
        s = DsFrequentSketch.empty(m)
        for v in vals:
            if v is None:
                continue
            if isinstance(v, (bytes, bytearray)):
                s = s.merge(DsFrequentSketch.parse(bytes(v), strings=True))
            else:
                s.update(str(v))
        return s.serialize()

    # ---- scalar merges over the BOUNDED (≤ fanout) partial-blob lists
    # the two-phase outer level collects
    @pandas_udf("binary", PandasUDFType.SCALAR)
    def __freq_long_merge(arrs):
        from pinot_spark.operators.ds_freq import DsFrequentSketch

        def run(lst):
            acc = None
            for b in (lst if lst is not None else []):
                if b is None:
                    continue
                s = DsFrequentSketch.parse(bytes(b), strings=False)
                acc = s if acc is None else acc.merge(s)
            return (acc or DsFrequentSketch.empty()).serialize()

        return pd.Series([run(lst) for lst in arrs])

    @pandas_udf("binary", PandasUDFType.SCALAR)
    def __freq_str_merge(arrs):
        from pinot_spark.operators.ds_freq import DsFrequentSketch

        def run(lst):
            acc = None
            for b in (lst if lst is not None else []):
                if b is None:
                    continue
                s = DsFrequentSketch.parse(bytes(b), strings=True)
                acc = s if acc is None else acc.merge(s)
            return (acc or DsFrequentSketch.empty()).serialize()

        return pd.Series([run(lst) for lst in arrs])

    @pandas_udf("bigint", PandasUDFType.SCALAR)
    def __freq_long_estimate(b, item):
        from pinot_spark.operators.ds_freq import DsFrequentSketch

        return pd.Series(
            [
                None if x is None or i is None
                else DsFrequentSketch.parse(bytes(x), strings=False).estimate(int(i))
                for x, i in zip(b, item)
            ],
            dtype="Int64",
        )

    @pandas_udf("bigint", PandasUDFType.SCALAR)
    def __freq_str_estimate(b, item):
        from pinot_spark.operators.ds_freq import DsFrequentSketch

        return pd.Series(
            [
                None if x is None or i is None
                else DsFrequentSketch.parse(bytes(x), strings=True).estimate(str(i))
                for x, i in zip(b, item)
            ],
            dtype="Int64",
        )

    @pandas_udf("binary", PandasUDFType.SCALAR)
    def __theta_merge_blobs(arrs):
        def run(lst):
            acc = None
            for b in lst if lst is not None else []:
                if b is None:
                    continue
                s = ThetaSketch.from_bytes(bytes(b))
                acc = s if acc is None else acc.union(s)
            return (acc or ThetaSketch(4096, 2**64, np.array([], dtype=np.uint64))).to_bytes()

        return pd.Series([run(lst) for lst in arrs])

    def _union_any_blobs(lst):
        """Union a list of serialized theta sketches in EITHER wire
        format (DataSketches compact or engine-native) — the pre-built
        BYTES-column ingestion path (ThetaSketchTest.java uploads
        datasketches-java compact blobs)."""
        acc_kind, acc = None, None
        for b in lst if lst is not None else []:
            if b is None:
                continue
            kind, s = _load_any_theta(b)
            if acc is None:
                acc_kind, acc = kind, s
            elif kind != acc_kind:
                raise ValueError(
                    "theta blob union mixes DataSketches-format and "
                    "engine-native sketches (incompatible hash domains)"
                )
            else:
                acc = acc.union(s)
        return acc_kind, acc

    @pandas_udf("binary", PandasUDFType.SCALAR)
    def __theta_union_blobs(arrs):
        def run(lst):
            kind, acc = _union_any_blobs(lst)
            if acc is None:
                return ThetaSketch(
                    4096, 2**64, np.array([], dtype=np.uint64)
                ).to_bytes()
            return acc.serialize() if kind == "ds" else acc.to_bytes()

        return pd.Series([run(lst) for lst in arrs])

    @pandas_udf("bigint", PandasUDFType.SCALAR)
    def __theta_filtered(expr, groups):
        """DistinctCountThetaSketchAggregationFunction's filtered form:
        $k = the union of the k-th predicate's sketches, combined with
        SET_INTERSECT / SET_UNION / SET_DIFF post-aggregation."""

        def parse(s: str, pos: int):
            while pos < len(s) and s[pos].isspace():
                pos += 1
            if s.startswith("$", pos):
                j = pos + 1
                while j < len(s) and s[j].isdigit():
                    j += 1
                return ("ref", int(s[pos + 1 : j])), j
            m = re.match(r"SET_(INTERSECT|UNION|DIFF)\s*\(", s[pos:], re.IGNORECASE)
            if not m:
                raise ValueError(f"bad theta post-aggregation expr at {s[pos:]!r}")
            op = m.group(1).upper()
            j = pos + m.end()
            args = []
            while True:
                node, j = parse(s, j)
                args.append(node)
                while j < len(s) and s[j].isspace():
                    j += 1
                if j < len(s) and s[j] == ",":
                    j += 1
                    continue
                if j < len(s) and s[j] == ")":
                    return ("op", op, args), j + 1
                raise ValueError(f"bad theta post-aggregation expr at {s[j:]!r}")

        def run(e, gs):
            sketches = []
            fmt = None
            for g in gs if gs is not None else []:
                kind, acc = _union_any_blobs(g)
                if kind is not None:
                    fmt = kind
                sketches.append(acc)
            from pinot_spark.operators.ds_theta import DsThetaSketch

            def empty():
                return (
                    DsThetaSketch.empty()
                    if fmt == "ds"
                    else ThetaSketch(4096, 2**64, np.array([], dtype=np.uint64))
                )

            def ev(node):
                if node[0] == "ref":
                    s = sketches[node[1] - 1]
                    return s if s is not None else empty()
                op, args = node[1], node[2]
                acc = ev(args[0])
                for a in args[1:]:
                    rhs = ev(a)
                    if op == "INTERSECT":
                        acc = acc.intersect(rhs)
                    elif op == "UNION":
                        acc = acc.union(rhs)
                    else:
                        acc = acc.a_not_b(rhs)
                return acc

            tree, _ = parse(str(e), 0)
            return int(round(ev(tree).estimate()))

        return pd.Series(
            [run(e, gs) for e, gs in zip(expr, groups)], dtype="Int64"
        )

    @pandas_udf("binary", PandasUDFType.SCALAR)
    def __hll_merge_blobs(arrs):
        def run(lst):
            acc = None
            for b in lst if lst is not None else []:
                if b is None:
                    continue
                s = HllSketch.from_bytes(bytes(b))
                acc = s if acc is None else acc.merge(s)
            return (acc or HllSketch.empty()).to_bytes()

        return pd.Series([run(lst) for lst in arrs])

    # --- clearspring RAW-HLL wire route (operators/cs_hll.py;
    # functions/sketches.py series bodies) — the default
    # DISTINCTCOUNTRAWHLL[PLUS][MV] serialization since round 11 -------

    @pandas_udf("bigint", PandasUDFType.SCALAR)
    def __cs_hll_pair(v, t, log2m):
        from pinot_spark.functions.sketches import cs_hll_pair_series

        return cs_hll_pair_series(
            v,
            str(t.iloc[0]) if len(t) else None,
            int(log2m.iloc[0]) if len(log2m) else 8,
        )

    @pandas_udf("array<bigint>", PandasUDFType.SCALAR)
    def __cs_hll_pairs_arr(arrs, t, log2m):
        from pinot_spark.functions.sketches import cs_hll_pairs_arr_series

        return cs_hll_pairs_arr_series(
            arrs,
            str(t.iloc[0]) if len(t) else None,
            int(log2m.iloc[0]) if len(log2m) else 8,
        )

    @pandas_udf("bigint", PandasUDFType.SCALAR)
    def __cs_hllpp_pair(v, t, p):
        from pinot_spark.functions.sketches import cs_hllpp_pair_series

        return cs_hllpp_pair_series(
            v,
            str(t.iloc[0]) if len(t) else None,
            int(p.iloc[0]) if len(p) else 14,
        )

    @pandas_udf("bigint", PandasUDFType.SCALAR)
    def __cs_hllpp_pair_long(hi, lo, p):
        from pinot_spark.functions.sketches import cs_hllpp_pair_long_series

        return cs_hllpp_pair_long_series(
            hi, lo, int(p.iloc[0]) if len(p) else 14
        )

    @pandas_udf("array<bigint>", PandasUDFType.SCALAR)
    def __cs_hllpp_pairs_arr(arrs, t, p):
        from pinot_spark.functions.sketches import cs_hllpp_pairs_arr_series

        return cs_hllpp_pairs_arr_series(
            arrs,
            str(t.iloc[0]) if len(t) else None,
            int(p.iloc[0]) if len(p) else 14,
        )

    @pandas_udf("binary", PandasUDFType.SCALAR)
    def __cs_hll_from_regs(arrs, log2m):
        from pinot_spark.functions.sketches import cs_hll_from_pairs_series

        return cs_hll_from_pairs_series(
            arrs, int(log2m.iloc[0]) if len(log2m) else 8
        )

    @pandas_udf("binary", PandasUDFType.SCALAR)
    def __cs_hllpp_from_regs(arrs, p, sp):
        from pinot_spark.functions.sketches import cs_hllpp_from_pairs_series

        return cs_hllpp_from_pairs_series(
            arrs,
            int(p.iloc[0]) if len(p) else 14,
            int(sp.iloc[0]) if len(sp) else 0,
        )

    @pandas_udf("binary", PandasUDFType.SCALAR)
    def __cs_hll_merge_blobs(arrs):
        from pinot_spark.functions.sketches import cs_hll_merge_blobs_series

        return cs_hll_merge_blobs_series(arrs)

    @pandas_udf("binary", PandasUDFType.GROUPED_AGG)
    def __cs_hll_mv_partial(pair_arrs, log2m):
        from pinot_spark.operators.cs_hll import cs_hll_from_pairs

        lm = int(log2m.iloc[0]) if len(log2m) else 8
        pairs = []
        for ps in pair_arrs:
            if ps is not None and len(ps):
                pairs.extend(int(x) for x in ps if x is not None)
        return cs_hll_from_pairs(pairs, lm).serialize()

    # --- DataSketches CPC write/union (round 11, operators/ds_cpc.py) --

    @pandas_udf("bigint", PandasUDFType.SCALAR)
    def __cpc_coupon(v, t, lgk):
        from pinot_spark.functions.sketches import ds_cpc_coupon_series

        return ds_cpc_coupon_series(
            v,
            str(t.iloc[0]) if len(t) else None,
            int(lgk.iloc[0]) if len(lgk) else 12,
        )

    @pandas_udf("bigint", PandasUDFType.SCALAR)
    def __cpc_coupon_long(hi, lo, lgk):
        from pinot_spark.functions.sketches import ds_cpc_coupon_long_series

        return ds_cpc_coupon_long_series(
            hi, lo, int(lgk.iloc[0]) if len(lgk) else 12
        )

    @pandas_udf("binary", PandasUDFType.SCALAR)
    def __cpc_from_coupons(arrs, lgk):
        from pinot_spark.functions.sketches import ds_cpc_from_coupons_series

        return ds_cpc_from_coupons_series(
            arrs, int(lgk.iloc[0]) if len(lgk) else 12
        )

    @pandas_udf("binary", PandasUDFType.SCALAR)
    def __ds_cpc_single(v, t, lgk):
        from pinot_spark.functions.sketches import ds_cpc_single_series

        return ds_cpc_single_series(
            v,
            str(t.iloc[0]) if len(t) else None,
            int(lgk.iloc[0]) if len(lgk) else 12,
        )

    @pandas_udf("binary", PandasUDFType.SCALAR)
    def __ds_cpc_single_long(hi, lo, lgk):
        from pinot_spark.functions.sketches import ds_cpc_single_long_series

        return ds_cpc_single_long_series(
            hi, lo, int(lgk.iloc[0]) if len(lgk) else 12
        )

    @pandas_udf("binary", PandasUDFType.SCALAR)
    def __cpc_union(arrs):
        from pinot_spark.functions.sketches import ds_cpc_union_series

        return ds_cpc_union_series(arrs)

    @pandas_udf("binary", PandasUDFType.GROUPED_AGG)
    def __cs_hllpp_mv_partial(pair_arrs, p, sp):
        from pinot_spark.operators.cs_hll import cs_hllpp_from_pairs

        pp = int(p.iloc[0]) if len(p) else 14
        spp = int(sp.iloc[0]) if len(sp) else 0
        pairs = []
        for ps in pair_arrs:
            if ps is not None and len(ps):
                pairs.extend(int(x) for x in ps if x is not None)
        return cs_hllpp_from_pairs(pairs, pp, spp).serialize()

    # every ``__``-prefixed local above is a UDF, registered under its own name
    for name, udf in list(locals().items()):
        if name.startswith("__"):
            spark.udf.register(name, udf)
    _THETA_UDF_SESSIONS.add(spark)


@dataclass
class PinotEngine:
    """``PinotEngine(spark).sql("SELECT ... FROM tbl")`` — the Pinot
    broker's POST /query/sql surface on Spark (SURVEY.md §3.1-3.2:
    steps 2-7 are Catalyst; this class is step 2's dialect work)."""

    spark: SparkSession
    default_limit: int = 10
    options: dict[str, str] = field(default_factory=dict)
    # Pinot's enableNullHandling default is false (QueryOptionsUtils.java:389):
    # operators see the column's defaultNullValue, not SQL nulls. Our
    # storage keeps real nulls (parquet), so default-value mode is applied
    # as a scan-time coalesce — exactly equivalent to Pinot materializing
    # defaults at ingest (NullValueTransformer.java).
    null_handling_default: bool = False
    # Tables default-value mode applies to — the analog of Pinot's
    # schema-declared tables (defaultNullValue is schema config). None →
    # the engine catalog's base tables. Query-generated nulls (gapfill
    # spine rows, ad-hoc views) are NEVER defaulted: Pinot substitutes at
    # ingestion, which only ever touches stored columns.
    null_default_tables: frozenset[str] | None = None
    # Upsert-enabled tables (TableConfig upsertConfig FULL mode,
    # register_upsert_table): name -> latest-per-key view; SET
    # skipUpsert=true reads the raw rows (OfflineUpsertTableTest)
    upsert_tables: dict[str, str] = field(default_factory=dict)
    # Scoped suppression of the selection default-LIMIT injection for
    # ENGINE-GENERATED derived-table statements (raw-window grouped
    # subqueries): the zero-shuffle sketch routes re-enter sql()
    # internally, so a parameter cannot reach every translate() on the
    # path — a dynamically-scoped flag can.  A ContextVar (not an
    # instance attribute) so a concurrent query on another thread of
    # the same engine can't observe the suppression window and skip
    # the driver-contract default LIMIT on an unrelated selection.
    # A giant-LIMIT text guard is not equivalent: it plans GlobalLimit +
    # an Exchange SinglePartition funneling every group through one
    # partition.

    def _register_groovy_calls(self, sql: str) -> str:
        """Compile each GROOVY('meta', 'script', args...) call (literal
        metadata/script — GroovyFunctionEvaluator's shape) into a pandas
        UDF registered under a stable name, and rewrite the call to it,
        so PinotEngine.sql users get the same inline-transform subset as
        the Column registry (functions/groovy_expr.py)."""
        out = sql
        while True:
            m = re.search(r"\bGROOVY\s*\(", out, re.IGNORECASE)
            if not m:
                return out
            if any(a <= m.start() < b for a, b in _literal_spans(out)):
                return out
            open_idx = out.index("(", m.end() - 1)
            close_idx = _find_matching(out, open_idx)
            args = _split_args(out[open_idx + 1 : close_idx])
            if len(args) < 3:
                raise PinotSqlError("GROOVY needs (metadata, script, args...)")

            def unq(s: str) -> str:
                s = s.strip()
                if not (s.startswith("'") and s.endswith("'")):
                    raise PinotSqlError("GROOVY metadata/script must be string literals")
                return s[1:-1].replace("''", "'")

            from pinot_spark.functions.groovy_expr import groovy_udf

            _ASOF_VIEW_SEQ[0] += 1
            name = f"__groovy_{_ASOF_VIEW_SEQ[0]}"
            self.spark.udf.register(name, groovy_udf(unq(args[0]), unq(args[1])))
            out = (
                out[: m.start()]
                + f"{name}({', '.join(args[2:])})"
                + out[close_idx + 1 :]
            )

    def _ensure_nulldef_view(self, table: str) -> str | None:
        """Default-value-mode scan wrapper: a temp view over ``table``
        with every nullable scalar column coalesced to its
        defaultNullValue (cast back to the column type, so schemas are
        identical), built as one SQL projection over the statement's
        schema. Returns None for a table outside ``null_default_tables``
        or one with nothing nullable to default."""
        allowed = self.null_default_tables
        if allowed is None:
            from pinot_spark.catalog import TABLE_NAMES

            allowed = TABLE_NAMES
        if table not in allowed or table.startswith("__"):
            return None
        cols, changed = [], False
        for f_ in _table_schema(self.spark, table).fields:
            name = "`" + f_.name.replace("`", "``") + "`"
            lit = _null_default_literal(f_.dataType) if f_.nullable else None
            if lit is None:
                cols.append(name)
            else:
                cols.append(
                    f"coalesce({name}, CAST({lit} AS "
                    f"{f_.dataType.simpleString()})) AS {name}"
                )
                changed = True
        if not changed:
            return None
        view = f"__nulldef_{table}"
        self.spark.sql(f"SELECT {', '.join(cols)} FROM `{table}`").createOrReplaceTempView(view)
        return view

    def register_upsert_table(
        self,
        name: str,
        keys: list[str],
        comparison: list[str],
        delete_col: str | None = None,
    ) -> None:
        """Declare ``name`` an upsert table (TableConfig upsertConfig,
        FULL mode): queries resolve to the latest-row-per-key view
        (operators/upsert.upsert_view) unless ``SET skipUpsert=true``
        asks for the raw rows — OfflineUpsertTableTest's query surface.
        Re-register after appending data (the segment-upload refresh)."""
        from pinot_spark.operators.upsert import upsert_view

        view = f"__upsert_{name}"
        upsert_view(
            self.spark.table(name), keys, comparison, delete_col
        ).createOrReplaceTempView(view)
        self.upsert_tables[name] = view

    def _syntax_ok(self, sql: str) -> bool:
        """Does the text PARSE as a Spark SQL statement? (Catalyst's own
        parser, syntax only — no analysis/resolution, no execution.)"""
        try:
            self.spark._jsparkSession.sessionState().sqlParser().parsePlan(sql)
            return True
        except Exception:
            return False

    def translate(
        self, pinot_sql: str, *, _inject_default_limit: bool = True
    ) -> tuple[str, dict[str, str]]:
        # one schema memo per statement: every schema-aware pass
        # resolves each referenced table once
        memo_token = _SCHEMA_MEMO.set({})
        try:
            options, sql = split_options(pinot_sql)
            consume_options(options)
            sql = rewrite_pinot_hints(sql)
            sql = rewrite_unicode_literals(sql)
            sql = rewrite_quoted_identifiers(sql)
            if "[" in sql:
                sql = rewrite_map_default_access(self.spark, sql)
            if _DISTINCT_WINDOW_RE.search(sql) and re.search(
                r"\bOVER\s*\(", sql, re.IGNORECASE
            ):
                sql = rewrite_distinct_window_aggs(sql)
            if _FUNNEL_WINDOW_RE.search(sql):
                sql = rewrite_funnel_window(self.spark, sql)
            if _FUNNEL_COUNT_RE.search(sql):
                sql = rewrite_funnel_count(self.spark, sql)
            if _VECTOR_SIM_RE.search(sql):
                sql = rewrite_vector_similarity(sql, options)
            if _SKETCH_AGG_FILTER_RE.search(sql) and re.search(
                r"\bFILTER\s*\(", sql, re.IGNORECASE
            ):
                sql = rewrite_sketch_agg_filters(sql)
            if _THETA_BLOB_CALL_RE.search(sql):
                _ensure_theta_sql_udfs(self.spark)
                sql = rewrite_theta_blob_calls(self.spark, sql)
            if _THETA_VALUE_CALL_RE.search(sql):
                _ensure_theta_sql_udfs(self.spark)
                sql = rewrite_theta_value_calls(sql)
            if _THETA_SQL_RE.search(sql):
                _ensure_theta_sql_udfs(self.spark)
                # Safety net for the regex-based restructuring (VERDICT r7:
                # parsing SQL with a regex is inherently fragile): a
                # restructured statement that no longer PARSES degrades to
                # the original form's per-value fallback instead of erroring
                # — any future canonical-shape extension that corrupts a
                # rewrite fails safe. Syntax-only check, no execution.
                for rewrite in (rewrite_raw_sketch_setop,
                                rewrite_raw_sketch_two_phase,
                                rewrite_raw_sketch_inexpr_udaf):
                    cand = rewrite(sql)
                    if cand != sql and not self._syntax_ok(cand):
                        continue
                    sql = cand
            if _search_outside_literals(_ST_UNION_CALL_RE, sql):
                # bounded two-phase fold (same safety net as the raw-sketch
                # restructures: a candidate that no longer parses degrades
                # to the expression-level collect_list fallback)
                _ensure_geo_sql_udfs(self.spark)
                cand = rewrite_st_union_two_phase(sql)
                if cand != sql and self._syntax_ok(cand):
                    sql = cand
            if re.search(r"\bGROOVY\s*\(", sql, re.IGNORECASE):
                sql = self._register_groovy_calls(sql)
            while has_asof_join(sql):
                rewritten = rewrite_asof_join(self.spark, sql)
                if rewritten == sql:
                    raise PinotSqlError(
                        "ASOF JOIN clause not in rewritable form "
                        "(both sides must be named tables/views)"
                    )
                sql = rewritten
            sql = rewrite_array_constructor(sql)
            if re.search(r"\)\s*(?:=|!=|<>|<=|>=|<|>)\s*(?:ROW\s*)?\(", sql, re.IGNORECASE):
                sql = rewrite_row_comparisons(sql)
            if re.search(r"\bUNNEST\s*\(", sql, re.IGNORECASE):
                sql = rewrite_unnest(sql)
            sql = rewrite_mv_distinct_aggs(sql)  # before fn rewrite (raw names)
            sql = rewrite_functions(sql)  # literal-span-aware
            if "collect_list" in sql:
                sql = rewrite_mv_collect_aggs(self.spark, sql)
            if re.search(r"\bAS\s+UUID\b", sql, re.IGNORECASE):
                sql = rewrite_uuid_casts(sql)
            sql = rewrite_cast_types(sql)
            if "CAST" in sql.upper():
                sql = rewrite_mv_scalar_casts(self.spark, sql)
            sql = rewrite_timestamp_coercion(self.spark, sql)
            sql = rewrite_mv_predicates(self.spark, sql)
            # default-value null mode LAST: table-name substitution must not
            # disturb the shape-sensitive rewrites above (MV-distinct scale,
            # ASOF) which match plain `FROM <table>` forms
            if not null_handling_enabled(options, self.null_handling_default):
                sql = _substitute_views(sql, self._ensure_nulldef_view)
            if self.upsert_tables and not any(
                k.lower() == "skipupsert" and v.strip().lower() in _TRUE_VALUES
                for k, v in options.items()
            ):
                sql = _substitute_views(sql, self.upsert_tables.get)
            sql = self._hoist_heavy_agg_args(sql)
            if _inject_default_limit and not _NO_DEFAULT_LIMIT.get():
                sql = apply_default_limit(
                    sql, int(options.get("limit", self.default_limit))
                )
            return sql, options
        finally:
            _SCHEMA_MEMO.reset(memo_token)

    # expressions longer than this inside collect_set/collect_list are
    # hoisted into a derived projection: TypedImperativeAggregate
    # children evaluate INTERPRETED per row with no common-subexpression
    # elimination, so the textually-duplicated murmur pair expressions
    # (~8 KB after template expansion) cost ~4x there vs a whole-stage-
    # codegen'd Project below the partial aggregate (measured sf0.1:
    # 4.0s -> 1.1s for a grouped DISTINCTCOUNTRAWHLL over 600k rows)
    _HOIST_MIN_LEN = 1000

    def _hoist_heavy_agg_args(self, sql: str) -> str:
        """Rewrite ``collect_set(<heavy expr>)`` (and collect_list) in a
        canonical single-table statement so the heavy expression
        computes in a derived-table PROJECTION — map-side, before the
        partial aggregate, inside whole-stage codegen with
        subexpression elimination — and the aggregate consumes a plain
        column.  No-op for short arguments, non-canonical statements,
        join sources, or subquery-bearing arguments; falls back to the
        original text if the rewrite does not parse."""
        if "collect_" not in sql:
            return sql
        spans = _literal_spans(sql)
        hits = []  # (start, inner_start, close, inner_text)
        for m in re.finditer(r"\bcollect_(?:set|list)\s*\(", sql):
            if any(a <= m.start() < b for a, b in spans):
                continue
            close = _find_matching(sql, m.end() - 1)
            inner = sql[m.end() : close]
            if len(inner) < self._HOIST_MIN_LEN:
                continue
            if re.search(r"\(\s*SELECT\b", inner, re.IGNORECASE):
                continue
            hits.append((m.start(), m.end(), close, inner))
        if not hits:
            return sql
        # allow_join carries the FROM text verbatim — accept only a
        # single (possibly aliased) named table; the derived table is
        # re-aliased with the same name so qualified references in the
        # outer clauses keep resolving
        stmt = _parse_canonical_stmt(sql, allow_join=True)
        if stmt is None:
            return sql
        tm = re.fullmatch(
            r"([A-Za-z_][\w.]*)(?:\s+(?:AS\s+)?([A-Za-z_]\w*))?",
            stmt["table"],
            re.IGNORECASE,
        )
        if tm is None:
            return sql
        alias = tm.group(2) or tm.group(1).split(".")[-1]
        # dedupe identical arguments; splice back-to-front
        keymap: dict[str, int] = {}
        exprs: list[str] = []
        out = sql
        for start, istart, close, inner in sorted(hits, key=lambda h: -h[0]):
            key = re.sub(r"\s+", " ", inner).strip()
            if key not in keymap:
                keymap[key] = len(exprs)
                exprs.append(inner)
            out = out[:istart] + f"__agh_{keymap[key]}" + out[close:]
        fm = _parse_canonical_stmt(out, allow_join=True)
        if fm is None:
            return sql
        proj = ", ".join(f"{e} AS __agh_{i}" for i, e in enumerate(exprs))
        inner_sql = f"SELECT *, {proj} FROM {fm['table']}"
        rebuilt = (
            f"SELECT {fm['select']} FROM ({inner_sql}) AS {alias}"
            + (f" WHERE {fm['where']}" if fm["where"] else "")
            + (f" GROUP BY {fm['group']}" if fm["group"] else "")
            + (f" HAVING {fm['having']}" if fm["having"] else "")
            + (fm["tail"] or "")
        )
        return rebuilt if self._syntax_ok(rebuilt) else sql

    def sql(
        self, pinot_sql: str, *, _inject_default_limit: bool = True
    ) -> DataFrame:
        from pinot_spark.ddl import is_ddl

        _opts, bare = split_options(pinot_sql)
        em = re.match(r"\s*EXPLAIN\s+PLAN\s+FOR\s+", bare, re.IGNORECASE)
        if em:
            # re-prefix the SET statements so the explained query runs
            # under the same options
            prefix = "".join(f"SET {k}={v};" for k, v in _opts.items())
            return self._explain(prefix + bare[em.end() :])
        if is_ddl(pinot_sql):
            # DDL defining-SELECTs get dialect rewrites but NOT the
            # selection default LIMIT (that's a query-surface default)
            def _translate_no_limit(sql: str):
                options, s = split_options(sql)
                s = rewrite_quoted_identifiers(s)
                s = rewrite_functions(s)
                s = rewrite_mv_predicates(self.spark, s)
                return s, options

            r = self.ddl.execute(pinot_sql, translate=_translate_no_limit)
            return self.spark.createDataFrame(
                [(r.operation, r.name, r.rows, r.rollup_registered)],
                "operation string, name string, rows bigint, rollup_registered boolean",
            )
        if has_gapfill(pinot_sql):
            options, bare = split_options(pinot_sql)
            span = find_gapfill_subquery(bare)
            if span is None:
                return self._gapfill(pinot_sql)
            # aggregation over gapfill: materialize the gapfilled derived
            # table as a temp view, then run the outer statement normally
            s, e = span
            _ASOF_VIEW_SEQ[0] += 1
            view = f"__gapfill_{_ASOF_VIEW_SEQ[0]}"
            self._gapfill(bare[s + 1 : e]).createOrReplaceTempView(view)
            return self.sql(bare[:s] + view + bare[e + 1 :])
        if _THETA_VALUE_CALL_RE.search(pinot_sql) and re.search(
            r"\bOVER\s*\(", pinot_sql, re.IGNORECASE
        ):
            # value-build theta in WINDOW position must become its RAW
            # twin BEFORE the window router (which keys on RAW names);
            # pre-built blob columns stay for the blob rewrite
            _ensure_theta_sql_udfs(self.spark)
            pinot_sql = rewrite_theta_value_calls(
                pinot_sql,
                blob_cols=_typed_columns(self.spark, pinot_sql, (T.BinaryType,)),
            )
        routed = self._route_raw_sketch_windows(pinot_sql)
        if routed is not None:
            return routed
        pinot_sql = self._normalize_sketch_group_keys(pinot_sql)
        routed = self._route_pure_theta_zero_shuffle(pinot_sql)
        if routed is not None:
            return routed
        if _GEO_SQL_RE.search(pinot_sql):
            _ensure_geo_sql_udfs(self.spark)
        spark_sql, _options = self.translate(
            pinot_sql, _inject_default_limit=_inject_default_limit
        )
        try:
            return self.spark.sql(spark_sql)
        except Exception:
            # HAVING GROUPING(col) where col isn't projected: Spark
            # can't resolve it against the aggregate output (the
            # reference accepts it — GroupingSetsQueriesTest
            # testHavingOnGrouping); hoist the grouping calls into the
            # projection and filter in an outer query
            if re.search(
                r"\bHAVING\b[\s\S]*\bGROUPING(?:_ID)?\s*\(",
                spark_sql,
                re.IGNORECASE,
            ):
                cand = _hoist_having_grouping(spark_sql)
                if cand is not None:
                    return self.spark.sql(cand)
            raise

    def _route_raw_sketch_windows(self, pinot_sql: str) -> DataFrame | None:
        """Bounded rewrite for RAW-sketch aggregates in window position:
        ``RAWNAME(args) OVER (PARTITION BY keys)`` computes the sketch
        per partition via the grouped routes (zero-shuffle map-side
        combine where canonical; bucketed two-phase otherwise) in a
        materialized subquery, null-safe LEFT JOINed back on the
        partition keys — the reference evaluates window aggregations
        with one aggregation state per partition
        (pinot-query-runtime .../window/WindowAggregateOperator), so
        the per-partition sketch IS the window value for an unbounded
        frame.  ORDER BY / framed windows (running raw sketches) route
        to _rewrite_running_raw_windows (operators/running_sketch.py):
        per-value tokens computed JVM-side, one shuffle on the
        partition keys, a sequential Arrow pass per group; sliding
        ROWS N PRECEDING frames rebuild per row from the last N+1
        tokens (bounded by the frame width) and shrinking CURRENT ROW
        .. UNBOUNDED FOLLOWING frames run reversed — only value-based
        RANGE sliding and two-sided bounded frames still raise.  Without
        this route, Spark rejects the naive
        substitution with a misleading MISSING_GROUP_BY (OVER cannot
        attach to the scalar-wrapped collect_set)."""
        options, sql = split_options(pinot_sql)
        if not _RAW_WINDOW_CALL_RE.search(sql) or not re.search(
            r"\bOVER\s*\(", sql, re.IGNORECASE
        ):
            return None
        # Strip BEFORE computing hit offsets: replacements below splice
        # into this exact string, and a leading-whitespace (multiline /
        # triple-quoted) statement would otherwise desync every offset.
        sql2 = rewrite_quoted_identifiers(sql).strip().rstrip(";")
        spans = _literal_spans(sql2)
        hits = []  # (call_start, over_close, call_text, over_body)
        for m in _RAW_WINDOW_CALL_RE.finditer(sql2):
            if any(a <= m.start() < b for a, b in spans):
                continue
            close = _find_matching(sql2, m.end() - 1)
            om = re.match(r"\s*OVER\s*\(", sql2[close + 1 :], re.IGNORECASE)
            if not om:
                continue
            oopen = close + 1 + om.end() - 1
            oclose = _find_matching(sql2, oopen)
            hits.append(
                (m.start(), oclose, sql2[m.start() : close + 1], sql2[oopen + 1 : oclose])
            )
        if not hits:
            return None
        running = []
        unbounded = []
        for h in hits:
            pexprs, oitems, mode = _parse_running_over(h[3])
            if mode == "unbounded":
                unbounded.append(h)
            elif mode == "all":
                # UNBOUNDED PRECEDING .. UNBOUNDED FOLLOWING on an
                # ordered window = the whole-partition value: the
                # grouped LEFT-JOIN path computes it with sketch-sized
                # state, so rewrite the OVER body down to its partition
                # clause and route there
                start, oclose, call_text, _body = h
                pb = f"PARTITION BY {', '.join(pexprs)}" if pexprs else ""
                unbounded.append((start, oclose, call_text, pb))
            else:
                running.append((h, pexprs, oitems, mode))
        if running:
            # ORDER BY / framed windows (running sketches): materialize
            # the running column via operators/running_sketch.py, then
            # re-enter for the rewritten statement (any remaining
            # partition-unbounded hits route below on reentry)
            new_sql = self._rewrite_running_raw_windows(sql2, running, options)
            prefix = "".join(f"SET {k}={v};" for k, v in options.items())
            return self.sql(prefix + new_sql)
        hits = unbounded
        stmt = _parse_canonical_stmt(sql2, allow_join=True)
        if stmt is None or stmt["group"] or stmt["having"]:
            raise NotImplementedError(
                "RAW sketch window aggregates require a canonical "
                "single-SELECT statement without GROUP BY/HAVING "
                "(set operations and grouped selects around a raw-sketch "
                "OVER() have no bounded rewrite)"
            )
        prefix = "".join(f"SET {k}={v};" for k, v in options.items())
        where = f" WHERE {stmt['where']}" if stmt["where"] else ""
        body = sql2
        out_joins: list[str] = []
        # Identical (call, OVER body) pairs share one grouped subquery:
        # two windows over the same sketch expression cost one source
        # scan and one LEFT JOIN, not N.
        made: dict[tuple[str, str], str] = {}
        # replace back-to-front so spans stay valid
        for i, (start, oclose, call_text, over_body) in enumerate(
            sorted(hits, key=lambda h: -h[0])
        ):
            dedup_key = (
                re.sub(r"\s+", " ", call_text).strip(),
                re.sub(r"\s+", " ", over_body).strip(),
            )
            if dedup_key in made:
                body = body[:start] + f"{made[dedup_key]}.__rswv" + body[oclose + 1 :]
                continue
            _ASOF_VIEW_SEQ[0] += 1
            view = f"__rswin_{_ASOF_VIEW_SEQ[0]}"
            pm = re.match(r"\s*PARTITION\s+BY\s+(.*)$", over_body, re.IGNORECASE | re.DOTALL)
            if pm:
                kexprs = [k.strip() for k in _split_args(pm.group(1))]
            elif over_body.strip():
                raise NotImplementedError(
                    "RAW sketch window aggregates accept only "
                    "OVER (PARTITION BY ...) or the global OVER ()"
                )
            else:
                kexprs = []
            knames = [f"__rswk_{view[8:]}_{j}" for j in range(len(kexprs))]
            sel_keys = [f"{e} AS {n}" for e, n in zip(kexprs, knames)]
            group = f" GROUP BY {', '.join(kexprs)}" if kexprs else ""
            # NO default-LIMIT injection (and no giant-LIMIT guard: that
            # planned GlobalLimit + an Exchange SinglePartition funneling
            # every GROUP through one partition — needless at high
            # partition-key cardinality).  The flag, not a parameter,
            # because the zero-shuffle sketch routes re-enter sql()
            # internally with the merge statement.
            sub = (
                f"{prefix}SELECT {', '.join(sel_keys + [f'{call_text} AS __rswv'])} "
                f"FROM {stmt['table']}{where}{group}"
            )
            _ndl_token = _NO_DEFAULT_LIMIT.set(True)
            try:
                self.sql(sub).createOrReplaceTempView(view)
            finally:
                _NO_DEFAULT_LIMIT.reset(_ndl_token)
            cond = (
                " AND ".join(f"{e} <=> {view}.{n}" for e, n in zip(kexprs, knames))
                or "true"
            )
            out_joins.append(f" LEFT JOIN {view} ON {cond}")
            made[dedup_key] = view
            body = body[:start] + f"{view}.__rswv" + body[oclose + 1 :]
        # splice the joins immediately after the FROM source text
        fm = _parse_canonical_stmt(body, allow_join=True)
        if fm is None:
            raise NotImplementedError(
                "RAW sketch window rewrite produced a non-canonical "
                "statement — raising instead of executing an unbounded plan"
            )
        tail = fm["tail"] or ""
        outer = (
            f"{prefix}SELECT {fm['select']} FROM {fm['table']}"
            + "".join(out_joins)
            + (f" WHERE {fm['where']}" if fm["where"] else "")
            + tail
        )
        return self.sql(outer)

    def _running_window_spec(
        self, canonical: str, args: list[str], table: str
    ) -> tuple[str, tuple, list[str], bool, str]:
        """(family, params, token_exprs, is_array, wrapper) for one
        running raw-sketch window call.  token_exprs are Spark-side
        per-value expressions REUSED from the grouped aggregation
        routes (same hash domain, same pair encoding), so a running
        blob over a whole partition is byte-identical to the grouped
        route's blob for the same rows.  Full-range int64 tokens ride
        as hi/lo halves (nullable BIGINT → pandas float64 is lossy
        past 2^53)."""
        col = args[0]
        wrap = "{c}"
        if canonical == "distinctcountrawthetasketch":
            k = _theta_nominal_entries(args)
            base = (
                f"CASE WHEN ({col}) IS NULL THEN CAST(NULL AS BIGINT) "
                f"ELSE xxhash64({col}) END"
            )
            return (
                "theta",
                (k,),
                [f"shiftright({base}, 32)", f"({base}) & 4294967295"],
                False,
                wrap,
            )
        if canonical in (
            "distinctcounttuplesketch",
            "distinctcountrawintegersumtuplesketch",
            "sumvaluesintegersumtuplesketch",
            "avgvalueintegersumtuplesketch",
        ):
            wrap = {
                "distinctcounttuplesketch": "__tuple_estimate({c})",
                "sumvaluesintegersumtuplesketch": "__tuple_sum_values({c})",
                "avgvalueintegersumtuplesketch": "__tuple_avg_value({c})",
            }.get(canonical, "{c}")
            return ("tuple", (), [col], False, wrap)
        if canonical in ("distinctcountrawhll", "distinctcountrawhllmv"):
            log2m = (
                int(args[1])
                if len(args) > 1 and args[1].strip().isdigit()
                else 8
            )
            mv = canonical.endswith("mv")
            if _HLL_WIRE == "engine":
                if mv:
                    pair = _hll_pair_expr("x", log2m)
                    tok = (
                        f"array_distinct(transform(filter({col}, "
                        f"x -> x IS NOT NULL), x -> {pair}))"
                    )
                else:
                    tok = _hll_pair_expr(col, log2m)
                return ("hll_engine", (log2m,), [tok], mv, wrap)
            tok = (
                _cs_hll_pairs_arr_sql(col, log2m)
                if mv
                else _cs_hll_pair_sql(col, log2m)
            )
            return ("hll_cs", (log2m,), [tok], mv, wrap)
        if canonical in ("distinctcountrawhllplus", "distinctcountrawhllplusmv"):
            mv = canonical.endswith("mv")
            if _HLL_WIRE == "engine":
                # mirrors _raw_hllpp_sql: engine mode serves the
                # engine-own HLL blob at the log2m=8 default
                if mv:
                    pair = _hll_pair_expr("x", 8)
                    tok = (
                        f"array_distinct(transform(filter({col}, "
                        f"x -> x IS NOT NULL), x -> {pair}))"
                    )
                else:
                    tok = _hll_pair_expr(col, 8)
                return ("hll_engine", (8,), [tok], mv, wrap)
            p, sp = _hllpp_params(args)
            tok = (
                f"__cs_hllpp_pairs_arr({col}, typeof({col}), {p})"
                if mv
                else _cs_hllpp_pair_sql(col, p)
            )
            return ("hllpp_cs", (p, sp), [tok], mv, wrap)
        if canonical == "distinctcountrawull":
            p = (
                int(args[1])
                if len(args) > 1 and args[1].strip().isdigit()
                else 12
            )
            return ("ull", (p,), [_hll_pair_expr(col, p)], False, wrap)
        if canonical in ("distinctcountrawcpcsketch", "distinctcountcpcsketch"):
            lgk = _cpc_lgk(args)
            if canonical == "distinctcountcpcsketch":
                wrap = "__cpc_estimate({c})"
            return ("cpc", (lgk,), [_cpc_coupon_sql(col, lgk)], False, wrap)
        if canonical in ("frequentstringssketch", "frequentlongssketch"):
            mm = (
                int(args[1])
                if len(args) > 1 and args[1].strip().isdigit()
                else 256
            )
            strings = canonical == "frequentstringssketch"
            # resolved-type probe (analysis only, no execution): BYTES
            # columns MERGE as foreign sketches — the reference's
            # BYTES-input contract — value columns UPDATE
            try:
                dt = (
                    self.sql(
                        f"SELECT ({col}) AS __rsprobe FROM {table} WHERE 1=0"
                    )
                    .schema["__rsprobe"]
                    .dataType.simpleString()
                )
            except Exception:
                dt = ""
            if dt == "binary":
                fam = "freq_blob_str" if strings else "freq_blob_long"
                return (fam, (mm,), [col], False, wrap)
            if strings:
                return ("freq_str", (mm,), [col], False, wrap)
            base = (
                f"CASE WHEN ({col}) IS NULL THEN CAST(NULL AS BIGINT) "
                f"ELSE CAST({col} AS BIGINT) END"
            )
            return (
                "freq_long",
                (mm,),
                [f"shiftright({base}, 32)", f"({base}) & 4294967295"],
                False,
                wrap,
            )
        if canonical in ("percentilerawest", "percentilerawkll", "percentilerawtdigest"):
            return ("tdigest", (), [f"CAST({col} AS DOUBLE)"], False, wrap)
        if canonical in (
            "percentilerawestmv",
            "percentilerawkllmv",
            "percentilerawtdigestmv",
        ):
            return (
                "tdigest",
                (),
                [f"transform({col}, x -> CAST(x AS DOUBLE))"],
                True,
                wrap,
            )
        raise NotImplementedError(
            f"no running-window accumulator for {canonical.upper()} — "
            f"only partition-unbounded frames compute for this name"
        )

    def _rewrite_running_raw_windows(
        self, sql2: str, running: list, options: dict
    ) -> str:
        """Materialize running RAW-sketch window columns in a derived
        view (operators/running_sketch.attach_running: one shuffle on
        the PARTITION BY keys — Spark's own WindowExec requirement —
        then a sequential Arrow-batched pass per group with
        sketch-bounded accumulator state) and return the outer
        statement rewritten over it: each call site becomes a reference
        to its precomputed running column, FROM swaps to the view, and
        the WHERE (already applied inside the view) drops.  Identical
        (call, OVER body) pairs share one running column."""
        from pinot_spark.operators.running_sketch import attach_running

        # the token expressions and spliced wrappers reference the
        # internal sketch UDFs directly (__cs_hll_pair, __tuple_estimate,
        # ...) — names _THETA_SQL_RE does not gate on, so register here
        # (idempotent per session) rather than rely on a prior query
        # having tripped the lazy registration
        _ensure_theta_sql_udfs(self.spark)
        stmt = _parse_canonical_stmt(sql2, allow_join=False)
        if stmt is None or stmt["group"] or stmt["having"]:
            raise NotImplementedError(
                "running RAW-sketch window aggregates require a canonical "
                "single-SELECT statement over one named table without "
                "GROUP BY/HAVING (materialize joins/subqueries first)"
            )
        prefix = "".join(f"SET {k}={v};" for k, v in options.items())
        where = f" WHERE {stmt['where']}" if stmt["where"] else ""

        def _key(call_text: str, over_body: str) -> tuple[str, str]:
            return (
                re.sub(r"\s+", " ", call_text).strip().lower(),
                re.sub(r"\s+", " ", over_body).strip().lower(),
            )

        specs: list[tuple] = []
        keymap: dict[tuple[str, str], int] = {}
        for (start, oclose, call_text, over_body), pexprs, oitems, mode in running:
            key = _key(call_text, over_body)
            if key in keymap:
                continue
            m = _RAW_WINDOW_CALL_RE.match(call_text)
            canonical = m.group("name").replace("_", "").lower()
            args = [a.strip() for a in _split_args(call_text[m.end() : -1])]
            fam, params, toks, is_arr, wrap = self._running_window_spec(
                canonical, args, stmt["table"]
            )
            keymap[key] = len(specs)
            specs.append((pexprs, oitems, mode, fam, params, toks, is_arr, wrap))

        # splice call sites back-to-front so earlier spans stay valid
        body = sql2
        for (start, oclose, call_text, over_body), *_ in sorted(
            running, key=lambda r: -r[0][0]
        ):
            i = keymap[_key(call_text, over_body)]
            wrap = specs[i][7]
            body = (
                body[:start]
                + wrap.format(c=f"__rswr_{i}")
                + body[oclose + 1 :]
            )

        sel = ["*"]
        for i, (pexprs, oitems, _mode, _fam, _params, toks, _arr, _w) in enumerate(specs):
            sel += [f"{e} AS __rstk_{i}_{j}" for j, e in enumerate(toks)]
            sel += [f"{e} AS __rspk_{i}_{j}" for j, e in enumerate(pexprs)]
            sel += [f"{e} AS __rsok_{i}_{j}" for j, (e, _, _) in enumerate(oitems)]
        # translate WITHOUT the dialect's default-LIMIT injection: a
        # `LIMIT 2147483647` guard would plan GlobalLimit + an Exchange
        # SinglePartition funneling every ROW through one partition —
        # fatal at scale for this per-row view (the token projection has
        # no raw-sketch names, so plain translate covers it)
        vsql, _ = self.translate(
            f"{prefix}SELECT {', '.join(sel)} FROM {stmt['table']}{where}",
            _inject_default_limit=False,
        )
        vdf = self.spark.sql(vsql)
        for i, (pexprs, oitems, mode, fam, params, toks, is_arr, _w) in enumerate(specs):
            vdf = attach_running(
                vdf,
                [f"__rspk_{i}_{j}" for j in range(len(pexprs))],
                [
                    (f"__rsok_{i}_{j}", asc, nf)
                    for j, (_, asc, nf) in enumerate(oitems)
                ],
                [f"__rstk_{i}_{j}" for j in range(len(toks))],
                f"__rswr_{i}",
                fam,
                params,
                mode,
                is_arr,
            )
        helpers = [
            c for c in vdf.columns if re.fullmatch(r"__rs(tk|pk|ok)_\d+_\d+", c)
        ]
        vdf = vdf.drop(*helpers)
        _ASOF_VIEW_SEQ[0] += 1
        view = f"__rsrun_{_ASOF_VIEW_SEQ[0]}"
        vdf.createOrReplaceTempView(view)
        fm = _parse_canonical_stmt(body, allow_join=False)
        if fm is None:
            raise NotImplementedError(
                "running RAW-sketch window rewrite produced a "
                "non-canonical statement — raising instead of executing "
                "an unbounded plan"
            )
        tail = fm["tail"] or ""
        return f"SELECT {fm['select']} FROM {view}{tail}"

    def _normalize_sketch_group_keys(self, pinot_sql: str) -> str:
        """Rewrite canonical raw-sketch statements whose GROUP BY keys
        are select ALIASES or EXPRESSIONS into an equivalent statement
        over a derived table that materializes those keys as plain
        columns — after which every bounded path (zero-shuffle route,
        split, bucketed two-phase) applies unchanged. Copying an alias
        key into a generated subquery is the round-9 latent-bug class:
        the SQL parses but cannot resolve. Single named-table FROM only
        (SELECT * in the derived table is unambiguous there); other
        shapes keep the per-value fallback."""
        options, sql = split_options(pinot_sql)
        if not _RAW_SKETCH_CALL_RE.search(sql):
            return pinot_sql
        if re.search(r"\bOVER\s*\(", sql, re.IGNORECASE):
            return pinot_sql
        sql2 = rewrite_quoted_identifiers(sql)
        stmt = _parse_canonical_stmt(sql2, allow_join=False)
        if stmt is None or not stmt["group"]:
            return pinot_sql
        keys = [g.strip() for g in _split_args(stmt["group"])]
        items = [x.strip() for x in _split_args(stmt["select"])]
        # Spark identifier resolution is case-insensitive: fold alias
        # and source-column lookups (GROUP BY SUBSTR(..) must still hit
        # a select item written substr(..))
        amap = {a.lower(): e for a, e in _alias_map_of(items).items()}
        try:
            src_cols = {c.lower() for c in self.spark.table(stmt["table"]).columns}
        except Exception:
            return pinot_sql
        extra: list[str] = []
        new_keys: list[str] = []
        expr_renames: list[tuple[str, str]] = []  # (expr text, new name)
        changed = False
        for i, k in enumerate(keys):
            if re.fullmatch(r"[A-Za-z_]\w*", k):
                kl = k.lower()
                # a key that names a source column resolves to the
                # column (standard SQL), even if an alias shadows it
                if kl in src_cols or kl not in amap or amap[kl].lower() == kl:
                    new_keys.append(k)
                    continue
                extra.append(f"{amap[kl]} AS {k}")
                new_keys.append(k)
                # select items referencing the aliased expression must
                # reference the derived column instead, or they'd be
                # non-grouping expressions in the rewritten statement
                expr_renames.append((amap[kl], k))
                changed = True
            else:
                name = f"__k{i}"
                extra.append(f"{k} AS {name}")
                new_keys.append(name)
                expr_renames.append((k, name))
                changed = True
        if not changed:
            return pinot_sql
        derived = f"(SELECT *, {', '.join(extra)} FROM {stmt['table']}) __rs_src"

        def _expr_pat(expr: str) -> str:
            # whitespace-flexible, case-insensitive, boundary-guarded
            # pattern for an expression's text; string literals stay
            # atomic so flexibility never reaches inside quotes
            toks = re.findall(r"'(?:[^']|'')*'|\w+|\S", expr)
            pat = r"\s*".join(re.escape(t) for t in toks)
            if re.match(r"\w", expr):
                pat = r"(?<!\w)" + pat
            if re.search(r"\w$", expr):
                pat = pat + r"(?!\w)"
            return pat

        def subst(text: str) -> str:
            # expression keys: replace exact expression text occurrences
            # with the derived column name
            for expr, name in expr_renames:
                pat = _expr_pat(expr)
                spans = _literal_spans(text)
                out, pos = [], 0
                for m in re.finditer(pat, text, re.IGNORECASE):
                    if any(a <= m.start() < b for a, b in spans):
                        continue
                    out.append(text[pos : m.start()])
                    out.append(name)
                    pos = m.end()
                out.append(text[pos:])
                text = "".join(out)
            return text

        sel = ", ".join(subst(it) for it in items)
        where = f" WHERE {stmt['where']}" if stmt["where"] else ""
        having = f" HAVING {subst(stmt['having'])}" if stmt["having"] else ""
        tail = subst(stmt["tail"]) if stmt["tail"] else ""
        # commit guard: the rewrite is returned unconditionally, so an
        # unsubstituted select item (formatting the pattern didn't
        # anticipate) must fall back to the original SQL rather than
        # emit a non-grouping-expression candidate that fails analysis
        for expr, _name in expr_renames:
            pat = _expr_pat(expr)
            for text in (sel, having, tail):
                spans = _literal_spans(text)
                for m in re.finditer(pat, text, re.IGNORECASE):
                    if not any(a <= m.start() < b for a, b in spans):
                        return pinot_sql
        prefix = "".join(f"SET {k}={v};" for k, v in options.items())
        cand = (
            f"{prefix}SELECT {sel} FROM {derived}{where} "
            f"GROUP BY {', '.join(new_keys)}{having}{tail}"
        )
        return cand

    def _route_pure_theta_zero_shuffle(self, pinot_sql: str) -> DataFrame | None:
        """Map-side combine for canonical raw-theta statements — pure
        AND mixed, single tables AND join trees: the SQL two-phase's
        GROUPED_AGG inner shuffles O(rows) on (keys, bucket) because
        pandas UDAFs have no partial aggregation, where the reference
        ships segment-local sketches (LeafOperator → broker merge).
        This route executes the FROM/WHERE as a DataFrame (one
        translated mini-statement, so join trees, Pinot functions in
        WHERE, and null-default views all resolve), builds
        partition-local per-group sketch partials in ONE mapInPandas
        pass (operators/theta.grouped_sketch_partials — no row shuffle),
        and re-enters the dialect with the merge statement over a temp
        view of the partials: the only exchange moves
        O(groups × partitions) sketch blobs. MIXED statements keep
        their split shape (native subquery null-safe-joined) with the
        sketch side reading the same zero-shuffle view.

        BIGINT group keys (GROUP BY user_id — the dominant real sketch
        shape) travel as split 32-bit halves and recombine JVM-side, the
        same exactness trick the sketch hashes and tuple values use;
        TIMESTAMP keys ride it through unix_micros, DECIMAL keys through
        a canonical-string carrier (round 12) — every Pinot-typed group
        key now has an exact carrier.

        Declines (returns None → the bounded SQL two-phase / bucketed
        split handles it) when: any raw name is not theta, keys are not
        plain columns or are of a non-Pinot type (array/map/struct/
        binary), or the source mini-statement fails to analyze."""
        options, sql = split_options(pinot_sql)
        if not _RAW_SKETCH_CALL_RE.search(sql):
            return None
        if re.search(r"\bOVER\s*\(", sql, re.IGNORECASE):
            return None
        sql = rewrite_quoted_identifiers(sql)
        stmt = _parse_canonical_stmt(sql, allow_join=True)
        if stmt is None:
            return None
        group = stmt["group"]
        keys = [g.strip() for g in _split_args(group)] if group else []
        if any(not re.fullmatch(r"[A-Za-z_]\w*", k) for k in keys):
            return None
        items = [x.strip() for x in _split_args(stmt["select"])]
        if _keys_shadowed_by_alias(keys, items):
            return None  # unresolvable in generated subqueries
        prefix = "".join(f"SET {k}={v};" for k, v in options.items())

        def build_partials_view(zs_calls: list[tuple]) -> str | None:
            """Translate + analyze the FROM/WHERE once, hash each sketch
            arg JVM-side (split 32-bit halves; tuple calls also carry an
            exact BIGINT value column), build the mapInPandas grouped
            partials, register the temp view."""
            # the clearspring pair UDFs may appear INSIDE the mini
            # statement (non-integer MV elements) — register before
            # analysis or the route silently declines to the two-phase
            _ensure_theta_sql_udfs(self.spark)
            try:
                def arg_type(expr: str) -> str:
                    probe = (
                        f"SELECT ({expr}) AS __p FROM {stmt['table']} LIMIT 0"
                    )
                    probe = rewrite_array_constructor(probe)
                    probe = rewrite_functions(probe)
                    probe = rewrite_cast_types(probe)
                    return (
                        self.spark.sql(probe)
                        .schema["__p"].dataType.simpleString()
                    )

                sel = list(keys)
                op_calls: list[tuple] = []
                for i, d in enumerate(zs_calls):
                    if d[0] == "theta":
                        hi, lo = _split_hash_expr(d[1])
                        sel += [f"{hi} AS __hi{i}", f"({lo}) AS __lo{i}"]
                        op_calls.append(("theta", f"__hi{i}", f"__lo{i}", d[2]))
                    elif d[0] == "hll":
                        # JVM-side bounded-domain register pairs per MV
                        # element (idx*64+rho ≤ 2^log2m·64+64: exact in
                        # float64, no split needed)
                        pair = _hll_pair_expr("x", d[2])
                        pairs_arr = (
                            "array_distinct(transform(filter({0}, "
                            "x -> x IS NOT NULL), x -> {1}))".format(d[1], pair)
                        )
                        sel += [f"{pairs_arr} AS __pa{i}"]
                        op_calls.append(("hll", f"__pa{i}", d[2]))
                    elif d[0] == "cs_hll":
                        # clearspring murmur-domain pairs: pure-JVM
                        # expression for integer-element arrays, the
                        # Arrow-batched pair UDF otherwise (same bounded
                        # domain, ≤ 2^log2m·64+64 — float64-exact)
                        sel += [
                            f"{_cs_hll_pairs_arr_sql(d[1], d[2])} AS __pa{i}"
                        ]
                        op_calls.append(("cs_hll", f"__pa{i}", d[2]))
                    elif d[0] == "cs_hllpp":
                        sel += [
                            f"__cs_hllpp_pairs_arr({d[1]}, typeof({d[1]}), "
                            f"{d[2]}) AS __pa{i}"
                        ]
                        op_calls.append(("cs_hllpp", f"__pa{i}", d[2], d[3]))
                    elif d[0] == "tdigest":
                        sel += [f"CAST({d[1]} AS ARRAY<DOUBLE>) AS __td{i}"]
                        op_calls.append(("tdigest", f"__td{i}"))
                    elif d[0] in ("freq_str", "freq_long"):
                        # the frequencies partial needs RAW values; a
                        # BYTES column means serialized foreign sketches
                        # (merge semantics) and a non-matching type means
                        # the statement wants the UDAF path — both
                        # decline to the bounded SQL two-phase
                        t = arg_type(d[1])
                        if d[0] == "freq_str":
                            if t != "string":
                                return None
                            sel += [f"({d[1]}) AS __fs{i}"]
                            op_calls.append(("freq_str", f"__fs{i}", d[2]))
                        else:
                            if t not in ("tinyint", "smallint", "int", "bigint"):
                                return None
                            vc = f"CAST({d[1]} AS BIGINT)"
                            sel += [
                                f"shiftright({vc}, 32) AS __fhi{i}",
                                f"({vc} & 4294967295) AS __flo{i}",
                            ]
                            op_calls.append(
                                ("freq_long", f"__fhi{i}", f"__flo{i}", d[2])
                            )
                    else:  # tuple: (kind, keyexpr, valexpr, k)
                        hi, lo = _split_hash_expr(d[1])
                        # the value also splits into 32-bit halves — a
                        # nullable BIGINT reaches pandas as float64,
                        # which is lossy past 2^53 (arithmetic shift
                        # keeps the sign in the hi half)
                        vc = f"CAST({d[2]} AS BIGINT)"
                        sel += [
                            f"{hi} AS __hi{i}", f"({lo}) AS __lo{i}",
                            f"shiftright({vc}, 32) AS __vhi{i}",
                            f"({vc} & 4294967295) AS __vlo{i}",
                        ]
                        op_calls.append(
                            ("tuple", f"__hi{i}", f"__lo{i}", d[3],
                             f"__vhi{i}", f"__vlo{i}")
                        )
                mini = (
                    f"SELECT {', '.join(sel)} FROM {stmt['table']}"
                    + (f" WHERE {stmt['where']}" if stmt["where"] else "")
                )
                mini = rewrite_array_constructor(mini)
                mini = rewrite_functions(mini)
                mini = rewrite_cast_types(mini)
                mini = rewrite_timestamp_coercion(self.spark, mini)
                mini = rewrite_mv_predicates(self.spark, mini)
                if not null_handling_enabled(options, self.null_handling_default):
                    mini = _substitute_views(mini, self._ensure_nulldef_view)
                src = self.spark.sql(mini)
                ok_key_types = ("string", "int", "smallint", "tinyint",
                                "boolean", "date", "float", "double")
                # BIGINT group keys (the dominant real sketch shape:
                # GROUP BY user_id) ride as split 32-bit halves — the
                # same trick sketch hashes and tuple values already use
                # — because a nullable int64 loses exactness through
                # Arrow→pandas float64; each half is exact in float64
                # and the halves recombine JVM-side below.  TIMESTAMP
                # keys (native-typed ingest; the dialect itself prefers
                # epoch-millis BIGINT) ride the SAME trick through
                # unix_micros — epoch-micros int64 is a lossless carrier
                # — and recombine via timestamp_micros.  DECIMAL keys
                # (round 12) ride a CANONICAL-STRING carrier:
                # CAST(dec AS STRING) is exact and injective at any
                # precision (fixed scale → one plain-form string per
                # value, no float transit anywhere), and
                # CAST(s AS DECIMAL(p,s)) restores the original type
                # JVM-side — strings are already a supported pandas
                # group key.
                part_keys: list[str] = []
                split_keys: dict[str, tuple[str, str | None, str]] = {}
                for j, k in enumerate(keys):
                    t = src.schema[k].dataType.simpleString()
                    if t in ("bigint", "timestamp"):
                        split_keys[k] = (f"__khi{j}", f"__klo{j}", t)
                        part_keys += [f"__khi{j}", f"__klo{j}"]
                    elif t.startswith("decimal("):
                        split_keys[k] = (f"__kd{j}", None, t)
                        part_keys.append(f"__kd{j}")
                    elif t in ok_key_types:
                        part_keys.append(k)
                    else:
                        return None
                if split_keys:
                    key_sel = []
                    for k in keys:
                        if k in split_keys:
                            khi, klo, t = split_keys[k]
                            if klo is None:  # decimal → canonical string
                                key_sel.append(
                                    f"CAST(`{k}` AS STRING) AS `{khi}`"
                                )
                                continue
                            base = (
                                f"unix_micros(`{k}`)"
                                if t == "timestamp"
                                else f"`{k}`"
                            )
                            key_sel += [
                                f"shiftright({base}, 32) AS `{khi}`",
                                f"({base} & 4294967295) AS `{klo}`",
                            ]
                        else:
                            key_sel.append(f"`{k}`")
                    rest = [f"`{c}`" for c in src.columns if c not in keys]
                    src = src.selectExpr(*key_sel, *rest)
                from pinot_spark.operators.theta import grouped_sketch_partials

                partials = grouped_sketch_partials(src, part_keys, op_calls)
                if split_keys:
                    # recombine halves into the original exact key type
                    # (pure projection — no extra exchange); consumers of
                    # the view see the original key names/types
                    out_sel = []
                    for k in keys:
                        if k in split_keys:
                            khi, klo, t = split_keys[k]
                            if klo is None:  # decimal ← canonical string
                                out_sel.append(
                                    f"CAST(`{khi}` AS {t}) AS `{k}`"
                                )
                                continue
                            whole = f"(shiftleft(`{khi}`, 32) | `{klo}`)"
                            if t == "timestamp":
                                out_sel.append(
                                    f"CASE WHEN `{khi}` IS NULL THEN "
                                    f"CAST(NULL AS TIMESTAMP) ELSE "
                                    f"timestamp_micros({whole}) END AS `{k}`"
                                )
                            else:
                                out_sel.append(
                                    f"CASE WHEN `{khi}` IS NULL THEN "
                                    f"CAST(NULL AS BIGINT) ELSE "
                                    f"{whole} END AS `{k}`"
                                )
                        else:
                            out_sel.append(f"`{k}`")
                    out_sel += [f"__rs{i}" for i in range(len(op_calls))]
                    partials = partials.selectExpr(*out_sel)
            except Exception:
                return None  # unresolvable source → SQL path
            _ASOF_VIEW_SEQ[0] += 1
            view = f"__theta_zs_{_ASOF_VIEW_SEQ[0]}"
            partials.createOrReplaceTempView(view)
            _ensure_theta_sql_udfs(self.spark)
            return view

        has_basic = any(
            _search_outside_literals(_BASIC_AGG_CALL_RE, _strip_raw_calls(item))
            for item in items + ([stmt["having"]] if stmt["having"] else [])
        )
        if has_basic:
            cand = _rewrite_mixed_split(
                sql, stmt, keys, items, theta_view_builder=build_partials_view
            )
            if cand == sql or "__theta_zs_" not in cand:
                return None  # split declined or fell back to bucketed SQL
            return self.sql(prefix + cand)

        # --- pure path -------------------------------------------------
        calls: list[tuple] = []  # zero-shuffle descriptors, view order

        def hoist_raw(item: str) -> str | None:
            out, i = [], 0
            spans = _literal_spans(item)
            while True:
                m = _RAW_SKETCH_CALL_RE.search(item, i)
                while m and any(a <= m.start() < b for a, b in spans):
                    m = _RAW_SKETCH_CALL_RE.search(item, m.end())
                if not m:
                    out.append(item[i:])
                    break
                name = re.sub("_", "", m.group("name")).lower()
                open_idx = item.index("(", m.end() - 1)
                close_idx = _find_matching(item, open_idx)
                args = _split_args(item[open_idx + 1 : close_idx])
                d = _zs_descriptor(name, args)
                if d is None:
                    return None  # HLL-MV/digest families keep the SQL path
                n = len(calls)
                calls.append(d)
                out.append(item[i : m.start()])
                out.append(_zs_final(name, f"__rs{n}"))
                i = close_idx + 1
            return "".join(out)

        rebuilt: list[str] = []
        for item in items:
            am = re.match(
                r"(?s)^(.*?)\s+AS\s+([A-Za-z_]\w*)\s*$", item, re.IGNORECASE
            )
            expr, alias = (am.group(1), am.group(2)) if am else (item, None)
            if expr.strip() in keys:
                rebuilt.append(item)
                continue
            e2 = hoist_raw(expr)
            if e2 is None:
                return None
            for cm in re.finditer(r"\b([A-Za-z_][A-Za-z0-9_]*)\s*\(", e2):
                name = re.sub("_", "", cm.group(1)).lower()
                if name not in _RS_SCALAR_ALLOW and name not in (
                    "thetamergeblobs", "collectlist", "tuplemergesum",
                    "tupleestimate", "tuplesumvalues", "tupleavgvalue",
                    "hllmergeblobs", "cshllmergeblobs", "tdigestmerge",
                    "freqstrmerge", "freqlongmerge",
                ):
                    return None
            rebuilt.append(e2 + (f" AS {alias}" if alias else ""))
        having2 = stmt["having"]
        if having2:
            having2 = hoist_raw(having2)
            if having2 is None:
                return None
            for cm in re.finditer(r"\b([A-Za-z_][A-Za-z0-9_]*)\s*\(", having2):
                name = re.sub("_", "", cm.group(1)).lower()
                if name not in _RS_SCALAR_ALLOW and name not in (
                    "thetamergeblobs", "collectlist", "tuplemergesum",
                    "tupleestimate", "tuplesumvalues", "tupleavgvalue",
                    "hllmergeblobs", "cshllmergeblobs", "tdigestmerge",
                    "freqstrmerge", "freqlongmerge",
                ):
                    return None
        if not calls:
            return None
        view = build_partials_view(calls)
        if view is None:
            return None
        outer_group = f" GROUP BY {', '.join(keys)}" if keys else ""
        having_sql = f" HAVING {having2}" if having2 else ""
        tail = stmt["tail"] or ""
        return self.sql(
            f"{prefix}SELECT {', '.join(rebuilt)} FROM {view} "
            f"__rs_partials{outer_group}{having_sql}{tail}"
        )

    def _explain(self, pinot_sql: str) -> DataFrame:
        """``EXPLAIN PLAN FOR <query>`` (reference: the broker's EXPLAIN
        surface — pinot-core/.../query/reduce/ExplainPlanDataTableReducer
        emits (Operator, Operator_Id, Parent_Id) rows). Spark analog:
        one row per formatted physical-plan line, ids by nesting order —
        the executed Catalyst plan is the engine's true explain."""
        df = self.sql(pinot_sql)
        plan = df._jdf.queryExecution().executedPlan().toString()
        rows, parents = [], []  # parents: stack of (indent, op_id)
        for i, line in enumerate(l for l in plan.splitlines() if l.strip()):
            stripped = line.lstrip(" +-:*(0123456789)")
            indent = len(line) - len(line.lstrip(" +-:"))
            while parents and parents[-1][0] >= indent:
                parents.pop()
            parent_id = parents[-1][1] if parents else -1
            rows.append((stripped or line.strip(), i, parent_id))
            parents.append((indent, i))
        return self.spark.createDataFrame(
            rows, "Operator string, Operator_Id int, Parent_Id int"
        )

    def _gapfill(self, pinot_sql: str) -> DataFrame:
        """Execute a top-level GAPFILL selection (GapfillProcessor.java
        semantics): generate the [start, end) bucket spine per observed
        series, left-join the inner selection, and fill per FILL mode —
        FILL_PREVIOUS_VALUE via last(ignorenulls) over the series window,
        FILL_DEFAULT_VALUE with the type default (0 / 'null'); columns
        without a FILL stay NULL in generated buckets."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        _options, sql = split_options(pinot_sql)
        m = _GAPFILL_CALL_RE.search(sql)
        open_idx = sql.index("(", m.end() - 1)
        close_idx = _find_matching(sql, open_idx)
        args = _split_args(sql[open_idx + 1 : close_idx])
        if len(args) < 6:
            raise PinotSqlError("GAPFILL needs (timeExpr, fmt, start, end, bucket, FILL/TIMESERIESON...)")

        time_expr = rewrite_functions(args[0])
        in_size, in_unit, in_type, in_pat = _parse_format_spec(args[1])
        g_ms = _parse_granularity(args[4])
        unit_ms = in_size * _DTC_UNIT_MS[in_unit]

        fills: list[tuple[str, str]] = []
        series: list[str] = []
        for extra in args[5:]:
            em = re.match(r"\s*(FILL|TIMESERIESON)\s*\(", extra, re.IGNORECASE)
            if not em:
                raise PinotSqlError(f"unexpected GAPFILL argument {extra!r}")
            inner = extra[extra.index("(") + 1 : len(extra) - extra[::-1].index(")") - 1]
            parts = _split_args(inner)
            if em.group(1).upper() == "FILL":
                fills.append((parts[0].strip(), parts[1].strip().strip("'\"").upper()))
            else:
                series = [p.strip() for p in parts]
        if not series:
            raise PinotSqlError("GAPFILL requires TIMESERIESON(...)")

        def to_ms_literal(tok: str) -> int:
            v = tok.strip().strip("'\"")
            if in_type == "EPOCH":
                return int(v) * unit_ms
            row = self.spark.sql(
                "SELECT unix_millis(to_timestamp('{}'{}))".format(
                    v, f", '{in_pat}'" if in_type == "SIMPLE_DATE_FORMAT" and in_pat else ""
                )
            ).collect()[0]
            return int(row[0])

        start_ms, end_ms = to_ms_literal(args[2]), to_ms_literal(args[3])

        # select-list items around the GAPFILL call
        sel_m = _top_level_kw(sql, "SELECT")
        from_m = _top_level_kw(sql, "FROM")
        items = _split_args(sql[sel_m.end() : from_m.start()])
        order_m = _top_level_kw(sql, r"ORDER\s+BY", from_m.end())
        limit_m = _top_level_kw(sql, "LIMIT", from_m.end())
        tail_end = min(x.start() for x in (order_m, limit_m) if x) if (order_m or limit_m) else len(sql)
        from_tail = sql[from_m.end() : tail_end].strip().rstrip(";")

        inner_sql = rewrite_mv_predicates(self.spark, rewrite_functions(f"SELECT * FROM {from_tail}"))
        inner_df = self.spark.sql(inner_sql)

        if in_type == "EPOCH":
            ms_expr = f"(CAST({time_expr} AS BIGINT) * {unit_ms})"
        elif in_type == "TIMESTAMP":
            ms_expr = f"unix_millis(CAST({time_expr} AS TIMESTAMP))"
        elif in_type == "SIMPLE_DATE_FORMAT":
            ms_expr = f"unix_millis(to_timestamp({time_expr}, '{in_pat}'))"
        else:
            raise PinotSqlError(f"unsupported GAPFILL time format {in_type}")

        bucketed = inner_df.selectExpr(
            f"CAST(FLOOR(({ms_expr}) / {g_ms}) AS BIGINT) * {g_ms} AS __gf_ms", "*"
        )
        spine = (
            bucketed.select(*series)
            .distinct()
            .select(
                "*",
                F.explode(
                    F.sequence(F.lit(start_ms), F.lit(end_ms - g_ms), F.lit(g_ms))
                ).alias("__gf_ms"),
            )
        )
        joined = spine.join(bucketed, on=[*series, "__gf_ms"], how="left")

        w = (
            Window.partitionBy(*series)
            .orderBy("__gf_ms")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        for col, mode in fills:
            if mode == "FILL_PREVIOUS_VALUE":
                joined = joined.withColumn(col, F.last(col, ignorenulls=True).over(w))
            elif mode == "FILL_DEFAULT_VALUE":
                dtype = joined.schema[col].dataType.simpleString()
                default = F.lit("null") if dtype == "string" else F.lit(0).cast(dtype)
                joined = joined.withColumn(col, F.coalesce(F.col(col), default))
            else:
                raise PinotSqlError(f"unsupported FILL mode {mode}")

        # output time in the input format spec (Pinot emits the same domain)
        if in_type == "EPOCH":
            out_time = (F.col("__gf_ms") / unit_ms).cast("bigint")
        elif in_type == "TIMESTAMP":
            out_time = F.timestamp_millis(F.col("__gf_ms"))
        else:
            out_time = F.date_format(F.timestamp_millis(F.col("__gf_ms")), in_pat)

        out_cols = []
        for item in items:
            it = item.strip()
            am = re.search(r"\s+AS\s+([A-Za-z_]\w*)\s*$", it, re.IGNORECASE)
            alias = am.group(1) if am else None
            body = it[: am.start()] if am else it
            if _GAPFILL_CALL_RE.search(body):
                out_cols.append(out_time.alias(alias or "gapfill_time"))
            else:
                ref = body.strip()
                if not re.fullmatch(r"[A-Za-z_]\w*", ref):
                    raise PinotSqlError(
                        f"GAPFILL select items must be plain columns, got {ref!r}"
                    )
                out_cols.append(F.col(ref).alias(alias) if alias else F.col(ref))
        out = joined.select(*out_cols)

        if order_m:
            order_end = limit_m.start() if limit_m else len(sql)
            keys = []
            for part in _split_args(sql[order_m.end() : order_end].rstrip(";")):
                om = re.fullmatch(
                    r"\s*([A-Za-z_]\w*)(?:\s+(ASC|DESC))?\s*", part, re.IGNORECASE
                )
                if not om:
                    raise PinotSqlError(f"unsupported GAPFILL ORDER BY item {part!r}")
                c = F.col(om.group(1))
                keys.append(c.desc() if (om.group(2) or "").upper() == "DESC" else c.asc())
            out = out.orderBy(*keys)
        if limit_m:
            n = re.match(r"\s*(\d+)", sql[limit_m.end() :])
            out = out.limit(int(n.group(1)))
        return out

    @property
    def ddl(self):
        """Lazy DDL executor (ddl.py: CREATE TABLE / MATERIALIZED VIEW /
        DROP — reference pinot-sql-ddl DdlCompiler.java surface)."""
        ex = getattr(self, "_ddl", None)
        if ex is None:
            from pinot_spark.ddl import DdlExecutor

            ex = self._ddl = DdlExecutor(self.spark)
        return ex

    def result_table(
        self, pinot_sql: str, offset: int = 0, num_rows: int | None = None
    ) -> dict:
        """Execute and shape like the broker's ResultTable JSON
        (pinot-common/.../response/broker/ResultTable.java). ``offset`` /
        ``num_rows`` give the paginated-cursor surface
        (pinot-spi/.../cursors/, pinot-broker/.../cursors/)."""
        df = self.sql(pinot_sql)
        rows = [list(r) for r in df.collect()]
        total = len(rows)
        if offset or num_rows is not None:
            rows = rows[offset : offset + num_rows if num_rows is not None else None]
        return {
            "resultTable": {
                "dataSchema": {
                    "columnNames": df.columns,
                    "columnDataTypes": [f.dataType.simpleString().upper() for f in df.schema.fields],
                },
                "rows": rows,
            },
            "numRowsResultSet": total,
            "offset": offset,
        }

    def explain(self, pinot_sql: str) -> str:
        """EXPLAIN PLAN FOR surface (Pinot explain handler → Spark's
        formatted physical plan)."""
        df = self.sql(pinot_sql)
        return df._jdf.queryExecution().explainString(
            df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
        )
