"""Scalar function registry: Pinot name → Spark Column builder.

References (names per family):
- string:   pinot-common/.../function/scalar/StringFunctions.java (72 fns)
- datetime: DateTimeFunctions.java (134 fns)
- math:     ArithmeticFunctions.java (38), TrigonometricFunctions.java (16)
- json:     JsonFunctions.java (26) + TransformFunctionType:104-118
- array:    ArrayFunctions.java (52) + TransformFunctionType:162-172
- hash:     HashFunctions.java (33)
- url:      UrlFunctions.java (30)
- binary:   DataTypeConversionFunctions.java (9)
- object:   ObjectFunctions.java (7), LogicalFunctions.java
- vector:   VectorFunctions.java (10) + TransformFunctionType:233-239
- map/item: TransformFunctionType:174,256

All builders are positional: call(name, *args) with Column (or literal)
args, mirroring Pinot's call syntax. Names are case-insensitive like
Pinot's FunctionRegistry (canonical form strips '_' and lowercases).
"""

from __future__ import annotations

import functools
from collections.abc import Callable
from typing import NamedTuple

import pyspark.sql.functions as F
from pyspark.sql import Column


def _c(x) -> Column:
    """Coerce a literal to Column."""
    return x if isinstance(x, Column) else F.lit(x)


def _canon(name: str) -> str:
    return name.replace("_", "").lower()


SCALAR_FUNCTIONS: dict[str, Callable[..., Column]] = {}


def _reg(*names):
    """Register ``fn`` under each name; a name is registered once (a
    second registration would silently shadow the first)."""

    def deco(fn):
        for n in names:
            if _canon(n) in SCALAR_FUNCTIONS:
                raise ValueError(f"scalar function {n!r} is already registered")
            SCALAR_FUNCTIONS[_canon(n)] = fn
        return fn

    return deco


def call(name: str, *args) -> Column:
    """Invoke a Pinot-named scalar function on Spark columns/literals."""
    fn = SCALAR_FUNCTIONS.get(_canon(name))
    if fn is None:
        raise KeyError(f"unknown Pinot scalar function: {name}")
    return fn(*args)


# ---------------------------------------------------------------------------
# string (StringFunctions.java)
# ---------------------------------------------------------------------------

_reg("upper")(lambda s: F.upper(_c(s)))
_reg("lower")(lambda s: F.lower(_c(s)))
_reg("reverse")(lambda s: F.reverse(_c(s)))
@_reg("substr")
def _substr(s, start, end=None):
    # Pinot substr: 0-based start, 3rd arg is an END INDEX with -1 = "to
    # end" (StringFunctions.java:112-130); Spark substring is 1-based+length
    if end is None:
        return F.substring(_c(s), _c(start) + F.lit(1), F.lit(2147483647))
    e, b = _c(end), _c(start)
    return F.when(e == F.lit(-1), F.substring(_c(s), b + F.lit(1), F.lit(2147483647))).otherwise(
        F.substring(_c(s), b + F.lit(1), e - b)
    )


@_reg("substring")
def _substring(s, start, length=None):
    # Pinot substring: 1-based start, 3rd arg is a LENGTH
    # (StringFunctions.java:136-152) — Spark-compatible directly
    if length is None:
        return F.substring(_c(s), _c(start), F.lit(2147483647))
    return F.substring(_c(s), _c(start), _c(length))


# Pinot strPos = StringUtils.indexOf: 0-based, -1 on miss
# (reference pinot-common/.../scalar/StringFunctions.java strPos).
_reg("strpos")(lambda s, sub: F.instr(_c(s), _c(sub)) - F.lit(1))
# StringFunctions.concat(s1, s2, separator): exactly-3-arg puts the 3rd
# BETWEEN the first two (dialect twin in dialect.py FUNCTION_MAP)
_reg("concat")(
    lambda *xs: F.concat(_c(xs[0]), _c(xs[2]), _c(xs[1]))
    if len(xs) == 3
    else F.concat(*[_c(x) for x in xs])
)
_reg("concatws")(lambda sep, *xs: F.concat_ws(sep if isinstance(sep, str) else sep, *[_c(x) for x in xs]))
_reg("trim")(lambda s: F.trim(_c(s)))
_reg("ltrim")(lambda s: F.ltrim(_c(s)))
_reg("rtrim")(lambda s: F.rtrim(_c(s)))
_reg("length")(lambda s: F.length(_c(s)))
_reg("replace")(lambda s, a, b: F.replace(_c(s), _c(a), _c(b)))
_reg("lpad")(lambda s, n, p: F.lpad(_c(s), n, p))
_reg("rpad")(lambda s, n, p: F.rpad(_c(s), n, p))
_reg("codepoint")(lambda s: F.ascii(_c(s)))
_reg("chr")(lambda n: F.char(_c(n)))
_reg("startswith")(lambda s, p: F.startswith(_c(s), _c(p)))
_reg("endswith")(lambda s, p: F.endswith(_c(s), _c(p)))
_reg("contains")(lambda s, p: F.contains(_c(s), _c(p)))
_reg("split")(lambda s, d: F.split(_c(s), d))
_reg("splitpart")(lambda s, d, i: F.split_part(_c(s), _c(d), _c(i) + F.lit(1)))  # Pinot 0-based
_reg("repeat")(lambda s, n: F.repeat(_c(s), _c(n)))
_reg("remove")(lambda s, x: F.replace(_c(s), _c(x), F.lit("")))
_reg("hammingdistance")(
    lambda a, b: F.when(
        F.length(_c(a)) == F.length(_c(b)),
        F.size(
            F.filter(
                F.zip_with(F.split(_c(a), ""), F.split(_c(b), ""), lambda x, y: x != y),
                lambda v: v,
            )
        ),
    ).otherwise(F.lit(-1))
)
_reg("levenshtein")(lambda a, b: F.levenshtein(_c(a), _c(b)))
_reg("strleft", "left")(lambda s, n: F.substring(_c(s), 1, _c(n)))
_reg("strright", "right")(lambda s, n: F.substring(_c(s), -_c(n), _c(n)))
_reg("normalize")(lambda s: F.lower(F.trim(_c(s))))
_reg("isjson")(lambda s: F.try_parse_json(_c(s)).isNotNull())
_reg("prefixes")(
    lambda s, maxlen: F.transform(
        F.sequence(F.lit(1), F.least(F.length(_c(s)), _c(maxlen))),
        lambda i: F.substring(_c(s), F.lit(1), i),
    )
)
_reg("suffixes")(
    lambda s, maxlen: F.transform(
        F.sequence(F.lit(1), F.least(F.length(_c(s)), _c(maxlen))),
        lambda i: F.substring(_c(s), -i, i),
    )
)
_reg("ngrams")(
    lambda s, n: F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(_c(s)) - _c(n) + F.lit(1), F.lit(0))),
        lambda i: F.substring(_c(s), i, _c(n)),
    )
)

# ---------------------------------------------------------------------------
# datetime (DateTimeFunctions.java; Pinot TIMESTAMP == epoch millis)
# ---------------------------------------------------------------------------

_EPOCH_UNITS = {
    "seconds": 1_000,
    "minutes": 60_000,
    "hours": 3_600_000,
    "days": 86_400_000,
}


def _millis(ts) -> Column:
    c = _c(ts)
    return (F.unix_timestamp(c) * 1000 + F.date_format(c, "SSS").cast("long")).cast("long")


_reg("now")(lambda: (F.unix_timestamp(F.current_timestamp()) * 1000).cast("long"))
_reg("toepochmillis")(_millis)
for _u, _d in _EPOCH_UNITS.items():
    _reg(f"toepoch{_u}")(lambda ts, d=_d: (_millis(ts) / F.lit(d)).cast("long"))
    _reg(f"toepoch{_u}rounded")(
        lambda ts, bucket, d=_d: ((_millis(ts) / F.lit(d)).cast("long") / _c(bucket)).cast("long") * _c(bucket)
    )
    _reg(f"fromepoch{_u}")(lambda v, d=_d: F.timestamp_millis(_c(v).cast("long") * F.lit(d)))
_reg("fromepochmillis")(lambda v: F.timestamp_millis(_c(v).cast("long")))
_reg("todatetime")(lambda millis, fmt: F.date_format(F.timestamp_millis(_c(millis)), fmt))
_reg("fromdatetime")(lambda s, fmt: (F.unix_timestamp(F.to_timestamp(_c(s), fmt)) * 1000).cast("long"))
_reg("datetrunc")(lambda unit, ts: F.date_trunc(unit, _c(ts)))
_reg("year")(lambda ts: F.year(_c(ts)))
_reg("quarter")(lambda ts: F.quarter(_c(ts)))
_reg("month", "monthofyear")(lambda ts: F.month(_c(ts)))
_reg("week", "weekofyear")(lambda ts: F.weekofyear(_c(ts)))
_reg("dayofyear", "doy")(lambda ts: F.dayofyear(_c(ts)))
_reg("day", "dayofmonth")(lambda ts: F.dayofmonth(_c(ts)))
# Pinot dayOfWeek = Joda getDayOfWeek(): ISO Mon=1..Sun=7
# (reference DateTimeFunctions.java dayOfWeek); Spark dayofweek is Sun=1..Sat=7.
_reg("dayofweek", "dow")(lambda ts: ((F.dayofweek(_c(ts)) + F.lit(5)) % F.lit(7)) + F.lit(1))
_reg("hour")(lambda ts: F.hour(_c(ts)))
_reg("minute")(lambda ts: F.minute(_c(ts)))
_reg("second")(lambda ts: F.second(_c(ts)))
_reg("millisecond")(lambda ts: F.date_format(_c(ts), "SSS").cast("int"))
_reg("timezonehour")(lambda tz: F.lit(0))  # engine runs UTC-normalized
_reg("timezoneminute")(lambda tz: F.lit(0))
_reg("dateadd")(lambda unit, n, ts: F.timestampadd(unit, _c(n), _c(ts)))
_reg("datediff")(lambda unit, a, b: F.timestampdiff(unit, _c(a), _c(b)))
@_reg("timeconvert")
def _time_convert(v, from_unit: str, to_unit: str):
    # units are literal strings in Pinot's timeConvert(col, 'SECONDS', 'MINUTES')
    _ms = {"milliseconds": 1, **_EPOCH_UNITS}
    f = _ms[str(from_unit).lower()]
    t = _ms[str(to_unit).lower()]
    return (_c(v).cast("long") * F.lit(f) / F.lit(t)).cast("long")

_DTC_UNIT_MS = {
    "milliseconds": 1,
    "seconds": 1000,
    "minutes": 60_000,
    "hours": 3_600_000,
    "days": 86_400_000,
}


def _dtc_parse(fmt: str) -> tuple[int, str, str, str | None]:
    """Parse a DateTimeFormatSpec 'size:unit:type[:pattern]'
    (pinot-spi/.../data/DateTimeFormatSpec.java)."""
    parts = str(fmt).split(":")
    size, unit, ftype = int(parts[0]), parts[1].lower(), parts[2].upper()
    pattern = parts[3] if len(parts) > 3 else None
    return size, unit, ftype, pattern


@_reg("dateTimeConvert")
def _date_time_convert(v, input_fmt, output_fmt, granularity):
    """dateTimeConvert(col, '1:MILLISECONDS:EPOCH', '1:DAYS:EPOCH',
    '1:DAYS') — convert between epoch-unit / SIMPLE_DATE_FORMAT /
    TIMESTAMP representations, bucketed to the output granularity
    (reference: DateTimeConversionTransformFunction, TransformFunctionType:120)."""
    in_size, in_unit, in_type, in_pat = _dtc_parse(input_fmt)
    out_size, out_unit, out_type, out_pat = _dtc_parse(output_fmt)
    g_parts = str(granularity).split(":")
    g_ms = int(g_parts[0]) * _DTC_UNIT_MS[g_parts[1].lower()]

    c = _c(v)
    if in_type == "EPOCH":
        ms = c.cast("long") * F.lit(in_size * _DTC_UNIT_MS[in_unit])
    elif in_type == "TIMESTAMP":
        ms = _millis(c)
    elif in_type == "SIMPLE_DATE_FORMAT":
        ms = _millis(F.to_timestamp(c, in_pat))
    else:
        raise ValueError(f"unsupported input format type {in_type}")

    ms = (ms / F.lit(g_ms)).cast("long") * F.lit(g_ms)  # granularity bucket

    if out_type == "EPOCH":
        return (ms / F.lit(out_size * _DTC_UNIT_MS[out_unit])).cast("long")
    if out_type == "TIMESTAMP":
        return F.timestamp_millis(ms)
    if out_type == "SIMPLE_DATE_FORMAT":
        return F.date_format(F.timestamp_millis(ms), out_pat)
    raise ValueError(f"unsupported output format type {out_type}")


# ---------------------------------------------------------------------------
# arithmetic + trig (ArithmeticFunctions.java, TrigonometricFunctions.java)
# ---------------------------------------------------------------------------

_reg("add", "plus")(lambda a, b: _c(a) + _c(b))
_reg("sub", "minus")(lambda a, b: _c(a) - _c(b))
_reg("mult", "times")(lambda a, b: _c(a) * _c(b))
_reg("div", "divide")(lambda a, b: _c(a) / _c(b))
_reg("intdiv")(lambda a, b: F.floor(_c(a) / _c(b)).cast("long"))
_reg("mod")(lambda a, b: _c(a) % _c(b))
_reg("abs")(lambda a: F.abs(_c(a)))
_reg("ceil", "ceiling")(lambda a: F.ceil(_c(a)))
_reg("floor")(lambda a: F.floor(_c(a)))
_reg("exp")(lambda a: F.exp(_c(a)))
_reg("ln")(lambda a: F.log(_c(a)))
_reg("log2")(lambda a: F.log2(_c(a)))
_reg("log10")(lambda a: F.log10(_c(a)))
_reg("sqrt")(lambda a: F.sqrt(_c(a)))
_reg("cbrt")(lambda a: F.cbrt(_c(a)))
_reg("power", "pow")(lambda a, b: F.pow(_c(a), _c(b)))
_reg("sign")(lambda a: F.signum(_c(a)))
_reg("least")(lambda *xs: F.least(*[_c(x) for x in xs]))
_reg("greatest")(lambda *xs: F.greatest(*[_c(x) for x in xs]))
_reg("rounddecimal")(lambda a, scale=0: F.round(_c(a), scale if isinstance(scale, int) else 0))
_reg("truncate")(lambda a, scale=0: (F.floor(_c(a) * F.pow(F.lit(10.0), F.lit(scale))) / F.pow(F.lit(10.0), F.lit(scale))))
for _t in ("sin", "cos", "tan", "asin", "acos", "atan", "sinh", "cosh", "tanh", "degrees", "radians"):
    _reg(_t)(lambda a, t=_t: getattr(F, t)(_c(a)))
_reg("atan2")(lambda y, x: F.atan2(_c(y), _c(x)))
_reg("cot")(lambda a: F.cot(_c(a)))

# ---------------------------------------------------------------------------
# json (JsonFunctions.java; TransformFunctionType jsonExtractScalar/Key)
# ---------------------------------------------------------------------------


@_reg("jsonextractscalar")
def _json_extract_scalar(j, path, result_type="STRING", default=None):
    ty = {
        "INT": "int", "LONG": "bigint", "FLOAT": "float", "DOUBLE": "double",
        "BOOLEAN": "boolean", "STRING": "string", "BIG_DECIMAL": "decimal(38,18)",
    }.get(str(result_type).upper().replace("_ARRAY", ""), "string")
    out = F.get_json_object(_c(j), path if isinstance(path, str) else path).cast(ty)
    if default is not None:
        out = F.coalesce(out, F.lit(default).cast(ty))
    return out


_reg("jsonextractkey")(lambda j, path="$": F.json_object_keys(_c(j)))
_reg("jsonformat")(lambda x: F.to_json(_c(x)))
_reg("jsonpath")(lambda j, path: F.get_json_object(_c(j), path))
_reg("jsonpathstring")(lambda j, path, default=None: F.coalesce(F.get_json_object(_c(j), path), F.lit(default)) if default is not None else F.get_json_object(_c(j), path))
_reg("jsonpathlong")(lambda j, path, default=None: _json_extract_scalar(j, path, "LONG", default))
_reg("jsonpathdouble")(lambda j, path, default=None: _json_extract_scalar(j, path, "DOUBLE", default))
_reg("jsonpatharray")(lambda j, path: F.from_json(F.get_json_object(_c(j), path), "array<string>"))

# ---------------------------------------------------------------------------
# array / MV (ArrayFunctions.java + TransformFunctionType arrayLength etc.)
# ---------------------------------------------------------------------------

_reg("arraylength", "cardinality")(lambda a: F.size(_c(a)))
_reg("arrayreverse")(lambda a: F.reverse(_c(a)))
_reg("arraysort")(lambda a: F.array_sort(_c(a)))
_reg("arraydistinct")(lambda a: F.array_distinct(_c(a)))
_reg("arrayunion")(lambda a, b: F.array_union(_c(a), _c(b)))
_reg("arrayintersect")(lambda a, b: F.array_intersect(_c(a), _c(b)))
_reg("arrayconcat")(lambda *xs: F.concat(*[_c(x) for x in xs]))
_reg("arraycontains")(lambda a, v: F.array_contains(_c(a), v))
_reg("arrayindexof")(lambda a, v: F.array_position(_c(a), v) - F.lit(1))  # Pinot 0-based, -1 missing
_reg("arrayslice")(lambda a, start, end: F.slice(_c(a), _c(start) + F.lit(1), _c(end) - _c(start)))
_reg("arrayelementat")(lambda a, i: F.element_at(_c(a), _c(i)))  # 1-based like Pinot ITEM? element_at 1-based
_reg("arraymin")(lambda a: F.array_min(_c(a)))
_reg("arraymax")(lambda a: F.array_max(_c(a)))
_reg("arraysum", "arraysumint", "arraysumlong", "arraysumdouble")(
    lambda a: F.aggregate(_c(a), F.lit(0.0), lambda acc, x: acc + x.cast("double"))
)
_reg("arrayaverage")(
    lambda a: F.aggregate(_c(a), F.lit(0.0), lambda acc, x: acc + x.cast("double")) / F.size(_c(a))
)
_reg("arrayremove")(lambda a, v: F.array_remove(_c(a), v))
_reg("arrayrepeat")(lambda v, n: F.array_repeat(_c(v), n))
_reg("arrayjoin")(lambda a, sep: F.array_join(_c(a), sep))
_reg("valuein", "filtermv")(lambda a, *vals: F.filter(_c(a), lambda x: x.isin(*vals)))
_reg("arrayflatten")(lambda a: F.flatten(_c(a)))
_reg("arrayzip")(lambda a, b: F.arrays_zip(_c(a), _c(b)))

# map / item access (MapValueTransformFunction, ITEM)
_reg("mapvalue")(lambda m, k: F.element_at(_c(m), k))
_reg("item")(lambda a, i: F.element_at(_c(a), _c(i)))
_reg("mapkeys")(lambda m: F.map_keys(_c(m)))
_reg("mapvalues")(lambda m: F.map_values(_c(m)))

# ---------------------------------------------------------------------------
# hash (HashFunctions.java) — engine-portable subset + xxhash
# ---------------------------------------------------------------------------

_reg("md5")(lambda b: F.md5(_c(b).cast("binary")))
_reg("sha", "sha1")(lambda b: F.sha1(_c(b).cast("binary")))
_reg("sha256")(lambda b: F.sha2(_c(b).cast("binary"), 256))
_reg("sha512")(lambda b: F.sha2(_c(b).cast("binary"), 512))
_reg("crc32")(lambda b: F.crc32(_c(b).cast("binary")))
_reg("xxhash64")(lambda b: F.xxhash64(_c(b)))
_reg("murmurhash3x64128")(lambda b, seed=0: F.xxhash64(_c(b), F.lit(seed)))  # 64-bit stand-in
_reg("hash")(lambda *xs: F.hash(*[_c(x) for x in xs]))

# ---------------------------------------------------------------------------
# url (UrlFunctions.java) — parse_url family
# ---------------------------------------------------------------------------

_reg("urlprotocol")(lambda u: F.parse_url(_c(u), F.lit("PROTOCOL")))
_reg("urldomain", "urlhost")(lambda u: F.parse_url(_c(u), F.lit("HOST")))
_reg("urlpath")(lambda u: F.parse_url(_c(u), F.lit("PATH")))
_reg("urlquery")(lambda u: F.parse_url(_c(u), F.lit("QUERY")))
_reg("urlparameter", "extracturlparameter")(lambda u, k: F.parse_url(_c(u), F.lit("QUERY"), _c(k)))
_reg("urlport")(lambda u: F.try_to_number(F.parse_url(_c(u), F.lit("PORT")), F.lit("999999")).cast("int"))
_reg("urlfragment")(lambda u: F.parse_url(_c(u), F.lit("REF")))
_reg("encodeurl")(lambda s: F.url_encode(_c(s)))
_reg("decodeurl")(lambda s: F.url_decode(_c(s)))

# ---------------------------------------------------------------------------
# binary / conversion (DataTypeConversionFunctions.java)
# ---------------------------------------------------------------------------

_reg("hex", "tohexstring")(lambda b: F.lower(F.hex(_c(b))))
_reg("unhex", "fromhexstring")(lambda s: F.unhex(_c(s)))
_reg("tobase64")(lambda b: F.base64(_c(b).cast("binary")))
_reg("frombase64")(lambda s: F.unbase64(_c(s)))
_reg("touuid")(lambda b: F.lower(F.hex(_c(b))))  # UUID bytes → canonical-ish hex
_reg("cast")(lambda x, ty: _c(x).cast(str(ty).lower().replace("big_decimal", "decimal(38,18)")))
_reg("toutf8", "toascii")(lambda s: F.encode(_c(s), "utf-8"))
_reg("fromutf8")(lambda b: F.decode(_c(b), "utf-8"))

# ---------------------------------------------------------------------------
# object / null / logical (ObjectFunctions.java, LogicalFunctions.java)
# ---------------------------------------------------------------------------

_reg("coalesce")(lambda *xs: F.coalesce(*[_c(x) for x in xs]))
_reg("nullif")(lambda a, b: F.nullif(_c(a), _c(b)))
_reg("isnull")(lambda a: _c(a).isNull())
_reg("isnotnull")(lambda a: _c(a).isNotNull())
_reg("isdistinctfrom")(lambda a, b: ~_c(a).eqNullSafe(_c(b)))
_reg("isnotdistinctfrom")(lambda a, b: _c(a).eqNullSafe(_c(b)))
_reg("casewhen")(lambda cond, then, els: F.when(_c(cond), _c(then)).otherwise(_c(els)))
_reg("not")(lambda a: ~_c(a))
_reg("and")(lambda *xs: functools.reduce(lambda a, b: a & b, [_c(x) for x in xs]))
_reg("or")(lambda *xs: functools.reduce(lambda a, b: a | b, [_c(x) for x in xs]))

# ---------------------------------------------------------------------------
# vector (VectorFunctions.java) — delegates to operators.similarity
# ---------------------------------------------------------------------------

from pinot_spark.operators.similarity import (  # noqa: E402
    cosine_distance as _cosd,
    dot_product as _dot,
    l1_distance as _l1,
    l2_distance as _l2,
    vector_norm as _vnorm,
)

_reg("cosinedistance")(lambda a, b: _cosd(_c(a), _c(b)))
_reg("innerproduct")(lambda a, b: _dot(_c(a), _c(b)))
_reg("l1distance")(lambda a, b: _l1(_c(a), _c(b)))
_reg("l2distance")(lambda a, b: _l2(_c(a), _c(b)))
_reg("vectornorm")(lambda a: _vnorm(_c(a)))
_reg("vectordims")(lambda a: F.size(_c(a)))
_reg("vectorsimilarity")(lambda a, b: F.lit(1.0) - _cosd(_c(a), _c(b)))

# regex (TransformFunctionType:190)
_reg("regexpextract")(lambda s, p, g=0: F.regexp_extract(_c(s), p if isinstance(p, str) else p, g if isinstance(g, int) else 0))
_reg("regexplike")(lambda s, p: _c(s).rlike(p))
_reg("regexpreplace")(lambda s, p, r: F.regexp_replace(_c(s), p, r))
_reg("like")(lambda s, p: _c(s).like(p))
@_reg("textmatch")
def _text_match(s, q):
    """TEXT_MATCH(col, luceneQuery) — scan-path evaluation of the Lucene
    syntax subset (terms/phrases/AND/OR/NOT/prefix/fuzzy; operators/
    lucene.py; reference TextMatchFilterOperator.java). Non-literal query
    columns fall back to a regex scan."""
    if isinstance(q, str):
        from pinot_spark.operators.lucene import compile_predicate

        return compile_predicate(_c(s), q)
    return _c(s).rlike(q)

# ---------------------------------------------------------------------------
# IP address (IpAddressFunctions.java — 17 fns; IPv4 subset as pure
# Column arithmetic so it stays JVM-side and DuckDB-oracle-expressible)
# ---------------------------------------------------------------------------


def _ipv4_to_long(addr) -> Column:
    """Dotted-quad string → unsigned 32-bit value in a LongType."""
    parts = F.split(_c(addr), r"\.")
    return (
        parts.getItem(0).cast("long") * F.lit(16777216)
        + parts.getItem(1).cast("long") * F.lit(65536)
        + parts.getItem(2).cast("long") * F.lit(256)
        + parts.getItem(3).cast("long")
    )


@_reg("ipv4ToLong")
def _ipv4_to_long_fn(addr):
    return _ipv4_to_long(addr)


@_reg("isSubnetOf")
def _is_subnet_of(prefix, addr):
    """isSubnetOf('10.1.0.0/16', ip) — IPv4 CIDR containment
    (reference: pinot-common/.../function/scalar/IpAddressFunctions.java)."""
    cidr = F.split(_c(prefix), "/")
    base = _ipv4_to_long(cidr.getItem(0))
    bits = cidr.getItem(1).cast("int")
    # drop the host bits by integer-dividing with 2^(32-bits); shiftright
    # needs a literal shift, and 32-bit values are exact in double
    divisor = F.pow(F.lit(2.0), (F.lit(32) - bits).cast("double"))
    return F.floor(_ipv4_to_long(addr) / divisor) == F.floor(base / divisor)


# ---------------------------------------------------------------------------
# extra hashes (HashFunctions.java: adler32, murmur2) — Arrow-batched
# pandas UDFs (not hot-path; exact algorithm parity matters more here)
# ---------------------------------------------------------------------------

import pandas as _pd  # noqa: E402
import pyarrow as pa  # noqa: E402
import pyarrow.compute as _pc  # noqa: E402
from pyspark.sql.functions import pandas_udf as _pandas_udf  # noqa: E402

# pandas_udf needs an active SparkSession → build lazily, cache per-process
_UDF_CACHE: dict[str, Callable] = {}


def _lazy_udf(key: str, factory: Callable[[], Callable]) -> Callable:
    udf = _UDF_CACHE.get(key)
    if udf is None:
        udf = _UDF_CACHE[key] = factory()
    return udf


_ARROW_TYPES = {
    "binary": pa.binary(),
    "string": pa.string(),
    "boolean": pa.bool_(),
    "int": pa.int32(),
    "long": pa.int64(),
    "bigint": pa.int64(),
    "float": pa.float32(),
    "double": pa.float64(),
}


def _arrow_type(ddl: str) -> pa.DataType:
    if ddl.startswith("array<"):
        return pa.list_(_arrow_type(ddl[6:-1]))
    return _ARROW_TYPES[ddl]


def _pylist(arr: pa.Array) -> list:
    t = arr.type
    # without NULLs a number, string or bytes column converts through
    # numpy to the same Python values, an order of magnitude faster
    # than to_pylist's per-element boxing
    if arr.null_count == 0 and (
        pa.types.is_integer(t)
        or pa.types.is_floating(t)
        or pa.types.is_boolean(t)
        or pa.types.is_string(t)
        or pa.types.is_binary(t)
    ):
        return arr.to_numpy(zero_copy_only=False).tolist()
    # timestamps as session-local wall-clock values, the form Spark's
    # pandas conversion hands over, for bodies that format them
    if pa.types.is_timestamp(t) and t.tz is not None:
        arr = _pc.local_timestamp(arr)
    return arr.to_pylist()


class UdfRow(NamedTuple):
    """A row of a UDF table (sketches.SKETCH_UDFS, geo_udfs.GEO_UDFS):
    Spark return type (DDL), body over one batch's argument lists, and
    whether it is a grouped aggregate (one value per group)."""

    rtype: str
    body: Callable
    agg: bool = False


def arrow_rows_udf(rtype: str, body: Callable, agg: bool = False):
    """A type-hinted ``arrow_udf`` over plain Python values: ``body``
    gets each argument of one Arrow batch as a list (NULL is None and a
    BIGINT keeps all 64 bits, where a pandas Series of a nullable
    integer column is float64) and returns a list for a scalar UDF, or
    one value per group for a grouped aggregate (``agg``)."""
    from pyspark.sql.functions import arrow_udf

    if agg:
        def f(*cols: pa.Array) -> object:
            return body(*map(_pylist, cols))
    else:
        out_type = _arrow_type(rtype)

        def f(*cols: pa.Array) -> pa.Array:
            return pa.array(body(*map(_pylist, cols)), type=out_type)

    return arrow_udf(f, rtype)


def row_udf(name: str, row: UdfRow):
    """Row ``name`` of a UDF table as a Spark UDF (built once per process)."""
    return _lazy_udf(name, lambda: arrow_rows_udf(row.rtype, row.body, row.agg))


def _make_adler32():
    @_pandas_udf("long")
    def _adler32_udf(s: _pd.Series) -> _pd.Series:
        import zlib

        return s.map(lambda v: None if v is None else zlib.adler32(str(v).encode("utf-8")))

    return _adler32_udf


def _murmur2_py(data: bytes, seed: int = -1756908916) -> int:
    """Kafka-compatible 32-bit murmur2 (public algorithm; matches
    org.apache.kafka.common.utils.Utils.murmur2 used by Pinot's
    murmur partition function)."""
    length = len(data)
    M = 0x5BD1E995
    mask = 0xFFFFFFFF
    h = (seed ^ length) & mask
    n4 = length & ~3
    for i in range(0, n4, 4):
        k = int.from_bytes(data[i : i + 4], "little")
        k = (k * M) & mask
        k ^= k >> 24
        k = (k * M) & mask
        h = (h * M) & mask
        h ^= k
    rem = length & 3
    if rem >= 3:
        h ^= (data[n4 + 2] & 0xFF) << 16
    if rem >= 2:
        h ^= (data[n4 + 1] & 0xFF) << 8
    if rem >= 1:
        h ^= data[n4] & 0xFF
        h = (h * M) & mask
    h ^= h >> 13
    h = (h * M) & mask
    h ^= h >> 15
    # Java int semantics
    return h - 0x100000000 if h >= 0x80000000 else h


def _make_murmur2():
    @_pandas_udf("int")
    def _murmur2_udf(s: _pd.Series) -> _pd.Series:
        return s.map(lambda v: None if v is None else _murmur2_py(str(v).encode("utf-8")))

    return _murmur2_udf


_reg("adler32")(
    lambda s: _lazy_udf("adler32", _make_adler32)(_c(s).cast("string"))
)
_reg("murmurhash2", "murmur2")(
    lambda s: _lazy_udf("murmur2", _make_murmur2)(_c(s).cast("string"))
)

# Extended long-tail surface (typed array variants, MV datetime variants,
# URL/IP/hash/UUID families, …) registers itself into SCALAR_FUNCTIONS.
from pinot_spark.functions import scalar_ext  # noqa: E402,F401
from pinot_spark.functions import sketches  # noqa: E402,F401
from pinot_spark.functions import geo_udfs  # noqa: E402,F401
