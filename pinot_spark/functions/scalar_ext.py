"""Extended scalar-function surface: the long tail of Pinot's ~450-name
transform-function registry.

Families (reference files under
pinot-common/src/main/java/org/apache/pinot/common/function/):
- typed array variants      scalar/ArrayFunctions.java:39-408
- MV datetime variants      scalar/DateTimeFunctions.java:88-772
- epoch bucket functions    scalar/DateTimeFunctions.java:203-373
- comparison / logical      scalar/comparison/*.java, LogicalFunctions.java
- arithmetic extras         scalar/ArithmeticFunctions.java:36-297
- bitwise                   scalar/bitwise/*.java
- string extras             scalar/StringFunctions.java:82-1185
- regexp extras             scalar/regexp/*.java
- json extras               scalar/JsonFunctions.java
- hash extras               scalar/HashFunctions.java:48-327
- uuid                      scalar/uuid/*.java
- URL (ClickHouse-style)    scalar/UrlFunctions.java:42-689
- IP addresses              scalar/IpAddressFunctions.java:81-333
- geo extras                GeohashFunctions.java, TransformFunctionType:195-229
- internal / system         scalar/InternalFunctions.java:39-122

Everything stays a pure Column expression (JVM-side, whole-stage codegen)
unless the semantics genuinely need imperative code — those run as
Arrow-batched pandas UDFs (URL/IP parsing, exact hash algorithms,
geohash decode), never row-at-a-time Python UDFs.

Pinot's datetime functions operate in the epoch-millis LONG domain
(DateTimeFunctions.java); the MV variants here follow those signatures.
"""

from __future__ import annotations

import pandas as _pd
import pyspark.sql.functions as F
from pyspark.sql import Column

from pinot_spark.functions.scalar import (
    SCALAR_FUNCTIONS,
    _c,
    _lazy_udf,
    _millis,
    _reg,
)
from pyspark.sql.functions import pandas_udf as _pandas_udf


def _sf(name: str):
    """Fetch an already-registered builder by canonical name."""
    return SCALAR_FUNCTIONS[name.replace("_", "").lower()]


# ---------------------------------------------------------------------------
# typed array variants (ArrayFunctions.java:39-408) — Spark arrays are
# uniformly typed, so every Int/Long/Float/Double/String variant maps to
# the same generic expression; registering the names keeps Pinot queries
# portable verbatim.
# ---------------------------------------------------------------------------

_TY = ("int", "long", "float", "double", "string")

for _t in _TY:
    _reg(f"arrayconcat{_t}")(lambda a, b: F.concat(_c(a), _c(b)))
    _reg(f"arrayelementat{_t}")(lambda a, i: F.element_at(_c(a), _c(i) + F.lit(1)))  # 0-based
    _reg(f"arraypushback{_t}")(lambda a, v: F.concat(_c(a), F.array(_c(v))))
    _reg(f"arraypushfront{_t}")(lambda a, v: F.concat(F.array(_c(v)), _c(a)))
    _reg(f"arrayindexesof{_t}", f"arrayindexofall{_t}")(
        lambda a, v: F.filter(
            F.transform(_c(a), lambda x, i: F.when(x == _c(v), i).otherwise(F.lit(-1))),
            lambda i: i >= 0,
        )
    )
for _t in ("int", "string"):
    _reg(f"arraycontains{_t}")(lambda a, v: F.array_contains(_c(a), v))
    _reg(f"arraydistinct{_t}")(lambda a: F.array_distinct(_c(a)))
    _reg(f"arrayindexof{_t}")(lambda a, v: F.array_position(_c(a), v) - F.lit(1))
    _reg(f"arrayremove{_t}")(lambda a, v: F.array_remove(_c(a), v))
    _reg(f"arrayreverse{_t}")(lambda a: F.reverse(_c(a)))
    _reg(f"arrayunion{_t}")(lambda a, b: F.array_union(_c(a), _c(b)))
for _t in ("int", "long", "string"):
    _reg(f"arrayslice{_t}")(
        lambda a, s, e: F.slice(_c(a), _c(s) + F.lit(1), _c(e) - _c(s))
    )
for _t in ("int", "long", "float", "double"):
    _reg(f"generate{_t}array")(
        lambda start, end, inc: F.sequence(_c(start), _c(end), _c(inc))
    )

_reg("arrayvalueconstructor", "array")(lambda *xs: F.array(*[_c(x) for x in xs]))
# the cast keeps it total over numeric MV columns (Spark array_join
# requires array<string>; reference ArrayFunctions coerces to String[])
_reg("arraytostring")(
    lambda a, sep, nullstr=None: F.array_join(_c(a).cast("array<string>"), sep, nullstr)
    if nullstr is not None
    else F.array_join(_c(a).cast("array<string>"), sep)
)
_reg("stringtoarray")(lambda s, delim: F.split(_c(s), delim))
_reg("arraysoverlap")(lambda a, b: F.arrays_overlap(_c(a), _c(b)))


@_reg("intersectIndices")
def _intersect_indices(a, b):
    """Merge-intersect two monotonically-increasing index arrays
    (ArrayFunctions.java:108 intersectIndices)."""
    return F.array_sort(F.array_intersect(_c(a), _c(b)))


# ---------------------------------------------------------------------------
# comparison / logical (scalar/comparison/*.java, LogicalFunctions.java)
# ---------------------------------------------------------------------------

_reg("equals")(lambda a, b: _c(a) == _c(b))
_reg("notequals")(lambda a, b: _c(a) != _c(b))
_reg("greaterthan")(lambda a, b: _c(a) > _c(b))
_reg("greaterthanorequal")(lambda a, b: _c(a) >= _c(b))
_reg("lessthan")(lambda a, b: _c(a) < _c(b))
_reg("lessthanorequal")(lambda a, b: _c(a) <= _c(b))
_reg("between")(lambda x, lo, hi: _c(x).between(_c(lo), _c(hi)))
_reg("in")(lambda x, *vals: _c(x).isin(*vals))
_reg("notin")(lambda x, *vals: ~_c(x).isin(*vals))
# SQL three-valued IS TRUE / IS FALSE semantics: null → false
_reg("istrue")(lambda a: _c(a).eqNullSafe(F.lit(True)))
_reg("isnottrue")(lambda a: ~_c(a).eqNullSafe(F.lit(True)))
_reg("isfalse")(lambda a: _c(a).eqNullSafe(F.lit(False)))
_reg("isnotfalse")(lambda a: ~_c(a).eqNullSafe(F.lit(False)))


@_reg("case")
def _case(*args):
    """CASE transform (ObjectFunctions.caseWhen): alternating
    (cond, value) pairs with an optional trailing ELSE."""
    pairs, els = args, None
    if len(args) % 2 == 1:
        pairs, els = args[:-1], args[-1]
    col = F.when(_c(pairs[0]), _c(pairs[1]))
    for i in range(2, len(pairs), 2):
        col = col.when(_c(pairs[i]), _c(pairs[i + 1]))
    return col.otherwise(_c(els)) if els is not None else col


# ---------------------------------------------------------------------------
# arithmetic extras (ArithmeticFunctions.java) + bitwise (scalar/bitwise)
# ---------------------------------------------------------------------------

_reg("acosh")(lambda a: F.acosh(_c(a)))
_reg("asinh")(lambda a: F.asinh(_c(a)))
_reg("atanh")(lambda a: F.atanh(_c(a)))
_reg("exp2")(lambda a: F.pow(F.lit(2.0), _c(a)))
_reg("exp10")(lambda a: F.pow(F.lit(10.0), _c(a)))
_reg("log")(lambda a: F.log(_c(a)))  # Pinot log == ln
_reg("log1p")(lambda a: F.log1p(_c(a)))
_reg("sigmoid")(lambda a: F.lit(1.0) / (F.lit(1.0) + F.exp(-_c(a))))
_reg("pi")(lambda: F.lit(3.141592653589793))
_reg("e", "euler")(lambda: F.lit(2.718281828459045))
_reg("factorial")(lambda n: F.factorial(_c(n)))
_reg("hypot")(lambda a, b: F.sqrt(_c(a) * _c(a) + _c(b) * _c(b)))
_reg("intdivorzero")(
    lambda a, b: F.when(_c(b) != 0, F.floor(_c(a) / _c(b)).cast("long")).otherwise(F.lit(0))
)
_reg("moduloorzero")(lambda a, b: F.when(_c(b) != 0, _c(a) % _c(b)).otherwise(F.lit(0)))
_reg("positivemodulo")(  # ArithmeticFunctions.positiveModulo: + abs(b)
    lambda a, b: ((_c(a) % _c(b)) + F.abs(_c(b))) % F.abs(_c(b))
)
_reg("negate")(lambda a: -_c(a))
# Pinot isFinite/isInfinite/isNaN return int 0/1 (ArithmeticFunctions.java:57-72)
_reg("isfinite")(
    lambda a: (~F.isnan(_c(a)) & (F.abs(_c(a)) != F.lit(float("inf")))).cast("int")
)
_reg("isinfinite")(lambda a: (F.abs(_c(a)) == F.lit(float("inf"))).cast("int"))
_reg("isnan")(lambda a: F.isnan(_c(a)).cast("int"))
_reg("ifnotfinite")(
    lambda a, d: F.when(
        F.isnan(_c(a)) | (F.abs(_c(a)) == F.lit(float("inf"))), _c(d)
    ).otherwise(_c(a))
)
_reg("bitcount")(lambda a: F.bit_count(_c(a)))
_reg("widthbucket")(lambda v, lo, hi, n: F.width_bucket(_c(v), _c(lo), _c(hi), _c(n)))
_reg("rand")(lambda seed=None: F.rand(seed) if seed is not None else F.rand())

_reg("bitand")(lambda a, b: _c(a).bitwiseAND(_c(b)))
_reg("bitor")(lambda a, b: _c(a).bitwiseOR(_c(b)))
_reg("bitxor")(lambda a, b: _c(a).bitwiseXOR(_c(b)))
_reg("bitnot")(lambda a: F.bitwise_not(_c(a)))
_reg("bitshiftleft", "shiftleft")(lambda a, n: F.shiftleft(_c(a), n if isinstance(n, int) else n))
_reg("bitshiftright", "shiftright")(lambda a, n: F.shiftright(_c(a), n if isinstance(n, int) else n))
_reg("bitshiftrightunsigned", "bitshiftrightlogical")(
    lambda a, n: F.shiftrightunsigned(_c(a), n)
)


def _make_gcd_lcm(which: str):
    def factory():
        @_pandas_udf("long")
        def _udf(a: _pd.Series, b: _pd.Series) -> _pd.Series:
            import math

            fn = math.gcd if which == "gcd" else math.lcm
            return _pd.Series(
                [None if x is None or y is None else fn(int(x), int(y)) for x, y in zip(a, b)],
                dtype="object",
            )

        return _udf

    return factory


_reg("gcd")(lambda a, b: _lazy_udf("gcd", _make_gcd_lcm("gcd"))(_c(a).cast("long"), _c(b).cast("long")))
_reg("lcm")(lambda a, b: _lazy_udf("lcm", _make_gcd_lcm("lcm"))(_c(a).cast("long"), _c(b).cast("long")))


def _make_byteswap(bits: int):
    def factory():
        @_pandas_udf("long" if bits == 64 else "int")
        def _udf(a: _pd.Series) -> _pd.Series:
            nb = bits // 8

            def one(v):
                if v is None:
                    return None
                raw = int(v).to_bytes(nb, "big", signed=True)
                return int.from_bytes(raw[::-1], "big", signed=True)

            return _pd.Series([one(v) for v in a], dtype="object")

        return _udf

    return factory


_reg("byteswapint")(lambda a: _lazy_udf("bswap32", _make_byteswap(32))(_c(a).cast("int")))
_reg("byteswaplong")(lambda a: _lazy_udf("bswap64", _make_byteswap(64))(_c(a).cast("long")))

# ---------------------------------------------------------------------------
# string extras (StringFunctions.java)
# ---------------------------------------------------------------------------

_reg("ascii")(lambda s: F.ascii(_c(s)))
_reg("initcap")(lambda s: F.initcap(_c(s)))
_reg("leftsubstr")(lambda s, n: F.substring(_c(s), 1, _c(n)))
_reg("rightsubstr")(lambda s, n: F.substring(_c(s), -_c(n), _c(n)))
_reg("levenshteindistance")(lambda a, b: F.levenshtein(_c(a), _c(b)))
_reg("overlay")(
    lambda s, r, pos, length=None: F.overlay(_c(s), _c(r), _c(pos))
    if length is None
    else F.overlay(_c(s), _c(r), _c(pos), _c(length))
)
_reg("soundex")(lambda s: F.soundex(_c(s)))
_reg("space")(lambda n: F.repeat(F.lit(" "), _c(n)))
_reg("strcmp")(
    lambda a, b: F.when(_c(a) < _c(b), F.lit(-1)).when(_c(a) > _c(b), F.lit(1)).otherwise(F.lit(0))
)
# last 0-based index of sub in s, -1 on miss (StringFunctions.strrpos:255)
_reg("strrpos")(
    lambda s, sub: F.when(
        F.instr(F.reverse(_c(s)), F.reverse(_c(sub))) > 0,
        F.length(_c(s)) - F.length(_c(sub)) - F.instr(F.reverse(_c(s)), F.reverse(_c(sub))) + F.lit(1),
    ).otherwise(F.lit(-1))
)
_reg("substringindex")(lambda s, d, n: F.substring_index(_c(s), d, n))
_reg("translate")(lambda s, frm, to: F.translate(_c(s), frm, to))
_reg("fromascii")(lambda b: F.decode(_c(b), "US-ASCII"))
_reg("firstline")(lambda s: F.substring_index(_c(s), "\n", 1))
_reg("startswithcaseinsensitive")(lambda s, p: F.startswith(F.lower(_c(s)), F.lower(_c(p))))
_reg("endswithcaseinsensitive")(lambda s, p: F.endswith(F.lower(_c(s)), F.lower(_c(p))))
_reg("charlength", "characterlength")(lambda s: F.length(_c(s)))
_reg("octetlength")(lambda s: F.octet_length(_c(s)))
_reg("bitlength")(lambda s: F.bit_length(_c(s)))
_reg("isvalidascii")(lambda s: _c(s).rlike("^[\\x00-\\x7F]*$"))
_reg("difference")(
    # count of matching positions in the two 4-char soundex codes (0-4)
    lambda a, b: F.size(
        F.filter(
            F.zip_with(
                F.split(F.soundex(_c(a)), ""), F.split(F.soundex(_c(b)), ""), lambda x, y: x == y
            ),
            lambda v: v,
        )
    )
)


def _prefixes(s, maxlen):
    return F.transform(
        F.sequence(F.lit(1), F.least(F.length(_c(s)), _c(maxlen))),
        lambda i: F.substring(_c(s), F.lit(1), i),
    )


def _suffixes(s, maxlen):
    return F.transform(
        F.sequence(F.lit(1), F.least(F.length(_c(s)), _c(maxlen))),
        lambda i: F.substring(_c(s), -i, i),
    )


_reg("prefixeswithprefix")(
    lambda s, maxlen, pre: F.transform(_prefixes(s, maxlen), lambda p: F.concat(_c(pre), p))
)
_reg("suffixeswithsuffix")(
    lambda s, maxlen, suf: F.transform(_suffixes(s, maxlen), lambda p: F.concat(p, _c(suf)))
)


def _ngrams(s, n):
    return F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(_c(s)) - _c(n) + F.lit(1), F.lit(0))),
        lambda i: F.substring(_c(s), i, _c(n)),
    )


_reg("uniquengrams", "generateuniquengrams")(lambda s, n: F.array_distinct(_ngrams(s, n)))
_reg("uniquengramsmv", "generateuniquengramsmv")(
    lambda arr, n: F.array_distinct(F.flatten(F.transform(_c(arr), lambda s: _ngrams(s, n))))
)
_reg("base64encode")(lambda s: F.base64(_c(s).cast("binary")))
_reg("base64decode")(lambda s: F.decode(F.unbase64(_c(s)), "utf-8"))
_reg("tobytes")(lambda s, charset="UTF-8": F.encode(_c(s), str(charset)))
_reg("frombytes")(lambda b, charset="UTF-8": F.decode(_c(b), str(charset)))
_reg("urlencode")(lambda s: F.url_encode(_c(s)))
_reg("urldecode")(lambda s: F.url_decode(_c(s)))
# form-component variants: '+' for spaces (application/x-www-form-urlencoded)
_reg("urlencodeformcomponent")(lambda s: F.url_encode(_c(s)))
_reg("urldecodeformcomponent")(lambda s: F.url_decode(_c(s)))

# ---------------------------------------------------------------------------
# regexp extras (scalar/regexp/*.java) — the *Var variants take a
# non-literal pattern column, which Spark's codegen'd regexp functions
# reject; they run as Arrow-batched pandas UDFs.
# ---------------------------------------------------------------------------

_reg("regexpcount")(lambda s, p: F.regexp_count(_c(s), _c(p) if isinstance(p, Column) else F.lit(p)))
_reg("regexpsubstr")(lambda s, p: F.regexp_substr(_c(s), _c(p) if isinstance(p, Column) else F.lit(p)))


def _make_regexp_var(which: str):
    def factory():
        ret = "boolean" if which == "like" else "string"

        @_pandas_udf(ret)
        def _udf(s: _pd.Series, p: _pd.Series, extra: _pd.Series) -> _pd.Series:
            import re

            out = []
            for v, pat, ex in zip(s, p, extra):
                if v is None or pat is None:
                    out.append(None)
                elif which == "like":
                    out.append(re.search(pat, v) is not None)
                elif which == "extract":
                    m = re.search(pat, v)
                    g = int(ex) if ex is not None else 0
                    try:
                        out.append(m.group(g) if m else None)
                    except IndexError:
                        out.append(None)
                else:  # replace
                    out.append(re.sub(pat, ex if ex is not None else "", v))
            return _pd.Series(out, dtype="object")

        return _udf

    return factory


_reg("regexplikevar", "likevar")(
    lambda s, p: _lazy_udf("re_like_var", _make_regexp_var("like"))(
        _c(s).cast("string"), _c(p).cast("string"), F.lit(None).cast("string")
    )
)
_reg("regexpextractvar")(
    lambda s, p, g=0: _lazy_udf("re_extract_var", _make_regexp_var("extract"))(
        _c(s).cast("string"), _c(p).cast("string"), _c(g).cast("string")
    )
)
_reg("regexpreplacevar")(
    lambda s, p, r: _lazy_udf("re_replace_var", _make_regexp_var("replace"))(
        _c(s).cast("string"), _c(p).cast("string"), _c(r).cast("string")
    )
)

# ---------------------------------------------------------------------------
# json extras (JsonFunctions.java)
# ---------------------------------------------------------------------------

_json_scalar = _sf("jsonextractscalar")
_reg("jsonextractscalarfast", "jsonextractscalarfirstmatch")(_json_scalar)
_reg("jsonpathstringfast", "jsonpathstringfirstmatch")(_sf("jsonpathstring"))
_reg("jsonpathlongfast", "jsonpathlongfirstmatch")(_sf("jsonpathlong"))
_reg("jsonpathdoublefast", "jsonpathdoublefirstmatch")(_sf("jsonpathdouble"))
_reg("jsonextractobject")(lambda j, path: F.get_json_object(_c(j), path))
_reg("jsonextractindex")(
    lambda j, path, idx=0, *rest: F.get_json_object(
        _c(j), f"{path}[{idx}]" if isinstance(path, str) else path
    )
)
_reg("jsonpathexists")(lambda j, path: F.get_json_object(_c(j), path).isNotNull())
_reg("jsonpatharraydefaultempty")(
    lambda j, path: F.coalesce(
        F.from_json(F.get_json_object(_c(j), path), "array<string>"),
        F.array().cast("array<string>"),
    )
)
_reg("jsonstringtoarray")(lambda s: F.from_json(_c(s), "array<string>"))
_reg("jsonstringtomap", "jsonstringtolistormap")(lambda s: F.from_json(_c(s), "map<string,string>"))
_reg("jsonkeyvaluearraytomap")(
    lambda s: F.map_from_entries(
        F.transform(
            F.from_json(_c(s), "array<struct<key:string,value:string>>"),
            lambda e: F.struct(e["key"], e["value"]),
        )
    )
)
_reg("tojsonmapstr")(lambda m: F.to_json(_c(m)))

# ---------------------------------------------------------------------------
# MV datetime variants + epoch buckets (DateTimeFunctions.java:88-772;
# epoch-millis LONG domain per the reference signatures)
# ---------------------------------------------------------------------------

_EPOCH_MS = {"seconds": 1_000, "minutes": 60_000, "hours": 3_600_000, "days": 86_400_000}


def _mv(fn):
    """Lift a long→value builder over an array column element-wise."""
    return lambda arr, *args: F.transform(_c(arr), lambda x: fn(x, *args))


for _u, _d in _EPOCH_MS.items():
    # scalar buckets (toEpochXBucket / fromEpochXBucket, :203-373)
    _reg(f"toepoch{_u}bucket")(
        lambda ts, bucket, d=_d: ((_c(ts).cast("long") / F.lit(d)).cast("long") / _c(bucket)).cast("long")
    )
    _reg(f"fromepoch{_u}bucket")(
        lambda v, bucket, d=_d: (_c(v).cast("long") * _c(bucket) * F.lit(d)).cast("long")
    )
    # MV lifts over epoch-millis arrays
    _reg(f"toepoch{_u}mv")(
        _mv(lambda x, d=_d: (x.cast("long") / F.lit(d)).cast("long"))
    )
    _reg(f"fromepoch{_u}mv")(_mv(lambda x, d=_d: (x.cast("long") * F.lit(d)).cast("long")))
    _reg(f"toepoch{_u}roundedmv")(
        _mv(
            lambda x, r, d=_d: ((x.cast("long") / F.lit(d)).cast("long") / _c(r)).cast("long") * _c(r)
        )
    )
    _reg(f"toepoch{_u}bucketmv")(
        _mv(lambda x, b, d=_d: ((x.cast("long") / F.lit(d)).cast("long") / _c(b)).cast("long"))
    )
    _reg(f"fromepoch{_u}bucketmv")(
        _mv(lambda x, b, d=_d: (x.cast("long") * _c(b) * F.lit(d)).cast("long"))
    )


def _ms_ts(x):
    """Epoch-millis long → timestamp for calendar-field extraction."""
    return F.timestamp_millis(x.cast("long"))


_CAL_FIELDS = {
    "year": lambda x: F.year(_ms_ts(x)),
    "quarter": lambda x: F.quarter(_ms_ts(x)),
    "month": lambda x: F.month(_ms_ts(x)),
    "monthofyear": lambda x: F.month(_ms_ts(x)),
    "week": lambda x: F.weekofyear(_ms_ts(x)),
    "weekofyear": lambda x: F.weekofyear(_ms_ts(x)),
    "day": lambda x: F.dayofmonth(_ms_ts(x)),
    "dayofmonth": lambda x: F.dayofmonth(_ms_ts(x)),
    # ISO Mon=1..Sun=7 (Joda getDayOfWeek, DateTimeFunctions.java)
    "dayofweek": lambda x: ((F.dayofweek(_ms_ts(x)) + F.lit(5)) % F.lit(7)) + F.lit(1),
    "dow": lambda x: ((F.dayofweek(_ms_ts(x)) + F.lit(5)) % F.lit(7)) + F.lit(1),
    "dayofyear": lambda x: F.dayofyear(_ms_ts(x)),
    "doy": lambda x: F.dayofyear(_ms_ts(x)),
    "hour": lambda x: F.hour(_ms_ts(x)),
    "minute": lambda x: F.minute(_ms_ts(x)),
    "second": lambda x: F.second(_ms_ts(x)),
    "millisecond": lambda x: (x.cast("long") % F.lit(1000)).cast("int"),
}


def _iso_weekyear(x):
    """ISO week-based year = calendar year of the Thursday in that ISO week
    (Joda getWeekyear; DateTimeFunctions.yearOfWeek)."""
    ts = _ms_ts(x)
    iso_dow = ((F.dayofweek(ts) + F.lit(5)) % F.lit(7)) + F.lit(1)
    return F.year(F.date_add(ts.cast("date"), F.lit(4) - iso_dow))


_CAL_FIELDS["yearofweek"] = _iso_weekyear
_CAL_FIELDS["yow"] = _iso_weekyear

_reg("yearofweek", "yow")(lambda ms: _iso_weekyear(_c(ms)))

for _f, _b in _CAL_FIELDS.items():
    _reg(f"{_f}mv")(_mv(_b))

_reg("timezonehourmv")(_mv(lambda x: F.lit(0)))  # engine is UTC-normalized
_reg("timezoneminutemv")(_mv(lambda x: F.lit(0)))
_reg("totimestampmv")(_mv(lambda x: F.timestamp_millis(x.cast("long"))))
_reg("fromtimestampmv")(_mv(lambda x: (F.unix_timestamp(x) * 1000).cast("long")))
_reg("todatetimemv")(
    lambda arr, fmt: F.transform(_c(arr), lambda x: F.date_format(_ms_ts(x), fmt))
)
_reg("fromdatetimemv")(
    lambda arr, fmt: F.transform(
        _c(arr), lambda x: (F.unix_timestamp(F.to_timestamp(x, fmt)) * 1000).cast("long")
    )
)
_ISO_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'"
_reg("toiso8601")(lambda ms: F.date_format(_ms_ts(_c(ms)), _ISO_FMT))
_reg("toiso8601mv")(_mv(lambda x: F.date_format(_ms_ts(x), _ISO_FMT)))


def _from_iso(x):
    # to_timestamp handles both with/without millis via two attempts
    return (
        F.unix_millis(
            F.coalesce(
                F.try_to_timestamp(x, F.lit(_ISO_FMT)),
                F.try_to_timestamp(x, F.lit("yyyy-MM-dd'T'HH:mm:ss'Z'")),
                F.try_to_timestamp(x, F.lit("yyyy-MM-dd'T'HH:mm:ss.SSSXXX")),
                F.try_to_timestamp(x, F.lit("yyyy-MM-dd'T'HH:mm:ssXXX")),
                F.try_to_timestamp(x),
            )
        )
    ).cast("long")


_reg("fromiso8601")(lambda s: _from_iso(_c(s)))
_reg("fromiso8601mv")(_mv(_from_iso))

# round(timeValue, roundToNearest) stays in the long domain
# (DateTimeFunctions.java:507)
_reg("round")(lambda v, r: (_c(v).cast("long") / _c(r)).cast("long") * _c(r))
_reg("roundmv")(_mv(lambda x, r: (x.cast("long") / _c(r)).cast("long") * _c(r)))

_reg("timestampadd")(lambda unit, n, ts: F.timestampadd(str(unit), _c(n), _c(ts)))
_reg("timestampaddmv")(
    lambda unit, n, arr: F.transform(_c(arr), lambda x: F.timestampadd(str(unit), _c(n), x))
)
_reg("timestampdiff")(lambda unit, a, b: F.timestampdiff(str(unit), _c(a), _c(b)))
_reg("timestampdiffmv")(
    lambda unit, arr, b: F.transform(_c(arr), lambda x: F.timestampdiff(str(unit), x, _c(b)))
)
_reg("timestampdiffmvreverse")(
    lambda unit, a, arr: F.transform(_c(arr), lambda x: F.timestampdiff(str(unit), _c(a), x))
)
_reg("dateaddmv")(
    lambda unit, n, arr: F.transform(
        _c(arr), lambda x: F.unix_millis(F.timestampadd(str(unit), _c(n), _ms_ts(x)))
    )
)
_reg("datediffmv")(
    lambda unit, arr, b: F.transform(
        _c(arr), lambda x: F.timestampdiff(str(unit), _ms_ts(x), _ms_ts(_c(b)))
    )
)
_reg("datediffmvreverse")(
    lambda unit, a, arr: F.transform(
        _c(arr), lambda x: F.timestampdiff(str(unit), _ms_ts(_c(a)), _ms_ts(x))
    )
)
_reg("datetruncmv")(
    lambda unit, arr: F.transform(
        _c(arr), lambda x: F.unix_millis(F.date_trunc(str(unit), _ms_ts(x)))
    )
)


@_reg("ago")
def _ago(period):
    """now() minus an ISO-8601 duration literal, in epoch millis
    (DateTimeFunctions.java:551)."""
    import re as _re

    p = str(period)
    sign = -1 if p.startswith("-") else 1
    m = _re.match(
        r"-?P(?:(-?\d+)D)?(?:T(?:(-?\d+)H)?(?:(-?\d+)M)?(?:(-?[\d.]+)S)?)?", p
    )
    if not m:
        raise ValueError(f"bad ISO-8601 duration: {period}")
    d, h, mi, s = (float(g) if g else 0.0 for g in m.groups())
    total_ms = int(sign * (((d * 24 + h) * 60 + mi) * 60 + s) * 1000)
    return (F.unix_millis(F.current_timestamp()) - F.lit(total_ms)).cast("long")


def _make_ago_mv():
    @_pandas_udf("array<long>")
    def _udf(arrs: _pd.Series) -> _pd.Series:
        import re as _re
        import time as _time

        now_ms = int(_time.time() * 1000)

        def one_period(p):
            sign = -1 if p.startswith("-") else 1
            m = _re.match(r"-?P(?:(-?\d+)D)?(?:T(?:(-?\d+)H)?(?:(-?\d+)M)?(?:(-?[\d.]+)S)?)?", p)
            d, h, mi, s = (float(g) if g else 0.0 for g in m.groups()) if m else (0, 0, 0, 0)
            return now_ms - int(sign * (((d * 24 + h) * 60 + mi) * 60 + s) * 1000)

        return _pd.Series(
            [None if a is None else [one_period(p) for p in a] for a in arrs], dtype="object"
        )

    return _udf


_reg("agomv")(lambda arr: _lazy_udf("ago_mv", _make_ago_mv)(_c(arr)))


@_reg("datebin")
def _date_bin(stride, ts, origin):
    """date_bin(stride, source, origin): floor source into stride-sized
    bins anchored at origin (TransformFunctionType DATE_BIN)."""
    import re as _re

    m = _re.match(r"\s*(\d+)\s+(\w+)", str(stride))
    n, unit = (int(m.group(1)), m.group(2).lower().rstrip("s")) if m else (1, str(stride).lower().rstrip("s"))
    ms = {"second": 1000, "minute": 60_000, "hour": 3_600_000, "day": 86_400_000}[unit] * n
    src = _millis(_c(ts))
    org = _millis(_c(origin))
    return F.timestamp_millis(org + ((src - org) / F.lit(ms)).cast("long") * F.lit(ms))


_reg("extract")(lambda field, ts: _CAL_FIELDS[str(field).lower()](F.unix_millis(_c(ts))))
_reg("timeseriesbucket")(
    lambda ts, bucket_ms: ((_millis(_c(ts)) / _c(bucket_ms)).cast("long") * _c(bucket_ms))
)


@_reg("datetimeconvertwindowhop")
def _dtc_window_hop(v, input_fmt, output_fmt, granularity, hop):
    """Hopping-window variant of dateTimeConvert: each value maps to the
    ARRAY of hop-window starts containing it
    (TransformFunctionType DATE_TIME_CONVERT_WINDOW_HOP)."""
    from pinot_spark.functions.scalar import _DTC_UNIT_MS, _dtc_parse

    in_size, in_unit, in_type, in_pat = _dtc_parse(input_fmt)
    g_parts = str(granularity).split(":")
    g_ms = int(g_parts[0]) * _DTC_UNIT_MS[g_parts[1].lower()]
    h_parts = str(hop).split(":")
    h_ms = int(h_parts[0]) * _DTC_UNIT_MS[h_parts[1].lower()]
    c = _c(v)
    ms = c.cast("long") * F.lit(in_size * _DTC_UNIT_MS[in_unit]) if in_type == "EPOCH" else _millis(c)
    first = (ms / F.lit(h_ms)).cast("long") * F.lit(h_ms) - F.lit(g_ms - h_ms)
    n_hops = g_ms // h_ms
    return F.filter(
        F.transform(
            F.sequence(F.lit(0), F.lit(n_hops - 1)),
            lambda i: first + i.cast("long") * F.lit(h_ms),
        ),
        lambda w: (w <= ms) & (w + F.lit(g_ms) > ms),
    )


# ---------------------------------------------------------------------------
# hash extras (HashFunctions.java:48-327) — exact public algorithms as
# Arrow-batched pandas UDFs (not hot-path; algorithm parity is the point)
# ---------------------------------------------------------------------------

_M64 = 0xFFFFFFFFFFFFFFFF
_M32 = 0xFFFFFFFF


def _rotl64(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _fmix64(k: int) -> int:
    k ^= k >> 33
    k = (k * 0xFF51AFD7ED558CCD) & _M64
    k ^= k >> 33
    k = (k * 0xC4CEB9FE1A85EC53) & _M64
    k ^= k >> 33
    return k


def _murmur3_x64_128(data: bytes, seed: int = 0) -> tuple[int, int]:
    """Standard MurmurHash3 x64 128-bit (public smhasher algorithm; the
    same variant as Guava murmur3_128 used by HashFunctions.java:147)."""
    c1, c2 = 0x87C37B91114253D5, 0x4CF5AD432745937F
    h1 = h2 = seed & _M64
    n = len(data)
    nblocks = n // 16
    for i in range(nblocks):
        k1 = int.from_bytes(data[i * 16 : i * 16 + 8], "little")
        k2 = int.from_bytes(data[i * 16 + 8 : i * 16 + 16], "little")
        k1 = (k1 * c1) & _M64
        k1 = _rotl64(k1, 31)
        k1 = (k1 * c2) & _M64
        h1 ^= k1
        h1 = _rotl64(h1, 27)
        h1 = (h1 + h2) & _M64
        h1 = (h1 * 5 + 0x52DCE729) & _M64
        k2 = (k2 * c2) & _M64
        k2 = _rotl64(k2, 33)
        k2 = (k2 * c1) & _M64
        h2 ^= k2
        h2 = _rotl64(h2, 31)
        h2 = (h2 + h1) & _M64
        h2 = (h2 * 5 + 0x38495AB5) & _M64
    tail = data[nblocks * 16 :]
    k1 = k2 = 0
    for i in range(len(tail) - 1, 7, -1):
        k2 ^= tail[i] << (8 * (i - 8))
    if len(tail) > 8:
        k2 = (k2 * c2) & _M64
        k2 = _rotl64(k2, 33)
        k2 = (k2 * c1) & _M64
        h2 ^= k2
    for i in range(min(len(tail), 8) - 1, -1, -1):
        k1 ^= tail[i] << (8 * i)
    if len(tail) > 0:
        k1 = (k1 * c1) & _M64
        k1 = _rotl64(k1, 31)
        k1 = (k1 * c2) & _M64
        h1 ^= k1
    h1 ^= n
    h2 ^= n
    h1 = (h1 + h2) & _M64
    h2 = (h2 + h1) & _M64
    h1 = _fmix64(h1)
    h2 = _fmix64(h2)
    h1 = (h1 + h2) & _M64
    h2 = (h2 + h1) & _M64
    return h1, h2


def _murmur3_x86_32(data: bytes, seed: int = 0) -> int:
    """Standard MurmurHash3 x86 32-bit (Guava murmur3_32_fixed,
    HashFunctions.java:138)."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    h = seed & _M32
    n4 = len(data) & ~3
    for i in range(0, n4, 4):
        k = int.from_bytes(data[i : i + 4], "little")
        k = (k * c1) & _M32
        k = ((k << 15) | (k >> 17)) & _M32
        k = (k * c2) & _M32
        h ^= k
        h = ((h << 13) | (h >> 19)) & _M32
        h = (h * 5 + 0xE6546B64) & _M32
    k = 0
    tail = data[n4:]
    if len(tail) >= 3:
        k ^= tail[2] << 16
    if len(tail) >= 2:
        k ^= tail[1] << 8
    if len(tail) >= 1:
        k ^= tail[0]
        k = (k * c1) & _M32
        k = ((k << 15) | (k >> 17)) & _M32
        k = (k * c2) & _M32
        h ^= k
    h ^= len(data)
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & _M32
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & _M32
    h ^= h >> 16
    return h


def _murmur2_64a(data: bytes, seed: int = 0xE17A1465) -> int:
    """MurmurHash64A (public algorithm; HashFunctions.murmurHash2Bit64)."""
    m = 0xC6A4A7935BD1E995
    r = 47
    h = (seed ^ (len(data) * m)) & _M64
    n8 = len(data) & ~7
    for i in range(0, n8, 8):
        k = int.from_bytes(data[i : i + 8], "little")
        k = (k * m) & _M64
        k ^= k >> r
        k = (k * m) & _M64
        h ^= k
        h = (h * m) & _M64
    tail = data[n8:]
    if tail:
        for i in range(len(tail) - 1, -1, -1):
            h ^= tail[i] << (8 * i)
        h = (h * m) & _M64
    h ^= h >> r
    h = (h * m) & _M64
    h ^= h >> r
    return h


def _fnv(data: bytes, bits: int, variant: str) -> int:
    mask = _M32 if bits == 32 else _M64
    prime = 0x01000193 if bits == 32 else 0x100000001B3
    h = 0x811C9DC5 if bits == 32 else 0xCBF29CE484222325
    for b in data:
        if variant == "1a":
            h = ((h ^ b) * prime) & mask
        else:
            h = ((h * prime) & mask) ^ b
    return h


_CRC32C_TABLE = []


def _crc32c(data: bytes) -> int:
    """CRC-32C (Castagnoli, reflected poly 0x82F63B78 — public algorithm)."""
    if not _CRC32C_TABLE:
        for i in range(256):
            crc = i
            for _ in range(8):
                crc = (crc >> 1) ^ 0x82F63B78 if crc & 1 else crc >> 1
            _CRC32C_TABLE.append(crc)
    crc = 0xFFFFFFFF
    for b in data:
        crc = (crc >> 8) ^ _CRC32C_TABLE[(crc ^ b) & 0xFF]
    return crc ^ 0xFFFFFFFF


def _signed(v: int, bits: int) -> int:
    return v - (1 << bits) if v >= 1 << (bits - 1) else v


def _make_hash_udf(key: str):
    def factory():
        ret = {
            "murmur3bit32": "int",
            "murmur3x64bit32": "int",
            "murmur3x64bit64": "int",  # reference delegates X64Bit64 → X64Bit32 (HashFunctions.java:174)
            "murmur2bit64": "long",
            "murmur3bit64": "long",
            "fnv1hash32": "int",
            "fnv1ahash32": "int",
            "fnv1hash64": "long",
            "fnv1ahash64": "long",
            "crc32c": "int",
            "sha224": "string",
            "murmur3bit128": "binary",
            "murmur3x64bit128": "binary",
            "cityhash32": "long",
            "cityhash64": "long",
            "cityhash128": "binary",
            "md2": "string",
        }[key]

        @_pandas_udf(ret)
        def _udf(s: _pd.Series) -> _pd.Series:
            import hashlib

            def one(v):
                if v is None:
                    return None
                b = bytes(v) if isinstance(v, (bytes, bytearray)) else str(v).encode("utf-8")
                if key == "murmur3bit32":
                    return _signed(_murmur3_x86_32(b), 32)
                if key == "murmur3bit64":
                    # Guava asLong() = little-endian first 8 bytes = h1
                    return _signed(_murmur3_x64_128(b)[0], 64)
                if key == "murmur3bit128":
                    h1, h2 = _murmur3_x64_128(b)
                    return h1.to_bytes(8, "little") + h2.to_bytes(8, "little")
                if key == "murmur3x64bit32":
                    return _signed(_murmur3_x64_128(b)[0] & _M32, 32)
                if key == "murmur3x64bit64":
                    return _signed(_murmur3_x64_128(b)[0] & _M32, 32)
                if key == "murmur3x64bit128":
                    h1, h2 = _murmur3_x64_128(b)
                    return h1.to_bytes(8, "little") + h2.to_bytes(8, "little")
                if key == "murmur2bit64":
                    return _signed(_murmur2_64a(b), 64)
                if key == "fnv1hash32":
                    return _signed(_fnv(b, 32, "1"), 32)
                if key == "fnv1ahash32":
                    return _signed(_fnv(b, 32, "1a"), 32)
                if key == "fnv1hash64":
                    return _signed(_fnv(b, 64, "1"), 64)
                if key == "fnv1ahash64":
                    return _signed(_fnv(b, 64, "1a"), 64)
                if key == "crc32c":
                    return _signed(_crc32c(b), 32)
                if key == "sha224":
                    # reference sha224 is actually SHA3-224 (DigestUtils.sha3_224Hex)
                    return hashlib.sha3_224(b).hexdigest()
                if key == "cityhash32":
                    # exact CityHash v1.1; Java widens the int result to
                    # long (HashFunctions.java:289), so sign-extend
                    from pinot_spark.functions.cityhash import city_hash_32

                    return city_hash_32(b)
                if key == "cityhash64":
                    from pinot_spark.functions.cityhash import city_hash_64

                    return city_hash_64(b)
                if key == "cityhash128":
                    from pinot_spark.functions.cityhash import city_hash_128

                    return city_hash_128(b)
                if key == "md2":
                    from pinot_spark.functions.md2 import md2_hex

                    return md2_hex(b)
                raise AssertionError(key)

            return _pd.Series([one(v) for v in s], dtype="object")

        return _udf

    return factory


for _hname, _hkey in [
    ("murmurhash3bit32", "murmur3bit32"),
    ("murmurhash3bit64", "murmur3bit64"),
    ("murmurhash3bit128", "murmur3bit128"),
    ("murmurhash3x64bit32", "murmur3x64bit32"),
    ("murmurhash3x64bit64", "murmur3x64bit64"),
    ("murmurhash3x64bit128", "murmur3x64bit128"),
    ("murmurhash2bit64", "murmur2bit64"),
    ("fnv1hash32", "fnv1hash32"),
    ("fnv1ahash32", "fnv1ahash32"),
    ("fnv1hash64", "fnv1hash64"),
    ("fnv1ahash64", "fnv1ahash64"),
    ("crc32c", "crc32c"),
    ("sha224", "sha224"),
    ("cityhash32", "cityhash32"),  # exact CityHash v1.1 (cityhash.py)
    ("cityhash128", "cityhash128"),
    ("md2", "md2"),  # exact RFC 1319 (md2.py)
]:
    _reg(_hname)(lambda x, _k=_hkey: _lazy_udf(f"hash_{_k}", _make_hash_udf(_k))(_c(x)))

# UTF8 aliases take a string directly — same UDFs (they utf-8 encode)
for _hname in ("fnv1hash32", "fnv1ahash32", "fnv1hash64", "fnv1ahash64"):
    SCALAR_FUNCTIONS[_hname + "utf8"] = SCALAR_FUNCTIONS[_hname]
SCALAR_FUNCTIONS["murmurhash2utf8"] = SCALAR_FUNCTIONS["murmurhash2"]


def _make_cityhash64_seeded(nseeds: int):
    """cityHash64(input, seed[, seed2]) — exact CityHash v1.1 with seeds
    (HashFunctions.java:302-320). Seed columns are cast to long; a literal
    seed rides through Arrow as exact int64."""

    def factory():
        @_pandas_udf("long")
        def _udf(*cols: _pd.Series) -> _pd.Series:
            from pinot_spark.functions.cityhash import (
                city_hash_64_with_seed,
                city_hash_64_with_seeds,
            )

            out = []
            for row in zip(*cols):
                v = row[0]
                if v is None or any(x is None for x in row[1:]):
                    out.append(None)
                    continue
                b = bytes(v) if isinstance(v, (bytes, bytearray)) else str(v).encode("utf-8")
                if nseeds == 1:
                    out.append(city_hash_64_with_seed(b, int(row[1])))
                else:
                    out.append(city_hash_64_with_seeds(b, int(row[1]), int(row[2])))
            return _pd.Series(out, dtype="object")

        return _udf

    return factory


def _cityhash64_dispatch(x, *seeds):
    if not seeds:
        return _lazy_udf("hash_cityhash64", _make_hash_udf("cityhash64"))(_c(x))
    if len(seeds) > 2:
        raise TypeError("cityHash64 takes 1-3 arguments")
    key = f"cityhash64_seed{len(seeds)}"
    cols = [_c(s).cast("long") for s in seeds]
    return _lazy_udf(key, _make_cityhash64_seeded(len(seeds)))(_c(x), *cols)


_reg("cityhash64")(_cityhash64_dispatch)

# ---------------------------------------------------------------------------
# uuid (scalar/uuid/*.java)
# ---------------------------------------------------------------------------


def _make_uuid_udf(which: str):
    def factory():
        ret = {"v4": "string", "v7": "string", "tobytes": "binary", "frombytes": "string",
               "is": "boolean", "version": "int", "timestamp": "long"}[which]

        @_pandas_udf(ret)
        def _udf(s: _pd.Series) -> _pd.Series:
            import uuid as _uuid

            def one(v):
                if which == "v4":
                    return str(_uuid.uuid4())
                if which == "v7":
                    # RFC 9562 UUIDv7: 48-bit unix-ms + random
                    import os as _os
                    import time as _time

                    ms = int(_time.time() * 1000)
                    rnd = int.from_bytes(_os.urandom(10), "big")
                    val = (ms << 80) | (7 << 76) | ((rnd >> 62) & 0xFFF) << 64 | (2 << 62) | (rnd & ((1 << 62) - 1))
                    return str(_uuid.UUID(int=val & ((1 << 128) - 1)))
                if v is None:
                    return None
                try:
                    if which == "tobytes":
                        return _uuid.UUID(str(v)).bytes
                    if which == "frombytes":
                        return str(_uuid.UUID(bytes=bytes(v)))
                    if which == "is":
                        _uuid.UUID(str(v))
                        return True
                    if which == "version":
                        return _uuid.UUID(str(v)).version
                    if which == "timestamp":
                        u = _uuid.UUID(str(v))
                        return (u.int >> 80) if u.version == 7 else None
                except (ValueError, TypeError):
                    return False if which == "is" else None

            return _pd.Series([one(v) for v in s], dtype="object")

        return _udf

    return factory


_reg("uuidv4")(lambda: _lazy_udf("uuid_v4", _make_uuid_udf("v4"))(F.lit("x")))
_reg("uuidv7")(lambda: _lazy_udf("uuid_v7", _make_uuid_udf("v7"))(F.lit("x")))
_reg("touuidbytes")(lambda s: _lazy_udf("uuid_tobytes", _make_uuid_udf("tobytes"))(_c(s).cast("string")))
_reg("fromuuidbytes")(lambda b: _lazy_udf("uuid_frombytes", _make_uuid_udf("frombytes"))(_c(b)))
_reg("isuuid")(lambda s: _lazy_udf("uuid_is", _make_uuid_udf("is"))(_c(s).cast("string")))
_reg("uuidversion")(lambda s: _lazy_udf("uuid_version", _make_uuid_udf("version"))(_c(s).cast("string")))
_reg("uuidtimestamp")(lambda s: _lazy_udf("uuid_ts", _make_uuid_udf("timestamp"))(_c(s).cast("string")))
_reg("uuidtostring")(lambda b: _lazy_udf("uuid_frombytes", _make_uuid_udf("frombytes"))(_c(b)))

# ---------------------------------------------------------------------------
# URL ClickHouse-style family (UrlFunctions.java:42-689) — URI parsing as
# Arrow-batched pandas UDFs (urllib.parse mirrors java.net.URI here)
# ---------------------------------------------------------------------------

_SHORT_TLDS = {"com", "net", "org", "co"}


def _make_url_udf(which: str):
    def factory():
        ret = "array<string>" if which in ("extract_params", "extract_names", "hierarchy", "path_hierarchy") else "string"

        @_pandas_udf(ret)
        def _udf(u: _pd.Series, arg: _pd.Series) -> _pd.Series:
            from urllib.parse import urlsplit, urlunsplit, unquote

            def host_of(v):
                try:
                    return urlsplit(v).hostname
                except ValueError:
                    return None

            def fsd_parts(host):
                parts = host.split(".")
                if len(parts) <= 2:
                    return parts
                return parts[-2:] if parts[-1] in _SHORT_TLDS else parts[-3:]

            def rebuild(v, *, drop_query=False, drop_frag=False, host_map=None, query_map=None):
                try:
                    sp = urlsplit(v)
                    netloc = sp.netloc
                    if host_map and sp.hostname:
                        new_host = host_map(sp.hostname)
                        netloc = netloc.replace(sp.hostname, new_host, 1)
                    q = "" if drop_query else (query_map(sp.query) if query_map else sp.query)
                    f = "" if drop_frag else sp.fragment
                    return urlunsplit((sp.scheme, netloc, sp.path, q, f))
                except ValueError:
                    return v

            def one(v, a):
                if v is None:
                    return None
                if which == "cutwww":
                    return rebuild(v, host_map=lambda h: h[4:] if h.startswith("www.") else h)
                if which == "cutquerystring":
                    return rebuild(v, drop_query=True)
                if which == "cutfragment":
                    return rebuild(v, drop_frag=True)
                if which == "cutquerystringandfragment":
                    return rebuild(v, drop_query=True, drop_frag=True)
                if which == "cutparam":
                    def qmap(q):
                        kept = [p for p in q.split("&") if p and unquote(p.split("=", 2)[0]) != a]
                        return "&".join(kept)
                    return rebuild(v, query_map=qmap)
                if which == "cutparams":
                    names = [n.strip() for n in str(a).split(",")] if a else []
                    def qmap(q):
                        kept = [p for p in q.split("&") if p and unquote(p.split("=", 2)[0]) not in names]
                        return "&".join(kept)
                    return rebuild(v, query_map=qmap)
                host = host_of(v)
                if which == "domain_without_www":
                    return host[4:] if host and host.startswith("www.") else host
                if which == "tld":
                    return host.split(".")[-1] if host else None
                if which == "first_significant_subdomain":
                    return fsd_parts(host)[0] if host else None
                if which == "cut_to_fsd":
                    return ".".join(fsd_parts(host)) if host else None
                if which == "cut_to_fsd_www":
                    if not host:
                        return None
                    parts = host.split(".")
                    fsd = fsd_parts(host)
                    if parts[0] == "www" and len(parts) == len(fsd) + 1:
                        return "www." + ".".join(fsd)
                    return ".".join(fsd)
                try:
                    sp = urlsplit(v)
                except ValueError:
                    return None
                if which == "netloc":
                    out = ""
                    if sp.username:
                        out += sp.username + (":" + sp.password if sp.password else "") + "@"
                    out += sp.hostname or ""
                    if sp.port:
                        out += f":{sp.port}"
                    return out
                if which == "path_with_query":
                    return sp.path + ("?" + sp.query if sp.query else "")
                if which == "querystring":
                    return sp.query or None
                if which == "querystring_and_fragment":
                    out = ("?" + sp.query if sp.query else "")
                    out += ("#" + sp.fragment if sp.fragment else "")
                    return out or None
                if which == "extract_params":
                    return [p for p in sp.query.split("&") if p] if sp.query else []
                if which == "extract_names":
                    return [p.split("=", 2)[0] for p in sp.query.split("&") if p] if sp.query else []
                if which == "hierarchy":
                    # progressively longer URL prefixes: scheme://host, +path segments
                    base = f"{sp.scheme}://{sp.netloc}" if sp.scheme else sp.netloc
                    out = [base]
                    acc = base
                    for seg in [s for s in sp.path.split("/") if s]:
                        acc = acc + "/" + seg
                        out.append(acc)
                    if sp.query:
                        out.append(acc + "?" + sp.query)
                    return out
                if which == "path_hierarchy":
                    out = []
                    acc = ""
                    for seg in [s for s in sp.path.split("/") if s]:
                        acc = acc + "/" + seg
                        out.append(acc)
                    return out
                raise AssertionError(which)

            return _pd.Series([one(v, a) for v, a in zip(u, arg)], dtype="object")

        return _udf

    return factory


def _url1(which):
    return lambda u: _lazy_udf(f"url_{which}", _make_url_udf(which))(
        _c(u).cast("string"), F.lit(None).cast("string")
    )


_reg("cutwww")(_url1("cutwww"))
_reg("cutquerystring")(_url1("cutquerystring"))
_reg("cutfragment")(_url1("cutfragment"))
_reg("cutquerystringandfragment")(_url1("cutquerystringandfragment"))
_reg("cuturlparameter")(
    lambda u, name: _lazy_udf("url_cutparam", _make_url_udf("cutparam"))(
        _c(u).cast("string"), _c(name).cast("string")
    )
)
_reg("cuturlparameters")(
    lambda u, names: _lazy_udf("url_cutparams", _make_url_udf("cutparams"))(
        _c(u).cast("string"),
        F.array_join(_c(names), ",") if not isinstance(names, str) else F.lit(names),
    )
)
_reg("urldomainwithoutwww")(_url1("domain_without_www"))
_reg("urltopleveldomain")(_url1("tld"))
_reg("urlfirstsignificantsubdomain")(_url1("first_significant_subdomain"))
_reg("cuttofirstsignificantsubdomain")(_url1("cut_to_fsd"))
_reg("cuttofirstsignificantsubdomainwithwww")(_url1("cut_to_fsd_www"))
_reg("urlnetloc")(_url1("netloc"))
_reg("urlpathwithquery")(_url1("path_with_query"))
_reg("urlquerystring")(_url1("querystring"))
_reg("urlquerystringandfragment")(_url1("querystring_and_fragment"))
_reg("extracturlparameters")(_url1("extract_params"))
_reg("extracturlparameternames")(_url1("extract_names"))
_reg("urlhierarchy")(_url1("hierarchy"))
_reg("urlpathhierarchy")(_url1("path_hierarchy"))

# ---------------------------------------------------------------------------
# IP addresses (IpAddressFunctions.java:81-333) — python `ipaddress`
# stdlib in Arrow-batched UDFs; exact semantics incl. IPv6
# ---------------------------------------------------------------------------


def _make_ip_udf(which: str):
    def factory():
        ret = {
            "family": "int", "masklen": "int", "isipv4": "boolean", "isipv6": "boolean",
            "isprivate": "boolean", "v6tobytes": "binary", "bytestov6": "string",
            "cidrtorange": "array<string>",
        }.get(which, "string")

        @_pandas_udf(ret)
        def _udf(a: _pd.Series, b: _pd.Series) -> _pd.Series:
            import ipaddress as ipa

            def one(v, w):
                if v is None:
                    return None
                try:
                    if which == "family":
                        return ipa.ip_address(v).version * 2  # AF-style: 4→? Pinot returns 4 or 6
                    if which == "isipv4":
                        try:
                            return ipa.ip_address(v).version == 4
                        except ValueError:
                            return False
                    if which == "isipv6":
                        try:
                            return ipa.ip_address(v).version == 6
                        except ValueError:
                            return False
                    if which == "isprivate":
                        return ipa.ip_address(v).is_private
                    if which == "prefix":
                        net = ipa.ip_network(f"{v}/{int(w)}", strict=False)
                        return f"{net.network_address}/{net.prefixlen}"
                    if which == "subnetmin":
                        return str(ipa.ip_network(v, strict=False).network_address)
                    if which == "subnetmax":
                        return str(ipa.ip_network(v, strict=False).broadcast_address)
                    if which == "masklen":
                        return ipa.ip_network(v, strict=False).prefixlen
                    if which == "netmask":
                        return str(ipa.ip_network(v, strict=False).netmask)
                    if which == "hostmask":
                        return str(ipa.ip_network(v, strict=False).hostmask)
                    if which == "v4tov6":
                        return f"::ffff:{ipa.IPv4Address(v)}"
                    if which == "v6tobytes":
                        return ipa.IPv6Address(v).packed
                    if which == "bytestov6":
                        return str(ipa.IPv6Address(bytes(v)))
                    if which == "longtov4":
                        return str(ipa.IPv4Address(int(v)))
                    if which == "cidrtorange":
                        net = ipa.ip_network(v, strict=False)
                        return [str(net.network_address), str(net.broadcast_address)]
                except (ValueError, TypeError):
                    return None

            return _pd.Series([one(v, w) for v, w in zip(a, b)], dtype="object")

        return _udf

    return factory


def _ip1(which, cast="string"):
    return lambda x: _lazy_udf(f"ip_{which}", _make_ip_udf(which))(
        _c(x).cast(cast), F.lit(None).cast("string")
    )


@_reg("ipFamily")
def _ip_family(x):
    """4 for IPv4, 6 for IPv6 (IpAddressFunctions.java:252)."""
    return F.when(
        _lazy_udf("ip_isipv4", _make_ip_udf("isipv4"))(_c(x).cast("string"), F.lit(None).cast("string")),
        F.lit(4),
    ).otherwise(
        F.when(
            _lazy_udf("ip_isipv6", _make_ip_udf("isipv6"))(_c(x).cast("string"), F.lit(None).cast("string")),
            F.lit(6),
        ).otherwise(F.lit(0))
    )


_reg("isipv4string")(_ip1("isipv4"))
_reg("isipv6string")(_ip1("isipv6"))
_reg("isprivateip")(_ip1("isprivate"))
_reg("ipprefix")(
    lambda ip, bits: _lazy_udf("ip_prefix", _make_ip_udf("prefix"))(
        _c(ip).cast("string"), _c(bits).cast("string")
    )
)
_reg("ipsubnetmin")(_ip1("subnetmin"))
_reg("ipsubnetmax")(_ip1("subnetmax"))
_reg("ipmasklen")(_ip1("masklen"))
_reg("ipnetmask")(_ip1("netmask"))
_reg("iphostmask")(_ip1("hostmask"))
_reg("ipv4toipv6")(_ip1("v4tov6"))
_reg("ipv6tobytes")(_ip1("v6tobytes"))
_reg("bytestoipv6")(lambda b: _lazy_udf("ip_bytestov6", _make_ip_udf("bytestov6"))(_c(b), F.lit(None).cast("string")))
_reg("longtoipv4")(_ip1("longtov4", cast="long"))
_reg("ipv4cidrtorange")(_ip1("cidrtorange"))

# ---------------------------------------------------------------------------
# binary / conversion extras (DataTypeConversionFunctions.java)
# ---------------------------------------------------------------------------

_reg("bytestohex")(lambda b: F.lower(F.hex(_c(b))))
_reg("hextobytes")(lambda s: F.unhex(_c(s)))
_reg("longtohexdecimal")(lambda v: F.lower(F.hex(_c(v).cast("long"))))
_reg("hexdecimaltolong")(lambda s: F.conv(_c(s), 16, 10).cast("long"))
_reg("bigdecimaltobytes")(lambda d: _c(d).cast("decimal(38,18)").cast("string").cast("binary"))
_reg("bytestobigdecimal")(lambda b: F.decode(_c(b), "utf-8").cast("decimal(38,18)"))

# geometry, geohash and H3 functions: functions/geo_udfs.py

# ---------------------------------------------------------------------------
# vector aliases (VectorFunctions.java:112-126)
# ---------------------------------------------------------------------------

SCALAR_FUNCTIONS["dotproduct"] = SCALAR_FUNCTIONS["innerproduct"]


def _euclidean_sq(a, b):
    # VectorFunctions.euclideanDistance is the SQUARED L2 sum (no sqrt),
    # unlike l2Distance which takes the root (VectorFunctions.java:84-119)
    # — previously mis-aliased to l2distance.  Computed as the direct
    # Σ(d²) accumulation like the reference loop, not sqrt-then-square.
    ca = a if isinstance(a, Column) else F.lit(a)
    cb = b if isinstance(b, Column) else F.lit(b)
    sq = F.zip_with(
        ca, cb, lambda x, y: (x.cast("double") - y.cast("double"))
        * (x.cast("double") - y.cast("double"))
    )
    return F.aggregate(sq, F.lit(0.0), lambda acc, v: acc + v)


SCALAR_FUNCTIONS["euclideandistance"] = _euclidean_sq

# ---------------------------------------------------------------------------
# internal / system (InternalFunctions.java:39-122) — single-process
# Spark analogs; ids surface the Spark application identity
# ---------------------------------------------------------------------------

_reg("cid")(lambda *a: F.lit("spark-local"))
_reg("reqid")(lambda *a: F.lit(0).cast("long"))
_reg("brokerid")(lambda *a: F.lit("Broker_spark-driver"))
_reg("queryengine")(lambda *a: F.lit("pinot_spark"))
_reg("stageid")(lambda *a: F.spark_partition_id() * F.lit(0))
_reg("workerid")(lambda *a: F.spark_partition_id())
_reg("starttime")(lambda *a: F.unix_millis(F.current_timestamp()))
_reg("endtime")(lambda *a: F.unix_millis(F.current_timestamp()))
_reg("sleep")(lambda ms: _c(ms).cast("long"))  # assertion-only sleep in reference; value passthrough
_reg("scalar")(lambda x: _c(x))  # SCALAR(...) marker wrapper → identity


def _groovy(meta, script, *cols):
    """groovy('{"returnType":...}', 'arg0 * 2', col...) — the inline
    Groovy transform (GroovyTransformFunction / GroovyFunctionEvaluator)
    evaluated by the expression-subset compiler in
    functions/groovy_expr.py (arithmetic, comparisons, ternary, string
    methods, Math.*); scripts beyond the subset raise
    NotImplementedError at parse time."""
    from pinot_spark.functions.groovy_expr import groovy_udf

    if not isinstance(meta, str) or not isinstance(script, str):
        raise NotImplementedError(
            "groovy(metadata, script, cols...) needs literal metadata/script strings"
        )
    return groovy_udf(meta, script)(*[_c(c) for c in cols])


_reg("groovy")(_groovy)


@_reg("clpDecode")
def _clp_decode(logtype, dict_vars, encoded_vars, default=None):
    """clpDecode(col_logtype, col_dictionaryVars, col_encodedVars
    [, default]) — reassemble CLP-encoded log messages
    (CLPDecodeTransformFunction.java:45-55; operators/clp.py — this
    engine's template/variable encoding, not CLP's binary wire format)."""
    from pinot_spark.operators.clp import clp_decode

    return clp_decode(_c(logtype), _c(dict_vars), _c(encoded_vars), default)


def _clp_stub(*_a):
    raise NotImplementedError(
        "clpEncodedVarsMatch's wildcard-query subsetting needs CLP's "
        "variable-placeholder query compiler — decode with clpDecode and "
        "filter the text instead (operators/clp.py)"
    )


_reg("clpencodedvarsmatch")(_clp_stub)


@_reg("inIdSet")
def _in_id_set(value, idset):
    """IN_ID_SET(col, serializedIdSet) membership predicate
    (TransformFunctionType:177). Id-sets here are the comma-joined
    serialization produced by the IDSET aggregation
    (queries/aggregates.py agg_idset_membership)."""
    return F.concat(F.lit(","), _c(idset), F.lit(",")).contains(
        F.concat(F.lit(","), _c(value).cast("string"), F.lit(","))
    )
