"""Scalar/transform function surface (SURVEY.md §2.8,
TransformFunctionType.java:46-258 + @ScalarFunction library): string,
datetime, math, JSON, regex, hash, MV/array filter semantics.
"""

from __future__ import annotations

import pyspark.sql.functions as F

from pinot_spark.catalog import load_tables
from pinot_spark.functions import scalar
from pinot_spark.queries import query, _r2, _r4


@query(
    "fn_string_family",
    oracle="""
    SELECT n_name,
           upper(n_name) AS up, lower(n_name) AS lo,
           substr(n_name, 1, 3) AS sub3,
           length(n_name) AS len,
           strpos(n_name, 'A') AS pos_a,
           concat(n_name, '-', CAST(n_nationkey AS VARCHAR)) AS tagged,
           reverse(n_name) AS rev,
           replace(n_name, 'A', '@') AS repl,
           lpad(n_name, 12, '.') AS pad,
           trim('  ' || n_name || ' ') AS trimmed,
           split_part(n_name, 'A', 1) AS first_part,
           levenshtein(n_name, 'CHINA') AS lev_china,
           starts_with(n_name, 'C') AS starts_c,
           contains(n_name, 'AN') AS has_an
    FROM nation ORDER BY n_name
    """,
)
def fn_string_family(spark, sf_dir):
    """StringFunctions.java (72 fns @ 1192 LoC): upper/lower/substr/strpos/
    concat/reverse/replace/lpad/trim/splitPart/levenshtein/startsWith/contains."""
    t = load_tables(spark, sf_dir)
    n = F.col("n_name")
    return (
        t["nation"]
        .select(
            "n_name",
            F.upper(n).alias("up"),
            F.lower(n).alias("lo"),
            F.substring(n, 1, 3).alias("sub3"),
            F.length(n).alias("len"),
            F.instr(n, "A").alias("pos_a"),
            F.concat(n, F.lit("-"), F.col("n_nationkey").cast("string")).alias("tagged"),
            F.reverse(n).alias("rev"),
            F.replace(n, F.lit("A"), F.lit("@")).alias("repl"),
            F.lpad(n, 12, ".").alias("pad"),
            F.trim(F.concat(F.lit("  "), n, F.lit(" "))).alias("trimmed"),
            F.split_part(n, F.lit("A"), F.lit(1)).alias("first_part"),
            F.levenshtein(n, F.lit("CHINA")).alias("lev_china"),
            F.startswith(n, F.lit("C")).alias("starts_c"),
            F.contains(n, F.lit("AN")).alias("has_an"),
        )
        .orderBy("n_name")
    )


@query(
    "fn_datetime_family",
    oracle="""
    SELECT o_orderkey,
           year(o_orderdate) AS y, month(o_orderdate) AS m, day(o_orderdate) AS d,
           dayofweek(o_orderdate) + 1 AS dow, quarter(o_orderdate) AS q,
           CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
           CAST(date_trunc('week', o_orderdate)  AS TIMESTAMP) AS week_start,
           CAST(epoch_ms(o_orderdate) AS BIGINT) AS epoch_millis,
           CAST(o_orderdate + INTERVAL 30 DAY AS TIMESTAMP) AS plus_30d,
           datediff('day', TIMESTAMP '1995-01-01', o_orderdate) AS days_since_95
    FROM orders WHERE o_orderkey < 100 ORDER BY o_orderkey
    """,
)
def fn_datetime_family(spark, sf_dir):
    """DateTimeFunctions.java (134 fns): year/month/day/dayOfWeek/quarter,
    dateTrunc, toEpochMillis, dateAdd, dateDiff (epoch conversions are the
    Pinot-critical path since TIMESTAMP stores epoch-millis)."""
    t = load_tables(spark, sf_dir)
    od = F.col("o_orderdate")
    return (
        t["orders"]
        .filter(F.col("o_orderkey") < 100)
        .select(
            "o_orderkey",
            F.year(od).alias("y"),
            F.month(od).alias("m"),
            F.dayofmonth(od).alias("d"),
            F.dayofweek(od).alias("dow"),
            F.quarter(od).alias("q"),
            # TIMESTAMP (not DATE) outputs: Spark DATE → pandas
            # datetime.date but DuckDB DATE → pandas Timestamp, which
            # breaks the driver's strict value hash (driver-mimic r03)
            F.date_trunc("month", od).alias("month_start"),
            F.date_trunc("week", od).alias("week_start"),
            (F.unix_timestamp(od) * 1000).alias("epoch_millis"),
            F.date_add(od.cast("date"), 30).cast("timestamp").alias("plus_30d"),
            F.datediff(od.cast("date"), F.lit("1995-01-01").cast("date")).alias("days_since_95"),
        )
        .orderBy("o_orderkey")
    )


@query(
    "fn_math_family",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           round(abs(l_quantity - 25), 2) AS abs_dev,
           ceil(l_discount * 100) AS ceil_disc, floor(l_tax * 100) AS floor_tax,
           round(sqrt(l_quantity), 4) AS sqrt_q,
           round(exp(l_discount), 4) AS exp_d,
           round(ln(l_extendedprice), 4) AS ln_p,
           round(pow(l_quantity, 2), 2) AS q_sq,
           CAST(l_quantity AS BIGINT) % 7 AS mod7,
           least(l_quantity, 25.0) AS least_q, greatest(l_quantity, 25.0) AS greatest_q,
           CAST(sign(l_quantity - 25) AS DOUBLE) AS sgn
    FROM lineitem WHERE l_orderkey < 30 ORDER BY l_orderkey, l_linenumber
    """,
)
def fn_math_family(spark, sf_dir):
    """ArithmeticFunctions.java (38 fns): abs/ceil/floor/sqrt/exp/ln/power/
    mod/least/greatest/sign."""
    t = load_tables(spark, sf_dir)
    q = F.col("l_quantity")
    return (
        t["lineitem"]
        .filter(F.col("l_orderkey") < 30)
        .select(
            "l_orderkey",
            "l_linenumber",
            _r2(F.abs(q - 25)).alias("abs_dev"),
            F.ceil(F.col("l_discount") * 100).cast("double").alias("ceil_disc"),
            F.floor(F.col("l_tax") * 100).cast("double").alias("floor_tax"),
            _r4(F.sqrt(q)).alias("sqrt_q"),
            _r4(F.exp("l_discount")).alias("exp_d"),
            _r4(F.log("l_extendedprice")).alias("ln_p"),
            _r2(F.pow(q, 2)).alias("q_sq"),
            (q.cast("bigint") % 7).alias("mod7"),
            F.least(q, F.lit(25.0)).alias("least_q"),
            F.greatest(q, F.lit(25.0)).alias("greatest_q"),
            F.signum(q - 25).alias("sgn"),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


@query(
    "fn_json_extract",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INT) AS k_val,
           json_extract_string(props, '$.missing') AS missing_val
    FROM events WHERE event_id < 50 ORDER BY event_id
    """,
)
def fn_json_extract(spark, sf_dir):
    """jsonExtractScalar with type coercion + default-on-missing
    (JsonFunctions.java, TransformFunctionType:104-118) →
    get_json_object / from_json."""
    t = load_tables(spark, sf_dir)
    return (
        t["events"]
        .filter(F.col("event_id") < 50)
        .select(
            "event_id",
            F.get_json_object("props", "$.k").cast("int").alias("k_val"),
            F.get_json_object("props", "$.missing").alias("missing_val"),
        )
        .orderBy("event_id")
    )


@query(
    "fn_json_match_rewrite",
    oracle="""
    SELECT event_type, count(*) AS n
    FROM events
    WHERE CAST(json_extract_string(props, '$.k') AS INT) BETWEEN 10 AND 20
    GROUP BY event_type ORDER BY event_type
    """,
)
def fn_json_match_rewrite(spark, sf_dir):
    """JSON_MATCH predicate → json-path extraction + comparison rewrite
    (JsonMatchFilterOperator.java; SURVEY.md §2.3 'custom rewrite,
    built-in eval')."""
    t = load_tables(spark, sf_dir)
    return (
        t["events"]
        .filter(F.get_json_object("props", "$.k").cast("int").between(10, 20))
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .orderBy("event_type")
    )


@query(
    "fn_regex_family",
    oracle="""
    SELECT p_partkey, p_name,
           regexp_extract(p_name, '([a-z]+)', 1) AS first_word,
           regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled,
           regexp_matches(p_name, '^p.*[0-9]$') AS like_pat
    FROM part WHERE p_partkey < 50 ORDER BY p_partkey
    """,
)
def fn_regex_family(spark, sf_dir):
    """REGEXP_LIKE / regexpExtract / regexpReplace
    (TransformFunctionType:190, RegexpLikePredicateEvaluator)."""
    t = load_tables(spark, sf_dir)
    return (
        t["part"]
        .filter(F.col("p_partkey") < 50)
        .select(
            "p_partkey",
            "p_name",
            F.regexp_extract("p_name", r"([a-z]+)", 1).alias("first_word"),
            F.regexp_replace("p_name", r"[aeiou]", "_").alias("devoweled"),
            F.col("p_name").rlike(r"^p.*[0-9]$").alias("like_pat"),
        )
        .orderBy("p_partkey")
    )


@query(
    "fn_hash_family",
    oracle="""
    SELECT n_name,
           md5(n_name) AS md5_hex,
           sha256(n_name) AS sha256_hex
    FROM nation ORDER BY n_name
    """,
)
def fn_hash_family(spark, sf_dir):
    """HashFunctions.java (33 fns): md5/sha256 (hex-string outputs match
    across engines; murmur/crc are engine-specific — covered by xxhash64
    in the dedup operators)."""
    t = load_tables(spark, sf_dir)
    return (
        t["nation"]
        .select(
            "n_name",
            F.md5(F.col("n_name").cast("binary")).alias("md5_hex"),
            F.sha2(F.col("n_name").cast("binary"), 256).alias("sha256_hex"),
        )
        .orderBy("n_name")
    )


def _exact_hash_oracle() -> str:
    """Literal-map oracle for the engine-specific exact hashes: the expected
    values are produced by the pure-Python CityHash v1.1 / RFC 1319 MD2
    implementations, which are themselves bit-exact against 211
    reference-generated Java vectors (tests/test_exact_hashes.py). The
    driver row therefore proves the Spark-side plumbing (registry dispatch,
    Arrow pandas-UDF batches, null handling) reproduces those values."""
    from pinot_spark.functions.cityhash import (
        city_hash_32,
        city_hash_64,
        city_hash_64_with_seed,
        city_hash_128,
    )
    from pinot_spark.functions.md2 import md2_hex

    names = [f"NATION_{i}" for i in range(25)]

    def case(expr_fn, quote=False):
        arms = []
        for n in names:
            v = expr_fn(n.encode())
            lit = f"'{v}'" if quote else str(v)
            arms.append(f"WHEN '{n}' THEN {lit}")
        return "CASE n_name " + " ".join(arms) + " END"

    in_list = ", ".join(f"'{n}'" for n in names)
    return f"""
    SELECT n_name,
           {case(md2_hex, quote=True)} AS md2_hex,
           {case(city_hash_32)} AS city32,
           {case(city_hash_64)} AS city64,
           {case(lambda b: city_hash_64_with_seed(b, 42))} AS city64_seed,
           {case(lambda b: city_hash_128(b).hex(), quote=True)} AS city128_hex
    FROM nation WHERE n_name IN ({in_list}) ORDER BY n_name
    """


@query("fn_exact_hash_parity", oracle=_exact_hash_oracle())
def fn_exact_hash_parity(spark, sf_dir):
    """Exact engine-specific hashes through the Spark scalar surface:
    MD2 (HashFunctions.java:84, RFC 1319 incl. the pi-derived S-box) and
    CityHash v1.1 32/64/64-with-seed/128 (HashFunctions.java:289-330,
    CityHashFunctions.java) — formerly documented stand-ins, now bit-exact
    (round 9)."""
    t = load_tables(spark, sf_dir)
    names = [f"NATION_{i}" for i in range(25)]
    b = F.encode(F.col("n_name"), "utf-8")
    return (
        t["nation"]
        .filter(F.col("n_name").isin(names))
        .select(
            "n_name",
            scalar.call("md2", b).alias("md2_hex"),
            scalar.call("cityHash32", b).alias("city32"),
            scalar.call("cityHash64", b).alias("city64"),
            scalar.call("cityHash64", b, F.lit(42)).alias("city64_seed"),
            F.lower(F.hex(scalar.call("cityHash128", b))).alias("city128_hex"),
        )
        .orderBy("n_name")
    )


@query(
    "fn_conditional_null",
    oracle="""
    SELECT e1.event_id,
           coalesce(nullif(e1.event_type, 'error'), 'unknown') AS clean_type,
           CASE WHEN e1.value IS NULL THEN -1.0 ELSE e1.value END AS value_or_neg,
           (e1.event_type IS NOT DISTINCT FROM 'view') AS is_view_nsafe
    FROM events e1 WHERE e1.event_id < 40 ORDER BY e1.event_id
    """,
)
def fn_conditional_null(spark, sf_dir):
    """COALESCE / NULLIF / IS NOT DISTINCT FROM (ObjectFunctions.java,
    TransformFunctionType:79-96 null-safe comparisons)."""
    t = load_tables(spark, sf_dir)
    return (
        t["events"]
        .filter(F.col("event_id") < 40)
        .select(
            "event_id",
            F.coalesce(F.nullif("event_type", F.lit("error")), F.lit("unknown")).alias("clean_type"),
            F.when(F.col("value").isNull(), -1.0).otherwise(F.col("value")).alias("value_or_neg"),
            F.col("event_type").eqNullSafe("view").alias("is_view_nsafe"),
        )
        .orderBy("event_id")
    )


@query(
    "mv_any_match_filter",
    oracle="""
    SELECT doc_id FROM documents
    WHERE list_contains(string_split(text, ' '), 'spark') AND doc_id < 200
    ORDER BY doc_id
    """,
)
def mv_any_match_filter(spark, sf_dir):
    """MV inclusive-predicate semantics: row matches if ANY element matches
    (BaseRawValueBasedPredicateEvaluator.java:72-85,
    MVScanDocIdIterator.java:170-260) → exists()/array_contains, NOT a
    plain equality on the array."""
    t = load_tables(spark, sf_dir)
    toks = F.split("text", " ")
    return (
        t["documents"]
        .filter(F.exists(toks, lambda x: x == "spark") & (F.col("doc_id") < 200))
        .select("doc_id")
        .orderBy("doc_id")
    )


@query(
    "mv_all_match_exclusive_filter",
    oracle="""
    SELECT doc_id FROM documents
    WHERE len(list_filter(string_split(text, ' '), x -> x = 'spark')) = 0 AND doc_id < 100
    ORDER BY doc_id
    """,
)
def mv_all_match_exclusive_filter(spark, sf_dir):
    """MV exclusive-predicate semantics (NOT_EQ): row matches only if ALL
    elements differ → forall() (the dual of any-match)."""
    t = load_tables(spark, sf_dir)
    toks = F.split("text", " ")
    return (
        t["documents"]
        .filter(F.forall(toks, lambda x: x != "spark") & (F.col("doc_id") < 100))
        .select("doc_id")
        .orderBy("doc_id")
    )


@query(
    "mv_array_functions",
    oracle="""
    SELECT doc_id,
           list_sort(list_distinct(string_split(text, ' ')))[1] AS first_distinct,
           len(list_distinct(string_split(text, ' '))) AS n_distinct,
           list_contains(string_split(text, ' '), 'the') AS has_the,
           array_to_string(string_split(text, ' ')[1:3], '-') AS first3,
           coalesce(list_position(string_split(text, ' '), 'value'), 0) AS value_pos
    FROM documents WHERE doc_id < 20 ORDER BY doc_id
    """,
)
def mv_array_functions(spark, sf_dir):
    """ArrayFunctions.java (52 fns): arrayDistinct/arraySlice/arrayContains/
    arrayIndexOf/arraySort via Spark array_* + higher-order functions."""
    t = load_tables(spark, sf_dir)
    toks = F.split("text", " ")
    return (
        t["documents"]
        .filter(F.col("doc_id") < 20)
        .select(
            "doc_id",
            F.array_sort(F.array_distinct(toks))[0].alias("first_distinct"),
            F.size(F.array_distinct(toks)).alias("n_distinct"),
            F.array_contains(toks, "the").alias("has_the"),
            F.array_join(F.slice(toks, 1, 3), "-").alias("first3"),
            F.array_position(toks, "value").alias("value_pos"),
        )
        .orderBy("doc_id")
    )


@query(
    "fn_in_not_in_range",
    oracle="""
    SELECT count(*) FILTER (WHERE l_returnflag IN ('A', 'R')) AS n_in,
           count(*) FILTER (WHERE l_returnflag NOT IN ('A', 'R')) AS n_not_in,
           count(*) FILTER (WHERE l_quantity BETWEEN 10 AND 20) AS n_range,
           count(*) FILTER (WHERE l_shipdate IS NOT NULL) AS n_notnull
    FROM lineitem
    """,
)
def fn_in_not_in_range(spark, sf_dir):
    """Predicate types EQ/IN/NOT_IN/RANGE/IS_NULL
    (pinot-common/.../predicate/ — SURVEY.md §2.3)."""
    t = load_tables(spark, sf_dir)
    li = t["lineitem"]
    return li.agg(
        F.count(F.when(F.col("l_returnflag").isin("A", "R"), 1)).alias("n_in"),
        F.count(F.when(~F.col("l_returnflag").isin("A", "R"), 1)).alias("n_not_in"),
        F.count(F.when(F.col("l_quantity").between(10, 20), 1)).alias("n_range"),
        F.count(F.when(F.col("l_shipdate").isNotNull(), 1)).alias("n_notnull"),
    )


@query(
    "fn_text_match_like",
    oracle="""
    SELECT count(*) AS n_match FROM documents
    WHERE text LIKE '%spark%fast%' OR regexp_matches(text, 'join.*merge')
    """,
)
def fn_text_match_like(spark, sf_dir):
    """TEXT_MATCH predicate (TextMatchFilterOperator, Lucene) → LIKE/rlike
    scan path (SURVEY.md §2.3: text search maps to rlike/UDF)."""
    t = load_tables(spark, sf_dir)
    return t["documents"].filter(
        F.col("text").like("%spark%fast%") | F.col("text").rlike("join.*merge")
    ).agg(F.count("*").alias("n_match"))


@query(
    "fn_url_family",
    oracle="""
    SELECT doc_id,
           regexp_extract(url, '^([a-z0-9+.-]+)://', 1) AS proto,
           regexp_extract(url, '^[a-z0-9+.-]+://([^/?#]+)', 1) AS host,
           regexp_extract(url, '^[a-z0-9+.-]+://[^/?#]+(/[^?#]*)', 1) AS path,
           regexp_extract(url, '[?&]lang=([^&#]*)', 1) AS lang_param,
           regexp_extract(url, '#(.*)$', 1) AS fragment
    FROM (
        SELECT doc_id,
               'https://' || source || '.example.com/docs/' || doc_id
                 || '?lang=' || lang || '&v=2#sec1' AS url
        FROM documents WHERE doc_id < 50
    ) u
    ORDER BY doc_id
    """,
)
def fn_url_family(spark, sf_dir):
    """UrlFunctions.java (30 fns): protocol/host/path/parameter/fragment
    extraction via Spark parse_url (JVM-side; oracle uses equivalent
    regexes)."""
    t = load_tables(spark, sf_dir)
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.com/docs/"),
        F.col("doc_id").cast("string"), F.lit("?lang="), F.col("lang"),
        F.lit("&v=2#sec1"),
    )
    return (
        t["documents"]
        .filter(F.col("doc_id") < 50)
        .withColumn("url", url)
        .select(
            "doc_id",
            scalar.call("urlProtocol", F.col("url")).alias("proto"),
            scalar.call("urlHost", F.col("url")).alias("host"),
            scalar.call("urlPath", F.col("url")).alias("path"),
            scalar.call("urlParameter", F.col("url"), "lang").alias("lang_param"),
            scalar.call("urlFragment", F.col("url")).alias("fragment"),
        )
        .orderBy("doc_id")
    )


@query(
    "fn_ip_subnet_family",
    oracle="""
    SELECT event_id, ip,
           (CAST(string_split(ip, '.')[1] AS BIGINT) = 10) AS in_10_8,
           ((CAST(string_split(ip, '.')[1] AS BIGINT) * 16777216
             + CAST(string_split(ip, '.')[2] AS BIGINT) * 65536
             + CAST(string_split(ip, '.')[3] AS BIGINT) * 256
             + CAST(string_split(ip, '.')[4] AS BIGINT)) // 65536
             = (10 * 16777216 + 7 * 65536) // 65536) AS in_10_7_16
    FROM (
        SELECT event_id,
               '10.' || (user_id % 16) || '.' || (user_id % 256)
                 || '.' || (event_id % 256) AS ip
        FROM events WHERE event_id < 60
    ) t
    ORDER BY event_id
    """,
)
def fn_ip_subnet_family(spark, sf_dir):
    """IpAddressFunctions.java: isSubnetOf CIDR containment as pure
    Column arithmetic (split + shifts — stays in whole-stage codegen)."""
    t = load_tables(spark, sf_dir)
    ip = F.concat(
        F.lit("10."), (F.col("user_id") % 16).cast("string"),
        F.lit("."), (F.col("user_id") % 256).cast("string"),
        F.lit("."), (F.col("event_id") % 256).cast("string"),
    )
    return (
        t["events"]
        .filter(F.col("event_id") < 60)
        .withColumn("ip", ip)
        .select(
            "event_id",
            "ip",
            scalar.call("isSubnetOf", F.lit("10.0.0.0/8"), F.col("ip")).alias("in_10_8"),
            scalar.call("isSubnetOf", F.lit("10.7.0.0/16"), F.col("ip")).alias("in_10_7_16"),
        )
        .orderBy("event_id")
    )


@query(
    "fn_trig_family",
    oracle="""
    SELECT l_linenumber,
           round(avg(round(sin(l_quantity), 8)), 6)  AS avg_sin,
           round(avg(round(cos(l_discount), 8)), 6)  AS avg_cos,
           round(avg(round(atan2(l_discount, l_tax + 0.01), 8)), 6) AS avg_atan2,
           round(avg(round(degrees(l_discount), 8)), 6) AS avg_deg
    FROM lineitem
    GROUP BY l_linenumber ORDER BY l_linenumber
    """,
)
def fn_trig_family(spark, sf_dir):
    """TrigonometricFunctions.java (16 fns): per-row results rounded to
    8dp before averaging so libm last-ulp differences between JVM and
    DuckDB cannot reach the 6dp aggregate."""
    t = load_tables(spark, sf_dir)
    return (
        t["lineitem"]
        .groupBy("l_linenumber")
        .agg(
            F.round(F.avg(F.round(F.sin("l_quantity"), 8)), 6).alias("avg_sin"),
            F.round(F.avg(F.round(F.cos("l_discount"), 8)), 6).alias("avg_cos"),
            F.round(
                F.avg(F.round(F.atan2(F.col("l_discount"), F.col("l_tax") + 0.01), 8)), 6
            ).alias("avg_atan2"),
            F.round(F.avg(F.round(F.degrees("l_discount"), 8)), 6).alias("avg_deg"),
        )
        .orderBy("l_linenumber")
    )


@query(
    "fn_binary_conversion",
    oracle="""
    SELECT r_name,
           hex(encode(r_name)) AS hex_bytes,
           base64(encode(r_name)) AS b64,
           decode(from_base64(base64(encode(r_name)))) AS roundtrip
    FROM region ORDER BY r_name
    """,
)
def fn_binary_conversion(spark, sf_dir):
    """DataTypeConversionFunctions.java (9 fns): hex / toBase64 /
    fromBase64 round-trip (BYTES columns render as hex, SURVEY.md §1.2)."""
    t = load_tables(spark, sf_dir)
    b = F.col("r_name").cast("binary")
    return (
        t["region"]
        .select(
            "r_name",
            F.hex(b).alias("hex_bytes"),
            F.base64(b).alias("b64"),
            F.unbase64(F.base64(b)).cast("string").alias("roundtrip"),
        )
        .orderBy("r_name")
    )


@query(
    "fn_geo_point_family",
    oracle="""
    SELECT event_id,
           'POINT (' || lng || ' ' || lat || ')' AS wkt,
           round(sqrt((lng - 8.5) * (lng - 8.5) + (lat - 47.4) * (lat - 47.4)), 6)
             AS planar_dist,
           round(2.0 * 6371008.8 * asin(sqrt(
               pow(sin(radians(lat - 47.4) / 2), 2)
               + cos(radians(47.4)) * cos(radians(lat))
                 * pow(sin(radians(lng - 8.5) / 2), 2))), 2) AS meters_to_zrh
    FROM (
        SELECT event_id,
               CAST(user_id % 360 - 180 AS DOUBLE) / 2 AS lng,
               CAST(event_id % 180 - 90 AS DOUBLE) / 2 AS lat
        FROM events WHERE event_id < 40
    ) pts
    ORDER BY event_id
    """,
)
def fn_geo_point_family(spark, sf_dir):
    """Geospatial point functions (TransformFunctionType:195-229 subset):
    ST_Point WKT construction, planar ST_Distance, haversine geography
    distance."""
    t = load_tables(spark, sf_dir)
    lng = (F.col("user_id") % 360 - 180).cast("double") / 2
    lat = (F.col("event_id") % 180 - 90).cast("double") / 2
    zrh = scalar.call("stPoint", F.lit(8.5), F.lit(47.4))
    pts = (
        t["events"]
        .filter(F.col("event_id") < 40)
        .withColumn("pt", scalar.call("stPoint", lng, lat))
    )
    return pts.select(
        "event_id",
        F.col("pt").alias("wkt"),
        F.round(scalar.call("stDistance", F.col("pt"), zrh), 6).alias("planar_dist"),
        F.round(scalar.call("stDistanceHaversine", F.col("pt"), zrh), 2).alias(
            "meters_to_zrh"
        ),
    ).orderBy("event_id")


@query(
    "fn_map_family",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
           'k' AS first_key
    FROM events WHERE event_id < 40 ORDER BY event_id
    """,
)
def fn_map_family(spark, sf_dir):
    """MAP value/keys access (MapValueTransformFunction, ITEM —
    TransformFunctionType:174,256): JSON props parsed to MapType, value
    by key via element_at, keys via map_keys."""
    t = load_tables(spark, sf_dir)
    m = F.from_json(F.col("props"), "map<string,bigint>")
    return (
        t["events"]
        .filter(F.col("event_id") < 40)
        .select(
            "event_id",
            F.element_at(m, "k").alias("k_val"),
            F.map_keys(m).getItem(0).alias("first_key"),
        )
        .orderBy("event_id")
    )


@query(
    "fn_geo_contains",
    oracle="""
    SELECT event_type, count(*) AS n_inside
    FROM (
        SELECT event_type,
               CAST(user_id % 100 AS DOUBLE) / 10 AS x,
               CAST(event_id % 100 AS DOUBLE) / 10 AS y
        FROM events) pts
    WHERE x > 1.95 AND x < 7.45 AND y > 0.95 AND y < 7.95
    GROUP BY event_type ORDER BY event_type
    """,
)
def fn_geo_contains(spark, sf_dir):
    """ST_Contains / ST_Within point-in-polygon (geospatial transform
    functions, TransformFunctionType:195-229): the exact-rational JTS
    predicate (functions/pinot_geometry.py) verified against the
    independent range-predicate formulation (the polygon is a rectangle
    so the oracle needs no geometry library)."""
    t = load_tables(spark, sf_dir)
    # bounds sit off the 0.1 grid so boundary-inclusion semantics can't
    # differ between the JTS predicate and the oracle's range predicates
    rect = F.lit("POLYGON ((1.95 0.95, 7.45 0.95, 7.45 7.95, 1.95 7.95, 1.95 0.95))")
    x = (F.col("user_id") % 100).cast("double") / 10
    y = (F.col("event_id") % 100).cast("double") / 10
    pt = scalar.call("stPoint", x, y)
    return (
        t["events"]
        .filter(scalar.call("stContains", rect, pt))
        .groupBy("event_type")
        .agg(F.count("*").alias("n_inside"))
        .orderBy("event_type")
    )


@query(
    "fn_groovy_inline",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           round(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6)), 2)::DOUBLE AS net,
           CASE WHEN l_quantity > 25 THEN 'bulk' ELSE 'small' END AS bucket,
           upper(l_returnflag) || '-' || CAST(CAST(l_linenumber AS BIGINT) AS VARCHAR) AS tag,
           CAST(CAST(l_quantity AS BIGINT) * (CAST(l_quantity AS BIGINT) + 1) / 2 AS BIGINT) AS tri,
           CASE l_returnflag WHEN 'R' THEN 'returned' WHEN 'A' THEN 'accepted'
                             WHEN 'N' THEN 'none' ELSE 'other' END AS flagname
    FROM lineitem WHERE l_orderkey < 50
    ORDER BY l_orderkey, l_linenumber
    """,
)
def fn_groovy_inline(spark, sf_dir):
    """Inline Groovy transforms (GroovyTransformFunction /
    GroovyFunctionEvaluator.java) through the SCRIPT-subset compiler:
    arithmetic, ternary, string methods and concat, plus the round-12
    widenings — a bounded for-in loop over a data-driven range (tri:
    triangular number of l_quantity, oracled by the closed form) and a
    map-literal lookup with elvis default (flagname) — the same rows
    the plain-SQL oracle computes."""
    t = load_tables(spark, sf_dir)

    def g(rt, script, *cols):
        return scalar.call(
            "groovy", '{"returnType":"%s","isSingleValue":true}' % rt, script, *cols
        )

    return (
        t["lineitem"]
        .filter(F.col("l_orderkey") < 50)
        .select(
            "l_orderkey",
            "l_linenumber",
            # round via DECIMAL: double half-cases (x.xx5) round
            # differently across engines on raw doubles (driver-mimic r03)
            F.round(
                g("DOUBLE", "arg0 * (1 - arg1)", F.col("l_extendedprice"), F.col("l_discount"))
                .cast("decimal(38,6)"),
                2,
            )
            .cast("double")
            .alias("net"),
            g("STRING", "arg0 > 25 ? 'bulk' : 'small'", F.col("l_quantity")).alias("bucket"),
            g(
                "STRING",
                "arg0.toUpperCase() + '-' + arg1.toString()",
                F.col("l_returnflag"),
                F.col("l_linenumber").cast("long"),
            ).alias("tag"),
            g(
                "LONG",
                "def s = 0\nfor (i in 1..arg0) { s += i }\nreturn s",
                F.col("l_quantity").cast("int"),
            ).alias("tri"),
            g(
                "STRING",
                "def names = [R: 'returned', A: 'accepted', N: 'none']\n"
                "names[arg0] ?: 'other'",
                F.col("l_returnflag"),
            ).alias("flagname"),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


@query(
    "fn_h3_grid",
    oracle="""
    SELECT * FROM (VALUES
      ('sf',     1585267030985015807, 2161728889779390301, CAST(0 AS BIGINT),    CAST(19 AS BIGINT)),
      ('nyc',    1585267084135235885, 2161728749119210238, CAST(1381 AS BIGINT), CAST(19 AS BIGINT)),
      ('paris',  1585267174329548770, 2161728583226096591, CAST(3529 AS BIGINT), CAST(19 AS BIGINT)),
      ('tokyo',  1585267278482505113, 2161727845028589866, CAST(7629 AS BIGINT), CAST(19 AS BIGINT)),
      ('sydney', 1585267142654164356, 2161726703641032156, CAST(8553 AS BIGINT), CAST(19 AS BIGINT))
    ) AS t(city, cell5, cell7, dist7_from_sf, disk2_size)
    ORDER BY city
    """,
)
def fn_h3_grid(spark, sf_dir):
    """geoToH3 / gridDistance / gridDisk (GeoToH3Function.java,
    GridDistanceFunction.java, GridDiskFunction.java surfaces) against
    PRECOMPUTED known cells: the oracle freezes the expected cell ids,
    so any drift in the grid math (packing, rotation, rounding) fails
    the hash gate.  Cell ids are the engine's aperture-7 numbering
    (functions/h3grid.py wire-format note), not H3-interoperable."""
    cities = spark.createDataFrame(
        [
            ("sf", -122.4194, 37.7749),
            ("nyc", -74.0060, 40.7128),
            ("paris", 2.3522, 48.8566),
            ("tokyo", 139.6503, 35.6762),
            ("sydney", 151.2093, -33.8688),
        ],
        "city string, lng double, lat double",
    )
    sf_cell7 = F.lit(2161728889779390301)
    return (
        cities.select(
            "city",
            scalar.call("geoToH3", F.col("lng"), F.col("lat"), F.lit(5)).alias("cell5"),
            scalar.call("geoToH3", F.col("lng"), F.col("lat"), F.lit(7)).alias("cell7"),
        )
        .select(
            "city",
            "cell5",
            "cell7",
            scalar.call("gridDistance", F.col("cell7"), sf_cell7).alias("dist7_from_sf"),
            F.size(scalar.call("gridDisk", F.col("cell7"), F.lit(2)))
            .cast("bigint")
            .alias("disk2_size"),
        )
        .orderBy("city")
    )


@query(
    "fn_surface_ext",
    oracle="""
    SELECT n_name,
           (n_nationkey = 10) AS eq10,
           (n_nationkey > 10) AS gt10,
           (n_nationkey IN (1, 5, 9)) AS in159,
           CASE WHEN n_nationkey < 8 THEN 'low' WHEN n_nationkey < 16 THEN 'mid' ELSE 'high' END AS tier,
           gcd(n_nationkey + 4, 18) AS g,
           lcm(n_nationkey + 1, 6) AS l,
           round(1.0 / (1.0 + exp(-CAST(n_nationkey AS DOUBLE) / 10)), 4) AS sig,
           CASE WHEN n_nationkey % 5 != 0 THEN CAST(FLOOR(CAST(n_regionkey AS DOUBLE) / (n_nationkey % 5)) AS BIGINT) ELSE 0 END AS idoz,
           ((n_nationkey - 12) % 5 + 5) % 5 AS pmod,
           bit_count(n_nationkey) AS bits,
           ascii(n_name) AS first_cp,
           left(n_name, 3) AS l3,
           CASE WHEN n_name < 'JAPAN' THEN -1 WHEN n_name > 'JAPAN' THEN 1 ELSE 0 END AS cmp_japan,
           strlen(n_name) AS octets,
           bit_length(n_name) AS bits_len,
           array_to_string(list_transform(string_split(lower(n_name), ' '),
                                          w -> upper(w[1]) || substr(w, 2)), ' ') AS icap,
           translate(n_name, 'AEI', 'aei') AS transl,
           (1690000000000 + CAST(n_nationkey AS BIGINT) * 259200000) // 86400000 // 7 AS day_bucket7,
           ((1690000000000 + CAST(n_nationkey AS BIGINT) * 259200000) // 86400000) * 86400000 AS round_day,
           isoyear(make_timestamp((1690000000000 + CAST(n_nationkey AS BIGINT) * 259200000) * 1000)) AS weekyear,
           strftime(make_timestamp((1690000000000 + CAST(n_nationkey AS BIGINT) * 259200000) * 1000), '%Y-%m-%dT%H:%M:%S.%g') || 'Z' AS iso,
           array_to_string(list_transform([1690000000000 + CAST(n_nationkey AS BIGINT) * 259200000], x -> x // 86400000), ',') AS days_mv,
           array_to_string([n_nationkey, n_nationkey * 2, 99], ',') AS pushed,
           (n_nationkey * 2) AS elem1
    FROM nation ORDER BY n_name
    """,
)
def fn_surface_ext(spark, sf_dir):
    """Extended scalar surface (functions/scalar_ext.py): comparison,
    arithmetic-extra, string-extra, epoch-bucket, and MV-datetime families
    from the ~450-name registry (TransformFunctionType.java:46-258,
    scalar/*.java) — every expression built through the Pinot-name
    registry (scalar.call) rather than native Spark calls."""
    t = load_tables(spark, sf_dir)
    k = F.col("n_nationkey")
    n = F.col("n_name")
    ms = (F.lit(1690000000000) + k.cast("long") * F.lit(259200000)).cast("long")
    c = scalar.call
    return (
        t["nation"]
        .select(
            "n_name",
            c("equals", k, F.lit(10)).alias("eq10"),
            c("greaterThan", k, F.lit(10)).alias("gt10"),
            c("in", k, 1, 5, 9).alias("in159"),
            c(
                "case", k < 8, F.lit("low"), k < 16, F.lit("mid"), F.lit("high")
            ).alias("tier"),
            c("gcd", k + 4, F.lit(18)).alias("g"),
            c("lcm", k + 1, F.lit(6)).alias("l"),
            _r4(c("sigmoid", k.cast("double") / 10)).alias("sig"),
            c("intDivOrZero", F.col("n_regionkey"), k % 5).alias("idoz"),
            c("positiveModulo", k - 12, F.lit(5)).alias("pmod"),
            c("bitCount", k).alias("bits"),
            c("ascii", n).alias("first_cp"),
            c("leftSubStr", n, F.lit(3)).alias("l3"),
            c("strcmp", n, F.lit("JAPAN")).alias("cmp_japan"),
            c("octetLength", n).alias("octets"),
            c("bitLength", n).alias("bits_len"),
            c("initCap", F.lower(n)).alias("icap"),
            c("translate", n, "AEI", "aei").alias("transl"),
            c("toEpochDaysBucket", ms, F.lit(7)).alias("day_bucket7"),
            c("round", ms, F.lit(86400000)).alias("round_day"),
            c("yearOfWeek", ms).alias("weekyear"),
            c("toIso8601", ms).alias("iso"),
            # driver contract: ArrayType outputs are stringified — the
            # driver's pandas canonicalizer cannot sort/hash numpy arrays
            c("arrayToString", c("toEpochDaysMV", F.array(ms)), ",").alias("days_mv"),
            c("arrayToString", c("arrayPushBackInt", F.array(k, k * 2), F.lit(99)), ",").alias("pushed"),
            c("arrayElementAtInt", F.array(k, k * 2, F.lit(99)), F.lit(1)).alias("elem1"),
        )
        .orderBy("n_name")
    )


@query(
    "fn_surface_udf_families",
    oracle="""
    SELECT -913021526 AS crc,
           'dfb7f18c77e928bb56faeb2da27291bd790bc1045cde45f3210bb6c5' AS sha224_hex,
           1586663183 AS mm3_32,
           5998619086395760910 AS mm3_64,
           8618312879776256743 AS fnv1a64,
           'www.sub.example.com:8080' AS netloc,
           'https://www.sub.example.com:8080/a/b/c#frag' AS no_query,
           'com' AS tld,
           'example.com' AS fsd,
           '10.1.0.0/16' AS prefix16,
           '192.168.1.255' AS subnet_max,
           '192.168.1.1' AS long_ip,
           TRUE AS is_v4,
           37.7744 AS gh_lat,
           '{"type":"Point","coordinates":[1,2]}' AS geojson,
           'f47ac10b-58cc-4372-a567-0e02b2c3d479' AS uuid_roundtrip
    """,
)
def fn_surface_udf_families(spark, sf_dir):
    """UDF-backed families (hash/URL/IP/geohash/UUID,
    functions/scalar_ext.py) pinned to expected values: hash outputs were
    verified against the public test vectors (CRC-32C('123456789') =
    0xE3069283, murmur3_32('hello world') = 1586663183), URL/IP against
    java.net.URI / java.net.InetAddress behavior."""
    c = scalar.call
    url = F.lit("https://www.sub.example.com:8080/a/b/c?x=1&y=2#frag")
    s = F.lit("hello world")
    return spark.range(1).select(
        c("crc32c", s).alias("crc"),
        c("sha224", s).alias("sha224_hex"),
        c("murmurHash3Bit32", s).alias("mm3_32"),
        c("murmurHash3Bit64", s).alias("mm3_64"),
        c("fnv1aHash64", s).alias("fnv1a64"),
        c("urlNetloc", url).alias("netloc"),
        c("cutQueryString", url).alias("no_query"),
        c("urlTopLevelDomain", url).alias("tld"),
        c("cutToFirstSignificantSubdomain", url).alias("fsd"),
        c("ipPrefix", F.lit("10.1.2.3"), F.lit(16)).alias("prefix16"),
        c("ipSubnetMax", F.lit("192.168.1.0/24")).alias("subnet_max"),
        c("longToIpv4", F.lit(3232235777)).alias("long_ip"),
        c("isIPv4String", F.lit("10.1.2.3")).alias("is_v4"),
        F.round(c("decodeGeohashLatitude", F.lit("9q8yyk8")), 4).alias("gh_lat"),
        c("stAsGeoJson", F.lit("POINT (1 2)")).alias("geojson"),
        c("fromUUIDBytes", c("toUUIDBytes", F.lit("f47ac10b-58cc-4372-a567-0e02b2c3d479"))).alias("uuid_roundtrip"),
    )


@query(
    "text_match_lucene",
    oracle="""
    WITH toks AS (
        SELECT doc_id, lang,
               regexp_matches(lower(text), '(^|[^a-z0-9])table[^a-z0-9]+scan($|[^a-z0-9])') AS phrase_hit,
               len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                               t -> t LIKE 'filt%')) > 0 AS prefix_hit,
               len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                               t -> levenshtein(t, 'spark') <= 1)) > 0 AS fuzzy_hit,
               list_contains(string_split_regex(lower(text), '[^a-z0-9]+'), 'vector') AS term_hit
        FROM documents
    )
    SELECT lang, count(*) AS n_match
    FROM toks
    WHERE (phrase_hit OR prefix_hit) AND NOT fuzzy_hit AND term_hit
    GROUP BY lang ORDER BY lang
    """,
)
def text_match_lucene(spark, sf_dir):
    """TEXT_MATCH with Lucene query syntax (TextMatchFilterOperator.java;
    classic QueryParser subset in operators/lucene.py): phrase + prefix
    wildcard + fuzzy~1 + NOT + grouping compiled to a whole-stage-codegen
    Column predicate over tokenized text."""
    from pinot_spark.operators.lucene import compile_predicate

    t = load_tables(spark, sf_dir)
    pred = compile_predicate(
        "text", '("table scan" OR filt*) AND NOT spark~1 AND vector'
    )
    return (
        t["documents"]
        .filter(pred)
        .groupBy("lang")
        .agg(F.count("*").alias("n_match"))
        .orderBy("lang")
    )


@query(
    "json_index_match",
    oracle="""
    SELECT event_type, count(*) AS n
    FROM events
    WHERE CAST(json_extract_string(props, '$.k') AS INT) = 7
    GROUP BY event_type ORDER BY event_type
    """,
)
def json_index_match(spark, sf_dir):
    """JSON index (StandardIndexes json / ImmutableJsonIndexReader):
    JSON_MATCH('props', '"k" = 7') answered from the flattened
    (path, value, id) postings table (operators/json_index.py) via semi
    join — the indexed alternative to the get_json_object scan rewrite."""
    from pinot_spark.operators.json_index import build_json_index_flat, json_match_eq

    t = load_tables(spark, sf_dir)
    ev = t["events"]
    # events.props is flat JSON → JVM-only build (no Python in the path)
    idx = build_json_index_flat(ev.select("event_id", "props"), "event_id", "props")
    hits = json_match_eq(idx, "event_id", "k", 7)
    return (
        ev.join(hits, "event_id", "left_semi")
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .orderBy("event_type")
    )


@query(
    "regex_fst_dictionary_match",
    oracle="""
    SELECT p_brand, count(*) AS n
    FROM part WHERE regexp_matches(p_brand, '^Brand#[1-3]$')
    GROUP BY p_brand ORDER BY p_brand
    """,
)
def regex_fst_dictionary_match(spark, sf_dir):
    """FST index analog (StandardIndexes.java fst): REGEXP_LIKE evaluated
    over the column DICTIONARY (distinct values) + broadcast semi join
    back — |dict| regex evaluations instead of |rows|
    (operators/text_index.py regex_match_dictionary)."""
    from pinot_spark.operators.text_index import regex_match_dictionary

    t = load_tables(spark, sf_dir)
    return (
        regex_match_dictionary(t["part"], "p_brand", "^Brand#[1-3]$")
        .groupBy("p_brand")
        .agg(F.count("*").alias("n"))
        .orderBy("p_brand")
    )


@query(
    "agg_st_union_points",
    oracle="""
    SELECT event_type,
           'MULTIPOINT (' || array_to_string(
               list_transform(
                   list_sort(list_distinct(list(
                       CAST(user_id % 100 AS VARCHAR) || ' ' || CAST(event_id % 100 AS VARCHAR)))),
                   p -> '(' || p || ')'), ', ') || ')' AS union_wkt
    FROM events WHERE event_id < 200
    GROUP BY event_type ORDER BY event_type
    """,
)
def agg_st_union_points(spark, sf_dir):
    """ST_UNION over POINT geometries (StUnionAggregationFunction.java):
    the union of points is their distinct set — emitted as canonical
    sorted MULTIPOINT WKT via collect_set (exact, no geometry lib)."""
    from pinot_spark.functions.aggregate import agg_call

    t = load_tables(spark, sf_dir)
    # integer coordinates so WKT text matches the oracle's string build
    pt = F.concat(
        F.lit("POINT ("), (F.col("user_id") % 100).cast("string"),
        F.lit(" "), (F.col("event_id") % 100).cast("string"), F.lit(")"),
    )
    return (
        t["events"]
        .filter(F.col("event_id") < 200)
        .select("event_type", pt.alias("pt"))
        .groupBy("event_type")
        .agg(agg_call("stUnion", F.col("pt")).alias("union_wkt"))
        .orderBy("event_type")
    )


@query(
    "clp_encode_decode_roundtrip",
    oracle="""
    SELECT count(*) AS n_msgs,
           count(*) AS n_roundtrip_ok,
           TRUE AS logtypes_as_expected
    FROM events WHERE event_id < 500
    """,
)
def clp_encode_decode_roundtrip(spark, sf_dir):
    """CLP columnar log codec (CLPDecodeTransformFunction.java:45-55,
    CLPEncodingTransformer; operators/clp.py): messages split into a
    shared template + dictionary/encoded variable columns, decoded back
    losslessly.  Rows with the same template shape share a logtype (the
    compression premise: distinct logtypes = event_type x value-form
    class, NOT distinct messages) and every decode equals its original
    message."""
    from pinot_spark.operators.clp import clp_decode, clp_encode_df

    t = load_tables(spark, sf_dir)
    msgs = (
        t["events"]
        .filter(F.col("event_id") < 500)
        .select(
            "event_id",
            "event_type",
            F.concat(
                F.lit("user u"), F.col("user_id").cast("string"),
                F.lit(" did "), F.col("event_type"),
                F.lit(" seeing value "), F.round("value", 2).cast("string"),
            ).alias("message"),
        )
    )
    enc = clp_encode_df(msgs, "message")
    dec = enc.withColumn(
        "back", clp_decode("message_logtype", "message_dictionaryVars", "message_encodedVars")
    )
    # independent expectation: template count = event_type x whether the
    # rounded value's text form is canonically encodable (else dict var)
    canon = F.col("message").substr(F.lit(1), F.length("message")).rlike(
        r"seeing value [+-]?(0|[1-9]\d*)(\.\d*[1-9])?$"
    )
    return dec.agg(
        F.count("*").alias("n_msgs"),
        F.count(F.when(F.col("back") == F.col("message"), 1)).alias("n_roundtrip_ok"),
        (
            F.count_distinct("message_logtype")
            == F.count_distinct(F.col("event_type"), canon.cast("int"))
        ).alias("logtypes_as_expected"),
    )
