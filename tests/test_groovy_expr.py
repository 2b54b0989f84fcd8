"""Groovy inline-transform SCRIPT subset (functions/groovy_expr.py
← GroovyFunctionEvaluator.java): compiler semantics, the round-11
statement/closure/GString extension, Spark UDF surface, and the loud
subset boundary (loops/classes/imports)."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from pinot_spark.functions.groovy_expr import compile_groovy
from pinot_spark.functions.scalar import call


@pytest.mark.parametrize(
    "script,args,expected",
    [
        ("arg0 * 2 + arg1", (3, 4), 10),
        ("arg0 % 3 == 0 ? 'fizz' : arg0.toString()", (9,), "fizz"),
        ("arg0 % 3 == 0 ? 'fizz' : arg0.toString()", (7,), "7"),
        ("Math.max(arg0, arg1) - Math.min(arg0, arg1)", (3, 11), 8),
        ("arg0.toUpperCase().substring(0, 3)", ("hello",), "HEL"),
        ("arg0.contains('ell') && !arg0.startsWith('x')", ("hello",), True),
        ("arg0 + '-' + arg1", ("a", 5), "a-5"),  # Groovy string concat
        ("arg0.replace('a', 'b').length()", ("banana",), 6),
        ("(arg0 + arg1) / 2.0", (3, 4), 3.5),
        ("arg0.indexOf('ss')", ("mississippi",), 2),
        ("-arg0 < 0", (5,), True),
        ("arg0.trim().split(',').size()", (" a,b,c ",), 3),
        ("Math.pow(arg0, 2) + Math.sqrt(arg1)", (3, 16), 13.0),
        ("null == null", (1,), True),
    ],
)
def test_compile_semantics(script, args, expected):
    assert compile_groovy(script)(args) == expected


@pytest.mark.parametrize(
    "script,args,expected",
    [
        # statements: def / compound assignment / return / if-else
        ("def x = arg0 * 2\ndef y = x + 1\nreturn y", (5,), 11),
        ("def x = arg0; x += 3; x", (2,), 5),
        (
            "if (arg0 > 10) { return 'big' } "
            "else if (arg0 > 5) { return 'mid' } else { return 'small' }",
            (7,),
            "mid",
        ),
        ("if (arg0 > 10) 'big' else 'small'", (3,), "small"),
        # Allman-style braces: the newline before '{' must not turn the
        # block into a closure LITERAL (the branch would evaluate to a
        # function object instead of executing)
        ("if (arg0 > 1)\n{ arg0 * 2 }\nelse { 0 }", (5,), 10),
        ("if (arg0 > 1)\n{ arg0 * 2 }\nelse\n{ 0 }", (0,), 0),
        ("if (arg0 > 10)\n{\n  'big'\n}\nelse if (arg0 > 5)\n{ 'mid' }\nelse\n{ 'small' }", (7,), "mid"),
        # implicit last-expression value (Groovy script semantics)
        (
            "def parts = arg0.split(':')\n"
            "parts[0].toUpperCase() + '=' + parts[1]",
            ("k:v",),
            "K=v",
        ),
        # closures + collection methods (incl. trailing-closure syntax)
        ("arg0.split(',').collect { it.toUpperCase() }.join(';')", ("a,b",), "A;B"),
        ("arg0.split(',').findAll { it.length() > 1 }.size()", ("a,bb,ccc",), 2),
        ("[1,2,3,4].findAll { it % 2 == 0 }.sum()", (0,), 6),
        ("[1,2,3].collect { x -> x * x }", (0,), [1, 4, 9]),
        ("[3,1,2].sort().join('-')", (0,), "1-2-3"),
        ("['a','b','a'].unique().size()", (0,), 2),
        ("[1,[2,3],4].flatten().size()", (0,), 4),
        ("arg0.split(',').any { it == 'x' }", ("a,x",), True),
        ("arg0.split(',').every { it.length() == 1 }", ("a,b",), True),
        ("[5,3,9].max() - [5,3,9].min()", (0,), 6),
        # GStrings
        ('"${arg0}-${arg1 * 2}"', ("id", 3), "id-6"),
        ('"row $arg0 done"', (7,), "row 7 done"),
        ('"v=${null}"', (0,), "v=null"),  # Groovy renders null as 'null'
        # elvis / safe navigation / Groovy getAt indexing
        ("arg0 ?: 'default'", (None,), "default"),
        ("arg0 ?: 'default'", ("x",), "x"),
        ("null?.toUpperCase()", (0,), None),
        ("arg0.split(',')[1]", ("a,b,c",), "b"),
        ("arg0.split(',')[9]", ("a,b",), None),  # out-of-range -> null
        ("arg0.split(',')[-1]", ("a,b,c",), "c"),
        # regex / conversion / number methods + statics
        ("arg0.replaceAll('[0-9]+', '#')", ("a12b3",), "a#b#"),
        ("arg0.matches('[a-z]+')", ("abc",), True),
        ("'42'.toInteger() + 1", (0,), 43),
        ("arg0.intdiv(3)", (10,), 3),
        ("Integer.parseInt(arg0) * 2", ("21",), 42),
        ("arg0.capitalize()", ("hello",), "Hello"),
        ("arg0.padLeft(5, '0')", ("42",), "00042"),
        # Groovy truth: null / 0 / empty string / empty list are false
        ("'' ?: 'empty'", (0,), "empty"),
        ("0 ? 'y' : 'n'", (0,), "n"),
        ("[] ? 'y' : 'n'", (0,), "n"),
    ],
)
def test_script_subset_semantics(script, args, expected):
    """Round-11 extension: statements, closures, GStrings, collections."""
    assert compile_groovy(script)(args) == expected


def test_subset_boundary_is_loud():
    for bad in (
        "for (int i = 0; i < 3; i = i + 1) { }",  # C-style: needs ++/cond
        "while (arg0) x",
        "class A {}",
        "import foo",
        "arg0.weird()",
        "switch (arg0) {}",
        "(0..99999999)",  # range size bound: loops must stay bounded
        "for (x in 5) { }",  # non-iterable for-in source
        "(1.5..3)",  # non-integer range endpoints
    ):
        with pytest.raises(NotImplementedError):
            compile_groovy(bad)((1,))


def test_ranges_round12():
    cases = [
        ("(1..5).sum()", (), 15),
        ("(1..<5).collect { it * 2 }", (), [2, 4, 6, 8]),
        ("(5..1).join('-')", (), "5-4-3-2-1"),  # descending inclusive
        ("(5..<1).join(',')", (), "5,4,3,2"),  # descending exclusive
        ("(arg0..arg1).size()", (3, 7), 5),  # data-driven endpoints
        ("(1..3).each { }", (), [1, 2, 3]),  # each returns the list
        ("3..3", (), [3]),
    ]
    for src, args, want in cases:
        assert compile_groovy(src)(args) == want, src


def test_map_literals_round12():
    cases = [
        ("def m = [a: 1, b: 2]; m.a + m['b']", (), 3),
        ("def m = [:]; m.size()", (), 0),
        ("[x: 'u', ('k'): 9].k", (), 9),  # computed (expr): key
        ("['one': 1, 'two': 2].collect { k, v -> k + v }.join(',')",
         (), "one1,two2"),
        ("def m = [a: 10]; m.missing", (), None),  # property miss → null
        ("def m = [a: 10]; m['nope']", (), None),  # getAt miss → null
        ("def m = [x: 1, y: 5, z: 3]; "
         "m.findAll { k, v -> v > 2 }.keySet().sort().join('')", (), "yz"),
        ("[a: 1].containsKey('a') ? 1 : 0", (), 1),
        ("def m = [k: 'v']; \"got ${m.k}\"", (), "got v"),
        ("[a: 1, b: 2].values().sum()", (), 3),
        ("[n: arg0].n * 2", (21,), 42),
    ]
    for src, args, want in cases:
        assert compile_groovy(src)(args) == want, src


def test_bounded_loops_round12():
    cases = [
        ("def s = 0\nfor (i in 1..10) { s += i }\ns", (), 55),
        ("def out = []\nfor (def w in arg0.split(' ')) "
         "{ out += w.toUpperCase() }\nout.join(' ')", ("a b c",), "A B C"),
        # map iteration yields entries with .key/.value
        ("def m = [a: 1, b: 2]; def t = 0; for (e in m) { t += e.value }; t",
         (), 3),
        ("def acc = ''\n3.times { acc += it }\nacc", (), "012"),
        # closure write-through: each/times mutate the enclosing scope
        ("def s = 0; [1,2,3].each { s += it }; s", (), 6),
        # list += element appends (Groovy List.plus), never str-concats
        ("def l = [1]; l += 'x'; l.size()", (), 2),
        ("[1, 2] + 'x'", (), [1, 2, "x"]),
    ]
    for src, args, want in cases:
        assert compile_groovy(src)(args) == want, src


def test_spark_udf_surface(spark):
    # one partition: the NULL shares the Arrow batch with the integers
    df = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (None, 5.0)], "a int, v double"
    ).coalesce(1)
    out = df.select(
        call(
            "groovy",
            '{"returnType":"DOUBLE","isSingleValue":true}',
            "arg0 % 2 == 0 ? arg1 * 2 : arg1 / 2",
            F.col("a"),
            F.col("v"),
        ).alias("g")
    ).collect()
    assert [r.g for r in out] == [5.0, 40.0, None]  # null arg → null, like Pinot
    s = df.select(
        call(
            "groovy",
            '{"returnType":"STRING","isSingleValue":true}',
            "'row-' + arg0",
            F.col("a"),
        ).alias("g")
    ).collect()
    assert [r.g for r in s] == ["row-1", "row-2", None]
