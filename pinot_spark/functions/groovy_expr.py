"""Groovy inline-transform SCRIPT subset.

Reference: GroovyTransformFunction / GroovyFunctionEvaluator
(pinot-core/.../function/GroovyFunctionEvaluator.java;
TransformFunctionType GROOVY) — Pinot evaluates an inline Groovy script
per row: ``groovy('{"returnType":"INT","isSingleValue":true}',
'arg0 * 2 + arg1', colA, colB)``.

There is no JVM Groovy runtime here, so this module implements the
SCRIPT SUBSET that covers realistic inline ingestion/projection
transforms — parsed with a small recursive-descent parser (never
Python ``eval``) and compiled to a row function executed in an
Arrow-batched UDF:

- arg references ``arg0..argN``; local variables (``def x = ...``,
  plain and compound assignment ``x += ...``)
- statements separated by ``;`` or newlines; ``return [expr]``;
  ``if (...) {...} else if (...) {...} else {...}``; the script's
  value is the last evaluated statement (Groovy semantics)
- literals: numbers, single-quoted strings, double-quoted GStrings
  with ``$name`` / ``${expr}`` interpolation, ``true/false/null``,
  list literals ``[a, b, c]``
- arithmetic ``+ - * / %`` (+ is string concat when either side is a
  string, like Groovy), unary ``-``/``!``, parentheses, indexing
  ``x[i]`` (Groovy getAt: negative indexes wrap, out-of-range → null)
- comparisons ``== != < <= > >=``, boolean ``&& ||`` (Groovy truth:
  null / 0 / empty string / empty list are false), ternary
  ``cond ? a : b``, elvis ``a ?: b``, safe navigation ``a?.m()``
- closures ``{ it * 2 }`` / ``{ x, y -> ... }`` with Groovy's
  trailing-closure call syntax, and the collection methods
  ``collect findAll find any every each count sum min max sort unique
  join flatten``
- integer ranges ``a..b`` / ``a..<b`` (ascending or descending,
  materialized as lists, loudly bounded at 1e6 elements), map literals
  ``[:]`` / ``[k: v, 'x': y]`` (bare-identifier keys are strings; a
  computed ``(expr):`` key is supported after the first literal-keyed
  entry) with ``get containsKey containsValue keySet values each
  collect findAll any every count`` (entry closures take ``(k, v)``;
  one-parameter closures see the key), property-style access ``m.k``
  and null-on-missing ``m['k']``
- bounded loops: ``for (x in iterable) { ... }`` over lists/ranges/
  strings/maps (map iteration yields entries with ``.key``/``.value``)
  and ``n.times { ... }`` — every loop iterates a MATERIALIZED
  collection, so termination is structural; C-style ``for(;;)`` and
  ``while`` remain loud boundaries
- string/number methods: ``toUpperCase toLowerCase trim length size
  contains startsWith endsWith indexOf substring replace replaceAll
  replaceFirst matches split tokenize toString toInteger toLong
  toDouble toFloat isEmpty charAt concat reverse capitalize padLeft
  padRight take drop first last intdiv abs``
- statics: ``Math.max/min/abs/floor/ceil/round/pow/sqrt``,
  ``Integer.parseInt``, ``Long.parseLong``, ``Double.parseDouble``,
  ``String.valueOf``

``while``, C-style ``for(;;)``, classes, imports, switch and try are
NOT supported and raise NotImplementedError at parse time — a loud,
declared boundary rather than silently-wrong results.
"""

from __future__ import annotations

import json
import math
import re
from collections import ChainMap


_TOKEN = re.compile(
    r"""[ \t]*(?:
        (?P<nl>[\r\n]+) |
        (?P<num>\d+\.\d+|\d+) |
        (?P<sstr>'(?:[^'\\]|\\.)*') |
        (?P<gstr>"(?:[^"\\]|\\.)*") |
        (?P<name>[A-Za-z_][A-Za-z0-9_]*) |
        (?P<op>&&|\|\||==|!=|<=|>=|\?\.|\?:|\+=|-=|\*=|/=|->|\.\.<|\.\.|[-+*/%<>!?:().,\[\]{};=])
    )""",
    re.X,
)

# tokens after which a newline continues the expression/statement
_NL_CONT_LEFT = {
    "&&", "||", "==", "!=", "<=", ">=", "?.", "?:", "+=", "-=", "*=",
    "/=", "->", "+", "-", "*", "/", "%", "<", ">", "?", ":", "(", "[",
    "{", ",", ";", "=", "!", ".", "..", "..<",
}
_NL_CONT_RIGHT = {".", "?.", "?:", "?", ":", "&&", "||", ")", "]"}


def _lex(src: str):
    raw, pos = [], 0
    while pos < len(src):
        m = _TOKEN.match(src, pos)
        if not m or m.end() == pos:
            if src[pos:].strip():
                raise NotImplementedError(
                    f"groovy subset: bad token at {src[pos:]!r}"
                )
            break
        pos = m.end()
        if m.group("nl"):
            raw.append(("nl", "\n"))
        elif m.group("num"):
            t = m.group("num")
            raw.append(("num", float(t) if "." in t else int(t)))
        elif m.group("sstr"):
            raw.append(("str", re.sub(r"\\(.)", r"\1", m.group("sstr")[1:-1])))
        elif m.group("gstr"):
            raw.append(("gstr", m.group("gstr")[1:-1]))
        elif m.group("name"):
            raw.append(("name", m.group("name")))
        else:
            raw.append(("op", m.group("op")))
    # newline suppression: a newline adjacent to a continuation token
    # is whitespace, not a statement separator (method chains, operators
    # split across lines); runs of separators collapse in the parser
    out = []
    for j, tok in enumerate(raw):
        if tok[0] == "nl":
            prev = out[-1] if out else (None, None)
            nxt = next(
                (t for t in raw[j + 1 :] if t[0] != "nl"), (None, None)
            )
            if prev[0] == "op" and prev[1] in _NL_CONT_LEFT:
                continue
            if nxt[0] == "op" and nxt[1] in _NL_CONT_RIGHT:
                continue
            if nxt == ("name", "else"):
                continue
            if out and out[-1][0] == "nl":
                continue
            if not out:
                continue
            out.append(tok)
        else:
            out.append(tok)
    while out and out[-1][0] == "nl":
        out.pop()
    return out


def _truthy(v) -> bool:
    """Groovy truth (asBoolean): null, zero, empty string/collection
    are false — which coincides with python truthiness for every type
    that reaches a row function (including numpy scalars, which are NOT
    python bools/ints and must not fall into an isinstance default)."""
    if v is None:
        return False
    try:
        return bool(v)
    except (TypeError, ValueError):  # pd.NA / ambiguous array-likes
        return False


def _gstr(v) -> str:
    """GString rendering: Groovy prints null as 'null', booleans
    lowercase, and integral floats stay floats ('1.0')."""
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


class _Return(Exception):
    def __init__(self, value):
        self.value = value


class _Ctx:
    __slots__ = ("args", "vars")

    def __init__(self, args, vars_):
        self.args = args
        self.vars = vars_


def _set_var(vars_, n, v):
    """Assign with Groovy closure capture semantics: a name already
    bound in an ENCLOSING scope is written through (``def s = 0;
    list.each { s += it }`` mutates the outer s), otherwise the current
    scope gets the binding.  ``def`` declarations bypass this and bind
    the current scope directly."""
    if isinstance(vars_, ChainMap):
        for m in vars_.maps:
            if n in m:
                m[n] = v
                return
    vars_[n] = v


def _cmp_key(fn):
    import functools

    return functools.cmp_to_key(fn)


def _call_method(obj, name, args):
    """Dispatch a Groovy method call on a runtime value.  Closure
    arguments arrive as python callables."""
    if name == "toString":
        return _gstr(obj)
    if name == "size" or name == "length":
        return len(obj)
    if name == "isEmpty":
        return len(obj) == 0
    if isinstance(obj, str):
        fn = _STR_METHODS.get(name)
        if fn is not None:
            return fn(obj, *args)
    if isinstance(obj, (list, tuple)):
        fn = _LIST_METHODS.get(name)
        if fn is not None:
            return fn(list(obj), *args)
    if isinstance(obj, (int, float)) and not isinstance(obj, bool):
        fn = _NUM_METHODS.get(name)
        if fn is not None:
            return fn(obj, *args)
    if isinstance(obj, dict):
        fn = _MAP_METHODS.get(name)
        if fn is not None:
            return fn(obj, *args)
    raise NotImplementedError(
        f"groovy subset: method .{name}() on {type(obj).__name__}"
    )


_STR_METHODS = {
    "toUpperCase": lambda s: s.upper(),
    "toLowerCase": lambda s: s.lower(),
    "trim": lambda s: s.strip(),
    "contains": lambda s, x: x in s,
    "startsWith": lambda s, x: s.startswith(x),
    "endsWith": lambda s, x: s.endswith(x),
    "indexOf": lambda s, x: s.find(x),
    "substring": lambda s, a, b=None: s[a:b] if b is not None else s[a:],
    "replace": lambda s, a, b: s.replace(a, b),
    "replaceAll": lambda s, p, r: re.sub(p, r.replace("$", "\\"), s),
    "replaceFirst": lambda s, p, r: re.sub(p, r.replace("$", "\\"), s, count=1),
    "matches": lambda s, p: re.fullmatch(p, s) is not None,
    "split": lambda s, d: s.split(d),
    "tokenize": lambda s, d=None: s.split(d) if d else s.split(),
    "toInteger": lambda s: int(s),
    "toLong": lambda s: int(s),
    "toDouble": lambda s: float(s),
    "toFloat": lambda s: float(s),
    "charAt": lambda s, i: s[i],
    "concat": lambda s, x: s + x,
    "reverse": lambda s: s[::-1],
    "capitalize": lambda s: s[:1].upper() + s[1:],
    "padLeft": lambda s, n, p=" ": s.rjust(n, p),
    "padRight": lambda s, n, p=" ": s.ljust(n, p),
    "take": lambda s, n: s[:n],
    "drop": lambda s, n: s[n:],
}

_LIST_METHODS = {
    "collect": lambda l, f=None: [f(x) for x in l] if f else list(l),
    "findAll": lambda l, f=None: [x for x in l if (_truthy(f(x)) if f else _truthy(x))],
    "find": lambda l, f=None: next(
        (x for x in l if (_truthy(f(x)) if f else _truthy(x))), None
    ),
    "any": lambda l, f=None: any(_truthy(f(x)) if f else _truthy(x) for x in l),
    "every": lambda l, f=None: all(_truthy(f(x)) if f else _truthy(x) for x in l),
    "each": lambda l, f: ([f(x) for x in l], l)[1],
    "count": lambda l, x: (
        sum(1 for v in l if _truthy(x(v))) if callable(x)
        else sum(1 for v in l if v == x)
    ),
    "sum": lambda l, f=None: sum(f(x) for x in l) if f else (sum(l) if l else None),
    "min": lambda l, f=None: (min(l, key=f) if f else min(l)) if l else None,
    "max": lambda l, f=None: (max(l, key=f) if f else max(l)) if l else None,
    "sort": lambda l, f=None: sorted(l, key=f) if f else sorted(l),
    "unique": lambda l: list(dict.fromkeys(l)),
    "join": lambda l, sep="": sep.join(_gstr(x) for x in l),
    "contains": lambda l, x: x in l,
    "indexOf": lambda l, x: l.index(x) if x in l else -1,
    "reverse": lambda l: l[::-1],
    "first": lambda l: l[0],
    "last": lambda l: l[-1],
    "take": lambda l, n: l[:n],
    "drop": lambda l, n: l[n:],
    "flatten": lambda l: [
        y for x in l for y in (x if isinstance(x, (list, tuple)) else [x])
    ],
}

_NUM_METHODS = {
    "intdiv": lambda a, b: int(a // b),
    "abs": lambda a: abs(a),
    "toInteger": lambda a: int(a),
    "toLong": lambda a: int(a),
    "toDouble": lambda a: float(a),
    "toFloat": lambda a: float(a),
    "round": lambda a, n=None: round(a, n) if n is not None else round(a),
    # n.times { ... } — bounded by n itself; Groovy returns null
    "times": lambda a, f: ([f(i) for i in range(int(a))], None)[1],
}

# Map-entry closures receive (key, value); a one-parameter closure sees
# just the key (Groovy hands a Map.Entry there — a construct with no
# analog in this subset, so the two-parameter form is the documented
# shape, matching the dominant `m.each { k, v -> ... }` idiom).
_MAP_METHODS = {
    "get": lambda m, k, d=None: m.get(k, d),
    "getOrDefault": lambda m, k, d: m.get(k, d),
    "containsKey": lambda m, k: k in m,
    "containsValue": lambda m, v: v in m.values(),
    "keySet": lambda m: list(m.keys()),
    "values": lambda m: list(m.values()),
    "each": lambda m, f: ([f(k, v) for k, v in m.items()], m)[1],
    "collect": lambda m, f: [f(k, v) for k, v in m.items()],
    "findAll": lambda m, f: {k: v for k, v in m.items() if _truthy(f(k, v))},
    "any": lambda m, f: any(_truthy(f(k, v)) for k, v in m.items()),
    "every": lambda m, f: all(_truthy(f(k, v)) for k, v in m.items()),
    "count": lambda m, f: sum(1 for k, v in m.items() if _truthy(f(k, v))),
}

_MATH = {
    "max": max,
    "min": min,
    "abs": abs,
    "floor": math.floor,
    "ceil": math.ceil,
    "round": round,
    "pow": math.pow,
    "sqrt": math.sqrt,
}

_STATICS = {
    ("Integer", "parseInt"): lambda s, base=10: int(s, base),
    ("Long", "parseLong"): lambda s, base=10: int(s, base),
    ("Double", "parseDouble"): float,
    ("Float", "parseFloat"): float,
    ("String", "valueOf"): _gstr,
}

_RESERVED = {"true", "false", "null", "def", "return", "if", "else", "it",
             "in", "for"}
# `while` stays banned: for-in iterates a MATERIALIZED collection, so
# every loop in the subset is provably bounded; a while condition is not.
_BANNED_STMTS = {"while", "class", "import", "switch", "try"}


class _P:
    """Recursive-descent parser → node tree of ``fn(ctx) -> value``."""

    def __init__(self, toks):
        self.t = toks
        self.i = 0

    def peek(self, ahead=0):
        j = self.i + ahead
        return self.t[j] if j < len(self.t) else (None, None)

    def eat(self, kind=None, val=None):
        k, v = self.peek()
        if kind is not None and k != kind or (val is not None and v != val):
            raise NotImplementedError(
                f"groovy subset: expected {val or kind}, got {v!r}"
            )
        self.i += 1
        return v

    def _skip_seps(self):
        while self.peek()[0] == "nl" or self.peek() == ("op", ";"):
            self.i += 1

    # -- statements ---------------------------------------------------------

    def parse_script(self):
        body = self.stmt_list(top=True)
        if self.peek()[0] is not None:
            raise NotImplementedError(
                f"groovy subset: trailing tokens {self.t[self.i:]}"
            )
        return body

    def stmt_list(self, top=False):
        stmts = []
        self._skip_seps()
        while True:
            k, v = self.peek()
            if k is None or (k, v) == ("op", "}"):
                break
            stmts.append(self.stmt())
            k, v = self.peek()
            if k == "nl" or (k, v) == ("op", ";"):
                self._skip_seps()
            else:
                break

        def run(ctx):
            out = None
            for s in stmts:
                out = s(ctx)
            return out

        return run

    def stmt(self):
        k, v = self.peek()
        if k == "name" and v in _BANNED_STMTS:
            raise NotImplementedError(
                f"groovy subset: {v} statements are a declared boundary "
                f"(while/classes/imports need a real Groovy runtime)"
            )
        if (k, v) == ("name", "for"):
            return self.for_stmt()
        if (k, v) == ("name", "def"):
            self.eat()
            name = self.eat("name")
            if self.peek() == ("op", "="):
                self.eat()
                expr = self.ternary()
            else:
                expr = lambda ctx: None  # noqa: E731

            def assign(ctx, n=name, e=expr):
                val = e(ctx)
                ctx.vars[n] = val
                return val

            return assign
        if (k, v) == ("name", "return"):
            self.eat()
            nk, nv = self.peek()
            if nk is None or nk == "nl" or (nk, nv) in (("op", ";"), ("op", "}")):
                expr = lambda ctx: None  # noqa: E731
            else:
                expr = self.ternary()

            def ret(ctx, e=expr):
                raise _Return(e(ctx))

            return ret
        if (k, v) == ("name", "if"):
            return self.if_stmt()
        # assignment (plain or compound) to an existing/new variable
        if k == "name" and v not in _RESERVED and self.peek(1)[0] == "op" and \
                self.peek(1)[1] in ("=", "+=", "-=", "*=", "/="):
            name = self.eat("name")
            op = self.eat("op")
            expr = self.ternary()

            def assign(ctx, n=name, o=op, e=expr):
                val = e(ctx)
                if o != "=":
                    cur = ctx.vars[n]
                    if o == "+=":
                        # mirror binary plus: list concat/append wins
                        # over string coercion (Groovy List.plus)
                        if isinstance(cur, list):
                            val = cur + (
                                val if isinstance(val, list) else [val]
                            )
                        elif isinstance(cur, str) or isinstance(val, str):
                            val = f"{_gstr(cur)}{_gstr(val)}"
                        else:
                            val = cur + val
                    elif o == "-=":
                        val = cur - val
                    elif o == "*=":
                        val = cur * val
                    else:
                        val = cur / val
                _set_var(ctx.vars, n, val)
                return val

            return assign
        return self.ternary()

    def if_stmt(self):
        self.eat("name", "if")
        self.eat("op", "(")
        cond = self.ternary()
        self.eat("op", ")")
        then = self.block_or_stmt()
        other = None
        save = self.i
        self._skip_seps()
        if self.peek() == ("name", "else"):
            self.eat()
            if self.peek() == ("name", "if"):
                other = self.if_stmt()
            else:
                other = self.block_or_stmt()
        else:
            self.i = save

        def run(ctx, c=cond, t=then, o=other):
            if _truthy(c(ctx)):
                return t(ctx)
            return o(ctx) if o is not None else None

        return run

    def for_stmt(self):
        """``for ([def] x in iterable) body`` — the for-IN form only:
        the iterable is a materialized list/range/string/map, so the
        loop is bounded by construction.  C-style ``for (init; cond;
        step)`` would need ``++`` and an unbounded condition — it stays
        a loud boundary alongside ``while``."""
        self.eat("name", "for")
        self.eat("op", "(")
        if self.peek() == ("name", "def"):
            self.eat()
        name = self.eat("name")
        if self.peek() != ("name", "in"):
            raise NotImplementedError(
                "groovy subset: only for-in loops are supported "
                "(C-style for(;;) is a declared boundary)"
            )
        self.eat()
        src = self.ternary()
        self.eat("op", ")")
        body = self.block_or_stmt()

        def run(ctx, n=name, s=src, b=body):
            seq = s(ctx)
            if isinstance(seq, dict):
                seq = list(seq.items())  # Groovy map iteration: entries
            elif isinstance(seq, (list, tuple, str)):
                seq = list(seq)
            else:
                raise NotImplementedError(
                    f"groovy subset: for-in over {type(seq).__name__}"
                )
            for x in seq:
                _set_var(ctx.vars, n, x)
                b(ctx)
            return None

        return run

    def block_or_stmt(self):
        # Skip newline separators BEFORE the brace check so Allman-style
        # `if (cond)\n{ ... }` parses as a block; without this the `{`
        # fell through to stmt()->primary() and became a closure LITERAL
        # (the branch evaluated to a function object instead of running).
        self._skip_seps()
        if self.peek() == ("op", "{"):
            self.eat()
            body = self.stmt_list()
            self.eat("op", "}")
            return body
        return self.stmt()

    # -- expressions --------------------------------------------------------

    def ternary(self):
        cond = self.or_()
        if self.peek() == ("op", "?:"):
            self.eat()
            b = self.ternary()

            def elvis(ctx, a=cond, bb=b):
                v = a(ctx)
                return v if _truthy(v) else bb(ctx)

            return elvis
        if self.peek() == ("op", "?"):
            self.eat()
            a = self.ternary()
            self.eat("op", ":")
            b = self.ternary()
            return lambda ctx: a(ctx) if _truthy(cond(ctx)) else b(ctx)
        return cond

    def _binop(self, sub, ops, apply):
        left = sub()
        while self.peek()[0] == "op" and self.peek()[1] in ops:
            op = self.eat()
            right = sub()
            left = apply(left, op, right)
        return left

    def or_(self):
        return self._binop(
            self.and_,
            {"||"},
            lambda a, o, b: lambda ctx: _truthy(a(ctx)) or _truthy(b(ctx)),
        )

    def and_(self):
        return self._binop(
            self.eq,
            {"&&"},
            lambda a, o, b: lambda ctx: _truthy(a(ctx)) and _truthy(b(ctx)),
        )

    def eq(self):
        def apply(a, o, b):
            if o == "==":
                return lambda ctx: a(ctx) == b(ctx)
            return lambda ctx: a(ctx) != b(ctx)

        return self._binop(self.rel, {"==", "!="}, apply)

    def rel(self):
        def apply(a, o, b):
            return {
                "<": lambda ctx: a(ctx) < b(ctx),
                "<=": lambda ctx: a(ctx) <= b(ctx),
                ">": lambda ctx: a(ctx) > b(ctx),
                ">=": lambda ctx: a(ctx) >= b(ctx),
            }[o]

        return self._binop(self.range_, {"<", "<=", ">", ">="}, apply)

    # Groovy's range op sits between additive and relational.  Ranges
    # materialize to lists (the subset's collections are lists), with a
    # loud size bound so a data-driven `0..hugeArg` cannot allocate
    # unboundedly inside a per-row UDF.
    _RANGE_MAX = 1_000_000

    def range_(self):
        left = self.add()
        k, v = self.peek()
        if k == "op" and v in ("..", "..<"):
            self.eat()
            excl = v == "..<"
            right = self.add()

            def mkrange(ctx, a=left, b=right, ex=excl, mx=self._RANGE_MAX):
                import numbers

                lo, hi = a(ctx), b(ctx)
                # Integral covers numpy ints (Arrow-batch UDF args)
                if not isinstance(lo, numbers.Integral) or not isinstance(
                    hi, numbers.Integral
                ):
                    raise NotImplementedError(
                        "groovy subset: only integer ranges"
                    )
                lo, hi = int(lo), int(hi)
                if abs(hi - lo) > mx:
                    raise NotImplementedError(
                        f"groovy subset: range larger than {mx} elements"
                    )
                if lo <= hi:
                    return list(range(lo, hi + (0 if ex else 1)))
                return list(range(lo, hi - (0 if ex else 1), -1))

            return mkrange
        return left

    def add(self):
        def apply(a, o, b):
            if o == "+":

                def plus(ctx):
                    x, y = a(ctx), b(ctx)
                    # Groovy dispatch: List.plus appends/concats even
                    # when the right side is a String
                    if isinstance(x, list):
                        return x + (y if isinstance(y, list) else [y])
                    if isinstance(x, str) or isinstance(y, str):
                        return f"{_gstr(x)}{_gstr(y)}"  # string concat
                    return x + y

                return plus
            return lambda ctx: a(ctx) - b(ctx)

        return self._binop(self.mul, {"+", "-"}, apply)

    def mul(self):
        def apply(a, o, b):
            if o == "*":
                return lambda ctx: a(ctx) * b(ctx)
            if o == "/":
                return lambda ctx: a(ctx) / b(ctx)
            return lambda ctx: a(ctx) % b(ctx)

        return self._binop(self.unary, {"*", "/", "%"}, apply)

    def unary(self):
        k, v = self.peek()
        if (k, v) == ("op", "-"):
            self.eat()
            inner = self.unary()
            return lambda ctx: -inner(ctx)
        if (k, v) == ("op", "!"):
            self.eat()
            inner = self.unary()
            return lambda ctx: not _truthy(inner(ctx))
        return self.postfix()

    def _call_args(self):
        """Parse ``(args...)`` (optional) plus an optional trailing
        closure — Groovy's ``list.collect { it * 2 }`` syntax."""
        args = []
        if self.peek() == ("op", "("):
            self.eat()
            if self.peek() != ("op", ")"):
                args.append(self.ternary())
                while self.peek() == ("op", ","):
                    self.eat()
                    args.append(self.ternary())
            self.eat("op", ")")
        if self.peek() == ("op", "{"):
            args.append(self.closure())
        return args

    def closure(self):
        """``{ [params ->] body }`` → fn(ctx) -> python callable."""
        self.eat("op", "{")
        params = ["it"]
        save = self.i
        names = []
        ok = False
        while self.peek()[0] in ("name", "nl"):
            if self.peek()[0] == "nl":
                self.i += 1
                continue
            names.append(self.eat("name"))
            if self.peek() == ("op", ","):
                self.eat()
                continue
            if self.peek() == ("op", "->"):
                self.eat()
                ok = True
            break
        if ok and names:
            params = names
        else:
            self.i = save
        body = self.stmt_list()
        self.eat("op", "}")

        def make(ctx, ps=tuple(params), b=body):
            def call(*vals):
                scope = dict(zip(ps, vals))
                sub = _Ctx(ctx.args, ChainMap(scope, ctx.vars))
                try:
                    return b(sub)
                except _Return as r:
                    return r.value

            return call

        return make

    def postfix(self):
        base = self.primary()
        while True:
            k, v = self.peek()
            if (k, v) in (("op", "."), ("op", "?.")):
                safe = v == "?."
                self.eat()
                name = self.eat("name")
                # bare `.name` (no parens, no trailing closure) on a map
                # is Groovy property access: m.key → m.get('key')
                bare = self.peek() not in (("op", "("), ("op", "{"))
                args = self._call_args()

                def invoke(ctx, b=base, n=name, a=tuple(args), s=safe,
                           br=bare):
                    obj = b(ctx)
                    if obj is None:
                        if s:
                            return None
                        raise TypeError(
                            f"groovy: cannot call .{n}() on null "
                            f"(use ?. for safe navigation)"
                        )
                    if br and isinstance(obj, dict) and n not in _MAP_METHODS:
                        return obj.get(n)
                    if br and isinstance(obj, tuple) and len(obj) == 2 and \
                            n in ("key", "value"):
                        return obj[0] if n == "key" else obj[1]
                    return _call_method(obj, n, [x(ctx) for x in a])

                base = invoke
            elif (k, v) == ("op", "["):
                self.eat()
                idx = self.ternary()
                self.eat("op", "]")

                def getat(ctx, b=base, i=idx):
                    obj = b(ctx)
                    if obj is None:
                        return None
                    j = i(ctx)
                    if isinstance(obj, dict):
                        return obj.get(j)  # Groovy map getAt: missing → null
                    try:
                        return obj[j]
                    except IndexError:
                        return None  # Groovy list getAt out-of-range

                base = getat
            else:
                return base

    def _gstring(self, raw: str):
        """Compile a double-quoted GString: literal parts + ``$name`` /
        ``${expr}`` interpolations."""
        parts = []
        pos = 0
        for m in re.finditer(r"\$\{([^}]*)\}|\$([A-Za-z_]\w*)", raw):
            lit = raw[pos : m.start()]
            if lit:
                parts.append(re.sub(r"\\(.)", r"\1", lit))
            src = m.group(1) if m.group(1) is not None else m.group(2)
            sub = _P(_lex(src))
            expr = sub.ternary()
            if sub.peek()[0] is not None:
                raise NotImplementedError(
                    f"groovy subset: bad GString interpolation ${{{src}}}"
                )
            parts.append(expr)
            pos = m.end()
        tail = raw[pos:]
        if tail:
            parts.append(re.sub(r"\\(.)", r"\1", tail))
        if not any(callable(p) for p in parts):
            s = "".join(parts)
            return lambda ctx: s
        return lambda ctx: "".join(
            _gstr(p(ctx)) if callable(p) else p for p in parts
        )

    def primary(self):
        k, v = self.peek()
        if k == "num" or k == "str":
            self.eat()
            return lambda ctx, v=v: v
        if k == "gstr":
            self.eat()
            return self._gstring(v)
        if (k, v) == ("op", "["):
            self.eat()
            if self.peek() == ("op", ":"):  # [:] — empty map literal
                self.eat()
                self.eat("op", "]")
                return lambda ctx: {}
            # map literal when the first element is `key:` — a bare
            # identifier key is a string literal (Groovy), quoted/number
            # keys are themselves, `(expr):` is a computed key
            nk, nv = self.peek()
            is_map = (
                nk in ("name", "str", "num") and self.peek(1) == ("op", ":")
            )
            if is_map:
                entries = []
                while True:
                    ek, ev = self.peek()
                    if ek == "name" and self.peek(1) == ("op", ":"):
                        self.eat()
                        key = lambda ctx, s=ev: s  # noqa: E731
                    elif ek in ("str", "num") and self.peek(1) == ("op", ":"):
                        self.eat()
                        key = lambda ctx, s=ev: s  # noqa: E731
                    elif (ek, ev) == ("op", "("):
                        self.eat()
                        key = self.ternary()
                        self.eat("op", ")")
                    else:
                        raise NotImplementedError(
                            f"groovy subset: bad map literal key {ev!r}"
                        )
                    self.eat("op", ":")
                    entries.append((key, self.ternary()))
                    if self.peek() == ("op", ","):
                        self.eat()
                        continue
                    break
                self.eat("op", "]")
                return lambda ctx, es=tuple(entries): {
                    kf(ctx): vf(ctx) for kf, vf in es
                }
            items = []
            if self.peek() != ("op", "]"):
                items.append(self.ternary())
                while self.peek() == ("op", ","):
                    self.eat()
                    items.append(self.ternary())
            self.eat("op", "]")
            return lambda ctx, it=tuple(items): [x(ctx) for x in it]
        if (k, v) == ("op", "{"):
            return self.closure()
        if k == "name":
            if v in _BANNED_STMTS:
                raise NotImplementedError(
                    f"groovy subset: {v} statements are a declared boundary "
                    f"(loops/classes/imports need a real Groovy runtime)"
                )
            self.eat()
            if v in ("true", "false"):
                return lambda ctx, b=(v == "true"): b
            if v == "null":
                return lambda ctx: None
            if v == "Math":
                self.eat("op", ".")
                name = self.eat("name")
                fn = _MATH.get(name)
                if fn is None:
                    raise NotImplementedError(f"groovy subset: Math.{name}")
                self.eat("op", "(")
                args = [self.ternary()]
                while self.peek() == ("op", ","):
                    self.eat()
                    args.append(self.ternary())
                self.eat("op", ")")
                return lambda ctx, f=fn, a=tuple(args): f(*[x(ctx) for x in a])
            if self.peek() == ("op", ".") and (v, self.peek(1)[1]) in _STATICS:
                self.eat()
                name = self.eat("name")
                fn = _STATICS[(v, name)]
                args = self._call_args()
                return lambda ctx, f=fn, a=tuple(args): f(*[x(ctx) for x in a])
            m = re.fullmatch(r"arg(\d+)", v)
            if m:
                idx = int(m.group(1))
                return lambda ctx, i=idx: ctx.args[i]
            # local variable / closure parameter reference
            def var(ctx, n=v):
                try:
                    return ctx.vars[n]
                except KeyError:
                    raise NotImplementedError(
                        f"groovy subset: unknown identifier {n!r}"
                    ) from None

            return var
        if (k, v) == ("op", "("):
            self.eat()
            inner = self.ternary()
            self.eat("op", ")")
            return inner
        raise NotImplementedError(f"groovy subset: unexpected {v!r}")


def compile_groovy(script: str):
    """Compile a Groovy script-subset to ``row_fn(args_tuple)``."""
    body = _P(_lex(script)).parse_script()

    def row_fn(args):
        ctx = _Ctx(args, {})
        try:
            return body(ctx)
        except _Return as r:
            return r.value

    return row_fn


_SPARK_TYPES = {
    "INT": "int",
    "LONG": "long",
    "FLOAT": "float",
    "DOUBLE": "double",
    "STRING": "string",
    "BOOLEAN": "boolean",
}


def groovy_udf(metadata_json: str, script: str):
    """Build the Spark UDF for ``groovy(metadata, script, args...)``."""
    from pinot_spark.functions.scalar import arrow_rows_udf

    meta = json.loads(metadata_json)
    rt = _SPARK_TYPES.get(str(meta.get("returnType", "STRING")).upper())
    if rt is None:
        raise NotImplementedError(f"groovy returnType {meta.get('returnType')!r}")
    if meta.get("isSingleValue") is False:
        rt = f"array<{rt}>"
    row_fn = compile_groovy(script)

    def _isnull(a) -> bool:
        # a NaN argument reads as NULL, like a SQL NULL
        return a is None or (isinstance(a, float) and math.isnan(a))

    return arrow_rows_udf(
        rt,
        lambda *cols: [
            None if any(_isnull(a) for a in args) else row_fn(args)
            for args in zip(*cols)
        ],
    )
