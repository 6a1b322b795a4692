"""Druid native expression language -> Spark SQL text.

Reference grammar: core/src/main/antlr4/org/apache/druid/math/expr/antlr/Expr.g4;
functions core/src/main/java/org/apache/druid/math/expr/Function.java and
ApplyFunction.java (lambda higher-order functions).

A small recursive-descent parser writes each expression as Spark SQL
text (``expression_sql``); ``compile_expression`` (operators/util.py,
re-exported here) wraps it in ``F.expr``, so this module builds no
Column. Druid defines each
SQL function as a conversion to a native one (DruidOperatorTable), so
the library is shared the other way round: a native function with a
Druid SQL counterpart is one ``_SQL_NAMES`` entry, the parser writes
the call under its SQL name, and the SQL dialect's call-rule tables
(``sql/dialect.lower_functions``: ``_CALL_RULES``, then ``_INLINE``)
lower it exactly as they lower the SQL call. Such a function has one
implementation for both languages, and a test fails on a second one
here. A native function that is a Spark builtin under its own or
another name is a ``_SPARK`` entry; the few native-only functions are
small text builders in ``_BUILDERS``. Lambdas (map/filter/fold/any/all,
cartesian_*) become Spark higher-order functions. Nothing is a Python
UDF, so expressions run inside whole-stage codegen.

Intentional divergences (documented):
  * Druid's legacy null-as-default mode is not implemented; we use
    SQL-compatible three-valued logic (SURVEY.md §1.2 decision).
  * ``javascript`` expressions are not supported.
"""

from __future__ import annotations

import itertools
import re
from typing import Callable, NamedTuple

from apache_druid_spark.model.granularity import parse_instant
from apache_druid_spark.operators.util import (  # noqa: F401
    compile_expression, ident,
)
from apache_druid_spark.sql.dialect import _sql_str, lower_functions

# ---------------------------------------------------------------------------
# Tokenizer
# ---------------------------------------------------------------------------

_TOKEN_RE = re.compile(
    r"""
    (?P<ws>\s+)
  | (?P<number>(?:\d+\.\d*|\.\d+|\d+)(?:[eE][+-]?\d+)?)
  | (?P<string>'(?:\\.|[^'\\])*')
  | (?P<qident>"(?:[^"])*")
  | (?P<ident>[A-Za-z_][A-Za-z0-9_.$]*)
  | (?P<arrow>->)
  | (?P<op><=|>=|==|!=|&&|\|\||[-+*/%^<>!(),\[\]])
    """,
    re.VERBOSE,
)


def _tokenize(text: str) -> list[tuple[str, str]]:
    out, pos = [], 0
    while pos < len(text):
        m = _TOKEN_RE.match(text, pos)
        if not m:
            raise ValueError(f"bad token at {pos} in expression: {text!r}")
        pos = m.end()
        kind = m.lastgroup
        if kind == "ws":
            continue
        out.append((kind, m.group()))
    out.append(("eof", ""))
    return out


# ---------------------------------------------------------------------------
# Parser -> SQL text
# ---------------------------------------------------------------------------

class _V(NamedTuple):
    """A parsed (sub)expression: its Spark SQL text, and what the parser
    knows of it without a schema."""
    sql: str
    lit: tuple = ()  # (value,) for a literal: cast types, origins
    string: bool = False  # a string literal or a string '+' chain


def _literal(value) -> _V:
    """A literal. Integers are LONG like the reference's (ExprListenerImpl
    exitLongExpr): a 32-bit INT would wrap (1024*1024*1024*1024 is 0)."""
    if value is None:
        sql = "NULL"
    elif isinstance(value, str):
        sql = _sql_str(value)
    elif isinstance(value, int):
        sql = f"{value}L"
    else:
        sql = f"{value!r}D"
    return _V(sql, (value,), isinstance(value, str))


def _number(v: _V) -> bool:
    return bool(v.lit) and isinstance(v.lit[0], (int, float))


def _bool(v: _V) -> str:
    return f"CAST({v.sql} AS BOOLEAN)"


def _double(v: _V) -> str:
    return f"CAST({v.sql} AS DOUBLE)"


class _Parser:
    def __init__(self, tokens, env, names):
        self.toks = tokens
        self.i = 0
        self.env = env  # name -> SQL text (lambda parameters, caller binds)
        self.names = names  # fresh lambda-variable numbers, shared

    def peek(self):
        return self.toks[self.i]

    def next(self):
        t = self.toks[self.i]
        self.i += 1
        return t

    def expect(self, val):
        k, v = self.next()
        if v != val:
            raise ValueError(f"expected {val!r}, got {v!r}")

    # precedence (Expr.g4): unary -> ^ -> * / % -> + - -> cmp -> && -> ||
    def parse(self) -> _V:
        v = self.parse_or()
        if self.peek()[0] != "eof":
            raise ValueError(f"trailing tokens: {self.toks[self.i:]}")
        return v

    def parse_or(self) -> _V:
        left = self.parse_and()
        while self.peek()[1] == "||":
            self.next()
            left = _V(f"({_bool(left)} OR {_bool(self.parse_and())})")
        return left

    def parse_and(self) -> _V:
        left = self.parse_cmp()
        while self.peek()[1] == "&&":
            self.next()
            left = _V(f"({_bool(left)} AND {_bool(self.parse_cmp())})")
        return left

    def parse_cmp(self) -> _V:
        left = self.parse_add()
        while self.peek()[1] in ("<", "<=", ">", ">=", "==", "!="):
            op = self.next()[1]
            right = self.parse_add()
            # a NUMERIC literal operand makes the comparison numeric —
            # Druid coerces the other side to double ("dim3 == 1" does
            # NOT match '1.234': 1.234 != 1.0 — ExpressionFilterTest
            # testOneSingleValuedStringColumn), while Spark's implicit
            # string-vs-int cast truncates the string to 1
            if any(_number(a) and not (b.lit and b.lit[0] is not None)
                   for a, b in ((left, right), (right, left))):
                lsql, rsql = _double(left), _double(right)
            else:
                lsql, rsql = left.sql, right.sql
            left = _V(f"({lsql} {'=' if op == '==' else op} {rsql})")
        return left

    def parse_add(self) -> _V:
        left = self.parse_mul()
        while self.peek()[1] in ("+", "-"):
            op = self.next()[1]
            right = self.parse_mul()
            if op == "+" and (left.string or right.string):
                # BinPlusExpr.evalString: '+' with a STRING operand
                # concatenates (TopNQueryRunnerTest
                # testFullOnTopNOverPostAggsOnDimension: "market + 'x'");
                # chains of string-plus stay string-typed
                left = _V(f"concat(CAST({left.sql} AS STRING), "
                          f"CAST({right.sql} AS STRING))", string=True)
            else:
                left = _V(f"({left.sql} {op} {right.sql})")
        return left

    def parse_mul(self) -> _V:
        left = self.parse_pow()
        while self.peek()[1] in ("*", "/", "%"):
            op = self.next()[1]
            left = _V(f"({left.sql} {op} {self.parse_pow().sql})")
        return left

    def parse_pow(self) -> _V:
        left = self.parse_unary()
        if self.peek()[1] == "^":  # right-associative
            self.next()
            return _V(f"power({left.sql}, {self.parse_pow().sql})")
        return left

    def parse_unary(self) -> _V:
        k, v = self.peek()
        if v == "-":
            self.next()
            x = self.parse_unary()
            # a negated number is a literal (exitUnaryOpExpr), so
            # Long.MIN_VALUE is writable
            return _literal(-x.lit[0]) if _number(x) else _V(f"(- {x.sql})")
        if v == "!":
            self.next()
            return _V(f"(NOT {_bool(self.parse_unary())})")
        return self.parse_atom()

    def parse_atom(self) -> _V:
        k, v = self.next()
        if k == "number":
            return _literal(float(v) if ("." in v or "e" in v or "E" in v)
                            else int(v))
        if k == "string":
            return _literal(_unescape(v[1:-1]))
        if k == "qident":
            return self._ident(v[1:-1])
        if v == "(":
            x = self.parse_or()
            self.expect(")")
            return x
        if v == "[":  # array literal
            items = []
            if self.peek()[1] != "]":
                items.append(self.parse_or().sql)
                while self.peek()[1] == ",":
                    self.next()
                    items.append(self.parse_or().sql)
            self.expect("]")
            # the reference types a bare [] as STRING_ARRAY
            # (ApplyFunctionTest fold-into-[] / FunctionTest
            # array_append([], 1) -> ['1']); Spark's would be
            # ARRAY<VOID>, which no operation accepts
            return _V(f"array({', '.join(items)})" if items
                      else "CAST(array() AS ARRAY<STRING>)")
        if k == "ident":
            if self.peek()[1] == "(":
                return self._call(v)
            low = v.lower()
            if low == "null":
                return _literal(None)
            if low in ("true", "false"):
                return _V(low)
            return self._ident(v)
        raise ValueError(f"unexpected token {v!r}")

    def _ident(self, name: str) -> _V:
        # Druid columns are flat: a dot (join prefixes like "j0.col") is
        # part of the name, never struct access
        return _V(self.env.get(name) or ident(name))

    def _parse_lambda(self):
        """Parse '(x, y) -> expr' or 'x -> expr'; returns (params,
        body_fn), body_fn(*sql) the body's text with the parameters
        bound to ``sql``."""
        params = []
        if self.peek()[1] == "(":
            self.next()
            while self.peek()[1] != ")":
                params.append(self.next()[1])
                if self.peek()[1] == ",":
                    self.next()
            self.expect(")")
        else:
            params.append(self.next()[1])
        self.expect("->")
        # capture body tokens up to the matching , or ) at depth 0
        depth, start = 0, self.i
        while True:
            k, v = self.toks[self.i]
            if v in ("(", "["):
                depth += 1
            elif v in (")", "]"):
                if depth == 0:
                    break
                depth -= 1
            elif v == "," and depth == 0:
                break
            elif k == "eof":
                break
            self.i += 1
        body = self.toks[start:self.i] + [("eof", "")]

        def body_fn(*sql: str) -> str:
            env = {**self.env, **dict(zip(params, sql))}
            return _Parser(body, env, self.names).parse_or().sql

        return params, body_fn

    def var(self) -> str:
        """A fresh lambda variable: never a column or an outer variable."""
        return f"__x{next(self.names)}"

    def _call(self, name: str) -> _V:
        self.expect("(")
        low = name.lower()
        if low in _APPLY_FUNCTIONS:
            result = _APPLY_FUNCTIONS[low](self)
            self.expect(")")
            return _V(result)
        args = []
        if self.peek()[1] != ")":
            args.append(self.parse_or())
            while self.peek()[1] == ",":
                self.next()
                args.append(self.parse_or())
        self.expect(")")
        fn = _SQL_NAMES.get(low) or _SPARK.get(low)
        if fn:
            args = _NATIVE_ARGS.get(low, list)(args)
            return _V(f"{fn}({', '.join(a.sql for a in args)})")
        if low in _BUILDERS:
            return _V(_BUILDERS[low](*args))
        raise ValueError(f"unknown druid expression function: {name!r}")


def _unescape(s: str) -> str:
    return s.replace("\\'", "'").replace("\\\\", "\\")


# ---------------------------------------------------------------------------
# Apply (lambda) functions — reference: core/.../math/expr/ApplyFunction.java
# ---------------------------------------------------------------------------

def _lambda_over(p: _Parser, spark_fn: str, cond: bool = False) -> str:
    """map/filter/any/all(x -> body, arr) -> spark_fn(arr, x -> body)."""
    _, body = p._parse_lambda()
    p.expect(",")
    arr = p.parse_or().sql
    x = p.var()
    out = f"CAST({body(x)} AS BOOLEAN)" if cond else body(x)
    return f"{spark_fn}({arr}, {x} -> {out})"


def _apply_fold(p: _Parser) -> str:
    # fold((x, acc) -> ..., arr, init)
    _, body = p._parse_lambda()
    p.expect(",")
    arr = p.parse_or().sql
    p.expect(",")
    init = p.parse_or().sql
    x, acc = p.var(), p.var()
    return f"aggregate({arr}, {init}, ({acc}, {x}) -> {body(x, acc)})"


def _cartesian(p: _Parser, arrs: list[str], fn: Callable, bound=()) -> str:
    """Nested transform over the cartesian product of ``arrs``,
    flattened to one array: k arrays are k-1 nested transforms and
    flattens, all codegen HOFs."""
    x = p.var()
    if len(arrs) == 1:
        return f"transform({arrs[0]}, {x} -> {fn(*bound, x)})"
    inner = _cartesian(p, arrs[1:], fn, (*bound, x))
    return f"flatten(transform({arrs[0]}, {x} -> {inner}))"


def _apply_cartesian_map(p: _Parser) -> str:
    # cartesian_map((x, y, ...) -> expr, arr1, arr2, ...)
    params, body = p._parse_lambda()
    arrs = []
    while p.peek()[1] == ",":
        p.next()
        arrs.append(p.parse_or().sql)
    if len(arrs) != len(params):
        raise ValueError("cartesian_map: lambda arity != array count")
    return _cartesian(p, arrs, body)


def _apply_cartesian_fold(p: _Parser) -> str:
    # cartesian_fold((x, y, ..., acc) -> expr, arr1, arr2, ..., init)
    params, body = p._parse_lambda()
    rest = []
    while p.peek()[1] == ",":
        p.next()
        rest.append(p.parse_or().sql)
    arrs, init = rest[:-1], rest[-1]
    if len(arrs) != len(params) - 1:
        raise ValueError("cartesian_fold: lambda arity != array count + 1")
    pairs = _cartesian(p, arrs, lambda *xs: "named_struct(" + ", ".join(
        f"'_{i}', {x}" for i, x in enumerate(xs)) + ")")
    acc, s = p.var(), p.var()
    fields = [f"{s}._{i}" for i in range(len(arrs))]
    return f"aggregate({pairs}, {init}, ({acc}, {s}) -> {body(*fields, acc)})"


_APPLY_FUNCTIONS: dict[str, Callable[[_Parser], str]] = {
    "map": lambda p: _lambda_over(p, "transform"),
    "filter": lambda p: _lambda_over(p, "filter", cond=True),
    "fold": _apply_fold,
    "any": lambda p: _lambda_over(p, "exists", cond=True),
    "all": lambda p: _lambda_over(p, "forall", cond=True),
    "cartesian_map": _apply_cartesian_map,
    "cartesian_fold": _apply_cartesian_fold,
}

# ---------------------------------------------------------------------------
# Scalar functions — reference: core/.../math/expr/Function.java
# ---------------------------------------------------------------------------

# Druid's operator table read backwards: the Druid SQL function each
# native function is the conversion of. The call is written under the
# SQL name and lowered by the dialect's tables, the one implementation
# of both (each value is a _CALL_RULES or _INLINE key — tested).
_SQL_NAMES = {
    "round": "ROUND",
    "safe_divide": "SAFE_DIVIDE",
    "bitwiseand": "BITWISE_AND",
    "bitwiseor": "BITWISE_OR",
    "bitwisexor": "BITWISE_XOR",
    "bitwisecomplement": "BITWISE_COMPLEMENT",
    "bitwiseshiftleft": "BITWISE_SHIFT_LEFT",
    "bitwiseshiftright": "BITWISE_SHIFT_RIGHT",
    "bitwiseconvertdoubletolongbits": "BITWISE_CONVERT_DOUBLE_TO_LONG_BITS",
    "bitwiseconvertlongbitstodouble": "BITWISE_CONVERT_LONG_BITS_TO_DOUBLE",
    "format": "STRING_FORMAT",
    "parse_long": "PARSE_LONG",
    "regexp_extract": "REGEXP_EXTRACT",
    "regexp_like": "REGEXP_LIKE",
    "contains_string": "CONTAINS_STRING",
    "icontains_string": "ICONTAINS_STRING",
    "repeat": "REPEAT",
    "ltrim": "LTRIM",
    "rtrim": "RTRIM",
    "lookup": "LOOKUP",
    "timestamp_floor": "TIME_FLOOR",
    "timestamp_ceil": "TIME_CEIL",
    "timestamp_shift": "TIME_SHIFT",
    "timestamp_extract": "TIME_EXTRACT",
    "timestamp_parse": "TIME_PARSE",
    "timestamp": "TIME_PARSE",
    "timestamp_format": "TIME_FORMAT",
    "array_length": "ARRAY_LENGTH",
    "array_offset": "ARRAY_OFFSET",
    "array_ordinal": "ARRAY_ORDINAL",
    "array_contains": "ARRAY_CONTAINS",
    "array_overlap": "ARRAY_OVERLAP",
    "array_offset_of": "ARRAY_OFFSET_OF",
    "array_ordinal_of": "ARRAY_ORDINAL_OF",
    "array_prepend": "ARRAY_PREPEND",
    "array_concat": "ARRAY_CONCAT",
    "array_slice": "ARRAY_SLICE",
    "array_to_string": "ARRAY_TO_STRING",
    "string_to_array": "STRING_TO_ARRAY",
    "mv_to_array": "MV_TO_ARRAY",
    "ipv4_parse": "IPV4_PARSE",
    "ipv4_stringify": "IPV4_STRINGIFY",
    "ipv4_match": "IPV4_MATCH",
    "human_readable_binary_byte_format": "HUMAN_READABLE_BINARY_BYTE_FORMAT",
    "human_readable_decimal_byte_format":
        "HUMAN_READABLE_DECIMAL_BYTE_FORMAT",
    "human_readable_decimal_format": "HUMAN_READABLE_DECIMAL_FORMAT",
}


def _origin_instant(args: list[_V]) -> list[_V]:
    """timestamp_floor/ceil(ts, period, origin, ...): a native origin is
    epoch millis or an ISO string (ExprUtils.toPeriodGranularity), the
    SQL one a TIMESTAMP (TimeFloorOperatorConversion writes it back as
    millis)."""
    if len(args) > 2 and args[2].lit and args[2].lit[0] is not None:
        o = args[2].lit[0]
        ms = parse_instant(o) if isinstance(o, str) else int(o)
        args = [*args[:2], _V(f"timestamp_millis({ms}L)"), *args[3:]]
    return args


_NATIVE_ARGS = {"timestamp_floor": _origin_instant,
                "timestamp_ceil": _origin_instant}

# Spark builtins of the same meaning, by native name
_SPARK = {
    **{n: n for n in (
        "abs", "acos", "asin", "atan", "atan2", "cbrt", "ceil", "cos",
        "cosh", "cot", "exp", "expm1", "floor", "hypot", "log", "log10",
        "log1p", "pi", "power", "rint", "signum", "sin", "sinh", "sqrt",
        "tan", "tanh", "concat", "replace", "right", "left", "lower",
        "upper", "reverse", "lpad", "rpad", "coalesce", "array",
        "array_append", "unix_timestamp")},
    "pow": "power", "todegrees": "degrees", "toradians": "radians",
    "strlen": "length", "nvl": "coalesce",
}

# Druid type names Spark spells otherwise (LONG, DOUBLE, ARRAY<LONG>...
# are Spark's too)
_ARRAY_TYPES = {"long_array": "array<long>", "double_array": "array<double>",
                "string_array": "array<string>"}


def _cast(x: _V, t: _V) -> str:
    if not t.lit:
        raise ValueError("cast: the type must be a literal")
    tname = str(t.lit[0]).lower()
    return f"CAST({x.sql} AS {_ARRAY_TYPES.get(tname, tname)})"


def _case(test: Callable[[str], str], args) -> str:
    """CASE over (when, then) pairs and an optional else."""
    whens = " ".join(f"WHEN {test(w.sql)} THEN {t.sql}"
                     for w, t in zip(args[::2], args[1::2]))
    other = f" ELSE {args[-1].sql}" if len(args) % 2 else ""
    return f"CASE {whens}{other} END"


def _spread(spark_fn: str):
    """greatest/least, whose Spark forms need two arguments."""
    return lambda *a: (a[0].sql if len(a) == 1 else
                       f"{spark_fn}({', '.join(x.sql for x in a)})")


# IEEE-754 helpers (Function.java GetExponent/Ulp/NextUp/NextAfter) over
# the exact BITWISE_CONVERT_* reinterpretations: adjacent doubles differ
# by one in their long bits (away from zero adds one)
_MIN_SUBNORMAL = "4.9E-324D"
_MIN_NORMAL = "2.2250738585072014E-308D"


def _bits_step(d: str, step: str) -> str:
    return (f"BITWISE_CONVERT_LONG_BITS_TO_DOUBLE("
            f"BITWISE_CONVERT_DOUBLE_TO_LONG_BITS({d}) {step} 1)")


def _get_exponent(v: _V) -> str:
    """The unbiased exponent field: zero and subnormals -1023, NaN and
    Infinity 1024, as Java's."""
    bits = f"BITWISE_CONVERT_DOUBLE_TO_LONG_BITS({_double(v)})"
    return f"(CAST(shiftright({bits}, 52) & 2047 AS INT) - 1023)"


def _ulp(v: _V) -> str:
    x = f"abs({_double(v)})"
    return (f"CASE WHEN isnan({x}) OR {x} = CAST('Infinity' AS DOUBLE) "
            f"THEN {x} WHEN {x} < {_MIN_NORMAL} THEN {_MIN_SUBNORMAL} "
            f"ELSE power(2D, {_get_exponent(v)} - 52) END")


def _next_up(v: _V) -> str:
    d = _double(v)
    return (f"CASE WHEN isnan({d}) OR {d} = CAST('Infinity' AS DOUBLE) "
            f"THEN {d} WHEN {d} = 0 THEN {_MIN_SUBNORMAL} "
            f"WHEN {d} > 0 THEN {_bits_step(d, '+')} "
            f"ELSE {_bits_step(d, '-')} END")


def _next_after(a: _V, b: _V) -> str:
    a, b = _double(a), _double(b)
    return (f"CASE WHEN isnan({a}) OR isnan({b}) THEN CAST('NaN' AS DOUBLE) "
            f"WHEN {a} = {b} THEN {b} "
            f"WHEN {a} = 0 THEN CASE WHEN {a} < {b} THEN {_MIN_SUBNORMAL} "
            f"ELSE -{_MIN_SUBNORMAL} END "
            f"WHEN ({a} < {b}) = ({a} > 0) THEN {_bits_step(a, '+')} "
            f"ELSE {_bits_step(a, '-')} END")


# hyper_unique*: HLL-state expression builders (HyperUniqueExpressions.
# java) carrying COMPLEX collector state through scalar expressions, so
# expression-lambda aggregators can fold cardinality state
# (GroupByQueryRunnerTest.testGroupByWithExpressionAggregatorWith
# Complex[OnSubquery]). The collector is the DISTINCT VALUE SET
# (array<string>): hyper_unique_add is a set-add that skips SQL nulls
# like the reference (HyperUniqueExpressions.java:170), and the estimate
# is the exact set size. Honest divergences:
# (1) estimates are EXACT where Druid's HLL carries ~2% error
#     (UNIQUES_9 = 9.0198... vs our 9.0) — the suite pins approx;
# (2) these SCALAR spellings keep the exact-set state; the aggregator
#     path folds them only when the spec carries NO estimate finalize.
#     An estimate-finalized fold rewrites to REAL DataSketches HLL state
#     (aggregations.py _hyper_unique_direct: hll_sketch_agg, lgK=12 —
#     ≤ 2 KB per group at any cardinality), and the remaining exact-set
#     uses are capped at 65,536 distinct values with a loud error: the
#     reference bounds expression-lambda accumulators too
#     (ExpressionLambdaAggregatorFactory's maxSizeBytes throws), and a
#     silently truncated set would be a wrong estimate;
# (3) a string and a number rendering to the same text collide
#     ('16' vs 16L) where Druid hashes them apart.
def _hyper_unique_add(x: _V, acc: _V) -> str:
    s = f"CAST({x.sql} AS STRING)"
    return (f"CASE WHEN {x.sql} IS NULL THEN {acc.sql} "
            f"WHEN size({acc.sql}) >= 65536 AND NOT array_contains("
            f"{acc.sql}, {s}) THEN CAST(raise_error('hyper_unique_add: "
            f"exact-set collector exceeded 65536 distinct values — use the "
            f"expression-lambda AGGREGATOR spelling (initialValue "
            f"hyper_unique(), finalize hyper_unique_estimate(o)), which "
            f"carries bounded HLL sketch state') AS ARRAY<STRING>) "
            f"ELSE array_union({acc.sql}, array({s})) END")


def _substring(s: _V, i: _V, n: _V) -> str:
    """0-based index; a negative length runs to the end."""
    return (f"CASE WHEN {n.sql} < 0 THEN substr({s.sql}, {i.sql} + 1) "
            f"ELSE substr({s.sql}, {i.sql} + 1, {n.sql}) END")


def _strpos(h: _V, n: _V, *start: _V) -> str:
    """0-based, -1 when absent, optional 0-based start offset
    (FunctionTest.testStrpos)."""
    s = f"{start[0].sql} + 1" if start else "1"
    return f"(locate({n.sql}, {h.sql}, {s}) - 1)"


_BUILDERS: dict[str, Callable[..., str]] = {
    "greatest": _spread("greatest"), "max": _spread("greatest"),
    "least": _spread("least"), "min": _spread("least"),
    "mod": lambda a, b: f"({a.sql} % {b.sql})",
    "remainder": lambda a, b: f"({a.sql} % {b.sql})",
    # Druid div(): long division truncating toward zero (Java semantics)
    "div": lambda a, b: (
        f"(CAST({a.sql} AS BIGINT) div CAST({b.sql} AS BIGINT))"),
    "getexponent": _get_exponent,
    "ulp": _ulp,
    "nextup": _next_up,
    "nextafter": _next_after,
    "scalb": lambda d, n: f"({_double(d)} * power(2D, {_double(n)}))",
    "hyper_unique": lambda: "CAST(array() AS ARRAY<STRING>)",
    "hyper_unique_add": _hyper_unique_add,
    "hyper_unique_estimate": lambda o: f"CAST(size({o.sql}) AS DOUBLE)",
    "hyper_unique_round_estimate": lambda o: f"CAST(size({o.sql}) AS BIGINT)",
    "substring": _substring,
    "strpos": _strpos,
    "trim": lambda s, *c: (f"btrim({s.sql}, {c[0].sql})" if c
                           else f"trim({s.sql})"),
    "like": lambda s, p: f"({s.sql} LIKE {p.sql})",
    "subtract_months": lambda a, b, *r: (
        f"CAST(months_between({a.sql}, {b.sql}) AS BIGINT)"),
    "if": lambda c, a, b: (
        f"CASE WHEN {_bool(c)} THEN {a.sql} ELSE {b.sql} END"),
    "case_searched": lambda *a: _case(lambda w: f"CAST({w} AS BOOLEAN)", a),
    "case_simple": lambda s, *a: _case(lambda w: f"{s.sql} = {w}", a),
    "isnull": lambda a: f"({a.sql} IS NULL)",
    "notnull": lambda a: f"({a.sql} IS NOT NULL)",
    "cast": _cast,
    # SET semantics are SORTED — ArraySetAddFunction builds a TreeSet
    # (core/.../math/expr/Function.java:3463), so the result order is
    # the element order, not insertion order
    "array_set_add": lambda a, v: (
        f"array_sort(array_distinct(array_append({a.sql}, {v.sql})))"),
    "array_set_add_all": lambda a, b: (
        f"array_sort(array_union({a.sql}, {b.sql}))"),
}


def expression_identifiers(text: str) -> list[str]:
    """Column identifiers referenced by an expression (function names,
    keywords, and lambda parameters excluded). Lets callers with schema
    access pre-bind missing columns to null and multi-value columns to
    per-element semantics (ExpressionFilterTest.testMissingColumn)."""
    toks = _tokenize(text)
    shadowed: set[str] = set()
    for i, (k, v) in enumerate(toks):
        if v != "->":
            continue
        j = i - 1
        if j >= 0 and toks[j][1] == ")":  # (x, y) ->
            j -= 1
            while j >= 0 and toks[j][1] != "(":
                if toks[j][0] == "ident":
                    shadowed.add(toks[j][1])
                j -= 1
        elif j >= 0 and toks[j][0] == "ident":  # x ->
            shadowed.add(toks[j][1])
    out: list[str] = []
    for i, (k, v) in enumerate(toks):
        name = None
        if k == "qident":
            name = v[1:-1]
        elif k == "ident" and v.lower() not in ("null", "true", "false"):
            nxt = toks[i + 1][1] if i + 1 < len(toks) else ""
            if nxt != "(":
                name = v
        if name is not None and name not in shadowed and name not in out:
            out.append(name)
    return out


def expression_sql(text: str, registry=None, env: dict | None = None) -> str:
    """A Druid native expression as Spark SQL text.

    ``env`` binds identifiers to Spark SQL text: lambda parameters of an
    enclosing context (the accumulator and element of an
    expression-lambda aggregator fold), or a column's per-row stand-in.
    A bound text is put in after the Druid functions are lowered, so it
    is never lowered twice. ``registry`` serves lookup()."""
    env = env or {}
    holes = {name: f"`\x00{i}`" for i, name in enumerate(env)}
    sql = lower_functions(
        _Parser(_tokenize(text), holes, itertools.count()).parse().sql,
        registry)
    for name, hole in holes.items():
        sql = sql.replace(hole, env[name])
    return sql


