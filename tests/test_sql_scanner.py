"""The one SQL text scanner in sql/dialect.py: where string literals
and brackets are. Every rewrite, INSERT validation and the Avatica
parameter walk ask it; no other code in sql/ or server/ tracks quotes
or bracket depth by hand."""

from __future__ import annotations

import ast
import glob
import os
import re

import pytest

from apache_druid_spark.sql.dialect import (
    _depths, _find_calls, _in_string, _matching_close, _param_marks,
    _rewrite_array_literal, _rewrite_quoted_identifiers, _split_top_args,
    _string_spans, bind_parameters,
)
from apache_druid_spark.sql.insert import validate_insert

PKG = os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "apache_druid_spark")


def test_doubled_quote_is_one_literal():
    text = "SELECT 'it''s', x"
    assert _string_spans(text) == [(7, 13)]
    assert all(_in_string(_string_spans(text), i) for i in range(7, 14))
    assert not _in_string(_string_spans(text), 14)
    assert _param_marks("SELECT '?''?', ? FROM t") == [15]
    assert bind_parameters("SELECT '?''?', ?",
                           [{"type": "BIGINT", "value": 1}]) \
        == "SELECT '?''?', 1"


def test_brackets_inside_literals_are_skipped():
    assert _matching_close("f(a, ')', g(b)) + 1", 1) == 14
    assert _split_top_args("a, ',', f(b, c), '(' , d") == \
        ["a", " ','", " f(b, c)", " '(' ", " d"]
    assert _depths("f(')', (x))") == [0, 0, 1, 1, 1, 1, 1, 1, 2, 1, 0]
    assert list(_find_calls("SELECT 'SUM(x)', SUM(y), sum (')')",
                            "SUM")) == [(17, 20, 22), (25, 29, 33)]


def test_array_constructor_nested_in_calls():
    assert _rewrite_array_literal(
        "SELECT f(ARRAY[g(ARRAY['a]', 'b']), 2], 'x[') + ARRAY[1.5]") == \
        "SELECT f(array(g(array('a]', 'b')), 2), 'x[') + array(1.5D)"


def test_unclosed_quote_runs_to_the_end():
    assert _string_spans("x = 'abc") == [(4, 7)]
    assert _matching_close("f('a)", 1) == 4
    assert _split_top_args("a, 'b, c") == ["a", " 'b, c"]
    assert _rewrite_quoted_identifiers('SELECT "a""b", \'"q"\' FROM "t') \
        == "SELECT `a\"b`, '\"q\"' FROM `t`"


@pytest.mark.parametrize("sql", [
    "INSERT INTO t SELECT * FROM x WHERE page = 'ORDER BY' "
    "PARTITIONED BY DAY",
    "INSERT INTO t SELECT * FROM (SELECT * FROM x ORDER BY a) "
    "PARTITIONED BY DAY",
])
def test_insert_accepts_order_by_in_literal_or_subquery(sql):
    validate_insert(sql)


@pytest.mark.parametrize("literal", ["'('", "'PARTITIONED BY HOUR'"])
def test_insert_rejects_top_level_order_by_after_literal(literal):
    with pytest.raises(ValueError, match="Cannot have ORDER BY"):
        validate_insert(f"INSERT INTO t SELECT * FROM x WHERE page = "
                        f"{literal} ORDER BY page PARTITIONED BY DAY")


def test_no_hand_written_quote_or_depth_loop():
    allowed = {"_matching_close", "_depths", "_split_top_args"}
    paths = sorted(glob.glob(os.path.join(PKG, "sql", "*.py"))
                   + glob.glob(os.path.join(PKG, "server", "*.py")))
    assert paths
    for path in paths:
        src = open(path).read()
        assert not re.search(r"\bin_str\b", src), path
        funcs = [n for n in ast.walk(ast.parse(src))
                 if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))]
        for lineno, line in enumerate(src.splitlines(), start=1):
            if "depth += 1" not in line:
                continue
            owner = min((f for f in funcs
                         if f.lineno <= lineno <= f.end_lineno),
                        key=lambda f: f.end_lineno - f.lineno,
                        default=None)
            assert owner is not None and owner.name in allowed, \
                f"{path}:{lineno}: use the dialect scanner"
