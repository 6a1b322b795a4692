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


def _translate_passes() -> dict:
    """Source of translate and of every module-level def or table it
    reaches by name, keyed by name."""
    src = open(os.path.join(PKG, "sql", "dialect.py")).read()
    nodes = {}
    for n in ast.parse(src).body:
        if isinstance(n, ast.FunctionDef):
            nodes[n.name] = n
        elif isinstance(n, ast.Assign):
            nodes.update((t.id, n) for t in n.targets
                         if isinstance(t, ast.Name))
    seen, todo = {}, ["translate"]
    while todo:
        name = todo.pop()
        if name in seen or name not in nodes:
            continue
        seen[name] = ast.get_source_segment(src, nodes[name])
        todo += [n.id for n in ast.walk(nodes[name])
                 if isinstance(n, ast.Name)]
    return seen


def test_translate_has_no_placeholder_markers():
    passes = _translate_passes()
    assert {"_rewrite_calls", "_CALL_RULES", "_round"} <= set(passes)
    assert "_close_extra_paren" not in passes
    for name, seg in passes.items():
        assert not re.search(r"__\w+__\s*\(", seg), name


def test_find_calls_only_in_the_walker_and_outside_paren_passes():
    users = {name for name, seg in _translate_passes().items()
             if name != "_find_calls" and "_find_calls(" in seg}
    assert users == {"_rewrite_calls", "_rewrite_array_agg",
                     "_rewrite_string_agg", "_rewrite_lookup_neq"}
