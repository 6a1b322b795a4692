"""tools/ab.py, callable form: value check first, then timed pairs."""

from __future__ import annotations

import importlib.util
import itertools
import json
import os

import pytest

_AB = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))), "tools", "ab.py")


def _ab():
    spec = importlib.util.spec_from_file_location("ab_tool", _AB)
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    return m


def nation(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/nation.parquet")


def nation_reordered(spark, sf_dir):
    df = nation(spark, sf_dir)
    return df.orderBy(df.columns[0], ascending=False)


def nation_head(spark, sf_dir):
    return nation(spark, sf_dir).limit(3)


_runs = itertools.count()


def nation_fresh_literal(spark, sf_dir):
    """The same rows as ``nation``, through a filter whose always-true
    literal changes per run, so every run generates new code."""
    from pyspark.sql import functions as F

    df = nation(spark, sf_dir)
    return df.filter(F.col(df.columns[0]) > -1000 - next(_runs))


def test_callable_form_summary(spark, sf_dir, capsys):
    _ab().main([f"{__name__}:nation", f"{__name__}:nation_reordered",
                "--sf", sf_dir, "--pairs", "2"], spark=spark)
    out = capsys.readouterr().out.strip().splitlines()
    assert out[0].startswith("value-identical: 25 rows")
    assert sum(ln.startswith("pair ") for ln in out) == 2
    summary = json.loads(out[-1])
    assert summary["pairs"] == 2
    assert summary["a_median"] > 0 and summary["b_median"] > 0
    assert summary["a_compiles"] >= 0 and summary["b_compiles"] >= 0
    assert sum(ln.endswith(f"compiles={summary['a_compiles']}")
               for ln in out) >= 1


def test_value_mismatch_exits_before_timing(spark, sf_dir, capsys):
    with pytest.raises(SystemExit) as exc:
        _ab().main([f"{__name__}:nation", f"{__name__}:nation_head",
                    "--sf", sf_dir, "--pairs", "2"], spark=spark)
    assert exc.value.code != 0
    captured = capsys.readouterr()
    assert "value mismatch" in captured.err
    assert not any(ln.startswith("pair ") for ln in captured.out.splitlines())


def test_compile_counts_per_side(spark, sf_dir, capsys):
    _ab().main([f"{__name__}:nation", f"{__name__}:nation_fresh_literal",
                "--sf", sf_dir, "--pairs", "2"], spark=spark)
    summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert summary["a_compiles"] == 0
    assert summary["b_compiles"] >= 2
