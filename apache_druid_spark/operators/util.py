"""Shared column helpers. Druid column names are flat, so a dot (join
prefixes like "j0.col") is part of the name — backtick-quote to stop
Spark parsing it as struct access."""

from pyspark.sql import Column
from pyspark.sql import functions as F


def fcol(name: str) -> Column:
    if "." in name:
        return F.col(f"`{name}`")
    return F.col(name)


def ident(name: str) -> str:
    """``name`` as a backtick-quoted SQL identifier (embedded backticks
    doubled), for SQL-text projections."""
    return "`" + name.replace("`", "``") + "`"


def compile_expression(text: str, registry=None,
                       env: dict | None = None) -> Column:
    """A Druid native expression as a Column: the Spark SQL text of
    ``operators.expressions.expression_sql``, whose ``env`` binds names
    to SQL text.

    >>> compile_expression("floor(value / 10) * 10")
    >>> compile_expression("if(x > 3 && y == 'a', 1, 0)")
    """
    from apache_druid_spark.operators.expressions import expression_sql

    return F.expr(expression_sql(text, registry, env))
