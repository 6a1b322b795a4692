"""Shared column helpers. Druid column names are flat, so a dot (join
prefixes like "j0.col") is part of the name — backtick-quote to stop
Spark parsing it as struct access."""

from pyspark.sql import Column
from pyspark.sql import functions as F


def fcol(name: str) -> Column:
    if "." in name:
        return F.col(f"`{name}`")
    return F.col(name)


def map_column(m: dict) -> Column:
    """A string -> string map literal (NULL when empty): a lookup shipped
    with the plan, the analogue of Druid's broadcast lookup container."""
    if not m:
        return F.lit(None).cast("map<string,string>")
    return F.create_map(*[F.lit(x) for kv in m.items() for x in kv])
