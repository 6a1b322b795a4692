"""The benchmark's inputs.

Queries and the curation pipeline read the sf0.1 tables in
``perfbench/testdata/``: unchanged copies of the scale-0.1 ``customer``,
``documents``, ``events``, ``nation`` and ``orders`` tables the engine's
tests and ``bench.py`` use (see TESTDATA.md), kept here so that a run
reads nothing outside its checkout. The seed draws only request
parameters, the document sample and the raw edits that the dashboard
set-up ingests.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow.parquet as pq

TESTDATA = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "testdata")
TIME_COLS = {"events": "ts", "orders": "o_orderdate"}

# sf0.1 value domains the query templates draw from
EVENT_DAYS = 30             # events cover 2024-01-01 .. 2024-01-30
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
N_USERS = 1_500
ORDER_MONTHS = 80           # orders cover 1995-01 .. 2001-08
STATUSES = ["F", "O", "P"]
N_DOCS = 5_000

# raw edits ingested by the dashboard set-up
DAY_MS = 86_400_000
EDITS_START_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z
CHANNELS = [f"#{n}" for n in ("en", "de", "fr", "ja", "ru", "it")]
COUNTRIES = [f"c{i:02d}" for i in range(8)]


def register_tables(spark):
    """A registry with the sf0.1 serving tables, their time columns as
    ``__time`` (as ``register_testdata`` does) and the ``nation_name``
    lookup."""
    from pyspark.sql import functions as F

    from apache_druid_spark import DatasourceRegistry

    reg = DatasourceRegistry(spark)
    for name in ("nation", "customer", "orders", "events"):
        reg.register_parquet(name, os.path.join(TESTDATA, f"{name}.parquet"),
                             TIME_COLS.get(name))
    reg.register_lookup("nation_name", reg.table("nation").select(
        F.col("n_nationkey").cast("string"), F.col("n_name")))
    return reg


def sample_documents(path: str, seed: int, n: int) -> None:
    """Write ``n`` sf0.1 documents, drawn without replacement by
    ``seed``, to ``path``."""
    rng = np.random.default_rng([seed, 3])
    idx = np.sort(rng.choice(N_DOCS, size=n, replace=False))
    docs = pq.read_table(os.path.join(TESTDATA, "documents.parquet"))
    pq.write_table(docs.take(idx), path)


def edit_batch(rng: np.random.Generator, rows: int) -> list[dict]:
    """One day of raw edit events for the ingest: millisecond timestamps,
    two low-cardinality dimensions (so minute rollup collapses rows) and
    a user id for the distinct-count sketch."""
    ms = EDITS_START_MS + np.sort(rng.integers(0, DAY_MS, rows))
    channels = rng.choice(CHANNELS, rows)
    countries = rng.choice(COUNTRIES, rows)
    users = rng.integers(1, 5_000, rows)
    added = rng.integers(0, 500, rows)
    return [{"timestamp": int(t), "channel": str(c), "country": str(k),
             "user": f"u{u}", "added": int(a)}
            for t, c, k, u, a in zip(ms, channels, countries, users, added)]


def write_json_lines(path: str, records: list[dict]) -> int:
    """Write records as JSON lines; returns the bytes written."""
    data = "".join(json.dumps(r, separators=(",", ":")) + "\n"
                   for r in records).encode()
    with open(path, "wb") as f:
        f.write(data)
    return len(data)
