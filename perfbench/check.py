"""Correctness checks, run after the Spark process has exited.

Each check compares the program's output with the registry's own DuckDB
oracle over the generated inputs, using the repository's comparison rule
(``scripts/verify_local.py``: same columns, same row count, exact values
after an order-insensitive sort).  A check returns its problems; an empty
list is a pass.
"""

from __future__ import annotations

import os
import sys

import duckdb
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.getcwd())

from bigdatapipeline_steamreviews_spark.registry import (  # noqa: E402
    FLAGSHIP_ORACLE,
    REGISTRY,
    _avg_exact_sql,
    queries,
)
from scripts.verify_local import compare  # noqa: E402

queries()  # registers every query, so REGISTRY holds the oracles

# DuckDB twins of the dashboard's read kinds (worker.build_read) over a
# ``serving`` table, with the same metric dispatch: A_* -> exact mean,
# T_* -> sum.
READ_SQL = {
    "drill": f"""
SELECT event_type, time_year, time_month,
       {_avg_exact_sql('A_value')} AS A_value,
       CAST(sum(T_events) AS BIGINT) AS T_events,
       CAST(sum(T_high) AS BIGINT) AS T_high
FROM serving WHERE event_type = '{{app}}'
GROUP BY event_type, time_year, time_month""",
    "topn": f"""
SELECT event_type,
       {_avg_exact_sql('A_value')} AS A_value,
       CAST(sum(T_events) AS BIGINT) AS T_events,
       CAST(sum(T_conversions) AS BIGINT) AS T_conversions
FROM serving WHERE time_year = {{year}} AND time_month = {{month}}
GROUP BY event_type ORDER BY T_events DESC, event_type LIMIT 10""",
    "slice": """
SELECT * FROM serving
WHERE time_year = {year} AND time_month = {month} AND time_day = {day}""",
    "dict": "SELECT DISTINCT event_type FROM serving",
}

SERVING_SQL = f"""
SELECT *, CAST(year(time) AS INTEGER) AS time_year,
       CAST(month(time) AS INTEGER) AS time_month,
       CAST(day(time) AS INTEGER) AS time_day
FROM ({FLAGSHIP_ORACLE})"""


def _events(path: str) -> duckdb.DuckDBPyConnection:
    """A connection whose ``events`` view is the generated events file."""
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{path}')")
    return con


def summary_stream(got: pd.DataFrame, events: str) -> list[str]:
    """The last update per (app, day) equals the flagship oracle.  With no
    watermark a key's counts only grow, so its last update is the row with
    the largest ``T_events``."""
    oracle = _events(events).execute(FLAGSHIP_ORACLE).fetchdf()
    last = (
        got.sort_values("T_events", kind="stable")
        .drop_duplicates(["event_type", "time"], keep="last")
        .reset_index(drop=True)
    )
    return compare("summary_stream", last, oracle)


def session_stream(got: pd.DataFrame, events: str) -> list[str]:
    """Emitted sessions equal the ``stream_sessionization`` oracle."""
    oracle = _events(events).execute(REGISTRY["stream_sessionization"].oracle).fetchdf()
    return compare("session_stream", got, oracle)


def serving_table(table_dir: str) -> pa.Table:
    """The serving table as written, with ``time`` as a naive UTC wall
    time like the oracle's."""
    t = pq.read_table(table_dir)
    i = t.schema.get_field_index("time")
    return t.set_column(i, "time", t.column("time").cast(pa.timestamp("us", tz="UTC")).cast(pa.timestamp("us")))


def dashboard_table(table: pa.Table, events: str) -> list[str]:
    """The final serving table equals the flagship oracle (plus date parts)
    over every event slice upserted."""
    oracle = _events(events).execute(SERVING_SQL).fetchdf()
    return compare("dashboard_table", table.to_pandas(), oracle)


def dashboard_read(got: pd.DataFrame, table: pa.Table, read: dict) -> list[str]:
    """One fixed request equals DuckDB over the final serving table."""
    con = duckdb.connect()
    con.register("serving", table)
    oracle = con.execute(READ_SQL[read["kind"]].format(**read)).fetchdf()
    return compare(f"dashboard_{read['kind']}", got, oracle)


def curation_job(name: str, got: pd.DataFrame, corpus_dir: str) -> list[str]:
    """A curation job equals its registered oracle over the corpus."""
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(corpus_dir, t)}.parquet'")
    return compare(name, got, con.execute(REGISTRY[name].oracle).fetchdf())
