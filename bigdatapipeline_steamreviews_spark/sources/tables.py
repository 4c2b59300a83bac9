"""Batch sources: parquet test tables + the reference's CSV review source.

S1 (CSV scan): the reference reads quoted/escaped CSV with no header and
assigns 24 names positionally (``/root/reference/stream_generator.py:49-50``).
Spark-first equivalent: an explicit-schema ``spark.read.csv`` so Catalyst
knows the types at plan time and nothing is inferred.

Parquet loads push column pruning + predicate pushdown into the scan (check
``.explain``: ``ReadSchema`` / ``PushedFilters``) — which is what keeps a
100 TB scan from reading 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..schemas import REVIEW_SCHEMA

__all__ = [
    "load_table",
    "read_reviews_csv",
    "normalize_event_ts",
    "event_ts_micros",
    "TABLE_NAMES",
]

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def normalize_event_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Normalize an event-time column to the engine's canonical TIMESTAMP,
    whatever physical encoding the parquet arrived in.

    The driver's testdata has changed encoding between rounds (parquet
    TIMESTAMP(NANOS) read as long under ``nanosAsLong``, then plain
    TIMESTAMP micros read as TIMESTAMP_NTZ under Spark 4) — so the loader
    adapts to the observed type instead of assuming one:

    * ``LongType``  — epoch nanos; truncate to micros (DuckDB's own
      nanos→micros truncation) and convert.
    * ``TimestampNTZType`` — wall-clock micros; reinterpret as UTC
      (session timezone is pinned UTC, so the cast is wall-clock-identity
      and matches DuckDB's naive-timestamp reading).
    * ``TimestampType`` — already canonical; pass through.
    """
    dt = df.schema[col].dataType
    if isinstance(dt, T.LongType):
        return df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    if isinstance(dt, T.TimestampNTZType):
        return df.withColumn(col, F.col(col).cast("timestamp"))
    if isinstance(dt, T.TimestampType):
        return df
    raise TypeError(f"unsupported event-time type for column {col!r}: {dt}")


def event_ts_micros(df: DataFrame, col: str = "ts") -> DataFrame:
    """Rewrite an event-time column as epoch **micros** (LongType).

    The streaming replay harness stages events in this form so the
    file-stream schema is stable no matter how the source parquet encodes
    timestamps (``streaming/summarizer.py``).
    """
    dt = df.schema[col].dataType
    if isinstance(dt, T.LongType):  # epoch nanos from legacy nanosAsLong read
        return df.withColumn(col, F.expr(f"{col} div 1000"))
    normalized = normalize_event_ts(df, col)
    return normalized.withColumn(col, F.unix_micros(F.col(col)))


# Schema memo (r17, guide §5 "the driver should do almost no data work"):
# every ``spark.read.parquet`` without a declared schema re-infers it —
# a driver-side footer read + relation build measured at 0.09-0.22 s per
# call, which the bench pays per table PER QUERY BUILD (2-5 loads each),
# roughly half the wall of the sub-second queries.  A real deployment
# reads table schemas from a catalog once; this memo is that catalog:
# SCHEMAS are cached (keyed on path + mtime + size so in-place testdata
# regeneration invalidates), DATA is scanned from parquet on every
# execution exactly as before — nothing about results or row bytes is
# memoized.
_SCHEMA_MEMO: "dict[tuple, T.StructType]" = {}


def _memoized_schema(spark: SparkSession, path: str) -> "T.StructType | None":
    import os

    try:
        st = os.stat(path)
        key = (path, st.st_mtime_ns, st.st_size)
    except OSError:
        return None  # directory-style / unstattable: infer every time
    schema = _SCHEMA_MEMO.get(key)
    if schema is None:
        schema = spark.read.parquet(path).schema
        _SCHEMA_MEMO[key] = schema
    return schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one driver test table from ``{sf_dir}/{name}.parquet``.

    ``events.ts`` is normalized to the canonical TIMESTAMP type via
    :func:`normalize_event_ts` — adaptive to the parquet's physical
    encoding, which has drifted between driver rounds.  The schema comes
    from the session-lifetime memo above (declared-schema reads skip
    per-call footer inference); the parquet bytes are read by every
    execution as always.
    """
    from ..session import ensure_parity_conf

    ensure_parity_conf(spark)
    path = f"{sf_dir}/{name}.parquet"
    schema = _memoized_schema(spark, path)
    if schema is not None:
        df = spark.read.schema(schema).parquet(path)
    else:
        df = spark.read.parquet(path)
    if name == "events":
        df = normalize_event_ts(df)
    return df


def read_reviews_csv(spark: SparkSession, path: str) -> DataFrame:
    """S1 — the reference's CSV review source, Spark-native.

    Mirrors ``pd.read_csv(path, quotechar='"', sep=',', escapechar='\\\\',
    header=None)`` + positional names (stream_generator.py:15-40,49-50), but
    with the declared 24-field schema (summarizer.py:24-49) applied at scan
    time so the read parallelizes and type errors surface per-record instead
    of poisoning the whole file.
    """
    from ..session import ensure_parity_conf

    ensure_parity_conf(spark)
    return (
        spark.read.schema(REVIEW_SCHEMA)
        .options(header=False, quote='"', escape="\\", sep=",", mode="PERMISSIVE")
        .csv(path)
    )
