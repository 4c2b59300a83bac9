"""Kafka edge adapters (S3/S4/S5/S6) — thin, optional wiring.

The reference's wire format is one UTF-8 JSON object per Kafka record
(``/root/reference/stream_generator.py:46,54``), decoded with
``CAST(value AS STRING)`` + ``from_json`` (``summarizer.py:61-63``) and
re-encoded with ``to_json(struct(*))`` keyed by the stringified app id
(``summarizer.py:104``).  These builders reproduce that contract with the
native ``kafka`` data source (requires the spark-sql-kafka-0-10 package at
deploy time; no broker exists in the test environment, so tests exercise
the parse/encode expressions on batch frames and the streaming path runs
over file sources instead).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..streaming.summarizer import stream_start_conf

__all__ = [
    "read_kafka_stream",
    "parse_json_values",
    "encode_json_output",
    "write_kafka_stream",
]


def read_kafka_stream(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "earliest",
    fail_on_data_loss: bool = False,
) -> DataFrame:
    """S3 — Kafka stream source (mirrors summarizer.py:52-59: subscribe
    from earliest, tolerate data loss)."""
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .option("failOnDataLoss", str(fail_on_data_loss).lower())
        .load()
    )


def parse_json_values(df: DataFrame, schema: StructType) -> DataFrame:
    """P1+P2 — Kafka binary value -> string -> typed columns
    (summarizer.py:61-63: CAST + from_json + star-expansion)."""
    return (
        df.select(F.col("value").cast("string").alias("json"))
        .select(F.from_json(F.col("json"), schema).alias("data"))
        .select("data.*")
    )


def encode_json_output(df: DataFrame, key_col: str) -> DataFrame:
    """Outbound wire format (summarizer.py:104): key = CAST(key AS STRING),
    value = to_json(struct(*)) over every column."""
    return df.select(
        F.col(key_col).cast("string").alias("key"),
        F.to_json(F.struct(*[F.col(c) for c in df.columns])).alias("value"),
    )


def write_kafka_stream(
    df: DataFrame,
    bootstrap_servers: str,
    topic: str,
    checkpoint_dir: str,
    output_mode: str = "update",
    key_col: str | None = None,
):
    """S5 — Kafka streaming sink in update mode with checkpoint
    (summarizer.py:103-111).  Returns the started StreamingQuery.

    The checkpoint file manager is scoped to ``start()`` only (see
    ``streaming.summarizer.stream_start_conf``): the offset and commit
    logs and the state store follow the path's choice, while the
    source's own offset log, built on the stream thread after ``start()``
    returns, may use Spark's default — correct either way."""
    out = encode_json_output(df, key_col) if key_col else df
    with stream_start_conf(out.sparkSession, checkpoint_dir):
        return (
            out.writeStream.format("kafka")
            .option("kafka.bootstrap.servers", bootstrap_servers)
            .option("topic", topic)
            .option("checkpointLocation", checkpoint_dir)
            .outputMode(output_mode)
            .start()
        )
