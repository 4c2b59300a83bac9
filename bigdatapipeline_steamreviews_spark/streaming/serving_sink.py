"""S6/A7 — the serving-side materialization: update-mode stream -> keyed
upsert store.

The reference does this with a Python KafkaConsumer thread mutating a
global pandas DataFrame (``/root/reference/visualizer.py:49-79``) — a
single-process, unsynchronized, RAM-bound store.  Spark-first replacement:
``foreachBatch`` applies each micro-batch as a keyed last-writer-wins merge
into a parquet serving table.  Properties the pandas version lacked:

* **idempotent per key** — replaying a batch (at-least-once delivery, T7)
  converges to the same table, because the merge keeps one row per key by
  (batch_seq, arrival order), exactly the reference's replace-else-append
  (visualizer.py:67-77) without the data race;
* **bounded memory** — the store is a parquet table, not process RAM;
* **queryable mid-stream** — readers see a consistent snapshot directory.

At 100 TB the same foreachBatch body targets a transactional table format
(Delta/Iceberg MERGE) partitioned by day, so each merge touches only the
partitions its keys live in; the logic here is the format-agnostic core.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .summarizer import stream_start_conf

__all__ = ["upsert_batch_writer", "materialize_stream_to_serving"]


def _merge_upsert(existing: DataFrame | None, batch: DataFrame, keys: list[str]) -> DataFrame:
    """Last-writer-wins merge of a new batch over the existing table.

    Within a batch, later rows win (`__seq` from monotonically_increasing_id
    is ascending in batch order); across batches, the new batch wins over
    the existing table — the reference's replace-else-append semantics.
    """
    batch = batch.withColumn("__src", F.lit(1)).withColumn(
        "__seq", F.monotonically_increasing_id()
    )
    if existing is not None:
        existing = existing.withColumn("__src", F.lit(0)).withColumn(
            "__seq", F.lit(-1).cast("long")
        )
        batch = existing.unionByName(batch)
    w = Window.partitionBy(*keys).orderBy(F.col("__src").desc(), F.col("__seq").desc())
    return (
        batch.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "__src", "__seq")
    )


def upsert_batch_writer(table_dir: str, keys: list[str]):
    """Build a foreachBatch function that merges each micro-batch into the
    parquet serving table at ``table_dir`` keyed by ``keys``."""

    def write_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        existing = None
        if os.path.exists(os.path.join(table_dir, "_SUCCESS")):
            existing = spark.read.parquet(table_dir)
        merged = _merge_upsert(existing, batch, keys)
        # Stage-then-swap: parquet has no transactions, so write to a side
        # dir and atomically rename over the old table (Delta/Iceberg MERGE
        # replaces this dance in production).
        tmp = table_dir + ".staging"
        merged.write.mode("overwrite").parquet(tmp)
        final_tmp = table_dir + ".old"
        if os.path.exists(table_dir):
            os.rename(table_dir, final_tmp)
        os.rename(tmp, table_dir)
        if os.path.exists(final_tmp):
            import shutil

            shutil.rmtree(final_tmp)

    return write_batch


def materialize_stream_to_serving(
    result: DataFrame,
    table_dir: str,
    keys: list[str],
    checkpoint_dir: str,
):
    """Run an update-mode streaming aggregate into the parquet serving
    store via foreachBatch (availableNow; returns after draining input).

    Update mode emits only changed (window, key) rows per trigger
    (ref summarizer.py:107) — exactly what a keyed merge wants as input.
    """
    with stream_start_conf(result.sparkSession, checkpoint_dir):
        query = (
            result.writeStream.outputMode("update")
            .foreachBatch(upsert_batch_writer(table_dir, keys))
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    return query
