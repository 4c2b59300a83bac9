"""The streaming summarizer — the reference engine's core
(``/root/reference/summarizer.py``), as a parameterized Structured
Streaming pipeline.

Design: the aggregation logic is the SAME DataFrame transformation used in
batch (``operators.aggregations.daily_summary`` / ``review_daily_summary``)
— Structured Streaming incrementalizes the identical logical plan
(StateStoreRestore -> partial agg -> StateStoreSave per micro-batch,
SURVEY.md §3.1 step 4).  One query, two runtimes; no forked semantics.

Watermarking (SURVEY.md §2.6 T3): the reference sets NO watermark, so every
window stays open forever and any late row re-emits its day's aggregate —
faithful-mode here, and the property our replay tests assert (final state
== batch groupBy).  At 100 TB of stream state that is an anti-pattern, so
``watermark=`` bounds state; with it, append-mode emits each window once,
closed and final.

Checkpointing (T6): every start() takes a checkpoint dir — the
fault-tolerance unit (offsets WAL + state store), exactly as the reference
pins ``/tmp/spark_checkpoint_sentiment`` (summarizer.py:110).  Every start
site runs inside :func:`stream_start_conf`, which picks the checkpoint
file manager from the path:

* Spark's default manager writes each checkpoint file through Hadoop's
  ``FileContext``: create a temp file, set its permissions, rename it over
  the target.  Without libhadoop's native IO (the PyPI Spark build ships
  none) the local filesystem does each permission set and each link
  lookup during the rename by forking ``chmod`` / ``readlink`` — about 70
  child processes per trigger across the offset log, commit log, source
  log and state files.
* What that manager buys is an atomic rename on stores whose FileSystem
  rename is not atomic.  A POSIX rename is atomic, so on a local path
  (no scheme, or ``file:``) the ``FileSystem``-based manager gives the
  same guarantee without the forks.  Any other scheme keeps Spark's
  default; so does a session that names a manager itself.  The on-disk
  formats are identical, so a checkpoint restarts under either manager
  (pinned in tests/test_checkpoint_recovery.py), and state-file checksums
  still wrap whichever manager is chosen.

A checkpoint belongs to one run of one query.  The registry's replays
run through :func:`replay_to_memory_table`, the one owner of that run: it
mints the memory-table name and removes the checkpoint when the blocking
run returns.  Callers that restart a query, or read its state store back,
keep their own directory and call :func:`run_to_memory_table`.
"""

from __future__ import annotations

import itertools
import tempfile
from contextlib import contextmanager
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators.aggregations import daily_summary
from ..schemas import EVENT_SCHEMA

__all__ = [
    "events_file_stream",
    "streaming_daily_summary",
    "memory_table_name",
    "replay_to_memory_table",
    "run_to_memory_table",
    "stage_events_for_replay",
    "stream_start_conf",
]

# File-stream schema for STAGED events: stage_events_for_replay always
# writes ts as epoch-micros int64 (whatever the source parquet's physical
# timestamp encoding), so the streaming schema never drifts with testdata.
_EVENTS_STAGED_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), True),
        T.StructField("ts", T.LongType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)


def stage_events_for_replay(
    spark: SparkSession, sf_dir: str, out_dir: str, chunks: int = 4
) -> str:
    """Split the events table into ``chunks`` time-range files with strictly
    increasing modification times.

    The file stream source replays files in mtime order; writing all chunks
    in one job gives them identical mtimes and an arbitrary replay order,
    which makes whole chunks late under a watermark.  Sequential writes
    (one commit per range, with a small mtime gap) guarantee replay order
    == event-time order — what a real in-order source (Kafka per-partition)
    provides.
    """
    import time

    from ..session import ensure_parity_conf
    from ..sources.tables import event_ts_micros

    ensure_parity_conf(spark)
    # Normalize ts to epoch-micros long at staging time: approxQuantile needs
    # a numeric column, and the staged wire format stays stable no matter how
    # the source parquet encodes timestamps (nanos-long, micros, NTZ).
    raw = event_ts_micros(spark.read.parquet(f"{sf_dir}/events.parquet"))
    qs = raw.approxQuantile("ts", [i / chunks for i in range(1, chunks)], 0.0)
    # An EMPTY (or single-value) events table yields fewer than chunks-1
    # quantiles; pad so the staging still writes ``chunks`` files (the
    # extra ones empty) — replay consumers index chunk files positionally
    # (e.g. the redelivery stage replays parts[1]) and must not crash on
    # an empty partition of the lake.
    qs = list(qs) + [float("inf")] * (chunks - 1 - len(qs))
    bounds = [float("-inf"), *qs, float("inf")]
    for i in range(chunks):
        part = raw.filter(
            (F.col("ts") > F.lit(bounds[i])) & (F.col("ts") <= F.lit(bounds[i + 1]))
        )
        part.coalesce(1).write.mode("append").parquet(out_dir)
        time.sleep(0.05)
    return out_dir


def events_file_stream(
    spark: SparkSession, directory: str, max_files_per_trigger: int | None = 1
) -> DataFrame:
    """S3-equivalent for tests: a file stream over events-shaped parquet.

    Each file becomes (at most) one micro-batch — the replay harness for
    asserting streaming semantics without a Kafka broker.  Schema is
    declared, never inferred (streaming sources require it anyway).
    """
    from ..session import ensure_parity_conf

    ensure_parity_conf(spark)
    reader = spark.readStream.schema(_EVENTS_STAGED_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    df = reader.parquet(directory)
    return df.withColumn("ts", F.timestamp_micros(F.col("ts")))


def streaming_daily_summary(
    events: DataFrame,
    window_duration: str = "1 day",
    watermark: str | None = None,
    observe_name: str | None = None,
) -> DataFrame:
    """The reference's windowed aggregation over a *streaming* events frame.

    ``watermark=None`` is the faithful mode (unbounded state, late rows
    always merge — summarizer.py keeps every window live); pass e.g.
    ``"1 day"`` for the bounded-state production mode.

    ``observe_name`` attaches the standard ingest metrics
    (``streaming.metrics.ingest_metric_exprs``) as a named observation
    BEFORE the watermark, so each micro-batch's progress event reports
    counters over every ARRIVING row — including rows the watermark
    filter will drop downstream (those are accounted separately by
    ``stateOperators.numRowsDroppedByWatermark``).  Zero extra scans:
    observe rides the batch's own pass as accumulators.
    """
    if observe_name is not None:
        from .metrics import ingest_metric_exprs

        events = events.observe(observe_name, *ingest_metric_exprs())
    if watermark is not None:
        events = events.withWatermark("ts", watermark)
    return daily_summary(events, window_duration)


ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)

PROVIDER_CONF = "spark.sql.streaming.stateStore.providerClass"

CHANGELOG_CONF = (
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
)

CHECKPOINT_MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"

FS_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def checkpoint_file_manager(checkpoint_dir: str) -> str | None:
    """The checkpoint file manager class for ``checkpoint_dir``: the
    FileSystem-based one for a local path (no scheme, or ``file:``), None
    (Spark's default) for any other scheme — see the module docstring."""
    scheme = urlparse(checkpoint_dir).scheme.lower()
    return FS_CHECKPOINT_MANAGER if scheme in ("", "file") else None


@contextmanager
def stream_start_conf(
    spark: SparkSession, checkpoint_dir: str, conf: dict[str, str] | None = None
):
    """Set ``conf`` plus the checkpoint file manager for ``checkpoint_dir``
    on ``spark`` for the duration of the block; restore every key on exit,
    also when ``start()`` raises.

    These are session confs a query reads when it starts (and the state
    confs are then frozen into its checkpoint).  The query clones its
    session inside ``start()``, but a V1 source (the file stream) is built
    afterwards on the stream thread from the ORIGINAL session, so a
    blocking caller keeps the block open until ``awaitTermination()``
    returns; a caller that hands back a running query can only scope
    ``start()``.  A manager named in ``conf`` or already set on the
    session wins over the path's choice."""
    want = dict(conf or {})
    manager = checkpoint_file_manager(checkpoint_dir)
    if manager is not None and spark.conf.get(CHECKPOINT_MANAGER_CONF, None) is None:
        want.setdefault(CHECKPOINT_MANAGER_CONF, manager)
    prev = {k: spark.conf.get(k, None) for k in want}
    for k, v in want.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def _resolve_state_provider(
    rocksdb_state: bool | None, changelog_checkpoint: bool | None
) -> "tuple[bool, bool]":
    """Resolve the state-store flags from ``SPARK_GRAFT_STREAM_STATE``
    (``hdfs`` | ``rocksdb`` | ``rocksdb_changelog``; default ``hdfs``)
    where the caller left them None — see ``run_to_memory_table``.
    Raises ValueError for changelog checkpointing without RocksDB."""
    import os

    if rocksdb_state is None or changelog_checkpoint is None:
        env = os.environ.get("SPARK_GRAFT_STREAM_STATE", "hdfs").lower()
        if env not in ("hdfs", "rocksdb", "rocksdb_changelog"):
            raise ValueError(
                f"SPARK_GRAFT_STREAM_STATE={env!r}: expected hdfs | rocksdb"
                " | rocksdb_changelog"
            )
        if rocksdb_state is None:
            rocksdb_state = env.startswith("rocksdb")
        if changelog_checkpoint is None:
            changelog_checkpoint = rocksdb_state and env == "rocksdb_changelog"
    if changelog_checkpoint and not rocksdb_state:
        raise ValueError("changelog checkpointing is a RocksDB feature")
    return rocksdb_state, changelog_checkpoint


def run_to_memory_table(
    result: DataFrame,
    query_name: str,
    checkpoint_dir: str,
    output_mode: str = "complete",
    shuffle_partitions: int | None = None,
    rocksdb_state: bool | None = None,
    changelog_checkpoint: bool | None = None,
) -> DataFrame:
    """Run a streaming aggregate to completion (availableNow) into an
    in-memory table; returns the final table as a batch DataFrame.

    availableNow drains all currently-available input in micro-batches and
    stops — the deterministic replay used by tests and the driver-facing
    ``stream_daily_summary`` query.  complete-mode output == the compacted
    final state (emission traces are trigger-timing-dependent and never
    asserted; SURVEY.md §5.2).

    ``shuffle_partitions`` sizes the state store: a streaming aggregation
    runs one state task per shuffle partition EVERY micro-batch, and the
    count is frozen into the checkpoint at first start.  Size it to state
    volume (distinct group keys), not to the session's batch default — a
    small-cardinality aggregate at 32 partitions pays 32 state tasks per
    trigger for nothing.  Set for the run by :func:`stream_start_conf`
    and restored after, since it is read from session conf at query start.

    ``rocksdb_state=True`` swaps the state store for RocksDB — the 100 TB
    option when streaming state (no-watermark aggregates, big dedup key
    sets) outgrows executor heap: state lives on local SSD with
    incremental checkpointing, instead of as JVM objects.  Also frozen
    into the checkpoint at first start, hence set-and-restored here the
    same way.

    ``changelog_checkpoint=True`` (RocksDB only; ValueError without
    ``rocksdb_state``) switches the provider
    to CHANGELOG checkpointing: each commit uploads the delta of state
    changes instead of a full (or incremental-SST) snapshot, and
    recovery replays changelogs over the last snapshot — the knob that
    makes a LARGE-state sessionizer restartable at scale, because
    per-trigger checkpoint cost becomes proportional to the batch's
    state CHANGES, not the accumulated state size.  Restart-compatible
    both ways on the same checkpoint (Spark replays whichever files the
    commit log names — pinned in test_checkpoint_recovery.py).

    Both state-store flags default to the ``SPARK_GRAFT_STREAM_STATE``
    environment knob (``hdfs`` | ``rocksdb`` | ``rocksdb_changelog``;
    default ``hdfs``) when the caller does not pass them explicitly —
    the r17 scale-parameterization rule: the provider is a DEPLOYMENT
    setting, not a query property.  The local default is measured, not
    assumed: an in-session alternating A/B on the sessionization replay
    (3 reps, two of them at 0.2-1.8% hypervisor steal; PERF.md,
    state provider) put RocksDB+changelog at wall parity with the HDFS-backed
    store (min 5.43 vs 5.52 s, commit-time sum 2.2 vs 2.7 s per run) —
    at 1,500 fixed-width state rows the store never leaves the
    in-memory map regime, so the sandbox keeps the simpler provider,
    while a 100 TB deployment (state >> executor heap) flips the env
    var and gets changelog checkpointing without touching query code.
    """
    rocksdb_state, changelog_checkpoint = _resolve_state_provider(
        rocksdb_state, changelog_checkpoint
    )
    spark = result.sparkSession
    conf = {}
    if shuffle_partitions is not None:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if rocksdb_state:
        conf[PROVIDER_CONF] = ROCKSDB_PROVIDER
    if changelog_checkpoint:
        conf[CHANGELOG_CONF] = "true"
    with stream_start_conf(spark, checkpoint_dir, conf):
        query = (
            result.writeStream.format("memory")
            .queryName(query_name)
            .outputMode(output_mode)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
    return spark.table(query_name)


_memory_table_ids = itertools.count(1)


def memory_table_name(prefix: str) -> str:
    """``{prefix}_{n}``: a memory-sink query name no earlier run in this
    process has used."""
    return f"{prefix}_{next(_memory_table_ids)}"


def replay_to_memory_table(
    result: DataFrame,
    name_prefix: str,
    output_mode: str = "complete",
    shuffle_partitions: int | None = None,
) -> DataFrame:
    """One replay run: :func:`run_to_memory_table` under a fresh
    memory-table name and a checkpoint that lives only as long as the run.

    The checkpoint (offset and commit logs, state store) exists to restart
    this query.  Once the blocking availableNow run has returned nothing
    restarts it, and the returned table reads the memory sink's rows,
    which the driver holds, so the directory is removed on return, also
    when the run raises."""
    with tempfile.TemporaryDirectory(prefix="spark_graft_ckpt_") as checkpoint:
        return run_to_memory_table(
            result,
            memory_table_name(name_prefix),
            checkpoint,
            output_mode,
            shuffle_partitions=shuffle_partitions,
        )
