"""Which checkpoint file manager a stream starts with, and that every start
site scopes it (streaming/summarizer.py, "Checkpointing (T6)").

A local checkpoint (plain path or ``file:`` URI) starts with the
FileSystem-based manager, which needs no forked ``chmod``/``readlink``
per file; any other scheme keeps Spark's default.  Each start site sets
the choice only around its own query: the session's conf is the same
after the site returns, also when ``start()`` raises.
"""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql.streaming import DataStreamWriter

from bigdatapipeline_steamreviews_spark.queries_streaming import (
    _stage_events_chunks,
    stream_pyds_serving_store,
)
from bigdatapipeline_steamreviews_spark.sources.kafka import write_kafka_stream
from bigdatapipeline_steamreviews_spark.streaming.serving_sink import (
    materialize_stream_to_serving,
)
from bigdatapipeline_steamreviews_spark.streaming.summarizer import (
    CHECKPOINT_MANAGER_CONF,
    FS_CHECKPOINT_MANAGER,
    checkpoint_file_manager,
    events_file_stream,
    run_to_memory_table,
    stream_start_conf,
    streaming_daily_summary,
)
from tests.conftest import SF_DIR

_FC_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileContextBasedCheckpointFileManager"
)
_qn = 0


def _fresh_name() -> str:
    global _qn
    _qn += 1
    return f"ckpt_manager_{_qn}"


def _checkpoint(kind: str) -> str:
    path = tempfile.mkdtemp(prefix="ckpt_manager_")
    return {"plain": path, "file-uri": f"file://{path}", "hdfs": "hdfs://namenode:8020/ckpt"}[kind]


def test_checkpoint_file_manager_follows_scheme():
    assert checkpoint_file_manager("/tmp/ckpt") == FS_CHECKPOINT_MANAGER
    assert checkpoint_file_manager("relative/ckpt") == FS_CHECKPOINT_MANAGER
    assert checkpoint_file_manager("file:///tmp/ckpt") == FS_CHECKPOINT_MANAGER
    assert checkpoint_file_manager("FILE:/tmp/ckpt") == FS_CHECKPOINT_MANAGER
    assert checkpoint_file_manager("hdfs://nn:8020/ckpt") is None
    assert checkpoint_file_manager("s3a://bucket/ckpt") is None


def test_stream_start_conf_scopes_and_yields_to_named_manager(spark):
    assert spark.conf.get(CHECKPOINT_MANAGER_CONF, None) is None
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    with stream_start_conf(spark, "/tmp/x", {"spark.sql.shuffle.partitions": "3"}):
        assert spark.conf.get(CHECKPOINT_MANAGER_CONF) == FS_CHECKPOINT_MANAGER
        assert spark.conf.get("spark.sql.shuffle.partitions") == "3"
    assert spark.conf.get(CHECKPOINT_MANAGER_CONF, None) is None
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev_parts
    # A manager named by the caller or by the session wins over the path.
    with stream_start_conf(spark, "/tmp/x", {CHECKPOINT_MANAGER_CONF: _FC_MANAGER}):
        assert spark.conf.get(CHECKPOINT_MANAGER_CONF) == _FC_MANAGER
    assert spark.conf.get(CHECKPOINT_MANAGER_CONF, None) is None
    spark.conf.set(CHECKPOINT_MANAGER_CONF, _FC_MANAGER)
    try:
        with stream_start_conf(spark, "/tmp/x"):
            assert spark.conf.get(CHECKPOINT_MANAGER_CONF) == _FC_MANAGER
        assert spark.conf.get(CHECKPOINT_MANAGER_CONF) == _FC_MANAGER
    finally:
        spark.conf.unset(CHECKPOINT_MANAGER_CONF)


@pytest.fixture
def started(monkeypatch):
    """Record every query the code under test starts."""
    queries = []
    real_start = DataStreamWriter.start

    def start(self, *args, **kwargs):
        q = real_start(self, *args, **kwargs)
        queries.append(q)
        return q

    monkeypatch.setattr(DataStreamWriter, "start", start)
    return queries


def _managers(query) -> set[str]:
    se = query._jsq.streamingQuery()
    return {
        se.offsetLog().fileManager().getClass().getName(),
        se.commitLog().fileManager().getClass().getName(),
    }


def _summary(spark):
    stage = _stage_events_chunks(spark, SF_DIR)
    return streaming_daily_summary(events_file_stream(spark, stage, max_files_per_trigger=2))


class _StartFailed(RuntimeError):
    pass


@pytest.fixture
def failing_start(monkeypatch, spark):
    """Make ``start()`` raise, recording the session's manager conf at
    the moment the query would have cloned it."""
    seen = []

    def start(self, *args, **kwargs):
        seen.append(spark.conf.get(CHECKPOINT_MANAGER_CONF, None))
        raise _StartFailed("start() failed")

    monkeypatch.setattr(DataStreamWriter, "start", start)
    return seen


def _start_site(name, spark, ckpt):
    if name == "run_to_memory_table":
        run_to_memory_table(_summary(spark), _fresh_name(), ckpt)
    elif name == "materialize_stream_to_serving":
        table_dir = tempfile.mkdtemp(prefix="ckpt_manager_serving_") + "/table"
        materialize_stream_to_serving(_summary(spark), table_dir, ["event_type", "time"], ckpt)
    elif name == "stream_pyds_serving_store":
        stream_pyds_serving_store(spark, SF_DIR)  # its own local checkpoint
    elif name == "write_kafka_stream":
        stage = _stage_events_chunks(spark, SF_DIR)
        write_kafka_stream(
            events_file_stream(spark, stage), "localhost:9092", "t", ckpt,
            output_mode="append",
        )


@pytest.mark.parametrize(
    "site,kind",
    [
        ("run_to_memory_table", "plain"),
        ("run_to_memory_table", "file-uri"),
        ("materialize_stream_to_serving", "plain"),
        ("stream_pyds_serving_store", "plain"),
    ],
)
def test_local_checkpoint_starts_with_filesystem_manager(spark, started, site, kind):
    ckpt = _checkpoint(kind)
    _start_site(site, spark, ckpt)
    assert _managers(started[-1]) == {FS_CHECKPOINT_MANAGER}
    assert spark.conf.get(CHECKPOINT_MANAGER_CONF, None) is None
    if site == "run_to_memory_table":
        # Spark's state-file checksums (ChecksumCheckpointFileManager: a
        # visible ``<file>.crc`` beside each state file) still wrap it.
        state_dir = os.path.join(ckpt.removeprefix("file://"), "state")
        names = [f for _, _, fs in os.walk(state_dir) for f in fs]
        assert any(f.endswith(".delta.crc") and not f.startswith(".") for f in names)


_SITES = ["run_to_memory_table", "materialize_stream_to_serving", "write_kafka_stream"]


@pytest.mark.parametrize(
    "site,kind",
    [(site, kind) for site in _SITES for kind in ("plain", "file-uri", "hdfs")]
    + [("stream_pyds_serving_store", "plain")],
)
def test_start_site_scopes_manager_even_when_start_raises(spark, failing_start, site, kind):
    ckpt = _checkpoint(kind)
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    with pytest.raises(_StartFailed):
        _start_site(site, spark, ckpt)
    want = None if kind == "hdfs" else FS_CHECKPOINT_MANAGER
    assert failing_start == [want]
    assert spark.conf.get(CHECKPOINT_MANAGER_CONF, None) is None
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev_parts
