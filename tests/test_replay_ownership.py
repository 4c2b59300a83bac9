"""A replay run owns its checkpoint (streaming/summarizer.py,
``replay_to_memory_table``): once a registered streaming query returns, no
checkpoint or sentinel scratch dir of its run is left in the temp dir, and
its result still reads, and still equals the DuckDB oracle, after the
directory is gone.  The derived replay stages keep their file names and
replay order.
"""

from __future__ import annotations

import os
import pathlib
import sys
import tempfile

import pytest

from bigdatapipeline_steamreviews_spark import REGISTRY, queries
from tests.conftest import SF_DIR

_RUN_SCRATCH = ("spark_graft_ckpt_", "pyds_review_ckpt_", "spark_graft_sentinel_")


def _left(root) -> list[str]:
    return sorted(f for f in os.listdir(root) if f.startswith(_RUN_SCRATCH))


@pytest.fixture
def own_tempdir(tmp_path, monkeypatch):
    """Point ``tempfile``'s default dir at a fresh directory."""
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    return tmp_path


def _assert_matches_oracle(name: str, got) -> None:
    sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent.parent / "scripts"))
    from verify_local import compare, duck_connect

    want = duck_connect(SF_DIR).execute(REGISTRY[name].oracle).fetchdf()
    assert compare(name, got, want) == []


@pytest.mark.parametrize(
    "name",
    [
        "stream_daily_summary",
        "stream_serving_materialization",
        "stream_pyds_serving_store",
        "stream_pyds_review_summary",
        "x3_ivf_pq_incremental",
    ],
)
def test_replay_leaves_no_checkpoint(spark, own_tempdir, name):
    df = queries()[name](spark, SF_DIR)
    assert _left(own_tempdir) == []
    got = df.toPandas()
    assert len(got) > 0
    _assert_matches_oracle(name, got)


def test_rocksdb_changelog_replay_leaves_no_checkpoint(spark, own_tempdir, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_STREAM_STATE", "rocksdb_changelog")
    df = queries()["stream_daily_summary"](spark, SF_DIR)
    assert _left(own_tempdir) == []
    _assert_matches_oracle("stream_daily_summary", df.toPandas())


def _replay_order(stage: str) -> list[str]:
    parts = [f for f in os.listdir(stage) if f.endswith(".parquet")]
    return sorted(parts, key=lambda f: os.path.getmtime(os.path.join(stage, f)))


def test_derived_stages_keep_replay_order_and_leave_no_scratch(
    spark, own_tempdir, monkeypatch
):
    from bigdatapipeline_steamreviews_spark import queries_streaming as qs

    monkeypatch.setattr(qs, "_STAGE_ROOT", str(own_tempdir / "stage"))
    base = _replay_order(qs._stage_events_chunks(spark, SF_DIR))
    assert len(base) == 4
    flush = qs._stage_events_with_flush_sentinels(spark, SF_DIR)
    duped = qs._stage_events_chunks_duped(spark, SF_DIR)
    assert _replay_order(flush) == base + ["zz_flush.parquet"]
    assert _replay_order(duped) == base + ["redelivered.parquet"]
    assert _left(own_tempdir) == []
