"""Custom stateful streaming operator (applyInPandasWithState
sessionization): closed sessions emitted by the stream must exactly match
the batch sessionize result for the same input — the streaming/batch
equivalence property, restricted to sessions the watermark has closed.
"""

from __future__ import annotations

import pytest

from bigdatapipeline_steamreviews_spark.operators.analytic import session_stats
from bigdatapipeline_steamreviews_spark.queries_streaming import (
    _stage_events_chunks_displaced,
)
from bigdatapipeline_steamreviews_spark.sources.tables import load_table
from bigdatapipeline_steamreviews_spark.streaming.sessions import (
    streaming_sessionize,
    streaming_sessionize_disordered,
)
from bigdatapipeline_steamreviews_spark.streaming.summarizer import (
    events_file_stream,
    run_to_memory_table,
    stage_events_for_replay,
)
from tests.conftest import SF_DIR

GAP = 1800


@pytest.fixture(scope="module")
def streamed_sessions(spark, tmp_path_factory):
    stage = str(tmp_path_factory.mktemp("sess_stage"))
    stage_events_for_replay(spark, SF_DIR, stage, chunks=4)
    stream = events_file_stream(spark, stage, max_files_per_trigger=1)
    result = streaming_sessionize(stream, gap_seconds=GAP, watermark="30 minutes")
    ckpt = str(tmp_path_factory.mktemp("sess_ckpt"))
    return run_to_memory_table(result, "sess_test", ckpt, "append").collect()


def test_streamed_sessions_match_batch(spark, streamed_sessions):
    batch = {
        (r.user_id, r.session_start_unix): r
        for r in session_stats(
            load_table(spark, SF_DIR, "events"), gap_seconds=GAP
        ).collect()
    }
    assert len(streamed_sessions) > 0
    for s in streamed_sessions:
        b = batch.get((s.user_id, s.session_start_unix))
        assert b is not None, f"streamed session not in batch: {s}"
        assert s.session_end_unix == b.session_end_unix
        assert s.duration_s == b.duration_s
        assert s.n_events == b.n_events
        # Streaming sums float64 per-session; batch sums exact decimal.
        assert s.total_value == pytest.approx(b.total_value, rel=1e-12)


def test_streamed_sessions_are_unique_and_closed(streamed_sessions):
    keys = [(s.user_id, s.session_start_unix) for s in streamed_sessions]
    # Append-mode: each closed session is emitted exactly once.
    assert len(keys) == len(set(keys))
    for s in streamed_sessions:
        assert s.session_end_unix >= s.session_start_unix
        assert s.n_events >= 1


@pytest.mark.parametrize(
    "delta_us",
    [0, 999, 1000, 1001, 2000, 3000],
    ids=["exact", "+999us", "+1ms", "+1ms1us", "+2ms", "+3ms"],
)
def test_session_timeout_boundary(spark, tmp_path, delta_us):
    """The registered oracle emits a user's LAST session iff
    (end + gap)*1000 + 1 < final watermark (ms) — mirroring the timeout
    timestamp the state function sets and Spark's STRICT < firing
    (timeouts fire when the watermark advances beyond the set timestamp,
    not at it).  Probe the final watermark at the exact timeout, +/-1 us
    and +/-1 ms around it: Spark's emitted set and the oracle predicate
    must agree at every offset, so a driver dataset landing on the
    boundary can't silently diverge (probed empirically in r5: emission
    starts at delta=+2ms on both sides)."""
    L = 1_699_920_000
    stage = str(tmp_path / "stage")
    schema = (
        "event_id long, ts long, user_id long, event_type string, "
        "value double, props string"
    )
    # user 1: lone event at L (session [L, L], closed only by timeout);
    # user 2: the probe event that drives the final watermark.
    max_ts_us = (L + 2 * GAP) * 10**6 + delta_us
    spark.createDataFrame(
        [(1, L * 10**6, 1, "click", 10.0, "{}")], schema
    ).coalesce(1).write.parquet(f"{stage}/f1.parquet")
    __import__("time").sleep(0.05)  # strictly later mtime: replay order is mtime order
    spark.createDataFrame(
        [(2, max_ts_us, 2, "click", 20.0, "{}")], schema
    ).coalesce(1).write.parquet(f"{stage}/f2.parquet")
    stream = events_file_stream(spark, f"{stage}/*", max_files_per_trigger=1)
    result = streaming_sessionize(stream, gap_seconds=GAP, watermark="30 minutes")
    df = run_to_memory_table(
        result,
        f"sess_boundary_{delta_us}",
        str(tmp_path / "ckpt"),
        "append",
        shuffle_partitions=2,
    )
    emitted_u1 = any(r.user_id == 1 for r in df.collect())
    wm_ms = max_ts_us // 1000 - GAP * 1000
    oracle_admits = (L + GAP) * 1000 + 1 < wm_ms
    assert emitted_u1 == oracle_admits, (
        f"delta_us={delta_us}: Spark emitted={emitted_u1} but oracle "
        f"admits={oracle_admits} — timeout boundary predicates diverged"
    )


def test_builtin_session_window_merges_at_exact_gap(spark, tmp_path):
    """Spark's built-in session_window MERGES an event arriving exactly
    gap seconds after the previous one (split iff diff > gap, micros
    precision) — the semantics the stream_session_window_builtin oracle
    mirrors (is_new: diff > gap).  Probed at gap, gap-1us, gap+1us."""
    from pyspark.sql import functions as F

    stage = str(tmp_path / "stage")
    schema = (
        "event_id long, ts long, user_id long, event_type string, "
        "value double, props string"
    )
    L = 1_699_920_000
    gap_us = 1800 * 10**6
    rows = [
        # user 1: second event exactly gap later -> ONE session
        (1, L * 10**6, 1, "click", 1.0, "{}"),
        (2, L * 10**6 + gap_us, 1, "click", 1.0, "{}"),
        # user 2: second event gap+1us later -> TWO sessions
        (3, L * 10**6, 2, "click", 1.0, "{}"),
        (4, L * 10**6 + gap_us + 1, 2, "click", 1.0, "{}"),
        # user 3: second event gap-1us later -> ONE session
        (5, L * 10**6, 3, "click", 1.0, "{}"),
        (6, L * 10**6 + gap_us - 1, 3, "click", 1.0, "{}"),
    ]
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
        f"{stage}/f1.parquet"
    )
    # far-future probe closes everything
    spark.createDataFrame(
        [(9, (L + 10 * 86_400) * 10**6, 9, "click", 1.0, "{}")], schema
    ).coalesce(1).write.parquet(f"{stage}/f2.parquet")

    stream = events_file_stream(spark, f"{stage}/*", max_files_per_trigger=1)
    agg = (
        stream.withWatermark("ts", "30 minutes")
        .groupBy(F.col("user_id"), F.session_window(F.col("ts"), "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    df = run_to_memory_table(
        agg, "sw_merge_probe", str(tmp_path / "ckpt"), "append",
        shuffle_partitions=2,
    )
    per_user = {}
    for r in df.collect():
        per_user.setdefault(r.user_id, []).append(r.n_events)
    assert sorted(per_user[1]) == [2]      # merged at exact gap
    assert sorted(per_user[2]) == [1, 1]   # split at gap + 1us
    assert sorted(per_user[3]) == [2]      # merged below gap


def test_sessionizer_checkpoint_restart(spark, tmp_path):
    """T6/T8 for the CUSTOM stateful op: stop the applyInPandasWithState
    sessionizer mid-replay, restart from the same checkpoint after more
    files arrive — recovered per-key state must continue sessions across
    the restart (no re-emission, no split), and the accumulated file-sink
    output must equal an uninterrupted run over the full input.  (File
    sink, not memory: the memory sink cannot recover an append-mode
    checkpoint.)"""
    import os
    import shutil

    schema = (
        "event_id long, ts long, user_id long, event_type string, "
        "value double, props string"
    )
    L = 1_699_920_000
    chunks = [
        # phase 1: user 1 session A starts; user 2 session starts
        [(1, L * 10**6, 1, "click", 1.0, "{}"),
         (2, (L + 60) * 10**6, 2, "click", 2.0, "{}")],
        # phase 1: session A continues (within gap)
        [(3, (L + 600) * 10**6, 1, "click", 3.0, "{}")],
        # phase 2 (after restart): session A CONTINUES across the restart
        # (gap from L+600 is 900 < 1800), then a far event closes it
        [(4, (L + 1500) * 10**6, 1, "click", 4.0, "{}")],
        [(5, (L + 86_400) * 10**6, 3, "click", 5.0, "{}")],
    ]

    def write_chunk(stage, i):
        spark.createDataFrame(chunks[i], schema).coalesce(1).write.parquet(
            f"{stage}/f{i}.parquet"
        )

    def run(stage, ckpt, out):
        stream = events_file_stream(spark, f"{stage}/*", max_files_per_trigger=1)
        result = streaming_sessionize(stream, gap_seconds=GAP, watermark="30 minutes")
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "2")
        try:
            q = (
                result.writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", ckpt)
                .outputMode("append")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
        return spark.read.parquet(out).collect()

    # Interrupted run: phase 1 (2 chunks), stop, phase 2 (2 more), resume
    # into the SAME checkpoint and output directory.
    stage_a = str(tmp_path / "stage_a")
    ckpt_a = str(tmp_path / "ckpt_a")
    out_a = str(tmp_path / "out_a")
    os.makedirs(stage_a)
    write_chunk(stage_a, 0)
    write_chunk(stage_a, 1)
    run(stage_a, ckpt_a, out_a)
    write_chunk(stage_a, 2)
    write_chunk(stage_a, 3)
    resumed = run(stage_a, ckpt_a, out_a)

    # Uninterrupted twin over the identical file set, fresh checkpoint.
    stage_b = str(tmp_path / "stage_b")
    os.makedirs(stage_b)
    for i in range(4):
        shutil.copytree(f"{stage_a}/f{i}.parquet", f"{stage_b}/f{i}.parquet")
    single = run(stage_b, str(tmp_path / "ckpt_b"), str(tmp_path / "out_b"))

    key = lambda r: (r.user_id, r.session_start_unix)  # noqa: E731
    row = lambda r: (key(r), r.session_end_unix, r.n_events, r.total_value)  # noqa: E731
    assert sorted(map(row, resumed)) == sorted(map(row, single))
    # The restart-spanning session must be ONE session of 3 events —
    # state was recovered, not reset.
    spanning = [r for r in resumed if r.user_id == 1]
    assert len(spanning) == 1 and spanning[0].n_events == 3
    assert spanning[0].session_start_unix == L
    assert spanning[0].session_end_unix == L + 1500


@pytest.mark.parametrize(
    "residue_us,wm_delta_us,expect_emitted",
    [
        (0, -1, False), (0, 0, True), (0, 1000, True),
        (500, -500, False), (500, 0, False), (500, 500, True),
    ],
    ids=["r0-1us", "r0-exact", "r0+1ms", "r500-at-floor", "r500-at-ms", "r500-past"],
)
def test_builtin_session_emission_boundary(
    spark, tmp_path, residue_us, wm_delta_us, expect_emitted
):
    """Spark evicts a built-in session window iff session end (micros) <=
    watermark (ms-floored, scaled to micros) — NOT end floored to ms: a
    session end with sub-ms residue landing inside (wm, wm+1ms) is
    withheld.  The registered oracle compares in micros for exactly this
    reason; probe both zero-residue and 500us-residue ends around the
    boundary and assert Spark and the oracle predicate agree."""
    from pyspark.sql import functions as F

    L = 1_699_920_000
    schema = (
        "event_id long, ts long, user_id long, event_type string, "
        "value double, props string"
    )
    end_us = L * 10**6 + residue_us + GAP * 10**6
    max_ts_us = end_us + GAP * 10**6 + wm_delta_us
    stage = str(tmp_path / "stage")
    spark.createDataFrame(
        [(1, L * 10**6 + residue_us, 1, "click", 1.0, "{}")], schema
    ).coalesce(1).write.parquet(f"{stage}/f1.parquet")
    __import__("time").sleep(0.05)  # strictly later mtime: replay order is mtime order
    spark.createDataFrame(
        [(2, max_ts_us, 2, "click", 1.0, "{}")], schema
    ).coalesce(1).write.parquet(f"{stage}/f2.parquet")
    stream = events_file_stream(spark, f"{stage}/*", max_files_per_trigger=1)
    agg = (
        stream.withWatermark("ts", "30 minutes")
        .groupBy(F.col("user_id"), F.session_window(F.col("ts"), "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    qname = f"swb_{residue_us}_{wm_delta_us}".replace("-", "m")
    df = run_to_memory_table(
        agg, qname, str(tmp_path / "ckpt"),
        "append", shuffle_partitions=2,
    )
    emitted = any(r.user_id == 1 for r in df.collect())
    wm_ms = max_ts_us // 1000 - GAP * 1000
    oracle_admits = end_us <= wm_ms * 1000  # the registered oracle's WHERE
    assert emitted == oracle_admits == expect_emitted, (
        f"residue={residue_us} wm_delta={wm_delta_us}: spark={emitted} "
        f"oracle={oracle_admits} expected={expect_emitted}"
    )


# ---------------------------------------------------------------------------
# The sessionizer's pure per-key core
# ---------------------------------------------------------------------------


def test_advance_open_session_core_is_shared_and_pure():
    """The numpy session-split core streaming_sessionize's state
    function drives, covered here WITHOUT a stream."""
    import numpy as np

    from bigdatapipeline_steamreviews_spark.streaming.sessions import (
        _advance_open_session,
    )

    unix = np.array([100, 200, 5000, 5100, 99999], dtype="int64")
    vals = np.array([1, 2, 3, 4, 5], dtype="int64")
    # no carried state: three runs at gap=1800 -> two closed, last open
    closed, new_open = _advance_open_session(unix, vals, None, 1800)
    assert closed == ([100, 5000], [200, 5100], [2, 2], [3, 7])
    assert new_open == (99999, 99999, 1, 5)
    # carried open session that the first event continues
    closed2, open2 = _advance_open_session(
        unix[:2], vals[:2], (50, 90, 3, 10), 1800
    )
    assert closed2 == ([], [], [], [])
    assert open2 == (50, 200, 5, 13)
    # carried open session the first event does NOT continue -> it closes
    closed3, open3 = _advance_open_session(
        unix[:1], vals[:1], (1, 2, 1, 9), 30
    )
    assert closed3 == ([1], [2], [1], [9])
    assert open3 == (100, 100, 1, 1)


# ---------------------------------------------------------------------------
# Round-8 disorder audit: the ordering contract and its tolerant twin
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def displaced_stage(spark):
    """The shared registry staging: 4 time-chunk replay files where a
    content-hash-selected 10% of events ARRIVE one chunk late (event time
    unchanged) — per-key event-time order broken ACROSS micro-batches."""
    return _stage_events_chunks_displaced(spark, SF_DIR)


def _batch_sessions(spark):
    return {
        (r.user_id, r.session_start_unix): (
            r.session_end_unix,
            r.n_events,
            round(r.total_value, 6),
        )
        for r in session_stats(
            load_table(spark, SF_DIR, "events"), gap_seconds=GAP
        ).collect()
    }


def test_fixed_width_sessionizer_requires_inorder_delivery(
    spark, displaced_stage, tmp_path
):
    """The ordering contract is REAL, not theoretical: under cross-batch
    disorder the O(1)-state operator diverges from batch (a straggler
    older than the carried `last` cannot be placed against compressed
    state).  If this test ever finds zero divergence, the operator became
    disorder-tolerant and the contract text + the `_disordered` twin
    should be revisited."""
    stage, _ = displaced_stage
    stream = events_file_stream(spark, stage, max_files_per_trigger=1)
    result = streaming_sessionize(stream, gap_seconds=GAP, watermark="365 days")
    got = run_to_memory_table(
        result, "sess_contract", str(tmp_path / "ck"), "append"
    ).collect()
    batch = _batch_sessions(spark)
    diverged = sum(
        1
        for s in got
        if batch.get((s.user_id, s.session_start_unix))
        != (s.session_end_unix, s.n_events, round(s.total_value, 6))
    )
    assert diverged > 0


def test_disordered_sessionizer_is_exact_under_displacement(
    spark, displaced_stage, tmp_path
):
    """The buffered twin's whole point: with the watermark sized past the
    displacement, every session it finalizes under disorder is the exact
    batch session — bitwise totals included — and no phantom sessions
    appear."""
    stage, delay_days = displaced_stage
    stream = events_file_stream(spark, stage, max_files_per_trigger=1)
    result = streaming_sessionize_disordered(
        stream, gap_seconds=GAP, watermark=f"{delay_days} days"
    )
    got = run_to_memory_table(
        result, "sess_disordered", str(tmp_path / "ck"), "append"
    ).collect()
    batch = _batch_sessions(spark)
    assert len(got) > 0
    for s in got:
        b = batch.get((s.user_id, s.session_start_unix))
        assert b is not None, f"phantom session: {s}"
        assert b == (s.session_end_unix, s.n_events, round(s.total_value, 6))


def test_disordered_sessionizer_matches_inorder_operator_on_ordered_input(
    spark, streamed_sessions, tmp_path
):
    """On IN-ORDER input the two operators must agree wherever both emit:
    the buffered twin finalizes only via watermark (no in-batch-split
    emission), so its output is a subset — but an exact one."""
    stage = str(tmp_path / "ordered_stage")
    stage_events_for_replay(spark, SF_DIR, stage, chunks=4)
    stream = events_file_stream(spark, stage, max_files_per_trigger=1)
    result = streaming_sessionize_disordered(
        stream, gap_seconds=GAP, watermark="30 minutes"
    )
    got = run_to_memory_table(
        result, "sess_disordered_ord", str(tmp_path / "ck"), "append"
    ).collect()
    fixed = {
        (r.user_id, r.session_start_unix): (r.session_end_unix, r.n_events)
        for r in streamed_sessions
    }
    assert len(got) > 0
    for s in got:
        b = fixed.get((s.user_id, s.session_start_unix))
        assert b is not None
        assert b == (s.session_end_unix, s.n_events)
