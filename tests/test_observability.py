"""In-flight observability (round 13): df.observe metrics riding the
pipeline's own pass, and StreamingQueryListener capture of per-batch
counters — including the watermark-drop accounting that no output-table
query can reveal (dropped rows never reach the output).

streaming/metrics.py; semantics notes there.  The batch observation is
separately DuckDB-oracled as the registered query obs_ingest_metrics.
"""

from __future__ import annotations

import inspect
import json
import os
import tempfile
import time

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from bigdatapipeline_steamreviews_spark.sources.tables import (
    event_ts_micros,
    load_table,
)
from bigdatapipeline_steamreviews_spark.streaming.metrics import (
    INGEST_OBS_NAME,
    StreamMetricsListener,
    _ProgressJsonBridge,
    ingest_metric_exprs,
    metric_identity_values,
    observation_result,
)
from bigdatapipeline_steamreviews_spark.streaming.summarizer import (
    events_file_stream,
    run_to_memory_table,
    streaming_daily_summary,
)
from tests.conftest import SF_DIR

DAY_US = 86_400 * 1_000_000
_qn = 0


def _fresh_name() -> str:
    global _qn
    _qn += 1
    return f"obs_stream_{_qn}"


def _stage_displaced(spark, chunks=4, late_mod=10, displacement=1):
    """The displaced replay from test_streaming.py: 4 event-time chunks,
    a content-hash-selected 1/late_mod of rows arriving ``displacement``
    chunks late.  displacement=2 is needed to produce watermark DROPS
    even at zero delay: the late-row filter lags the watermark by one
    batch (streaming/metrics.py), so a one-chunk straggler is always
    newer than the filter value — an exactly-one-trigger disorder is
    structurally safe, which is itself worth knowing."""
    stage = tempfile.mkdtemp(prefix="obs_displaced_")
    raw = event_ts_micros(spark.read.parquet(f"{SF_DIR}/events.parquet"))
    n = raw.count()
    ranked = raw.withColumn(
        "__chunk",
        F.least(
            F.lit(chunks - 1),
            F.floor(
                F.row_number().over(W.orderBy("ts", "event_id"))
                * chunks
                / (n + 1)
            ).cast("int"),
        ),
    )
    late = (
        F.pmod(F.xxhash64(F.lit("late"), F.col("event_id")), F.lit(late_mod))
        == 0
    )
    staged = ranked.withColumn(
        "__arrival",
        F.when(
            late, F.least(F.col("__chunk") + displacement, F.lit(chunks - 1))
        ).otherwise(F.col("__chunk")),
    )
    for i in range(chunks):
        staged.filter(F.col("__arrival") == i).drop(
            "__chunk", "__arrival"
        ).coalesce(1).write.mode("append").parquet(stage)
        time.sleep(0.05)
    return stage


def _staged_files_in_replay_order(stage: str) -> list[str]:
    files = [
        os.path.join(stage, f)
        for f in os.listdir(stage)
        if f.endswith(".parquet")
    ]
    return sorted(files, key=os.path.getmtime)


def _run_with_listener(spark, stage, watermark, output_mode):
    name = _fresh_name()
    listener = StreamMetricsListener(name)
    spark.streams.addListener(listener)
    try:
        stream = events_file_stream(spark, stage, max_files_per_trigger=1)
        result = streaming_daily_summary(
            stream, watermark=watermark, observe_name=INGEST_OBS_NAME
        )
        ckpt = tempfile.mkdtemp(prefix="obs_ckpt_")
        table = run_to_memory_table(result, name, ckpt, output_mode)
        assert listener.wait_terminated(), "listener never saw termination"
    finally:
        spark.streams.removeListener(listener)
    return table, listener


def test_observed_metrics_sum_to_batch_oracle(spark, staged_dir=None):
    """Per-batch observed counters, summed across the replay's
    micro-batches, equal one batch aggregate over the same rows — the
    observe path IS a real aggregate (accumulator-side), not an
    estimate.  Mirrors the DuckDB-oracled obs_ingest_metrics totals."""
    stage = _stage_displaced(spark)
    _, listener = _run_with_listener(
        spark, stage, watermark=None, output_mode="complete"
    )
    got = listener.observed_totals()
    truth = (
        spark.read.parquet(stage)
        .withColumn("ts", F.timestamp_micros(F.col("ts")))
        .agg(*ingest_metric_exprs())
        .first()
    )
    assert got["n_rows"] == truth["n_rows"] > 0
    assert got["n_null_user"] == truth["n_null_user"]
    assert got["n_null_value"] == truth["n_null_value"]
    assert got["n_purchase"] == truth["n_purchase"] > 0
    # Each batch's progress carried the observation (not just the sum).
    per_batch = [
        p["observedMetrics"][INGEST_OBS_NAME]["n_rows"]
        for p in listener.progresses
    ]
    assert len(per_batch) >= 4 and all(v >= 0 for v in per_batch)
    assert sum(per_batch) == truth["n_rows"]


def test_metric_identities_derive_from_exprs():
    """The zero-row fallback values come FROM the metric expressions
    (count -> 0, sum -> NULL), so adding a metric to
    ingest_metric_exprs can never silently drift from a hand-kept dict
    — the round-13 ADVICE hazard."""
    ids = metric_identity_values(ingest_metric_exprs())
    assert ids == {
        "n_rows": 0,
        "n_null_user": 0,
        "n_null_value": 0,
        "n_purchase": 0,
        "sum_value_dec": None,
    }
    # a new metric shows up with the right identity, no code change
    more = ingest_metric_exprs() + [
        F.count(F.when(F.col("value") < 0, 1)).alias("n_negative"),
        F.sum(F.col("value")).alias("sum_raw"),
    ]
    got = metric_identity_values(more)
    assert got["n_negative"] == 0 and got["sum_raw"] is None


def test_observation_result_zero_rows_via_private_probe(spark):
    """Classic PySpark path: an Observation over a plan that processed
    ZERO rows returns the aggregate identities instead of tripping the
    JVM row-conversion assert (the empty-corpus audit regression)."""
    from pyspark.sql import Observation

    exprs = ingest_metric_exprs()
    events = load_table(spark, SF_DIR, "events").filter(F.lit(False))
    obs = Observation()
    events.observe(obs, *exprs).write.format("noop").mode(
        "overwrite"
    ).save()
    assert observation_result(obs, exprs) == metric_identity_values(exprs)


def test_observation_result_survives_missing_private_handle(spark):
    """Internals-rename / Spark Connect degradation (round-13 ADVICE +
    verdict ask #7): with no usable ``_jo`` handle the helper must fall
    back to the PUBLIC ``obs.get``, mapping its zero-row conversion
    failure to the same identities — never an AttributeError."""
    exprs = ingest_metric_exprs()

    class _NoHandleZeroRows:
        # no _jo attribute at all (Spark Connect shape)
        @property
        def get(self):
            raise AssertionError("zero-row conversion assert")

    assert observation_result(_NoHandleZeroRows(), exprs) == (
        metric_identity_values(exprs)
    )

    class _RenamedHandlePopulated:
        # _jo exists but its shape changed: probe fails, public get wins
        class _JO:
            def getRow(self):
                raise RuntimeError("renamed internals")

        _jo = _JO()
        get = {"n_rows": 7}

    assert observation_result(_RenamedHandlePopulated(), exprs) == {
        "n_rows": 7
    }


def test_observation_result_populated_propagates_real_errors(spark):
    """With rows present (private probe says non-empty), a genuine
    ``get`` failure must PROPAGATE — the fallback is for the zero-row
    edge only, not a mask over real errors."""
    import pytest

    exprs = ingest_metric_exprs()

    class _PopulatedBroken:
        class _JO:
            class _Row:
                def size(self):
                    return 5

            def getRow(self):
                return self._Row()

        _jo = _JO()

        @property
        def get(self):
            raise RuntimeError("real failure")

    with pytest.raises(RuntimeError, match="real failure"):
        observation_result(_PopulatedBroken(), exprs)


def test_listener_drop_count_equals_late_row_oracle(spark):
    """stateOperators.numRowsDroppedByWatermark, captured by the
    listener under the displaced replay with a TIGHT watermark, equals
    an independently computed late-row count.

    Drop oracle (semantics pinned empirically, streaming/metrics.py):
    (1) the filter in batch j uses the watermark reported for batch
    j-1, which is max event time over batches 0..j-2 minus the delay —
    one batch LAGGED, so an exactly-one-trigger disorder never drops;
    (2) a group is dropped iff its window END is before that filter
    value; and (3) the counter counts rows AT THE STATE OPERATOR —
    after map-side partial aggregation — so with each chunk read as a
    single input partition the unit is distinct (window, event_type)
    groups among the late rows, not raw events.  The test computes the
    expectation from the staged chunk files alone (no listener data)
    and asserts both that drops occurred and that the counter equals
    the oracle exactly."""
    stage = _stage_displaced(spark, displacement=2)
    files = _staged_files_in_replay_order(stage)
    assert len(files) == 4

    # Expected drops, from the staged files only.  delay = 0 seconds.
    maxts = [
        spark.read.parquet(f).agg(F.max("ts")).first()[0] for f in files
    ]
    expected_lt = expected_le = 0
    win_end = ((F.floor(F.col("ts") / DAY_US) + 1) * DAY_US).alias("we")
    for j in range(2, len(files)):
        filter_wm = max(maxts[: j - 1])  # state through batch j-2
        chunk = spark.read.parquet(files[j])
        # The partial-aggregation unit: one staged file = one input
        # partition (precondition for the distinct-group oracle).
        assert chunk.rdd.getNumPartitions() == 1
        late_groups = chunk.select(win_end, "event_type").distinct()
        expected_lt += late_groups.filter(F.col("we") < F.lit(filter_wm)).count()
        expected_le += late_groups.filter(F.col("we") <= F.lit(filter_wm)).count()
    # No window boundary coincides with a filter watermark in this data,
    # so the oracle is insensitive to the <-vs-<= boundary convention.
    assert expected_lt == expected_le
    assert expected_lt > 0, "staging produced no droppable stragglers"

    _, listener = _run_with_listener(
        spark, stage, watermark="0 seconds", output_mode="update"
    )
    assert listener.dropped_by_watermark() == expected_lt
    # The arriving-row counters still saw EVERY row (observe sits before
    # the watermark filter): drops are accounted, not silently absorbed.
    n_staged = spark.read.parquet(stage).count()
    assert listener.observed_totals()["n_rows"] == n_staged


def test_listener_progresses_equal_recent_progress(spark, monkeypatch):
    """The one-call bridge captures exactly what the query reports: each
    progress dict equals ``json.loads`` of the query's own progress JSON,
    and PySpark's per-field event conversion never runs."""
    from pyspark.sql.streaming import listener as pyspark_listener

    converted = []
    real = pyspark_listener.QueryProgressEvent.fromJObject.__func__

    def counting(cls, jevent):
        converted.append(1)
        return real(cls, jevent)

    monkeypatch.setattr(
        pyspark_listener.QueryProgressEvent, "fromJObject", classmethod(counting)
    )
    name = _fresh_name()
    listener = StreamMetricsListener(name)
    spark.streams.addListener(listener)
    try:
        stream = events_file_stream(spark, _stage_displaced(spark), max_files_per_trigger=1)
        query = (
            streaming_daily_summary(stream, observe_name=INGEST_OBS_NAME)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("update")
            .option("checkpointLocation", tempfile.mkdtemp(prefix="obs_ckpt_"))
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
        assert listener.wait_terminated(), "listener never saw termination"
    finally:
        spark.streams.removeListener(listener)
    want = [json.loads(p.json) for p in query.recentProgress]
    assert len(want) >= 4
    assert listener.progresses == want
    assert converted == []


def test_listener_bridge_pyspark_internals_are_pinned(spark):
    """The bridge relies on PySpark internals: ``addListener`` registers
    ``listener._jlistener``, which PySpark builds as a JVM
    ``PythonStreamingQueryListenerWrapper`` around a py4j object
    implementing ``PythonStreamingQueryListener``.  If an upgrade moves
    any of these, fail here instead of silently falling back to the slow
    per-field conversion (or losing progress events)."""
    from pyspark.sql.streaming import StreamingQueryListener
    from pyspark.sql.streaming import listener as pyspark_listener
    from pyspark.sql.streaming.query import StreamingQueryManager

    assert isinstance(inspect.getattr_static(StreamingQueryListener, "_jlistener"), property)
    assert isinstance(inspect.getattr_static(StreamMetricsListener, "_jlistener"), property)
    stock = inspect.getsource(StreamingQueryListener._jlistener.fget)
    assert "PythonStreamingQueryListenerWrapper" in stock
    assert "listener._jlistener" in inspect.getsource(StreamingQueryManager.addListener)
    assert "listener._jlistener" in inspect.getsource(StreamingQueryManager.removeListener)
    assert (
        _ProgressJsonBridge.Java.implements
        == pyspark_listener.JStreamingQueryListener.Java.implements
        == ["org.apache.spark.sql.streaming.PythonStreamingQueryListener"]
    )
    iface = spark._jvm.java.lang.Class.forName(
        "org.apache.spark.sql.streaming.PythonStreamingQueryListener"
    )
    callbacks = {m.getName() for m in iface.getMethods()}
    assert callbacks == {
        "onQueryStarted", "onQueryProgress", "onQueryIdle", "onQueryTerminated"
    }
    listener = StreamMetricsListener(_fresh_name())
    spark.streams.addListener(listener)
    try:
        assert listener._jlistener.getClass().getName() == (
            "org.apache.spark.sql.streaming.PythonStreamingQueryListenerWrapper"
        )
    finally:
        spark.streams.removeListener(listener)
