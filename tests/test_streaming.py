"""Streaming semantics tests (SURVEY.md §5.2): micro-batch replay of the
windowed aggregation, asserting final compacted state — never emission
traces (those are trigger-timing-dependent).
"""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from bigdatapipeline_steamreviews_spark.operators.aggregations import daily_summary
from bigdatapipeline_steamreviews_spark.sources.tables import load_table
from bigdatapipeline_steamreviews_spark.streaming.summarizer import (
    events_file_stream,
    run_to_memory_table,
    streaming_daily_summary,
)
from tests.conftest import SF_DIR

_qn = 0


def _stream_result(spark, stage_dir, watermark=None, output_mode="complete"):
    global _qn
    _qn += 1
    stream = events_file_stream(spark, stage_dir, max_files_per_trigger=1)
    result = streaming_daily_summary(stream, watermark=watermark)
    ckpt = tempfile.mkdtemp(prefix="ckpt_")
    return run_to_memory_table(result, f"t_stream_{_qn}", ckpt, output_mode)


@pytest.fixture(scope="module")
def staged_events(spark):
    """events split into 4 time-ordered replay files = 4 micro-batches."""
    from bigdatapipeline_steamreviews_spark.streaming.summarizer import (
        stage_events_for_replay,
    )

    return stage_events_for_replay(spark, SF_DIR, tempfile.mkdtemp(prefix="stage_"))


def test_stream_final_state_equals_batch(spark, staged_events):
    """No watermark (faithful T3): replayed stream's final state == batch
    groupBy of the same input, exactly."""
    streamed = _stream_result(spark, staged_events).orderBy("event_type", "time")
    batch = daily_summary(load_table(spark, SF_DIR, "events")).orderBy(
        "event_type", "time"
    )
    assert streamed.collect() == batch.collect()


def test_watermarked_append_emits_closed_windows_only(spark, staged_events):
    """Production mode: append emits a window once it's below the watermark;
    emitted rows must agree with batch values; the tail stays open."""
    streamed = _stream_result(spark, staged_events, watermark="1 day", output_mode="append")
    batch = daily_summary(load_table(spark, SF_DIR, "events"))
    s_rows = {(r.event_type, r.time): r for r in streamed.collect()}
    b_rows = {(r.event_type, r.time): r for r in batch.collect()}
    assert 0 < len(s_rows) < len(b_rows)  # something emitted, tail open
    for key, row in s_rows.items():
        assert row == b_rows[key]  # closed windows are final and exact


@pytest.mark.parametrize(
    "delta_us",
    [-2000, -1000, -1, 0, 1, 1000],
    ids=["-2ms", "-1ms", "-1us", "exact", "+1us", "+1ms"],
)
def test_watermark_close_boundary(spark, delta_us):
    """The watermarked-stream oracle predicate must agree with Spark's
    eviction AT the boundary: a window [start, end) is emitted iff
    end_ms <= floor(max_event_us/1000) - delay_ms.  Probes max event time
    at end + 1 day + delta for deltas straddling the boundary by 1 ms and
    1 us — a driver dataset landing exactly on a day boundary must not
    silently diverge (the pre-r5 predicate admitted end = watermark + 1 ms
    and failed at delta=-1ms/-1us)."""
    global _qn
    _qn += 1
    day0 = 1_699_920_000  # day-aligned epoch seconds
    end = day0 + 86_400   # day0 window end
    stage = tempfile.mkdtemp(prefix="wmb_")
    schema = (
        "event_id long, ts long, user_id long, event_type string, "
        "value double, props string"
    )
    max_ts_us = (end + 86_400) * 10**6 + delta_us
    spark.createDataFrame(
        [(1, day0 * 10**6 + 100, 1, "click", 10.0, "{}")], schema
    ).coalesce(1).write.parquet(f"{stage}/f1.parquet")
    __import__("time").sleep(0.05)  # strictly later mtime: replay order is mtime order
    spark.createDataFrame(
        [(2, max_ts_us, 1, "click", 20.0, "{}")], schema
    ).coalesce(1).write.parquet(f"{stage}/f2.parquet")
    emitted = _stream_result(
        spark, f"{stage}/*", watermark="1 day", output_mode="append"
    ).collect()
    day0_emitted = any(r.time.timestamp() == end for r in emitted)
    # The registered oracle's WHERE, in ms arithmetic (queries_streaming.py):
    oracle_admits = end * 1000 <= max_ts_us // 1000 - 86_400_000
    assert day0_emitted == oracle_admits, (
        f"delta_us={delta_us}: Spark emitted={day0_emitted} but oracle "
        f"admits={oracle_admits} — boundary predicates diverged"
    )


def test_late_data_updates_open_window(spark):
    """Out-of-order rows across micro-batches merge into their window when
    no watermark bounds state (T3: every window stays live forever)."""
    stage = tempfile.mkdtemp(prefix="late_")
    # Staged wire format: ts = epoch MICROS long (see _EVENTS_STAGED_SCHEMA).
    spark.createDataFrame(
        [(1, 1_700_000_000_000_000, 1, "click", 10.0, '{"k":1}')],
        "event_id long, ts long, user_id long, event_type string, value double, props string",
    ).coalesce(1).write.parquet(f"{stage}/f1.parquet")
    __import__("time").sleep(0.05)  # strictly later mtime: replay order is mtime order
    # second file: one row a full day LATER, plus one LATE row in day 1
    spark.createDataFrame(
        [
            (2, 1_700_000_000_000_000 + 86_400 * 10**6, 1, "click", 30.0, '{"k":1}'),
            (3, 1_700_000_000_000_000 + 1, 1, "click", 50.0, '{"k":1}'),
        ],
        "event_id long, ts long, user_id long, event_type string, value double, props string",
    ).coalesce(1).write.parquet(f"{stage}/f2.parquet")
    got = _stream_result(spark, f"{stage}/*").orderBy("time").collect()
    by_day = {r.time.day: r for r in got}
    days = sorted(by_day)
    assert len(days) == 2
    assert by_day[days[0]].T_events == 2  # late row merged into day-1 window
    assert by_day[days[0]].A_value == 30.0  # avg(10, 50)
    assert by_day[days[1]].T_events == 1


def test_rocksdb_state_store_matches_batch(spark, tmp_path):
    """The RocksDB state-store provider (the 100 TB large-state option)
    produces the identical final aggregate state as the default provider
    — swapping the state backend is semantics-free."""
    from pyspark.sql import functions as F

    from bigdatapipeline_steamreviews_spark.operators.aggregations import (
        daily_summary,
    )
    from bigdatapipeline_steamreviews_spark.queries_streaming import (
        _stage_events_chunks,
    )
    from bigdatapipeline_steamreviews_spark.sources.tables import load_table
    from bigdatapipeline_steamreviews_spark.streaming.summarizer import (
        events_file_stream,
        run_to_memory_table,
        streaming_daily_summary,
    )
    from tests.conftest import SF_DIR

    stage = _stage_events_chunks(spark, SF_DIR)
    stream = events_file_stream(spark, stage, max_files_per_trigger=2)
    result = streaming_daily_summary(stream, watermark=None)
    final = run_to_memory_table(
        result,
        "rocksdb_summary",
        str(tmp_path / "ckpt"),
        "complete",
        shuffle_partitions=8,
        rocksdb_state=True,
    )
    batch = daily_summary(load_table(spark, SF_DIR, "events"))
    assert final.count() == batch.count()
    sym_diff = final.exceptAll(batch).count() + batch.exceptAll(final).count()
    assert sym_diff == 0


def test_paced_event_stream_rate_source(spark):
    """S2 — the reference's paced replay (~100 rows/s, stream_generator.py:
    10-11) as a live `rate` source: events-shaped schema, deterministic
    per-tick columns, consumable by any streaming query in the package."""
    import time

    from bigdatapipeline_steamreviews_spark.sources.replay import paced_event_stream

    stream = paced_event_stream(spark, rows_per_second=500)
    assert stream.isStreaming
    assert [f.name for f in stream.schema.fields] == [
        "event_id", "ts", "user_id", "event_type", "value", "props",
    ]
    q = (
        stream.writeStream.format("memory")
        .queryName("paced_smoke")
        .outputMode("append")
        .trigger(processingTime="250 milliseconds")
        .start()
    )
    try:
        n = 0
        deadline = time.time() + 20
        while time.time() < deadline:
            n = spark.sql("SELECT count(*) AS c FROM paced_smoke").collect()[0].c
            if n >= 100:
                break
            time.sleep(0.3)
        assert n >= 100, f"only {n} rows arrived from the rate source"
        rows = spark.sql("SELECT * FROM paced_smoke LIMIT 50").collect()
        types = {"click", "view", "purchase", "signup", "error"}
        assert all(r.event_type in types for r in rows)
        assert all(0.0 <= r.value < 200.0 for r in rows)
        assert all(r.props.startswith('{"k":') for r in rows)
    finally:
        q.stop()


def test_checkpoint_restart_resumes_exactly_once(spark, tmp_path):
    """T6/T8: stop a streaming aggregation after it drains part of the
    input, then RESTART from the same checkpoint after more files arrive —
    the resumed query must recover its state store, skip the
    already-committed offsets (no double counting), process only the new
    files, and land on exactly the batch result over the full input."""
    stage = str(tmp_path / "stage")
    import os

    os.makedirs(stage)
    schema = (
        "event_id long, ts long, user_id long, event_type string, "
        "value double, props string"
    )
    base = 1_699_920_000 * 10**6
    day = 86_400 * 10**6

    def write_chunk(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            f"{stage}/{name}"
        )

    write_chunk("f1.parquet", [(1, base, 1, "click", 10.0, "{}")])
    write_chunk("f2.parquet", [(2, base + 1000, 2, "click", 20.0, "{}")])

    ckpt = str(tmp_path / "ckpt")

    def run(qname):
        stream = events_file_stream(spark, f"{stage}/*", max_files_per_trigger=1)
        result = streaming_daily_summary(stream, watermark=None)
        return run_to_memory_table(result, qname, ckpt, "complete")

    first = run("ckpt_restart_a").collect()
    assert sum(r.T_events for r in first) == 2  # drained f1+f2, stopped

    # More data arrives while the query is down: same window (state must
    # merge, not reset) AND a new window (new state must appear).
    write_chunk("f3.parquet", [(3, base + 2000, 1, "click", 30.0, "{}")])
    write_chunk("f4.parquet", [(4, base + day, 3, "click", 40.0, "{}")])

    resumed = run("ckpt_restart_b")
    batch = daily_summary(
        spark.read.parquet(f"{stage}/*").withColumn(
            "ts", F.timestamp_micros(F.col("ts"))
        )
    )
    assert sorted(resumed.collect()) == sorted(batch.collect())
    # 2 windows; day-1 window counts f1+f2+f3 exactly once each.
    by_time = {r.time: r.T_events for r in resumed.collect()}
    assert sorted(by_time.values()) == [1, 3]


def test_left_outer_stream_join_equals_batch_left_join(spark):
    """stream_click_abandonment at sf0.001: the drained outer stream-stream
    join must equal the batch LEFT JOIN (sentinels advance the watermark
    past every real click's window), with no sentinel rows in the output
    and both matched and null-matched clicks present."""
    from bigdatapipeline_steamreviews_spark.queries_streaming import (
        stream_click_abandonment,
    )
    from bigdatapipeline_steamreviews_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    got = stream_click_abandonment(spark, sf)

    e = load_table(spark, sf, "events")
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"),
        F.col("user_id").alias("c_user"),
        F.col("ts").alias("click_ts"),
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("purchase_ts"),
    )
    want = clicks.join(
        purchases,
        (F.col("p_user") == F.col("c_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") < F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
        "left_outer",
    ).select(
        "click_id",
        "purchase_id",
        F.col("c_user").alias("user_id"),
        F.unix_timestamp("click_ts").alias("click_unix"),
        F.unix_timestamp("purchase_ts").alias("purchase_unix"),
    )
    got_rows = sorted(map(tuple, got.collect()))
    want_rows = sorted(map(tuple, want.collect()))
    assert got_rows == want_rows
    assert all(r[2] >= 0 for r in got_rows)  # no sentinel users
    n_null = sum(1 for r in got_rows if r[1] is None)
    assert 0 < n_null < len(got_rows)  # both outcomes actually exercised


def test_streaming_ewma_equals_sequential_fold(spark):
    """stream_user_ewma at sf0.001: the streamed per-user final EWMA must
    equal a driver-side sequential fold over the same (ts, event_id)-
    ordered values — bitwise, across micro-batch boundaries."""
    from bigdatapipeline_steamreviews_spark.queries_streaming import stream_user_ewma
    from bigdatapipeline_steamreviews_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    got = {r["user_id"]: (r["ewma"], r["n_events"]) for r in stream_user_ewma(spark, sf).collect()}

    pdf = (
        load_table(spark, sf, "events")
        .filter(F.col("value").isNotNull())
        .select("user_id", "ts", "event_id", "value")
        .toPandas()
        .sort_values(["user_id", "ts", "event_id"])
    )
    want = {}
    for uid, grp in pdf.groupby("user_id"):
        acc, n = None, 0
        for v in grp["value"]:
            v = float(v)
            acc = v if acc is None else 0.5 * v + 0.5 * acc
            n += 1
        want[int(uid)] = (acc, n)
    assert got == want  # exact float equality, not approx


def test_displaced_replay_final_state_equals_batch(spark):
    """Corpus-scale late-arrival audit (round 8): a content-hash-selected
    10% of events ARRIVE one time-chunk late (arrival order != event
    time), so populated windows receive stragglers several triggers after
    they first aggregated.  In faithful mode (no watermark — every window
    stays live, summarizer.py's semantics) the replayed final state must
    equal the batch summary EXACTLY.  The crafted-row lateness tests pin
    single-window merges; this exercises cross-trigger merge at
    |days x types| scale through the real replay path."""
    import os
    import time

    from pyspark.sql import Window as W

    from bigdatapipeline_steamreviews_spark.sources.tables import event_ts_micros

    stage = tempfile.mkdtemp(prefix="displaced_")
    raw = event_ts_micros(
        spark.read.parquet(f"{SF_DIR}/events.parquet")
    )
    n = raw.count()
    chunks = 4
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
    late = F.pmod(F.xxhash64(F.lit("late"), F.col("event_id")), F.lit(10)) == 0
    arrival = F.when(
        late, F.least(F.col("__chunk") + 1, F.lit(chunks - 1))
    ).otherwise(F.col("__chunk"))
    staged = ranked.withColumn("__arrival", arrival)
    n_late = staged.filter(F.col("__arrival") != F.col("__chunk")).count()
    assert n_late > 0, "displacement mask is vacuous"
    for i in range(chunks):
        staged.filter(F.col("__arrival") == i).drop(
            "__chunk", "__arrival"
        ).coalesce(1).write.mode("append").parquet(stage)
        time.sleep(0.05)  # strictly later mtime: replay order is mtime order
    assert len([f for f in os.listdir(stage) if f.endswith(".parquet")]) == chunks

    streamed = _stream_result(spark, stage).orderBy("event_type", "time")
    batch = daily_summary(load_table(spark, SF_DIR, "events")).orderBy(
        "event_type", "time"
    )
    assert streamed.collect() == batch.collect()


def test_displaced_replay_watermarked_closed_windows_are_exact(spark):
    """The production-mode half of the displaced audit: with a watermark
    generous enough to cover the displacement (delay > the maximum
    event-time regression a straggler can arrive with), every window the
    stream CLOSES must already contain its stragglers — emitted rows are
    final, exact batch values; nothing late-within-tolerance is dropped."""
    import time

    from pyspark.sql import Window as W

    from bigdatapipeline_steamreviews_spark.sources.tables import event_ts_micros

    stage = tempfile.mkdtemp(prefix="displaced_wm_")
    raw = event_ts_micros(spark.read.parquet(f"{SF_DIR}/events.parquet"))
    n = raw.count()
    lo, hi = raw.agg(F.min("ts"), F.max("ts")).collect()[0]
    span_days = (hi - lo) / 86_400_000_000
    chunks = 4
    ranked = raw.withColumn(
        "__chunk",
        F.least(
            F.lit(chunks - 1),
            F.floor(
                F.row_number().over(W.orderBy("ts", "event_id")) * chunks / (n + 1)
            ).cast("int"),
        ),
    )
    late = F.pmod(F.xxhash64(F.lit("late"), F.col("event_id")), F.lit(10)) == 0
    staged = ranked.withColumn(
        "__arrival",
        F.when(late, F.least(F.col("__chunk") + 1, F.lit(chunks - 1))).otherwise(
            F.col("__chunk")
        ),
    )
    for i in range(chunks):
        staged.filter(F.col("__arrival") == i).drop("__chunk", "__arrival").coalesce(
            1
        ).write.mode("append").parquet(stage)
        time.sleep(0.05)

    # Max displacement: a straggler from chunk i lands among chunk i+1's
    # rows, whose in-order maximum is up to 2 chunk spans newer — delay of
    # half the corpus span (+1 day slack) retains every straggler while
    # still closing the older half of the windows.
    delay_days = int(span_days / 2) + 2
    streamed = _stream_result(
        spark, stage, watermark=f"{delay_days} days", output_mode="append"
    )
    batch = daily_summary(load_table(spark, SF_DIR, "events"))
    s_rows = {(r.event_type, r.time): r for r in streamed.collect()}
    b_rows = {(r.event_type, r.time): r for r in batch.collect()}
    assert 0 < len(s_rows) < len(b_rows)  # something closed, tail open
    for key, row in s_rows.items():
        assert row == b_rows[key]  # stragglers merged BEFORE close, exact


def _planted_corpus_dir(spark, doc_rows, emb_rows=None):
    """Write a tiny planted corpus (documents + optionally embeddings) to
    a cache dir KEYED ON A HASH OF THE PLANTED ROWS (r15 ADVICE
    test_streaming.py:507): the old fixed /tmp name + ``_DONE`` marker
    silently reused a stale corpus from a prior revision whenever the
    planted rows changed, turning an assertion-set update into a
    confusing mismatch — hashing the rows into the path makes the cache
    self-invalidating while still letting the source-fingerprint-keyed
    replay stages be reused across test runs (a tmp_path dir would mint
    a fresh fingerprint — and leak a fresh stream stage — every run)."""
    import hashlib
    import os
    import tempfile

    key = hashlib.md5(repr((doc_rows, emb_rows)).encode()).hexdigest()[:12]
    planted = os.path.join(
        tempfile.gettempdir(), f"spark_graft_sf_curation_{key}"
    )
    if not os.path.exists(os.path.join(planted, "_DONE")):
        spark.createDataFrame(
            doc_rows, "doc_id long, text string, source string"
        ).coalesce(1).write.mode("overwrite").parquet(
            f"{planted}/documents.parquet"
        )
        if emb_rows is not None:
            spark.createDataFrame(
                emb_rows, "vec_id long, embedding array<float>, label long"
            ).coalesce(1).write.mode("overwrite").parquet(
                f"{planted}/embeddings.parquet"
            )
        open(os.path.join(planted, "_DONE"), "w").close()
    return planted


def test_stream_curation_pipeline_all_stages_bite_on_planted_corpus(spark):
    """r15 (r14 verdict ask #3): the one-streaming-query curation
    pipeline on a PLANTED corpus where every stage provably drops
    something — on the driver corpora the digest stage happens to be
    vacuous (no cross-parity exact dup passes the Gopher rules), and a
    gate that compares survivors only there could green a broken stage
    (the vacuous-join trap, round-13).  Planted: a rules-failing doc, an
    exact cross-corpus dup, a near-dup (one token changed -> LSH band
    collision with the even corpus), a within-stream dup pair
    (n_copies=2), and a clean survivor.  The streaming final state must
    equal the registered DuckDB oracle on the same corpus, row for row."""
    import os

    import duckdb

    from bigdatapipeline_steamreviews_spark.queries_streaming import (
        stream_curation_pipeline,
    )
    from bigdatapipeline_steamreviews_spark.registry import (
        REGISTRY,
        _ensure_all_registered,
    )

    _ensure_all_registered()
    good = (
        "the quick brown fox jumps over a lazy dog and runs to the old "
        "river bank where many small animals of the forest gather during "
        "warm summer evenings to drink fresh water and rest under tall "
        "green trees before night falls over the quiet valley again"
    )  # 48 tokens, stopword-rich, mean len in bounds
    near = good.replace("valley", "meadow")
    other = (
        "a massive data pipeline is built from many streaming stages and "
        "each stage of the system must shuffle sort join filter and "
        "aggregate millions of records every single day to keep the "
        "serving tables fresh while analysts run countless queries over "
        "the warehouse looking for new insight in old numbers"
    )
    third = (
        "deep in the winter mountains a lone traveler walks slowly across "
        "frozen ridges and counts every star of the northern sky while "
        "cold wind carries distant sounds of wolves toward a small cabin "
        "where warm light promises shelter food and sleep after the long "
        "hard climb through snow drifts and silent pine woods"
    )
    fourth = (
        "the committee reviewed a detailed annual report about harvest "
        "yields and concluded that careful rotation of crops with better "
        "irrigation canals would raise output of grain by a wide margin "
        "while keeping the soil healthy for future seasons and the whole "
        "village agreed to fund new tools and shared storage barns"
    )
    rows = [
        (0, good, "web"),      # even: corpus member
        (2, other, "web"),     # even: corpus member
        (1, good, "web"),      # odd: exact dup of 0 -> digest stage drops
        (3, near, "web"),      # odd: near dup of 0 -> LSH stage drops
        (5, "too short to pass the rules", "web"),  # odd: Gopher drops
        (7, third, "web"),     # odd: unrelated -> survives
        (9, fourth, "web"),    # odd: within-stream dup a
        (11, fourth, "web"),   # odd: within-stream dup b
    ]
    planted = _planted_corpus_dir(spark, rows)

    got = {
        tuple(r)
        for r in stream_curation_pipeline(spark, planted)
        .select("content_hash", "doc_id", "n_copies", "n_tokens")
        .collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{planted}/documents.parquet/*.parquet')"
    )
    expected = {
        tuple(r)
        for r in con.execute(
            REGISTRY["stream_curation_pipeline"].oracle
        ).fetchall()
    }
    assert got == expected
    # every stage bit: survivors are exactly doc 7 (unique) and the 9/11
    # within-stream pair collapsed to one digest with n_copies=2
    by_doc = {r[1]: r for r in got}
    assert set(by_doc) == {7, 9}
    assert by_doc[9][2] == 2 and by_doc[7][2] == 1


def test_stream_curation_semantic_stage_bites_on_planted_corpus(spark):
    """r16 (r15 verdict ask #6): the semantic stage of the curation
    pipeline on a planted corpus where the stage PROVABLY drops a doc
    that every earlier stage passes — doc 7 survives rules/exact/LSH
    (unrelated text) but its embedding near-dups an even-corpus vector
    in the same centroid cluster (cosine ~0.99 >= 0.4), while doc 9's
    embedding sits below the threshold in its own cluster (kept) and
    doc 11 has NO embedding at all (must be kept — the null-cluster
    keep path).  Final state must equal the registered oracle on the
    same corpus, and differ from the LSH-only pipeline exactly by
    doc 7."""
    import os

    import duckdb

    from bigdatapipeline_steamreviews_spark.queries_streaming import (
        stream_curation_semantic,
    )
    from bigdatapipeline_steamreviews_spark.registry import (
        REGISTRY,
        _ensure_all_registered,
    )

    _ensure_all_registered()
    good = (
        "the quick brown fox jumps over a lazy dog and runs to the old "
        "river bank where many small animals of the forest gather during "
        "warm summer evenings to drink fresh water and rest under tall "
        "green trees before night falls over the quiet valley again"
    )
    other = (
        "a massive data pipeline is built from many streaming stages and "
        "each stage of the system must shuffle sort join filter and "
        "aggregate millions of records every single day to keep the "
        "serving tables fresh while analysts run countless queries over "
        "the warehouse looking for new insight in old numbers"
    )
    third = (
        "deep in the winter mountains a lone traveler walks slowly across "
        "frozen ridges and counts every star of the northern sky while "
        "cold wind carries distant sounds of wolves toward a small cabin "
        "where warm light promises shelter food and sleep after the long "
        "hard climb through snow drifts and silent pine woods"
    )
    fourth = (
        "the committee reviewed a detailed annual report about harvest "
        "yields and concluded that careful rotation of crops with better "
        "irrigation canals would raise output of grain by a wide margin "
        "while keeping the soil healthy for future seasons and the whole "
        "village agreed to fund new tools and shared storage barns"
    )
    doc_rows = [
        (0, good, "web"),    # even corpus member (cluster 0 exemplar)
        (2, other, "web"),   # even corpus member (cluster 1 exemplar)
        (1, good, "web"),    # odd: exact dup -> digest stage drops
        (7, third, "web"),   # odd: text-unique, but SEMANTIC near-dup of 2
        (9, fourth, "web"),  # odd: survives (cosine to cluster-0 even < 0.4)
        (11, fourth, "web"),  # odd: within-stream dup of 9, NO embedding
    ]
    e0 = [1.0] + [0.0] * 63                    # cluster-0 prototype (label 0)
    e2 = [0.0, 1.0] + [0.0] * 62               # cluster-1 prototype (label 1)
    e7 = [0.1, 0.9] + [0.0] * 62               # near e2: cosine ~0.993 -> drop
    e9 = [0.3, 0.0, 0.95] + [0.0] * 61         # cluster 0, cosine to e0 ~0.30
    emb_rows = [
        (0, e0, 0),
        (2, e2, 1),
        (7, e7, None),
        (9, e9, None),
    ]
    planted = _planted_corpus_dir(spark, doc_rows, emb_rows)

    got = {
        tuple(r)
        for r in stream_curation_semantic(spark, planted)
        .select("content_hash", "doc_id", "n_copies", "n_tokens")
        .collect()
    }
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{planted}/{t}.parquet/*.parquet')"
        )
    expected = {
        tuple(r)
        for r in con.execute(
            REGISTRY["stream_curation_semantic"].oracle
        ).fetchall()
    }
    assert got == expected
    # the semantic stage is what dropped doc 7: it passes rules + exact +
    # LSH (present in the LSH-only oracle's survivors), and 9/11 survive
    # as one digest group despite 11 having no embedding row.
    lsh_only = {
        r[1]
        for r in con.execute(
            REGISTRY["stream_curation_pipeline"].oracle
        ).fetchall()
    }
    by_doc = {r[1]: r for r in got}
    assert 7 in lsh_only and 7 not in by_doc
    assert set(by_doc) == {9}
    assert by_doc[9][2] == 2


def test_state_provider_env_resolution(monkeypatch):
    """SPARK_GRAFT_STREAM_STATE resolves the state-store flags when the
    caller leaves them None (r17: the provider is a deployment setting —
    100 TB flips the env var, query code stays identical); explicit args
    win, junk values fail loudly."""
    from bigdatapipeline_steamreviews_spark.streaming.summarizer import (
        _resolve_state_provider,
    )

    monkeypatch.delenv("SPARK_GRAFT_STREAM_STATE", raising=False)
    assert _resolve_state_provider(None, None) == (False, False)
    monkeypatch.setenv("SPARK_GRAFT_STREAM_STATE", "rocksdb")
    assert _resolve_state_provider(None, None) == (True, False)
    monkeypatch.setenv("SPARK_GRAFT_STREAM_STATE", "rocksdb_changelog")
    assert _resolve_state_provider(None, None) == (True, True)
    # explicit args always win over the env
    assert _resolve_state_provider(False, False) == (False, False)
    # an explicit non-rocksdb choice cannot inherit changelog from the env
    assert _resolve_state_provider(False, None) == (False, False)
    monkeypatch.setenv("SPARK_GRAFT_STREAM_STATE", "bogus")
    import pytest as _pytest

    with _pytest.raises(ValueError):
        _resolve_state_provider(None, None)


def test_changelog_checkpoint_without_rocksdb_raises(monkeypatch):
    """Changelog checkpointing is a RocksDB feature: asking for it on the
    HDFS-backed store is a ValueError (not an assert, which ``python -O``
    strips), whether the flag is explicit or the provider came from the
    env knob."""
    import pytest as _pytest

    from bigdatapipeline_steamreviews_spark.streaming.summarizer import (
        _resolve_state_provider,
    )

    monkeypatch.delenv("SPARK_GRAFT_STREAM_STATE", raising=False)
    with _pytest.raises(ValueError, match="RocksDB"):
        _resolve_state_provider(False, True)
    with _pytest.raises(ValueError, match="RocksDB"):
        _resolve_state_provider(None, True)
    monkeypatch.setenv("SPARK_GRAFT_STREAM_STATE", "rocksdb_changelog")
    assert _resolve_state_provider(None, True) == (True, True)
