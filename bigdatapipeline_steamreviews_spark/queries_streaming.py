"""Registered streaming queries: the reference's core pipeline run as a
real Structured Streaming job (file-source micro-batch replay, availableNow)
whose final state is compared against the SAME DuckDB oracle as the batch
flagship — the no-watermark equivalence property (SURVEY.md §2.6 T3) made
into a correctness gate.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .operators.aggregations import segment_daily_summary
from .operators.quality import (
    EVENTS_CHECKSUM_ORACLE_EXPR,
    events_checksum_row_hash,
)
from .queries_analytic import HLL_USERS_ORACLE, QSK_EVENTS_ORACLE
from .queries_text import _MINHASH_MINS as _MINHASH_MINS_SQL
from .registry import _sum_exact_sql, FLAGSHIP_ORACLE, register
from .sources.tables import load_table
from .streaming.sessions import streaming_sessionize
from .streaming.summarizer import (
    events_file_stream,
    memory_table_name,
    replay_to_memory_table,
    run_to_memory_table,
    stage_events_for_replay,
    stream_start_conf,
    streaming_daily_summary,
)

from .sources.staging import STREAM_STAGE_ROOT as _STAGE_ROOT


def _source_fingerprint(sf_dir: str) -> str:
    """Identity of the source events parquet (path + size + mtime;
    content-derived fallbacks for directory-style parquet and unstattable
    layouts).  The driver has regenerated the testdata in place between
    rounds (same path, new bytes); folding the fingerprint into the stage
    cache key makes a stale /tmp stage impossible rather than merely
    unlikely.  Shared with the dedup signature staging —
    :mod:`..sources.staging`."""
    from .sources.staging import source_fingerprint

    return source_fingerprint(sf_dir, "events")


def _stage_events_chunks(spark: SparkSession, sf_dir: str, chunks: int = 4) -> str:
    """Stage the events table as time-ordered replay chunks under /tmp —
    each file becomes one micro-batch.  Staged once per source fingerprint
    and reused (content is deterministic).

    Built in a temp dir and published atomically: the chunk writes are
    SEQUENTIAL append jobs (replay order = mtime order needs the gaps),
    and the first job already drops a ``_SUCCESS`` — appending straight
    into the final path would let a concurrent reader pass the
    completeness check against a 1-of-N-chunks stage.  The rename
    preserves file mtimes, so the replay order survives publishing."""
    from .sources.staging import publish_dir

    key = _source_fingerprint(sf_dir)
    # "_us" suffix versions the staged wire format (ts = epoch micros long);
    # prevents reuse of pre-round-4 nanos-format stage dirs left in /tmp.
    stage = os.path.join(_STAGE_ROOT, f"events_{key}_{chunks}_us")
    if not os.path.exists(os.path.join(stage, "_SUCCESS")):
        tmp = f"{stage}.build{os.getpid()}"
        stage_events_for_replay(spark, sf_dir, tmp, chunks)
        publish_dir(tmp, stage)
    return stage


def _stage_events_derived(
    spark: SparkSession, sf_dir: str, kind: str, add_later
) -> str:
    """A replay stage derived from :func:`_stage_events_chunks`: the base
    chunks copied in mtime order 50 ms apart, then whatever
    ``add_later(src, parts, build_dir)`` writes, which the file source
    replays last.  Staged once per source fingerprint as
    ``events_{kind}_{key}_us``, built in a temp dir and published
    atomically — two concurrent builders copying into one directory would
    overwrite each other's files and scramble the mtime ordering the
    replay depends on."""
    import shutil
    import time

    from .sources.staging import publish_dir

    src = _stage_events_chunks(spark, sf_dir)
    key = _source_fingerprint(sf_dir)
    out = os.path.join(_STAGE_ROOT, f"events_{kind}_{key}_us")
    if not os.path.exists(os.path.join(out, "_DONE")):
        tmp = f"{out}.build{os.getpid()}"
        os.makedirs(tmp, exist_ok=True)
        parts = sorted(
            (f for f in os.listdir(src) if f.endswith(".parquet")),
            key=lambda f: os.path.getmtime(os.path.join(src, f)),
        )
        for f in parts:
            shutil.copy(os.path.join(src, f), os.path.join(tmp, f))
            time.sleep(0.05)
        add_later(src, parts, tmp)
        open(os.path.join(tmp, "_DONE"), "w").close()
        publish_dir(tmp, out, marker="_DONE")
    return out


def _stage_events_chunks_duped(spark: SparkSession, sf_dir: str) -> str:
    """Replay staging with at-least-once delivery simulated: the time-
    ordered chunks, plus one chunk REDELIVERED at the end (a copy with a
    later mtime, so the file source replays it as a new micro-batch)."""
    import shutil

    def redeliver(src: str, parts: list, build: str) -> None:
        # The second chunk again: duplicate rows, arriving late.
        shutil.copy(
            os.path.join(src, parts[1]), os.path.join(build, "redelivered.parquet")
        )

    return _stage_events_derived(spark, sf_dir, "duped", redeliver)


def _events_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The time-ordered events replay (:func:`_stage_events_chunks`) as a
    file stream at 2 files per trigger: still a multi-micro-batch replay
    (cross-batch state is exercised), but half the per-trigger fixed cost
    — each trigger pays a state-store commit + Python-worker round per
    partition, so batching more input per trigger is the honest streaming
    tuning (final state is trigger-sizing-independent; profiled 2x
    faster)."""
    return events_file_stream(
        spark, _stage_events_chunks(spark, sf_dir), max_files_per_trigger=2
    )


def _run_stream(
    spark: SparkSession, sf_dir: str, watermark: str | None, output_mode: str
) -> DataFrame:
    result = streaming_daily_summary(
        _events_replay(spark, sf_dir), watermark=watermark
    )
    # State is 150 rows (days x event types), and the r16 profiling pass
    # measured the replay's wall as ~linear in triggers x state partitions
    # (~150 ms per state task per trigger: checkpoint delta write + store
    # commit; the 6x6 matrix is in PERF.md round 16).  2 partitions still
    # exercises multi-partition state merge while cutting the fixed cost
    # the session's batch default would pay 16x over (see
    # run_to_memory_table docstring: size state partitions to state
    # volume, not input volume — at arrival-rate-sized triggers the same
    # rule picks the big number instead).
    return replay_to_memory_table(
        result, "stream_summary", output_mode, shuffle_partitions=2
    )


@register(
    "stream_daily_summary",
    FLAGSHIP_ORACLE,
    ("A1", "T1", "T2", "T3", "T4", "T5", "S3"),
    "The reference summarizer as a live Structured Streaming job: 4-file "
    "micro-batch replay (availableNow), no watermark — final compacted "
    "state must equal the batch groupBy, checked against the same oracle "
    "as the batch flagship.",
)
def stream_daily_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run_stream(spark, sf_dir, watermark=None, output_mode="complete")


@register(
    "stream_daily_summary_watermarked",
    f"""
WITH summary AS ({FLAGSHIP_ORACLE})
SELECT * FROM summary
WHERE epoch_ms(time) <= (SELECT epoch_ms(max(ts)) FROM events) - 86400000
""",
    ("T3",),
    "Production mode: 1-day watermark bounds state; append mode emits each "
    "window once, closed and final.  The replay is event-time-ordered so "
    "nothing is ever late: the emitted set is exactly the batch summary "
    "restricted to watermark-closed windows — final watermark = floor(max "
    "event ms) - 1 day, and Spark evicts a window iff window.end <= "
    "watermark (probed empirically at the exact boundary, +/-1ms and "
    "+/-1us: tests/test_streaming.py::test_watermark_close_boundary).  An "
    "earlier revision used `epoch_ms(time) - 1 <=`, which wrongly admits "
    "a window whose end sits exactly 1 ms above the final watermark.",
)
def stream_daily_summary_watermarked(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _run_stream(spark, sf_dir, watermark="1 day", output_mode="append")


@register(
    "stream_dedup_daily_summary",
    FLAGSHIP_ORACLE,
    ("T7", "A1", "X1"),
    "Exactly-once semantics over at-least-once delivery: the replay "
    "redelivers a whole chunk (duplicate rows, arriving late), a "
    "streaming dropDuplicates(event_id) absorbs the redelivery, and the "
    "windowed aggregate's final state must STILL equal the batch result "
    "over the original input — the same oracle as the flagship.",
)
def stream_dedup_daily_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    stage = _stage_events_chunks_duped(spark, sf_dir)
    stream = events_file_stream(spark, stage, max_files_per_trigger=2)
    deduped = stream.dropDuplicates(["event_id"])
    result = streaming_daily_summary(deduped, watermark=None)
    return replay_to_memory_table(
        result, "stream_dedup", "complete", shuffle_partitions=8
    )


@register(
    "stream_dedup_bounded_state",
    FLAGSHIP_ORACLE,
    ("T7", "T3", "A1", "X1"),
    "The 100 TB version of streaming dedup: dropDuplicatesWithinWatermark "
    "keeps each event_id only until the watermark passes its event time, "
    "so dedup state is bounded by the disorder window instead of growing "
    "with the stream (plain dropDuplicates retains every key forever). "
    "The redelivered chunk arrives with event times already behind the "
    "watermark and is discarded as late before reaching the aggregate, so "
    "the final state still equals the batch result over the original "
    "input — the same oracle as the flagship.",
)
def stream_dedup_bounded_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    stage = _stage_events_chunks_duped(spark, sf_dir)
    stream = events_file_stream(spark, stage, max_files_per_trigger=2)
    deduped = stream.withWatermark("ts", "1 day").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    result = streaming_daily_summary(deduped, watermark=None)
    return replay_to_memory_table(
        result, "stream_dedup_wm", "complete", shuffle_partitions=8
    )


@register(
    "stream_sessionization",
    """
WITH marked AS (
  SELECT user_id, event_id, value, ts,
         CAST(floor(epoch(ts)) AS BIGINT) AS unix_ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR CAST(floor(epoch(ts)) AS BIGINT)
                   - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT user_id, unix_ts, value,
         CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS session_id
  FROM marked
),
stats AS (
  SELECT user_id, session_id,
         min(unix_ts) AS session_start_unix,
         max(unix_ts) AS session_end_unix,
         max(unix_ts) - min(unix_ts) AS duration_s,
         count(*) AS n_events,
         (CAST(sum(CAST(floor(coalesce(value, 0.0) * 100000000.0 + 0.5)
                        AS BIGINT)) AS DOUBLE) / 100000000.0) AS total_value
  FROM sessions GROUP BY user_id, session_id
),
wm AS (SELECT (SELECT epoch_ms(max(ts)) FROM events) - 1800000 AS wm_ms),
last_sid AS (SELECT user_id, max(session_id) AS m FROM stats GROUP BY user_id)
SELECT s.user_id, s.session_start_unix, s.session_end_unix, s.duration_s,
       s.n_events, s.total_value
FROM stats s JOIN last_sid l USING (user_id), wm
WHERE s.session_id < l.m
   OR (s.session_end_unix + 1800) * 1000 + 1 < wm.wm_ms
""",
    ("W*", "T3", "X*"),
    "Custom stateful streaming operator (applyInPandasWithState): gap-"
    "based session windows with per-key fixed-width state and event-time "
    "timeouts, emitting each session once when it closes.  The replay is "
    "event-time-ordered, so the emitted set is deterministic: every batch "
    "session except each user's last (closed by the next event), plus "
    "last sessions whose event-time timeout (last + gap, +1ms guard) fired "
    "strictly below the final watermark (max event ms - 30 min) — which is "
    "exactly what the oracle's WHERE selects.  total_value accumulates in "
    "exact integer 1e-8 units on both sides, so the hash match is bitwise. "
    "Batch parity is also asserted in tests/test_streaming_sessions.py.",
)
def stream_sessionization(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = _events_replay(spark, sf_dir)
    result = streaming_sessionize(stream, gap_seconds=1800, watermark="30 minutes")
    # Unlike the daily-summary aggregates (state = days x event types, 8
    # partitions ample), session state is per-USER — wide enough that the
    # Arrow state function's parallelism dominates the per-partition
    # trigger fixed cost.  Profiled at sf0.1: 16 -> 4.8 s vs 8 -> 6.4 s
    # vs 32 -> 5.1 s (best-of-3 each); state sizing tracks state width.
    return replay_to_memory_table(
        result, "stream_sessions", "append", shuffle_partitions=16
    )


@register(
    "stream_session_window_builtin",
    """
WITH marked AS (
  SELECT user_id, event_id, value, ts, epoch_us(ts) AS us,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT user_id, us, value,
         CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS sid
  FROM marked
),
stats AS (
  SELECT user_id, sid,
         min(us) AS start_us,
         max(us) AS end_us,
         count(*) AS n_events,
         sum(CAST(floor(coalesce(value, 0.0) * 100000000.0 + 0.5) AS BIGINT))
           AS total_q
  FROM sessions GROUP BY user_id, sid
),
wm AS (SELECT (SELECT epoch_ms(max(ts)) FROM events) - 1800000 AS wm_ms)
SELECT user_id,
       start_us // 1000000 AS session_start_unix,
       end_us // 1000000 AS session_end_unix,
       n_events,
       (CAST(total_q AS DOUBLE) / 100000000.0) AS total_value
FROM stats, wm
WHERE end_us + 1800000000 <= wm.wm_ms * 1000
""",
    ("W*", "T1", "T2", "T3"),
    "The Spark-NATIVE session operator: groupBy(user, session_window(ts, "
    "gap)) — what the engine uses when built-in semantics suffice, vs the "
    "custom applyInPandasWithState sessionizer (stream_sessionization) "
    "for custom state transitions.  Semantics probed empirically at the "
    "boundaries: an event exactly gap seconds after the previous MERGES "
    "(split iff diff > gap, micros precision), and append emits a session "
    "iff its window end (last + gap) <= the final watermark COMPARED IN "
    "MICROS (wm is ms-floored, then scaled; a session end with sub-ms "
    "residue in (wm, wm+1ms) is withheld — an earlier ms-floored oracle "
    "admitted it; probed at ±500us/±1ms in "
    "tests/test_streaming_sessions.py::test_builtin_session_emission_boundary). "
    "total_value accumulates in exact integer 1e-8 units on both sides.",
)
def stream_session_window_builtin(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = _events_replay(spark, sf_dir)

    from pyspark.sql import functions as F

    vq = F.floor(
        F.coalesce(F.col("value"), F.lit(0.0)) * F.lit(1e8) + F.lit(0.5)
    ).cast("long")
    result = (
        stream.withColumn("vq", vq)
        .withWatermark("ts", "30 minutes")
        .groupBy(F.col("user_id"), F.session_window(F.col("ts"), "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("vq").alias("total_q"))
        .select(
            "user_id",
            F.expr("unix_micros(session_window.start) div 1000000").alias(
                "session_start_unix"
            ),
            (
                F.expr("unix_micros(session_window.end) div 1000000") - F.lit(1800)
            ).alias("session_end_unix"),
            "n_events",
            (F.col("total_q").cast("double") / F.lit(1e8)).alias("total_value"),
        )
    )
    # Same state-sizing logic as the custom sessionizer: per-user session
    # state is wide, 16 partitions (see stream_sessionization).
    return replay_to_memory_table(
        result, "stream_sw_builtin", "append", shuffle_partitions=16
    )


@register(
    "stream_topn_users",
    """
SELECT user_id, total_value
FROM (
  SELECT user_id,
         (sum(CAST(value AS DECIMAL(28,10)))::VARCHAR)::DOUBLE AS total_value
  FROM events GROUP BY user_id
)
ORDER BY total_value DESC, user_id
LIMIT 10
""",
    ("O2", "T3", "S3"),
    "Streaming top-N maintenance: the running top-10 users by total value "
    "over the live replay — complete-mode streaming aggregation with "
    "sort + limit on the output side (allowed exactly because complete "
    "mode re-emits whole state; append/update cannot sort).  Final state "
    "must equal the batch top-10, decimal-exact totals and all — the "
    "leaderboard a serving layer reads after every trigger.",
)
def stream_topn_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from .functions.columns import sum_exact

    stream = _events_replay(spark, sf_dir)
    ranked = (
        stream.groupBy("user_id")
        .agg(sum_exact("value").alias("total_value"))
        .orderBy(F.col("total_value").desc(), F.col("user_id"))
        .limit(10)
    )
    return replay_to_memory_table(
        ranked, "stream_topn", "complete", shuffle_partitions=8
    )


def _stage_document_chunks(spark: SparkSession, sf_dir: str, chunks: int = 2) -> str:
    """Stage the ODD half of the documents table as doc_id-ordered replay
    chunks — the continuously-arriving ingest batch a curation pipeline
    dedups against its existing corpus (the even half).  Staged once per
    source fingerprint, published atomically (staging.publish_dir) like
    every other stage — a direct overwrite into the final path would let
    two concurrent builders interleave part files."""
    from .sources.staging import STAGE_VERSION, publish_dir

    key = _source_fingerprint_docs(sf_dir)
    stage = os.path.join(_STAGE_ROOT, f"docs_{key}_{chunks}_{STAGE_VERSION}")
    if not os.path.exists(os.path.join(stage, "_SUCCESS")):
        from pyspark.sql import functions as F

        docs = load_table(spark, sf_dir, "documents").filter(
            F.col("doc_id") % 2 == 1
        )
        n = docs.count()
        per = max(1, (n + chunks - 1) // chunks)
        bucket = (F.col("doc_id") / F.lit(2 * per)).cast("int")
        tmp = f"{stage}.build{os.getpid()}"
        docs.withColumn("__b", bucket).repartitionByRange(
            chunks, "__b"
        ).drop("__b").write.mode("overwrite").parquet(tmp)
        publish_dir(tmp, stage)
    return stage


def _source_fingerprint_docs(sf_dir: str) -> str:
    from .sources.staging import source_fingerprint

    return source_fingerprint(sf_dir, "documents")


@register(
    "stream_document_ingest_dedup",
    """
SELECT md5(d.text) AS content_hash,
       min(d.doc_id) AS doc_id,
       count(*) AS n_copies
FROM documents d
WHERE d.doc_id % 2 = 1 AND d.text IS NOT NULL
  AND md5(d.text) NOT IN (SELECT md5(text) FROM documents
                          WHERE doc_id % 2 = 0 AND text IS NOT NULL)
GROUP BY 1
""",
    ("T3", "T7", "X1", "J*", "S3"),
    "Continuous-ingest dedup — the streaming form of X1's incremental "
    "dedup: newly-arriving documents (streamed in micro-batches) are "
    "anti-joined against the EXISTING corpus's digest dictionary (a "
    "stream-static left-anti join: the static side is the persisted "
    "artifact, broadcast once per batch) and the survivors reduce to one "
    "row per new digest (min doc id + copy count) in a streaming "
    "aggregation.  Final complete-mode state must equal the batch "
    "formulation exactly — the streaming/batch equivalence gate applied "
    "to the curation pipeline's ingest edge.",
)
def stream_document_ingest_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    stage = _stage_document_chunks(spark, sf_dir)
    docs_schema = load_table(spark, sf_dir, "documents").schema
    stream = (
        spark.readStream.schema(docs_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    # NULL text is excluded SYMMETRICALLY: a NULL digest on the SQL side
    # poisons the whole NOT IN (three-valued logic collapses it to zero
    # rows), while the anti-join would silently keep such rows — so both
    # sides drop them before hashing.
    base_digests = (
        load_table(spark, sf_dir, "documents")
        .filter((F.col("doc_id") % 2 == 0) & F.col("text").isNotNull())
        .select(F.md5(F.col("text")).alias("content_hash"))
        .distinct()
    )
    fresh = (
        stream.filter(F.col("text").isNotNull())
        .select("doc_id", F.md5(F.col("text")).alias("content_hash"))
        .join(base_digests, "content_hash", "left_anti")
        .groupBy("content_hash")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )
    return replay_to_memory_table(
        fresh, "stream_doc_ingest", "complete", shuffle_partitions=8
    )


# Shared CTE block: stages 1-3 of the streaming curation pipeline's
# batch-composition oracle (Gopher rules -> exact dedup vs the even
# corpus -> cross-corpus MinHash-LSH band collisions).  Both curation
# registrations compose over this ONE string — the r16 semantic variant
# appends its centroid-assignment CTEs — so the shared stages can never
# drift apart between the two oracles.
_CURATION_CTES = (
    """
WITH gopher AS (
  SELECT doc_id, text,
         len(toks)::BIGINT AS n_tokens,
         len(toks) BETWEEN 40 AND 100000 AS f_word_count,
         (length(regexp_replace(text, ' ', '', 'g')) / greatest(len(toks), 1))
           BETWEEN 3.0 AND 8.0 AS f_mean_word_len,
         (len(list_filter(toks, t -> NOT regexp_matches(t, '[a-zA-Z0-9]')))
           / greatest(len(toks), 1)) <= 0.1 AS f_symbol_ratio,
         (len(list_filter(toks, t -> regexp_matches(t, '[a-zA-Z]')))
           / greatest(len(toks), 1)) >= 0.8 AS f_alpha_ratio,
         len(list_distinct(list_filter(toks,
           t -> t IN ('the','a','of','and','to','is')))) >= 2 AS f_stopwords
  FROM (SELECT doc_id, text, string_split(text, ' ') AS toks
        FROM documents WHERE text IS NOT NULL)
),
fresh AS (
  SELECT doc_id, n_tokens, md5(text) AS content_hash FROM gopher
  WHERE doc_id % 2 = 1 AND f_word_count AND f_mean_word_len
    AND f_symbol_ratio AND f_alpha_ratio AND f_stopwords
    AND md5(text) NOT IN (SELECT md5(text) FROM documents
                          WHERE doc_id % 2 = 0 AND text IS NOT NULL)
),
shingles AS (
  SELECT doc_id, unnest(list_distinct(
           [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks) - 1)]
         )) AS sh
  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents)
  WHERE len(toks) >= 3
),
sigs AS (
  SELECT doc_id,
         """
    + _MINHASH_MINS_SQL
    + """
  FROM shingles GROUP BY doc_id
),
bands AS (
  SELECT doc_id, 0 AS band, md5(h0 || '|' || h1) AS key FROM sigs
  UNION ALL SELECT doc_id, 1, md5(h2 || '|' || h3) FROM sigs
  UNION ALL SELECT doc_id, 2, md5(h4 || '|' || h5) FROM sigs
  UNION ALL SELECT doc_id, 3, md5(h6 || '|' || h7) FROM sigs
),
collided AS (
  SELECT DISTINCT b.doc_id
  FROM bands b JOIN bands c ON b.band = c.band AND b.key = c.key
  WHERE b.doc_id % 2 = 1 AND c.doc_id % 2 = 0
)"""
)


def _curation_lsh_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stages 1-3 of the streaming curation pipeline, shared by both
    curation registrations: the micro-batch document replay filtered by
    Gopher rules (map-only), exact-dedup'd against the even corpus's
    digest dictionary (stream-static broadcast anti-join), and LSH-
    dedup'd against the persisted band index (four chained per-band
    stream-static broadcast anti-joins).  Returns the streaming frame of
    surviving arrivals carrying (doc_id, content_hash, n_tokens)."""
    from pyspark.sql import functions as F

    from .operators.dedup import lsh_band_key, minhash_sig_frame
    from .operators.text import gopher_rules
    from .queries_text import _staged_bands

    stage = _stage_document_chunks(spark, sf_dir)
    docs_schema = load_table(spark, sf_dir, "documents").schema
    stream = (
        spark.readStream.schema(docs_schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    # Stage 1 — Gopher rules, map-only on the stream (gopher_rules already
    # drops NULL text, mirroring the oracle's scoreable-text scope).
    kept = (
        gopher_rules(stream)
        .filter(F.col("keep"))
        .select("doc_id", "text", "n_tokens")
    )
    # Stage 2 — exact dedup vs the existing corpus (even ids): digest
    # anti-join against the static dictionary, broadcast once per batch.
    # persist(): a stream-static join re-executes its static subtree on
    # EVERY micro-batch (each trigger re-plans and rebuilds the broadcast)
    # — without it this md5+distinct scan of half the corpus runs once per
    # trigger instead of once per query (r16, guide §5: reuse-justified
    # caching; the bench clears the cache between timed runs, so nothing
    # is amortized across invocations).
    base_digests = (
        load_table(spark, sf_dir, "documents")
        .filter((F.col("doc_id") % 2 == 0) & F.col("text").isNotNull())
        .select(F.md5(F.col("text")).alias("content_hash"))
        .distinct()
        .persist()
    )
    fresh = kept.withColumn("content_hash", F.md5(F.col("text"))).join(
        F.broadcast(base_digests), "content_hash", "left_anti"
    )
    # Stage 3 — cross-corpus LSH vs the persisted signature index: the
    # arrival's signature is the same map-only expression core the index
    # was built with; survival = NO band key collides, i.e. four chained
    # anti-joins (one per band — an exploded band table can't express
    # "none of my bands matched" on a stream without a second stateful
    # aggregation).
    sigs = minhash_sig_frame(
        fresh, carry=("content_hash", "n_tokens"), n=3, k=8
    )
    keys = sigs.select(
        "doc_id",
        "content_hash",
        "n_tokens",
        *[lsh_band_key(bi, 2).alias(f"key{bi}") for bi in range(4)],
    )
    even_bands = _staged_bands(spark, sf_dir, k=8, bands=4).filter(
        F.col("bid") % 2 == 0
    )
    # ONE persisted (band, key) dictionary instead of four per-band
    # persists (r17): the four dictionaries are disjoint slices of the
    # same distinct, so building them as one table costs one staged scan
    # + one shuffle + one cache entry where r16 paid four of each; every
    # micro-batch's four broadcast builds then read the same
    # InMemoryRelation.  Content per band is identical (filter and
    # distinct commute).  Still bounded: the whole band index is the
    # kB-sized train-once artifact.
    band_dict = even_bands.select("band", "key").distinct().persist()
    for bi in range(4):
        keys = keys.join(
            F.broadcast(
                band_dict.filter(F.col("band") == bi)
                .select(F.col("key").alias(f"key{bi}"))
            ),
            f"key{bi}",
            "left_anti",
        )
    return keys


@register(
    "stream_curation_pipeline",
    _CURATION_CTES
    + """
SELECT f.content_hash, min(f.doc_id) AS doc_id,
       count(*) AS n_copies, min(f.n_tokens) AS n_tokens
FROM fresh f LEFT JOIN collided c ON c.doc_id = f.doc_id
WHERE c.doc_id IS NULL
GROUP BY f.content_hash
""",
    ("T3", "T7", "X1", "X2", "X4", "J*", "S3"),
    "The curation pipeline as ONE STREAMING query (r14 verdict ask #3) — "
    "the continuous-ingest twin of x1_curation_pipeline, production "
    "order preserved: Gopher rule filter (map-only expressions on the "
    "stream) -> exact dedup vs the existing corpus's digest dictionary "
    "(stream-static broadcast anti-join) -> cross-corpus MinHash-LSH "
    "fuzzy dedup vs the PERSISTED signature index (per-arrival "
    "signatures are the shared map-only expression core "
    "minhash_sig_frame — zero shuffle, no groupBy — and band collisions "
    "are four chained stream-static broadcast anti-joins, one per band, "
    "so a doc survives iff NO band key matches the index) -> one "
    "streaming aggregation per content digest.  Final complete-mode "
    "state must equal the batch composition over the same corpus — the "
    "streaming/batch equivalence gate applied to the WHOLE curation "
    "pipeline, not just its ingest edge.  At 100 TB: every stage before "
    "the final agg is stateless map/broadcast work per micro-batch; the "
    "band index is the train-once artifact (staged parquet here, the "
    "lakehouse table at scale) and its per-band key dictionaries are "
    "bounded broadcasts.",
)
def stream_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    keys = _curation_lsh_survivors(spark, sf_dir)
    # Stage 4 — one streaming aggregation: final corpus state per digest.
    survivors = keys.groupBy("content_hash").agg(
        F.min("doc_id").alias("doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
        F.min("n_tokens").alias("n_tokens"),
    )
    return replay_to_memory_table(
        survivors, "stream_curation", "complete", shuffle_partitions=8
    )


def _staged_semantic_assignments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted (id, v double[], cluster, nrm) nearest-centroid
    assignment of every well-formed embedding — the train-once artifact
    the semantic curation stage probes (the SemDeDup assignment table;
    its batch twin is cached inside ``semantic_dedup_pairs``, whose
    docstring already notes 'cluster assignments are reused across
    curation runs' — this stages exactly that).  Centroids are the exact
    per-label prototypes (``label_centroids``, deterministic and
    oracle-expressible) and assignment is the shuffle-free broadcast
    argmin fold (``assign_to_centroids``), so the staged table is
    bitwise reproducible and ONE fingerprint-keyed build serves every
    run.

    ``nrm`` is each vector's L2 norm, precomputed at build time (the
    oracle's ``normed`` CTE, engine-side): the near-dup filter's cosine
    is then ONE dot-product fold per candidate pair instead of three —
    measured ~3x on the quadratic stage, the pipeline's cost center at
    probe scale — and the quotient is bit-identical because ``v`` and
    ``nrm`` are the prepared cosine's two columns (``cosine_prepare``,
    scored by ``cosine_prepared`` in ``stream_curation_semantic``)."""
    from .functions.columns import cosine_prepare
    from .operators.similarity import assign_to_centroids, label_centroids
    from .sources.staging import (
        source_fingerprint,
        stage_params_key,
        staged_parquet,
    )

    def build() -> DataFrame:
        emb = load_table(spark, sf_dir, "embeddings").filter(
            (F.size("embedding") == 64)
            & ~F.exists("embedding", lambda x: x.isNull())
        )
        cents = label_centroids(emb).select(
            F.col("label").alias("cluster"), "centroid"
        )
        v, nrm = cosine_prepare("__v", "v", "nrm")
        return assign_to_centroids(emb, cents, cluster_col="cluster").select(
            F.col("vec_id").alias("id"), v, "cluster", nrm
        )

    fp = source_fingerprint(sf_dir, "embeddings")
    pk = stage_params_key("sem_assign", 64, "nrm")
    return staged_parquet(spark, f"semasg_{pk}", fp, build)


# Semantic stage of the curation oracle: the x2_semantic_dedup CTE
# recipe (quantized exact-decimal label centroids -> per-vector argmin
# assignment with the (dist, cluster) tie-break) over the embeddings
# table, then an arriving doc is dropped iff SOME even-corpus vector in
# its cluster has cosine >= 0.4 with it — the cross-corpus (odd vs even)
# form of the batch pairs query, NULL-safe by construction (a doc with
# no well-formed embedding has no `assigned` row, joins nothing, and is
# kept — mirrored by the engine's left join + null cluster).  Two
# value-preserving cost cuts keep the oracle probe-scale-feasible: the
# pair set restricts to docs that actually REACH the semantic stage
# (presurv — drops for already-dropped docs are unobservable), and each
# vector's norm is computed once in `normed` instead of per pair (the
# same double sqrt(list_sum(...)) the per-pair _COS_EXPR form folds, so
# the quotient is bit-identical).
_SEMANTIC_DROP_CTES = """,
pos AS (
  SELECT label, u['pos'] AS pos, u['val'] AS val FROM (
    SELECT label, unnest([{'pos': i-1, 'val': embedding[i]}
                          for i in range(1, len(embedding)+1)]) AS u
    FROM (SELECT * FROM embeddings WHERE len(embedding) = 64 AND len(list_filter(embedding, x -> x IS NULL)) = 0) embeddings WHERE label IS NOT NULL)
),
per AS (
  SELECT label, pos,
         ((sum(CAST(floor(val::DOUBLE * 100000000.0 + 0.5) / 100000000.0
                    AS DECIMAL(28,10)))::VARCHAR)::DOUBLE)
           / count(val) AS m
  FROM pos GROUP BY 1, 2
),
cents AS (SELECT label AS cluster, list(m ORDER BY pos) AS centroid
          FROM per GROUP BY label),
e AS (SELECT vec_id AS id, list_transform(embedding, x -> x::DOUBLE) AS v
      FROM (SELECT * FROM embeddings WHERE len(embedding) = 64 AND len(list_filter(embedding, x -> x IS NULL)) = 0) embeddings),
d AS (
  SELECT id, v, cluster,
         list_sum(list_transform(list_zip(v, centroid),
           x -> (x[1] - x[2]) * (x[1] - x[2]))) AS dist
  FROM e, cents
),
assigned AS (
  SELECT id, v, cluster FROM (
    SELECT *, row_number() OVER (PARTITION BY id ORDER BY dist, cluster) AS r
    FROM d) WHERE r = 1
),
presurv AS (
  SELECT f.doc_id FROM fresh f LEFT JOIN collided c ON c.doc_id = f.doc_id
  WHERE c.doc_id IS NULL
),
normed AS (
  SELECT id, v, cluster,
         sqrt(list_sum(list_transform(v, x -> x::DOUBLE * x::DOUBLE))) AS nrm
  FROM assigned
),
semdrop AS (
  SELECT DISTINCT doc_id FROM (
    SELECT a.id AS doc_id,
           (list_sum(list_transform(list_zip(a.v, b.v), x -> x[1]::DOUBLE * x[2]::DOUBLE))
            / (a.nrm * b.nrm)) AS cosine
    FROM normed a JOIN presurv p ON p.doc_id = a.id
    JOIN normed b ON b.cluster = a.cluster AND b.id % 2 = 0
  ) WHERE cosine >= 0.4
)"""


@register(
    "stream_curation_semantic",
    _CURATION_CTES
    + _SEMANTIC_DROP_CTES
    + """
SELECT f.content_hash, min(f.doc_id) AS doc_id,
       count(*) AS n_copies, min(f.n_tokens) AS n_tokens
FROM fresh f LEFT JOIN collided c ON c.doc_id = f.doc_id
             LEFT JOIN semdrop s ON s.doc_id = f.doc_id
WHERE c.doc_id IS NULL AND s.doc_id IS NULL
GROUP BY f.content_hash
""",
    ("T3", "T7", "X1", "X2", "X3", "X4", "J*", "S3"),
    "The streaming curation pipeline extended with the SEMANTIC stage "
    "(r15 verdict ask #6): after Gopher rules, exact dedup, and cross-"
    "corpus LSH, each arriving doc is looked up in the PERSISTED "
    "SemDeDup assignment table (stream-static broadcast join on doc id "
    "— the sandbox stand-in for embedding the arrival map-side), "
    "assigned its nearest label-centroid cluster, and dropped iff some "
    "EXISTING-corpus (even-id) vector in the same cluster has cosine "
    ">= 0.4 with it — one stream-static broadcast ANTI-join whose "
    "condition is (cluster equality AND exact-fold cosine >= 0.4), the "
    "cross-corpus form of x2_semantic_dedup's intra-cluster pairs.  "
    "Still stateless before the one final streaming agg: the assignment "
    "table and the even-corpus (cluster, vector) side are bounded "
    "broadcasts, the intra-cluster restriction keeps the per-arrival "
    "comparison count at |cluster| not |corpus| (the SemDeDup "
    "tractability argument, applied per micro-batch).  Final complete-"
    "mode state must equal the batch composition — the same oracle "
    "extended with the x2_semantic_dedup centroid/assignment CTEs. "
    "queries_streaming.py::_staged_semantic_assignments.",
)
def stream_curation_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from .functions.columns import cosine_prepared

    keys = _curation_lsh_survivors(spark, sf_dir)
    # ONE persist of the staged assignment table serves BOTH static sides
    # below (r17): the arrival-lookup projection and the even-corpus
    # candidate set are projections/filters of the same embedding-table-
    # sized artifact, and r16 cached each separately — two staged scans,
    # two cache copies.  Bounded as before (embedding-table-sized).
    asg = _staged_semantic_assignments(spark, sf_dir).persist()
    # Stage 3.5a — embedding lookup + cluster assignment for the arrival:
    # LEFT join (an arrival without a well-formed embedding keeps a NULL
    # cluster, which can never satisfy the anti-join condition => kept,
    # mirroring the oracle's no-assigned-row case).  The assignment
    # table is embedding-table-sized (not document-corpus-sized), so the
    # broadcast is bounded and cheap per micro-batch.
    arrivals = keys.join(
        F.broadcast(
            asg.select(
                F.col("id").alias("doc_id"),
                F.col("v").alias("__sv"),
                F.col("cluster").alias("__scl"),
                F.col("nrm").alias("__snrm"),
            )
        ),
        "doc_id",
        "left",
    )
    # The quadratic stage's parallelism comes from THIS shuffle: the
    # replay batch arrives in 1-2 file partitions, and every pre-agg
    # stage so far is narrow (map + broadcast joins), so without it the
    # per-arrival candidate scans below run in those 1-2 tasks (measured
    # 1 core busy and 53x wall at 30x volume; 12.8x after spreading).
    arrivals = arrivals.repartition(
        spark.sparkContext.defaultParallelism, F.col("doc_id")
    )
    # Stage 3.5b — semantic near-dup filter vs the EXISTING corpus: drop
    # the arrival iff some even-id vector in its cluster is within the
    # cosine threshold.  Broadcast hash anti-join (the candidate side is
    # embedding-table-sized), probing early-out per arrival; the cosine
    # is ONE dot-product fold against the staged norms (the prepared
    # cosine) — bit-identical to the per-pair cosine_similarity.
    # At 100 TB the candidate side is bounded the SemDeDup way — k grows
    # with the corpus so per-cluster candidate sets stay broadcast-sized;
    # this label-count-k sandbox variant is the same degenerate-k caveat
    # semantic_dedup_pairs documents.
    corpus_side = asg.filter(F.col("id") % 2 == 0).select(
        F.col("cluster").alias("__ecl"),
        F.col("v").alias("__ev"),
        F.col("nrm").alias("__enrm"),
    )
    survivors_rows = arrivals.join(
        F.broadcast(corpus_side),
        (F.col("__scl") == F.col("__ecl"))
        & (
            cosine_prepared("__sv", "__snrm", "__ev", "__enrm") >= F.lit(0.4)
        ),
        "left_anti",
    )
    survivors = survivors_rows.groupBy("content_hash").agg(
        F.min("doc_id").alias("doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
        F.min("n_tokens").alias("n_tokens"),
    )
    return replay_to_memory_table(
        survivors, "stream_curation_sem", "complete", shuffle_partitions=8
    )


def _click_purchase_join(spark: SparkSession, stage: str, how: str) -> DataFrame:
    """Purchases within the hour after a same-user click: a stream-stream
    ``how`` join of two replays of ``stage`` (2 files per trigger), each
    side watermarked 1 day so the watermark dominates the 1 h interval.
    ``user_id`` is the click's user, or the purchase's where a full outer
    join leaves the click side NULL (the join key is equal otherwise)."""

    def side(event_type: str, user_as: str) -> DataFrame:
        return (
            events_file_stream(spark, stage, max_files_per_trigger=2)
            .filter(F.col("event_type") == event_type)
            .select(
                F.col("event_id").alias(f"{event_type}_id"),
                F.col("user_id").alias(user_as),
                F.col("ts").alias(f"{event_type}_ts"),
            )
            .withWatermark(f"{event_type}_ts", "1 day")
        )

    return side("click", "c_user").join(
        side("purchase", "p_user"),
        (F.col("p_user") == F.col("c_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") < F.col("click_ts") + F.expr("INTERVAL 1 HOUR")),
        how,
    ).select(
        "click_id",
        "purchase_id",
        F.coalesce(F.col("c_user"), F.col("p_user")).alias("user_id"),
        F.unix_timestamp("click_ts").alias("click_unix"),
        F.unix_timestamp("purchase_ts").alias("purchase_unix"),
    )


@register(
    "stream_stream_click_purchase",
    """
SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id,
       CAST(floor(epoch(c.ts)) AS BIGINT) AS click_unix,
       CAST(floor(epoch(p.ts)) AS BIGINT) AS purchase_unix
FROM events c
JOIN events p
  ON p.user_id = c.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.ts >= c.ts AND p.ts < c.ts + INTERVAL 1 HOUR
""",
    ("J*", "T3", "S3"),
    "Stream-stream interval join: purchases attributed to same-user "
    "clicks within the preceding hour. Both sides are watermarked streams;"
    " the time band bounds each side's state. The replay is in event-time "
    "order and the watermark (1 day) dominates the interval (1 h), so no "
    "match is ever evicted early — the appended output equals the batch "
    "interval join, which is exactly what the oracle checks.",
)
def stream_stream_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    joined = _click_purchase_join(spark, _stage_events_chunks(spark, sf_dir), "inner")
    return replay_to_memory_table(
        joined, "stream_ss_join", "append", shuffle_partitions=8
    )


def _stage_events_with_flush_sentinels(spark: SparkSession, sf_dir: str) -> str:
    """The replay stage plus one far-future sentinel row PER JOIN SIDE
    (a click and a purchase, impossible negative user ids, ts = max + 7
    days) written as the final file: the sentinels flow through both
    sides' EventTimeWatermark operators and advance the global watermark
    past every real event's join window, so an OUTER stream-stream join
    can evict-and-emit all its unmatched rows before the replay drains.
    This is the standard punctuation/heartbeat pattern for finite replays
    of an outer join — a real Kafka deployment gets the same effect from
    per-partition heartbeat messages.  Sentinels are excluded from the
    result by their user ids, never by dropping them pre-watermark (a
    pre-watermark filter would stop them advancing the watermark).
    """
    import shutil
    import time

    from .streaming.summarizer import _EVENTS_STAGED_SCHEMA

    def add_sentinels(src: str, parts: list, build: str) -> None:
        max_ts = spark.read.parquet(src).agg(F.max("ts")).collect()[0][0]
        # Empty events partition -> max(ts) is NULL; any epoch works for
        # the sentinel then (there is no real data to flush past).
        flush_ts = int(max_ts or 0) + 7 * 24 * 3600 * 1_000_000
        with tempfile.TemporaryDirectory(prefix="spark_graft_sentinel_") as scratch:
            spark.createDataFrame(
                [
                    (-1, flush_ts, -999, "click", 0.0, "{}"),
                    (-2, flush_ts, -998, "purchase", 0.0, "{}"),
                ],
                _EVENTS_STAGED_SCHEMA,
            ).coalesce(1).write.mode("overwrite").parquet(scratch)
            part = next(f for f in os.listdir(scratch) if f.endswith(".parquet"))
            time.sleep(0.05)  # strictly later mtime => sentinel replays LAST
            shutil.copy(
                os.path.join(scratch, part), os.path.join(build, "zz_flush.parquet")
            )

    return _stage_events_derived(spark, sf_dir, "flush", add_sentinels)


@register(
    "stream_click_abandonment",
    """
SELECT c.event_id AS click_id, c.user_id,
       CAST(floor(epoch(c.ts)) AS BIGINT) AS click_unix,
       p.event_id AS purchase_id,
       CAST(floor(epoch(p.ts)) AS BIGINT) AS purchase_unix
FROM events c
LEFT JOIN events p
  ON p.user_id = c.user_id
 AND p.event_type = 'purchase'
 AND p.ts >= c.ts AND p.ts < c.ts + INTERVAL 1 HOUR
WHERE c.event_type = 'click'
""",
    ("J*", "T3", "S3"),
    "LEFT OUTER stream-stream join: every click, with its conversion "
    "purchase (within the following hour) or NULL — the abandonment "
    "signal an inner join cannot produce, exercising Spark's watermark-"
    "driven null-side emission (an unmatched click is emitted only when "
    "the watermark proves no matching purchase can still arrive).  Far-"
    "future sentinel rows on both sides advance the final watermark past "
    "every real click's window, so the drained stream equals the batch "
    "left join, which is exactly what the oracle checks.",
)
def stream_click_abandonment(spark: SparkSession, sf_dir: str) -> DataFrame:
    stage = _stage_events_with_flush_sentinels(spark, sf_dir)
    joined = _click_purchase_join(spark, stage, "left_outer")
    table = replay_to_memory_table(
        joined, "stream_abandon", "append", shuffle_partitions=8
    )
    # Sentinels carry impossible negative user ids; real users are >= 0.
    return table.filter(F.col("user_id") >= 0)


@register(
    "stream_enriched_summary",
    f"""
SELECT coalesce(c_mktsegment, 'UNKNOWN') AS segment,
       date_trunc('day', ts) + INTERVAL 1 DAY AS time,
       count(*) AS n_events,
       {_sum_exact_sql('value')} AS total_value
FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey
GROUP BY 1, 2
""",
    ("J*", "A1", "T1", "S3"),
    "Stream-static enrichment: the event stream broadcast-joined to the "
    "static customer dimension per micro-batch, then the windowed per-"
    "segment aggregate. Final compacted state must equal the batch "
    "join+groupBy (same no-watermark equivalence as the flagship).",
)
def stream_enriched_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = _events_replay(spark, sf_dir)
    dim = load_table(spark, sf_dir, "customer")
    result = segment_daily_summary(stream, dim)
    return replay_to_memory_table(
        result, "stream_enriched", "complete", shuffle_partitions=8
    )


@register(
    "stream_hll_distinct_users",
    HLL_USERS_ORACLE,  # the SAME oracle as batch a10 — reused so they can't drift
    ("A8", "T1", "T4", "X*"),
    "Streaming sketch maintenance: the portable-HLL register table "
    "(groupBy (event_type, bucket) max rho) kept current by the state "
    "store across micro-batches — max is monotone, so streaming state "
    "after the replay drains is byte-identical to the batch registers, "
    "and the batch finalize over the memory sink must hash-match the SAME "
    "DuckDB oracle as a10.  This is how a 100 TB pipeline keeps live "
    "distinct counts: per-batch register deltas, constant state (m longs "
    "per group), no raw-event retention.",
)
def stream_hll_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.sketches import hll_finalize, hll_register_table

    stream = _events_replay(spark, sf_dir)
    regs = hll_register_table(stream, "user_id", ["event_type"])
    mem = replay_to_memory_table(
        regs, "stream_hll", "complete", shuffle_partitions=8
    )
    return hll_finalize(mem, ["event_type"])


@register(
    "stream_quantile_sketch",
    QSK_EVENTS_ORACLE,  # the SAME oracle as batch a23 — reused so they can't drift
    ("A5", "T*", "X*"),
    "Streaming sketch maintenance #2 (round-14 ask #3): the a23 hash-"
    "ordered bottom-k quantile pool kept current as STREAMING STATE "
    "(applyInPandasWithState — bottom-k has no built-in incremental "
    "aggregate, unlike HLL's max) and queried after the replay drains.  "
    "bottom_k(bottom_k(A) ∪ B) == bottom_k(A ∪ B) for any micro-batch "
    "slicing, so the final state is byte-identical to the batch pool "
    "and the finalize must hash-match the SAME DuckDB oracle as a23 — "
    "final-state==batch-sketch IS the driver gate.  State is O(groups "
    "x k) fixed width; each trigger merges arrivals with one vectorized "
    "lexsort per active group and emits the pool stamped with the "
    "monotone absorbed-row count, from which the latest version per "
    "group is selected (streaming/qsketch.py).  This is how a 100 TB "
    "pipeline serves live latency/value percentiles: constant state, "
    "no raw-event retention, rollup-exact merges.",
)
def stream_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from .operators.sketches import qsk_quantiles
    from .streaming.qsketch import streaming_qsk_pools

    stream = _events_replay(spark, sf_dir)
    pools_trace = streaming_qsk_pools(stream)
    mem = replay_to_memory_table(
        pools_trace, "stream_qsk", "update", shuffle_partitions=8
    )
    # The trace holds every pool version; n_seen is strictly monotone
    # per group, so max(n_seen) selects each group's final state.
    latest = mem.withColumn(
        "n_max", F.max("n_seen").over(W.partitionBy("event_type"))
    ).filter(F.col("n_seen") == F.col("n_max"))
    pool = latest.select("event_type", "hv", "v")
    return qsk_quantiles(pool, ["event_type"]).orderBy("event_type")


@register(
    "stream_serving_materialization",
    FLAGSHIP_ORACLE,
    ("T4", "S6", "A7", "A1"),
    "The full reference pipeline shape end-to-end: update-mode streaming "
    "aggregate -> foreachBatch keyed last-writer-wins merge into a parquet "
    "serving table (the visualizer's upsert store, visualizer.py:61-79, "
    "without the data race). Update mode emits only changed (window,key) "
    "rows per trigger; after the replay drains, the MERGED SERVING TABLE "
    "— not the emission trace — must equal the batch groupBy, same oracle "
    "as the flagship.",
)
def stream_serving_materialization(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming.serving_sink import materialize_stream_to_serving

    stream = _events_replay(spark, sf_dir)
    result = streaming_daily_summary(stream, watermark=None)
    table_dir = tempfile.mkdtemp(prefix="spark_graft_serving_") + "/table"
    # Same state-store sizing rationale as run_to_memory_table: tiny state
    # cardinality (days x event types), 8 partitions.
    with tempfile.TemporaryDirectory(
        prefix="spark_graft_ckpt_"
    ) as checkpoint, stream_start_conf(
        spark, checkpoint, {"spark.sql.shuffle.partitions": "8"}
    ):
        materialize_stream_to_serving(
            result, table_dir, keys=["event_type", "time"], checkpoint_dir=checkpoint
        )
    return spark.read.parquet(table_dir)


def _transition_matrix(steps: DataFrame) -> DataFrame:
    """(from, to) counts of materialized transition steps, each with its
    share of the from-state's steps."""
    from pyspark.sql import Window as W

    counts = steps.groupBy("from_state", "to_state").agg(
        F.count(F.lit(1)).alias("n_transitions")
    )
    per_from = W.partitionBy("from_state")
    return counts.select(
        "*",
        (
            F.col("n_transitions").cast("double")
            / F.sum("n_transitions").over(per_from).cast("double")
        ).alias("p_transition"),
    )


def _last_ewma_per_user(trajectory: DataFrame) -> DataFrame:
    """Each user's final running EWMA: the trajectory row with the largest
    ``n_seen``."""
    from pyspark.sql import Window as W

    last = W.partitionBy("user_id").orderBy(F.col("n_seen").desc())
    return (
        trajectory.withColumn("__rn", F.row_number().over(last))
        .filter(F.col("__rn") == 1)
        .select("user_id", "ewma", F.col("n_seen").alias("n_events"))
    )


@register(
    "stream_event_transitions",
    """
WITH steps AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS from_state,
         event_type AS to_state
  FROM events WHERE event_type IS NOT NULL
),
c AS (
  SELECT from_state, to_state, count(*) AS n_transitions
  FROM steps WHERE from_state IS NOT NULL GROUP BY 1, 2
)
SELECT from_state, to_state, n_transitions,
       CAST(n_transitions AS DOUBLE)
         / CAST(CAST(sum(n_transitions) OVER (PARTITION BY from_state)
                AS BIGINT) AS DOUBLE) AS p_transition
FROM c
""",
    ("W*", "T*", "X*"),
    "Custom stateful streaming operator (applyInPandasWithState, NoTimeout): "
    "per-user last-event state turns each arriving event into one "
    "(from, to) transition step — across micro-batch boundaries via the "
    "state row — then the materialized steps aggregate into the same "
    "transition matrix the batch lag() twin (w11) produces.  No timeout "
    "flush is needed: a transition is sealed by the next event's arrival, "
    "so the emitted set is exactly the batch set and the oracle is the "
    "batch SQL verbatim.",
)
def stream_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming.transitions import streaming_transitions

    stream = _events_replay(spark, sf_dir)
    # An untyped (NULL event_type) event is not a state: excluded from
    # the chain on both sides, so the oracle's WHERE from_state IS NOT
    # NULL keeps its intended meaning (drop each user's FIRST pair) and
    # does not conflate 'no previous event' with 'previous event
    # untyped'.
    stream = stream.filter(F.col("event_type").isNotNull())
    result = streaming_transitions(stream)
    # Per-user state rows like sessionization -> same 16-partition sizing.
    steps = replay_to_memory_table(
        result, "stream_transitions", "append", shuffle_partitions=16
    )
    return _transition_matrix(steps)


@register(
    "stream_user_ewma",
    """
SELECT user_id,
       list_reduce(list(value ORDER BY ts, event_id),
                   (acc, x) -> 0.5 * x + 0.5 * acc) AS ewma,
       count(*) AS n_events
FROM events
WHERE value IS NOT NULL
GROUP BY user_id
""",
    ("W*", "T*", "X*"),
    "Custom stateful streaming operator #3 (applyInPandasWithState): per-"
    "user running EWMA (alpha = 1/2, a power of two — each step is two "
    "exact halvings + one rounded add), numeric state evolved across "
    "micro-batch boundaries.  The materialized per-event trajectory's "
    "last row per user must equal the batch list_reduce fold over the "
    "identically-(ts, event_id)-ordered values BITWISE — same IEEE ops "
    "in the same order — so the sequential recurrence itself is hash-"
    "gated, which a closed-form sum (different rounding order) could "
    "never be.",
)
def stream_user_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming.ewma import streaming_ewma

    stream = _events_replay(spark, sf_dir).filter(
        F.col("value").isNotNull()
    )
    result = streaming_ewma(stream)
    trajectory = replay_to_memory_table(
        result, "stream_ewma", "append", shuffle_partitions=16
    )
    return _last_ewma_per_user(trajectory)


@register(
    "stream_click_purchase_full_outer",
    """
SELECT c.event_id AS click_id, p.event_id AS purchase_id,
       coalesce(c.user_id, p.user_id) AS user_id,
       CAST(floor(epoch(c.ts)) AS BIGINT) AS click_unix,
       CAST(floor(epoch(p.ts)) AS BIGINT) AS purchase_unix
FROM (SELECT * FROM events WHERE event_type = 'click') c
FULL JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON p.user_id = c.user_id
 AND p.ts >= c.ts AND p.ts < c.ts + INTERVAL 1 HOUR
""",
    ("J*", "T3", "S3"),
    "FULL OUTER stream-stream join: matched click/purchase pairs PLUS "
    "unconverted clicks (null purchase) PLUS unattributed purchases "
    "(null click) — both sides' state evicts-and-emits on watermark "
    "passage, the most demanding of Spark's outer-join modes.  The same "
    "flush-sentinel staging as the left-outer variant advances the final "
    "watermark past every row's join window on BOTH sides, so the "
    "drained output equals the batch FULL JOIN exactly.",
)
def stream_click_purchase_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    stage = _stage_events_with_flush_sentinels(spark, sf_dir)
    joined = _click_purchase_join(spark, stage, "full_outer")
    table = replay_to_memory_table(
        joined, "stream_full_outer", "append", shuffle_partitions=8
    )
    # Sentinels carry impossible negative user ids; real users are >= 0.
    return table.filter(F.col("user_id") >= 0)


@register(
    "stream_orphan_events",
    f"""
SELECT date_trunc('day', e.ts) + INTERVAL 1 DAY AS time,
       count(*) AS n_orphans,
       {{SUM_EXACT}} AS orphan_value
FROM events e
WHERE NOT EXISTS (SELECT 1 FROM customer c
                  WHERE c.c_custkey = e.user_id
                    AND c.c_mktsegment = 'BUILDING')
GROUP BY 1
""".replace("{SUM_EXACT}", _sum_exact_sql("e.value")),
    ("J*", "S3", "T1"),
    "Stream-static LEFT ANTI join: events whose user_id is not in the "
    "provisioned-account allowlist (the BUILDING-segment slice of the "
    "customer dimension) — the streaming quarantine of "
    "dq_constraint_checks' membership rule, applied continuously at "
    "ingest instead of batch-after-the-fact.  The static filtered dim "
    "broadcasts to every micro-batch; anti-join output feeds the same "
    "windowed aggregate as the flagship, and the drained state must "
    "equal the batch NOT EXISTS oracle (7.7k quarantined events at "
    "sf0.01 — a non-degenerate gate).",
)
def stream_orphan_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = _events_replay(spark, sf_dir)
    dim = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orphans = stream.join(
        dim, stream.user_id == dim.c_custkey, "left_anti"
    )
    from .functions import sum_exact

    result = orphans.groupBy(
        F.window(F.col("ts"), "1 day").alias("w")
    ).agg(
        F.count(F.lit(1)).alias("n_orphans"),
        sum_exact("value").alias("orphan_value"),
    ).select(F.col("w.end").alias("time"), "n_orphans", "orphan_value")
    return replay_to_memory_table(
        result, "stream_orphans", "complete", shuffle_partitions=8
    )


# ---------------------------------------------------------------------------
# Sliding (hopping) windows — the one event-time window shape the daily
# summary family doesn't cover: overlapping 1-day windows every 12 hours.
# ---------------------------------------------------------------------------

SLIDING_ORACLE = f"""
WITH contrib AS (
  SELECT event_type, value,
         make_timestamp((
           (CAST(floor(epoch(ts)) AS BIGINT) // 43200) * 43200 + 86400
         ) * 1000000) AS time
  FROM events
  UNION ALL
  SELECT event_type, value,
         make_timestamp((
           (CAST(floor(epoch(ts)) AS BIGINT) // 43200) * 43200 + 43200
         ) * 1000000) AS time
  FROM events
)
SELECT event_type, time,
       count(*) AS n_events,
       {_sum_exact_sql('value')} AS total_value
FROM contrib
GROUP BY event_type, time
"""


@register(
    "stream_sliding_summary",
    SLIDING_ORACLE,
    ("T1", "T2", "A1", "T5"),
    "Hopping-window streaming aggregate: 1-day windows sliding every 12 "
    "hours (each event lands in exactly 2 overlapping windows), per "
    "event type, count + exact-decimal value sum, keyed by window END. "
    "Complete-mode replay: the final compacted state must equal the "
    "batch hopping aggregate — the oracle materializes each event's two "
    "window memberships with epoch integer arithmetic (window starts "
    "are epoch-aligned 12 h multiples, exactly Spark's alignment).  "
    "State cardinality is |12 h buckets| x |event types| — watermarking "
    "is a knob, not a necessity, at any scale.",
)
def stream_sliding_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = _events_replay(spark, sf_dir)
    result = (
        stream.groupBy(
            F.window("ts", "1 day", "12 hours").alias("w"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(28,10)")).alias("__tv"),
        )
        .select(
            "event_type",
            F.col("w.end").alias("time"),
            "n_events",
            F.col("__tv").cast("string").cast("double").alias("total_value"),
        )
    )
    return replay_to_memory_table(
        result, "stream_sliding", "complete", shuffle_partitions=8
    )


# ---------------------------------------------------------------------------
# Chained stateful aggregation: daily windows re-aggregated to weekly
# windows INSIDE one streaming query (two stateful operators in a row).
# ---------------------------------------------------------------------------

CHAINED_WEEKLY_ORACLE = """
WITH daily AS (
  SELECT event_type,
         CAST(floor(epoch(date_trunc('day', ts))) AS BIGINT) AS s,
         count(*) AS n, sum(CAST(value AS DECIMAL(28,10))) AS tv
  FROM events GROUP BY 1, 2
),
weekly AS (
  SELECT event_type,
         make_timestamp((((s + 86399) // 604800) * 604800 + 604800)
                        * 1000000) AS time,
         CAST(sum(n) AS BIGINT) AS n_events,
         ((sum(tv)::VARCHAR)::DOUBLE) AS total_value
  FROM daily GROUP BY 1, 2
)
SELECT event_type, time, n_events, total_value FROM weekly
WHERE epoch_ms(time) <= (SELECT epoch_ms(max(ts)) FROM events) - 86400000
"""


@register(
    "stream_weekly_from_daily",
    CHAINED_WEEKLY_ORACLE,
    ("T1", "T2", "T3", "A1", "A5"),
    "Two chained stateful operators in ONE streaming query (Spark 3.4+ "
    "multi-stateful support): a watermarked 1-day window aggregate whose "
    "closed windows feed a second 7-day window aggregate keyed on "
    "window_time(day) — the streaming form of the serving layer's "
    "day->month rollup, incrementalized end to end.  Append mode emits "
    "each week once, closed and final; a week closes iff week_end <= "
    "final watermark (= floor-ms max event time - 1 day), and every "
    "daily window of a closed week has then provably closed and "
    "propagated (day_end <= week_end).  The oracle computes the weekly "
    "rollup with pure epoch integer arithmetic — week starts are "
    "epoch-aligned 7-day multiples, exactly Spark's alignment — and "
    "DECIMAL sums summed again at the second level stay exact.",
)
def stream_weekly_from_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = _events_replay(spark, sf_dir)
    daily = (
        stream.withWatermark("ts", "1 day")
        .groupBy(F.window("ts", "1 day").alias("day"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(28,10)")).alias("tv"),
        )
    )
    weekly = (
        daily.groupBy(
            F.window(F.window_time("day"), "7 days").alias("week"),
            "event_type",
        )
        .agg(F.sum("n").alias("n_events"), F.sum("tv").alias("__tv"))
        .select(
            "event_type",
            F.col("week.end").alias("time"),
            F.col("n_events").cast("long").alias("n_events"),
            F.col("__tv").cast("string").cast("double").alias("total_value"),
        )
    )
    return replay_to_memory_table(
        weekly, "stream_weekly", "append", shuffle_partitions=8
    )


# ---------------------------------------------------------------------------
# Streaming table checksum — the reconciliation fingerprint, maintained
# incrementally (bit_xor is commutative/associative, so it is a mergeable
# streaming aggregate like count/sum).
# ---------------------------------------------------------------------------

STREAM_CHECKSUM_ORACLE = f"""
SELECT event_type,
       count(*) AS n_rows,
       {EVENTS_CHECKSUM_ORACLE_EXPR} AS checksum
FROM events
GROUP BY event_type
ORDER BY event_type
"""


@register(
    "stream_table_checksum",
    STREAM_CHECKSUM_ORACLE,
    ("T*", "A*", "S3"),
    "The dq_table_checksum fingerprint maintained INCREMENTALLY by a "
    "streaming aggregate: bit_xor is commutative + associative, so each "
    "micro-batch folds into |groups| longs of state and the final state "
    "equals the batch checksum over the full table — continuous "
    "cross-replica reconciliation (compare one row per group against "
    "the other cluster, move zero data) instead of a periodic rescan.  "
    "Same oracle as the batch query.",
)
def stream_table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = _events_replay(spark, sf_dir)
    row_hash = events_checksum_row_hash()
    result = (
        stream.select("event_type", row_hash.alias("__rh"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.expr("bit_xor(__rh)").alias("checksum"),
        )
    )
    out = replay_to_memory_table(
        result, "stream_checksum", "complete", shuffle_partitions=8
    )
    return out.orderBy("event_type")


# ---------------------------------------------------------------------------
# State-store observability: Spark 4's state data source
# ---------------------------------------------------------------------------


@register(
    "stream_state_inspection",
    f"""
SELECT event_type,
       count(*) AS n_events,
       {_sum_exact_sql('value')} AS total_value
FROM events
GROUP BY event_type
ORDER BY event_type
""",
    ("T6", "T8", "S*"),
    "Streaming-state OBSERVABILITY via Spark 4's state data source: a "
    "keyed streaming aggregate runs to completion, then the checkpoint's "
    "state store itself is read back as a batch DataFrame "
    "(format 'statestore') and hash-gated against the batch oracle — the "
    "state a 100 TB pipeline would inspect for debugging (skewed keys, "
    "runaway cardinality, corrupt accumulators) without stopping the "
    "stream.  The aggregate's state IS the answer: per-key count + exact "
    "DECIMAL sum, so the gate proves checkpointed state bitwise-equals "
    "the batch computation, not merely that the sink output did.",
)
def stream_state_inspection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.columns import _ACC_DECIMAL, _dec_to_double

    stream = _events_replay(spark, sf_dir)
    agg = stream.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast(_ACC_DECIMAL)).alias("total_value"),
    )
    # Its own checkpoint, not a replay's: the state store read below is
    # lazy and reads this directory whenever the result executes.
    ckpt = tempfile.mkdtemp(prefix="spark_graft_state_inspect_")
    run_to_memory_table(
        agg, memory_table_name("stream_state_inspect"), ckpt, "complete",
        shuffle_partitions=8,
    )
    state = spark.read.format("statestore").load(ckpt)
    # The state row exposes the aggregation BUFFER fields by their internal
    # names: `count` for the count, and `sum` + `isEmpty` for the decimal
    # sum (Spark's overflow-safe decimal sum carries an emptiness flag).
    return state.select(
        F.col("key.event_type").alias("event_type"),
        F.col("value.count").alias("n_events"),
        _dec_to_double(F.col("value.sum")).alias("total_value"),
    ).orderBy("event_type")


@register(
    "stream_session_window_dynamic_gap",
    """
WITH e AS (
  SELECT user_id, event_id, value, ts, epoch_us(ts) AS us,
         CASE WHEN event_type = 'purchase' THEN 1800000000
              ELSE 900000000 END AS gap_us
  FROM events
),
marked AS (
  SELECT user_id, us, gap_us, value,
         CASE WHEN max(us + gap_us) OVER w IS NULL
                OR us > max(us + gap_us) OVER w
              THEN 1 ELSE 0 END AS is_new
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY us
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
),
sessions AS (
  SELECT user_id, us, gap_us, value,
         CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY us
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS sid
  FROM marked
),
stats AS (
  SELECT user_id, sid,
         min(us) AS start_us,
         max(us + gap_us) AS end_us,
         count(*) AS n_events,
         sum(CAST(floor(coalesce(value, 0.0) * 100000000.0 + 0.5) AS BIGINT))
           AS total_q
  FROM sessions GROUP BY user_id, sid
),
wm AS (SELECT (SELECT epoch_ms(max(ts)) FROM events) - 1800000 AS wm_ms)
SELECT user_id,
       start_us // 1000000 AS session_start_unix,
       end_us // 1000000 AS session_close_unix,
       n_events,
       (CAST(total_q AS DOUBLE) / 100000000.0) AS total_value
FROM stats, wm
WHERE end_us <= wm.wm_ms * 1000
""",
    ("W*", "T1", "T2", "T3"),
    "Session windows with a DYNAMIC per-event gap (purchases hold the "
    "session open 30 minutes, everything else 15): session_window(ts, "
    "CASE ...) — the per-row gap means a session's close time is the "
    "running max of (event + its own gap), which the oracle reproduces "
    "as a 1-PRECEDING running-max split marker (session ends are "
    "monotone across sessions, so the global running max IS the current "
    "session's horizon; see docstring proof).  Merge-at-exactly-gap and "
    "the micros-precision append-emission boundary follow the probed "
    "fixed-gap contract (stream_session_window_builtin); total_value "
    "accumulates in exact integer 1e-8 units on both sides.",
)
def stream_session_window_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Why the global running max is sound: suppose session S ended at
    # end_S and the next session opened with event k (us_k > end_S).
    # Every event of the next session has us >= us_k > end_S, so its end
    # (a max of us+gap >= us_k) also exceeds end_S — session ends are
    # strictly increasing, hence "us_i > max of ALL previous (us+gap)"
    # is exactly "starts after the current session's horizon".
    stream = _events_replay(spark, sf_dir)

    vq = F.floor(
        F.coalesce(F.col("value"), F.lit(0.0)) * F.lit(1e8) + F.lit(0.5)
    ).cast("long")
    gap = F.when(F.col("event_type") == "purchase", F.lit("30 minutes")).otherwise(
        F.lit("15 minutes")
    )
    result = (
        stream.withColumn("vq", vq)
        .withWatermark("ts", "30 minutes")
        .groupBy(F.col("user_id"), F.session_window(F.col("ts"), gap))
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("vq").alias("total_q"))
        .select(
            "user_id",
            F.expr("unix_micros(session_window.start) div 1000000").alias(
                "session_start_unix"
            ),
            F.expr("unix_micros(session_window.end) div 1000000").alias(
                "session_close_unix"
            ),
            "n_events",
            (F.col("total_q").cast("double") / F.lit(1e8)).alias("total_value"),
        )
    )
    return replay_to_memory_table(
        result, "stream_sw_dyngap", "append", shuffle_partitions=16
    )


@register(
    "stream_multi_source_union",
    FLAGSHIP_ORACLE,
    ("S3", "T1", "T3", "S*"),
    "One aggregate over the UNION of two independent streaming sources "
    "(the time-ordered replay split into interleaved halves, each its "
    "own file source): Spark coordinates offsets per source and the "
    "union's event-time clock is the minimum across sources, so the "
    "merged no-watermark aggregate must still converge to exactly the "
    "batch flagship — the shape of every real deployment that fans "
    "multiple topics/regions into one pipeline.",
)
def stream_multi_source_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    base = _stage_events_chunks(spark, sf_dir)
    key = _source_fingerprint(sf_dir)
    split_root = os.path.join(_STAGE_ROOT, f"events_split2_{key}_us")
    if not os.path.exists(os.path.join(split_root, "_DONE")):
        tmp = f"{split_root}.build{os.getpid()}"
        os.makedirs(os.path.join(tmp, "a"), exist_ok=True)
        os.makedirs(os.path.join(tmp, "b"), exist_ok=True)
        parts = sorted(
            (f for f in os.listdir(base) if f.endswith(".parquet")),
            key=lambda f: os.path.getmtime(os.path.join(base, f)),
        )
        # alternate chunks across the two sources; copy2 preserves mtimes
        # so each source still replays ITS files in event-time order
        for i, f in enumerate(parts):
            shutil.copy2(
                os.path.join(base, f),
                os.path.join(tmp, "a" if i % 2 == 0 else "b", f),
            )
        open(os.path.join(tmp, "_DONE"), "w").close()
        from .sources.staging import publish_dir

        publish_dir(tmp, split_root, marker="_DONE")
    sa = events_file_stream(
        spark, os.path.join(split_root, "a"), max_files_per_trigger=1
    )
    sb = events_file_stream(
        spark, os.path.join(split_root, "b"), max_files_per_trigger=1
    )
    result = streaming_daily_summary(sa.unionByName(sb), watermark=None)
    return replay_to_memory_table(
        result, "stream_union", "complete", shuffle_partitions=8
    )


# ---------------------------------------------------------------------------
# Displaced (disordered) replay — round-9 extension of the round-8
# streaming-disorder audit (DIRTYDATA.md §5).  The staged replay above is
# event-time-ordered; this stage breaks per-key order ACROSS micro-batches
# (a content-hash-selected 10% of events ARRIVE one chunk late, event time
# unchanged) and the three `_disordered` stateful operators are gated
# against batch oracles over it.


def _stage_events_chunks_displaced(
    spark: SparkSession, sf_dir: str, chunks: int = 4
) -> "tuple[str, int]":
    """Stage the events table as ``chunks`` replay files where ~10% of
    events (pmod(xxhash64('late', event_id), 10) == 0 — content-derived,
    partitioning-independent) arrive one chunk later than event-time
    order dictates.  Returns ``(stage_dir, wm_days)`` where ``wm_days``
    is the watermark delay the disordered operators must run with so that
    (a) no displaced event is dropped as late (one chunk span ~= span/4 <
    wm) and (b) the finalized output is a deterministic nonempty subset:
    ``wm_days = floor(span_days / 2) + 2``, computed identically by the
    oracles in SQL.

    The sidecar ``_WM_DAYS`` file persists the staging-time computation
    so reuse never re-scans the source.
    """
    import time as _time

    from pyspark.sql import Window as W

    from .sources.staging import publish_dir
    from .sources.tables import event_ts_micros

    key = _source_fingerprint(sf_dir)
    stage = os.path.join(_STAGE_ROOT, f"events_displaced_{key}_{chunks}_us")
    marker = os.path.join(stage, "_DONE")
    if not os.path.exists(marker):
        raw = event_ts_micros(spark.read.parquet(f"{sf_dir}/events.parquet"))
        n = raw.count()
        lo, hi = raw.agg(F.min("ts"), F.max("ts")).collect()[0]
        if lo is None or hi is None:
            wm_days = 2  # empty corpus: any delay works, nothing to drop
        else:
            import math

            # Mirrored in SQL by the _disordered oracles:
            # floor(span_us / 86400000000.0 / 2.0) + 2
            wm_days = int(math.floor((hi - lo) / 86400000000.0 / 2.0)) + 2
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
        staged = ranked.withColumn(
            "__arr",
            F.when(
                late, F.least(F.col("__chunk") + 1, F.lit(chunks - 1))
            ).otherwise(F.col("__chunk")),
        )
        tmp = f"{stage}.build{os.getpid()}"
        for i in range(chunks):
            staged.filter(F.col("__arr") == i).drop("__chunk", "__arr").coalesce(
                1
            ).write.mode("append").parquet(tmp)
            _time.sleep(0.05)
        with open(os.path.join(tmp, "_WM_DAYS"), "w") as f:
            f.write(str(wm_days))
        open(os.path.join(tmp, "_DONE"), "w").close()
        publish_dir(tmp, stage, marker="_DONE")
    with open(os.path.join(stage, "_WM_DAYS")) as f:
        wm_days = int(f.read().strip())
    return stage, wm_days


# Watermark-delay CTE shared by the three _disordered oracles — the SQL
# mirror of the wm_days computation above, then the final-watermark ms
# Spark reaches on a bounded replay (max event ms - delay; Spark's event
# time stats track ms, epoch_ms() is the same floor).
#
# ``where`` (round-10 ADVICE fix): the transitions/ewma queries filter the
# stream on a null predicate BEFORE withWatermark (and Catalyst would push
# a non-ts predicate below the EventTimeWatermark node regardless), so
# Spark's final watermark derives from max(ts) over the FILTERED rows.
# The oracle must track the same subset — if the corpus's max-ts event has
# a NULL value/event_type (the dirty generator nulls both at ~NULL_RATE)
# the unfiltered max would seal a longer prefix than Spark does.  The
# DELAY term stays over the UNFILTERED table: wm_days is computed at
# staging time from unfiltered min/max (see above) and passed to
# withWatermark as a constant.
def _displaced_wm_cte(where: str = "") -> str:
    pred = f" WHERE {where}" if where else ""
    return f"""
wm AS (
  SELECT (SELECT epoch_ms(max(ts)) FROM events{pred})
         - (CAST(floor((epoch_us(max(ts)) - epoch_us(min(ts)))
                       / 86400000000.0 / 2.0) AS BIGINT) + 2) * 86400000
           AS wm_ms
  FROM events
)
"""


_DISPLACED_WM_CTE = _displaced_wm_cte()


@register(
    "stream_sessionization_disordered",
    """
WITH marked AS (
  SELECT user_id, event_id, value, ts,
         CAST(floor(epoch(ts)) AS BIGINT) AS unix_ts,
         CASE WHEN lag(ts) OVER w IS NULL
                OR CAST(floor(epoch(ts)) AS BIGINT)
                   - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
sessions AS (
  SELECT user_id, unix_ts, value,
         CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS session_id
  FROM marked
),
stats AS (
  SELECT user_id, session_id,
         min(unix_ts) AS session_start_unix,
         max(unix_ts) AS session_end_unix,
         max(unix_ts) - min(unix_ts) AS duration_s,
         count(*) AS n_events,
         (CAST(sum(CAST(floor(coalesce(value, 0.0) * 100000000.0 + 0.5)
                        AS BIGINT)) AS DOUBLE) / 100000000.0) AS total_value
  FROM sessions GROUP BY user_id, session_id
),
""" + _DISPLACED_WM_CTE + """
SELECT s.user_id, s.session_start_unix, s.session_end_unix, s.duration_s,
       s.n_events, s.total_value
FROM stats s, wm
WHERE (s.session_end_unix + 1800) * 1000 + 1 < wm.wm_ms
""",
    ("W*", "T3", "X*"),
    "The round-8 disorder audit's fix, driver-gated (r8 verdict Next #2): "
    "the buffered watermark-bounded sessionizer over a DISPLACED replay — "
    "10% of events arrive one chunk late with event time unchanged, the "
    "exact disorder that corrupts the O(1)-state operator's sessions "
    "(35/904 at sf0.1, contract pinned in tests).  Because it finalizes "
    "only via the watermark, the emitted set is deterministic: every "
    "batch session whose timeout ts (end + gap, ms, +1 guard) the final "
    "watermark passed — the sessions of the first ~half of the timeline, "
    "bitwise-exact totals, no phantoms, no corruption.  The watermark "
    "(half the span + 2 days) strictly exceeds the one-chunk displacement "
    "so no event is dropped as late.",
)
def stream_sessionization_disordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming.sessions import streaming_sessionize_disordered

    stage, wm_days = _stage_events_chunks_displaced(spark, sf_dir)
    # 2 files/trigger (round-10, r9 ask #6): the emitted set is
    # watermark-determined — only the FINAL watermark (max ts - delay)
    # decides what seals, so batch decomposition cannot change the output
    # (hash-verified identical at 1/2 files per trigger, 8/16 state
    # partitions) — and the chunk-1->2 displacement still crosses the
    # trigger boundary, so the cross-batch disorder the query audits is
    # preserved.  Halving the triggers halves the stateful per-trigger
    # fixed cost (7.8 s -> 4.9 s at sf0.1); the MAXIMAL-disorder contract
    # pin (every displacement crossing a batch) stays in
    # tests/test_streaming_disorder.py at 1 file/trigger.
    stream = events_file_stream(spark, stage, max_files_per_trigger=2)
    result = streaming_sessionize_disordered(
        stream, gap_seconds=1800, watermark=f"{wm_days} days"
    )
    return replay_to_memory_table(
        result, "stream_sessions_dis", "append", shuffle_partitions=16
    )


@register(
    "stream_transitions_disordered",
    """
WITH steps AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS from_state,
         event_type AS to_state,
         epoch_ms(ts) AS to_ms
  FROM events WHERE event_type IS NOT NULL
),
""" + _displaced_wm_cte("event_type IS NOT NULL") + """,
c AS (
  SELECT from_state, to_state, count(*) AS n_transitions
  FROM steps, wm
  WHERE from_state IS NOT NULL AND to_ms + 1 < wm.wm_ms
  GROUP BY 1, 2
)
SELECT from_state, to_state, n_transitions,
       CAST(n_transitions AS DOUBLE)
         / CAST(CAST(sum(n_transitions) OVER (PARTITION BY from_state)
                AS BIGINT) AS DOUBLE) AS p_transition
FROM c
""",
    ("W*", "T*", "X*"),
    "Round-9 disorder audit #2: the last-event-state transition operator "
    "has the SAME in-order contract the sessionizer audit exposed — a "
    "cross-batch straggler lags against the wrong neighbor and fabricates "
    "pairs (divergence pinned in tests/test_streaming_disorder.py).  This "
    "is its buffered fix over the displaced replay: a pair is sealed only "
    "when the watermark passes the 'to' event (epoch_ms + 1, the timeout "
    "convention), after which Spark drops any arrival that could still "
    "sort between — so the emitted pairs are exactly the batch lag() "
    "chain's pairs in the watermark-passed prefix, and the transition "
    "matrix over them matches the oracle bitwise.",
)
def stream_transitions_disordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming.transitions import streaming_transitions_disordered

    stage, wm_days = _stage_events_chunks_displaced(spark, sf_dir)
    # 2 files/trigger: watermark-determined output, hash-identical under
    # any batch decomposition; cross-trigger displacement preserved (see
    # stream_sessionization_disordered).
    stream = events_file_stream(spark, stage, max_files_per_trigger=2).filter(
        F.col("event_type").isNotNull()
    )
    result = streaming_transitions_disordered(stream, watermark=f"{wm_days} days")
    steps = replay_to_memory_table(
        result, "stream_transitions_dis", "append", shuffle_partitions=16
    )
    return _transition_matrix(steps)


@register(
    "stream_user_ewma_disordered",
    """
WITH """ + _displaced_wm_cte("value IS NOT NULL").strip() + """
SELECT user_id,
       list_reduce(list(value ORDER BY ts, event_id),
                   (acc, x) -> 0.5 * x + 0.5 * acc) AS ewma,
       count(*) AS n_events
FROM events, wm
WHERE value IS NOT NULL AND epoch_ms(ts) + 1 < wm.wm_ms
GROUP BY user_id
""",
    ("W*", "T*", "X*"),
    "Round-9 disorder audit #3: the EWMA operator folds a linear "
    "recurrence whose (ewma, n) state cannot be rewound — a cross-batch "
    "straggler folds out of order and every later running value of the "
    "key diverges (divergence pinned in tests/test_streaming_disorder."
    "py).  This is its buffered fix over the displaced replay: an event "
    "folds into the carried accumulator only once the watermark passes "
    "its event time, so the sealed trajectory is the (ts, event_id)-"
    "ordered fold exactly, and the last sealed row per user equals the "
    "batch list_reduce over the watermark-passed value prefix BITWISE "
    "(alpha = 1/2: two exact halvings + one rounded add per step).",
)
def stream_user_ewma_disordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .streaming.ewma import streaming_ewma_disordered

    stage, wm_days = _stage_events_chunks_displaced(spark, sf_dir)
    # 2 files/trigger: watermark-determined output, hash-identical under
    # any batch decomposition; cross-trigger displacement preserved (see
    # stream_sessionization_disordered).
    stream = events_file_stream(spark, stage, max_files_per_trigger=2).filter(
        F.col("value").isNotNull()
    )
    result = streaming_ewma_disordered(stream, watermark=f"{wm_days} days")
    trajectory = replay_to_memory_table(
        result, "stream_ewma_dis", "append", shuffle_partitions=16
    )
    return _last_ewma_per_user(trajectory)


# ---------------------------------------------------------------------------
# In-flight observability: df.observe metrics, DuckDB-oracled (round 13).
# ---------------------------------------------------------------------------


@register(
    "obs_ingest_metrics",
    """
SELECT count(*)::BIGINT AS n_rows,
       count(CASE WHEN user_id IS NULL THEN 1 END)::BIGINT AS n_null_user,
       count(CASE WHEN value IS NULL THEN 1 END)::BIGINT AS n_null_value,
       count(CASE WHEN event_type = 'purchase' THEN 1 END)::BIGINT
         AS n_purchase,
       ((sum(CAST(value AS DECIMAL(28,10)))::VARCHAR)::DOUBLE) AS sum_value
FROM events
""",
    ("A3", "A4", "X*"),
    "In-flight observability (df.observe / CollectMetrics): the ingest "
    "health counters — rows, null rates on join/aggregate keys, "
    "conversion count, exact-DECIMAL value total — measured as "
    "ACCUMULATORS riding the flagship aggregation's own pass (one noop-"
    "sink materialization, ZERO additional scans; at 100 TB a separate "
    "count query is a second multi-hour scan).  The returned one-row "
    "frame is the Observation's result — driver-side by construction, "
    "exactly as Spark surfaces observed metrics — and the DuckDB oracle "
    "recomputes the same counters from raw rows, so the hash match "
    "proves the accumulator path equals a real aggregate.  The decimal "
    "total converts to double via the sum_exact string recipe, keeping "
    "it partition-order-independent and bitwise.  Streaming twin: the "
    "same metric exprs attach to streaming_daily_summary(observe_name=) "
    "and per-batch listener captures are asserted to sum to this "
    "query's totals (tests/test_observability.py).  streaming/metrics.py.",
)
def obs_ingest_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from decimal import Decimal

    from pyspark.sql import Observation
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    from .operators.aggregations import daily_summary
    from .streaming.metrics import ingest_metric_exprs, observation_result

    events = load_table(spark, sf_dir, "events")
    obs = Observation()
    exprs = ingest_metric_exprs()
    observed = events.observe(obs, *exprs)
    # One full-materialization action so every row flows through the
    # CollectMetrics node; noop sink = distributed, nothing collected.
    daily_summary(observed).write.format("noop").mode("overwrite").save()
    # Zero-row edge (caught by the empty-corpus audit) handled inside
    # observation_result: probe the JVM row arity where the private
    # handle exists, degrade to the public .get (mapping its zero-row
    # conversion failure to per-expr aggregate identities) where it
    # does not — streaming/metrics.py, pinned in tests/test_observability.
    m = observation_result(obs, exprs)
    total = m["sum_value_dec"]
    row = (
        int(m["n_rows"]),
        int(m["n_null_user"]),
        int(m["n_null_value"]),
        int(m["n_purchase"]),
        # Decimal -> shortest-correct double via the string round-trip
        # (host-side mirror of sum_exact's VARCHAR::DOUBLE recipe).
        float(str(total)) if isinstance(total, Decimal) else total,
    )
    schema = StructType(
        [
            StructField("n_rows", LongType(), False),
            StructField("n_null_user", LongType(), False),
            StructField("n_null_value", LongType(), False),
            StructField("n_purchase", LongType(), False),
            StructField("sum_value", DoubleType(), True),
        ]
    )
    return spark.createDataFrame([row], schema=schema)


@register(
    "stream_pyds_serving_store",
    FLAGSHIP_ORACLE,
    ("S4", "S6", "A7", "T4", "T7"),
    "The serving-store sink as a FIRST-CLASS streaming sink: the "
    "flagship aggregate written through writeStream.format("
    "'servingstore') — a Spark 4 Python DataSource STREAM WRITER "
    "(sources/pyds_sink.py), completing the custom-source seam whose "
    "reader half is src/stream_pyds_*.  Python stream writers accept "
    "append/complete only (UPDATE is JVM-sink-only as of 4.1 — probed, "
    "STREAM_FAILED 'does not support Update mode'), so this runs the "
    "aggregate in COMPLETE mode: each trigger re-emits every group "
    "(bounded: days x event_types rows) and the keyed merge degenerates "
    "to a full refresh; the update-mode changed-keys-only materialization "
    "stays with the foreachBatch twin (stream_serving_materialization).  "
    "What the sink adds is the WRITER PROTOCOL: executor write() ships "
    "each partition's bounded rows as the commit message, driver "
    "commit() applies last-writer-wins per (event_type, time), records "
    "the batchId so an at-least-once replay is SKIPPED (effectively-"
    "once, one step past the twin's idempotent merge), and publishes "
    "atomically via os.replace.  After the replay drains, the STORE — "
    "read back through the sink's read side — must equal the batch "
    "groupBy, same oracle as the flagship.",
)
def stream_pyds_serving_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.pyds_sink import (
        read_serving_store,
        register_serving_store_sink,
    )

    register_serving_store_sink(spark)
    stream = _events_replay(spark, sf_dir)
    result = streaming_daily_summary(stream, watermark=None)
    store_dir = tempfile.mkdtemp(prefix="spark_graft_pyds_store_")
    with tempfile.TemporaryDirectory(
        prefix="spark_graft_ckpt_"
    ) as checkpoint, stream_start_conf(
        spark, checkpoint, {"spark.sql.shuffle.partitions": "8"}
    ):
        q = (
            result.writeStream.format("servingstore")
            .outputMode("complete")
            .option("path", store_dir)
            .option("keys", "event_type,time")
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return read_serving_store(spark, store_dir)
