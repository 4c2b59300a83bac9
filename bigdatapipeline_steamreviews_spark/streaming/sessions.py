"""Custom stateful streaming operator: gap-based sessionization with
``applyInPandasWithState`` — the operator class Spark's built-in streaming
aggregates can't express (session windows with per-key custom state
transitions and event-time timeouts).

Semantics match the batch ``operators.analytic.sessionize`` exactly for
every session the watermark has closed: a session is a maximal run of a
key's events with inter-event gaps <= ``gap_seconds``; it closes (and is
emitted, once, append-mode) when event time advances past its last event
by more than the gap — via a later event (in-batch split) or via the
event-time timeout when the watermark passes ``last_event + gap``.
Sessions still open when the replay drains are never emitted, exactly as
on a live stream.

Scale notes (100 TB):
* State per key is ONE fixed-width row (open-session accumulator), not
  the session's events — state size is O(active keys), independent of
  event volume or session length.
* The per-key work is vectorized pandas (sort + diff + cumsum groupby),
  Arrow-batched across keys; no per-row Python loop.
* The watermark bounds both state retention and output latency: a key
  that goes quiet is flushed by timeout and its state removed.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

__all__ = [
    "streaming_sessionize",
    "streaming_sessionize_disordered",
    "SESSION_OUTPUT_SCHEMA",
]

SESSION_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start_unix", T.LongType()),
        T.StructField("session_end_unix", T.LongType()),
        T.StructField("duration_s", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)

# Open-session accumulator: one fixed-width row per active key.
# total is held in integer 1e-8 units (half-up quantized) so cross-batch
# accumulation is exact and associative — the emitted double is then ONE
# correctly-rounded division, bitwise-reproducible by any engine that sums
# the same quantized integers (the DuckDB oracle does; same recipe as
# operators.similarity.label_centroids).
_STATE_SCHEMA = T.StructType(
    [
        T.StructField("start_unix", T.LongType()),
        T.StructField("last_unix", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_q", T.LongType()),
    ]
)

_Q = 10**8  # 1e-8 quantization unit for exact value accumulation


def _advance_open_session(
    unix: np.ndarray,
    vals_q: np.ndarray,
    open_state: "tuple | None",
    gap_seconds: int,
) -> "tuple[tuple[list, list, list, list], tuple[int, int, int, int]]":
    """Pure per-key session advance: the core of
    :func:`streaming_sessionize`'s state function.

    Given this batch's sorted event times + quantized values and the
    carried open-session accumulator (or None), returns
    ``((closed_starts, closed_lasts, closed_ns, closed_tots), new_open)``
    — every session this batch closes, and the accumulator for the one it
    leaves open.  All O(n) numpy (run split via gap > threshold, reduceat
    sums), no per-row Python; factoring it keeps the operator's state
    plumbing thin and the core unit-testable without a stream.
    """
    has_open = open_state is not None
    start, last, n, tot = open_state if has_open else (0, 0, 0, 0)

    is_new = np.empty(len(unix), dtype=bool)
    is_new[1:] = (unix[1:] - unix[:-1]) > gap_seconds
    is_new[0] = (not has_open) or (unix[0] - last > gap_seconds)

    run_starts = np.flatnonzero(is_new)
    if run_starts.size == 0 or run_starts[0] != 0:
        run_starts = np.insert(run_starts, 0, 0)  # continuation run
    run_last = np.append(run_starts[1:] - 1, len(unix) - 1)
    r_start = unix[run_starts].astype("int64")
    r_end = unix[run_last].astype("int64")
    r_cnt = np.diff(np.append(run_starts, len(unix))).astype("int64")
    r_sum = np.add.reduceat(vals_q, run_starts)

    c_starts: list = []
    c_lasts: list = []
    c_ns: list = []
    c_tots: list = []
    if has_open:
        if is_new[0]:
            # The batch's first event doesn't extend the open session.
            c_starts.append(start)
            c_lasts.append(last)
            c_ns.append(n)
            c_tots.append(tot)
        else:
            # First run continues the open session from state.
            r_start[0] = start
            r_cnt[0] += n
            r_sum[0] += tot

    # Every run but the last is closed by the run after it.
    if len(run_starts) > 1:
        c_starts.extend(r_start[:-1].tolist())
        c_lasts.extend(r_end[:-1].tolist())
        c_ns.extend(r_cnt[:-1].tolist())
        c_tots.extend(r_sum[:-1].tolist())

    new_open = (int(r_start[-1]), int(r_end[-1]), int(r_cnt[-1]), int(r_sum[-1]))
    return (c_starts, c_lasts, c_ns, c_tots), new_open


def _batch_unix_vals(rows: pd.DataFrame) -> "tuple[np.ndarray, np.ndarray]":
    """(epoch-seconds, half-up 1e-8-quantized values) for a sorted batch.
    ns-normalize first: pandas may hand us datetime64[us] via Arrow."""
    unix = (
        rows["ts"].astype("datetime64[ns]").astype("int64") // 10**9
    ).to_numpy()
    vals = np.floor(
        rows["value"].fillna(0.0).to_numpy(dtype="float64") * _Q + 0.5
    ).astype("int64")
    return unix, vals


def streaming_sessionize(
    events: DataFrame,
    gap_seconds: int = 1800,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Sessionize a streaming events frame (append-mode closed sessions).

    ``events`` needs (user_id, event_id, ts, value); the watermark drives
    session-timeout flushing (a key that goes quiet is closed when the
    watermark passes ``last + gap``).

    ORDERING CONTRACT (round-8 displaced-replay audit): this operator
    compresses per-key history to one ``(start, last, n, total)`` row, so
    it requires per-key EVENT-TIME-ORDERED delivery ACROSS micro-batches
    — what the staged replay guarantees and a Kafka topic keyed by
    user provides per-partition.  WITHIN a batch any order is fine (the
    batch is sorted here).  A cross-batch straggler older than the
    carried ``last`` cannot be placed against compressed state and
    corrupts the session's end/duration (measured: 35/904 sessions at
    10% one-chunk displacement — ``tests/test_streaming_sessions.py::
    test_fixed_width_sessionizer_requires_inorder_delivery``).  For
    disordered sources use :func:`streaming_sessionize_disordered`
    (buffers events, watermark-bounded state) or the built-in
    ``session_window`` twins (``stream_session_window_*``).
    """

    def sessions_df(
        user_id: int, starts: list, lasts: list, ns: list, tots_q: list
    ) -> pd.DataFrame:
        starts_a = np.asarray(starts, dtype="int64")
        lasts_a = np.asarray(lasts, dtype="int64")
        return pd.DataFrame(
            {
                "user_id": np.full(len(starts_a), user_id, dtype="int64"),
                "session_start_unix": starts_a,
                "session_end_unix": lasts_a,
                "duration_s": lasts_a - starts_a,
                "n_events": np.asarray(ns, dtype="int64"),
                # exact int total -> one correctly-rounded double division
                "total_value": np.asarray(tots_q, dtype="int64") / float(_Q),
            }
        )

    def fn(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key

        if state.hasTimedOut:
            start, last, n, tot = state.get
            state.remove()
            yield sessions_df(user_id, [start], [last], [n], [tot])
            return

        rows = pd.concat(list(pdfs)).sort_values(["ts", "event_id"])
        if rows.empty:
            if state.exists:
                _, last, _, _ = state.get
                wm0 = state.getCurrentWatermarkMs()
                state.setTimeoutTimestamp(
                    max((last + gap_seconds) * 1000 + 1, wm0 + 1)
                )
            return
        unix, vals = _batch_unix_vals(rows)
        open_state = tuple(state.get) if state.exists else None
        (c_starts, c_lasts, c_ns, c_tots), new_open = _advance_open_session(
            unix, vals, open_state, gap_seconds
        )

        # The final run stays open in state, flushed by event-time timeout
        # when the watermark passes last + gap.
        state.update(new_open)
        wm = state.getCurrentWatermarkMs()
        state.setTimeoutTimestamp(
            max((new_open[1] + gap_seconds) * 1000 + 1, wm + 1)
        )
        if c_starts:
            yield sessions_df(user_id, c_starts, c_lasts, c_ns, c_tots)

    marked = events.withWatermark("ts", watermark)
    return marked.groupBy("user_id").applyInPandasWithState(
        fn,
        SESSION_OUTPUT_SCHEMA,
        _STATE_SCHEMA,
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )


# Pending-event buffer state for the disorder-tolerant variant: ALL
# unfinalized events of the key inside the watermark horizon, not a
# fixed-width accumulator.  O(events within horizon) per key — the same
# state/disorder tradeoff Spark's built-in session_window makes.
_BUFFER_STATE_SCHEMA = T.StructType(
    [
        T.StructField("unix", T.ArrayType(T.LongType())),
        T.StructField("vals_q", T.ArrayType(T.LongType())),
    ]
)


def streaming_sessionize_disordered(
    events: DataFrame,
    gap_seconds: int = 1800,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Disorder-tolerant gap sessionization: correct for ANY arrival order
    within the watermark, at the cost of buffering raw events per key.

    The fixed-width :func:`streaming_sessionize` carries only
    ``(start, last, n, total)`` per open session, so it REQUIRES per-key
    event-time-ordered delivery across micro-batches (what the staged
    replay and a user-keyed Kafka partition provide) — a straggler older
    than the carried ``last`` cannot be placed against compressed state
    (round-8 displaced-replay audit: 35/904 corrupted sessions at 10%
    displacement).  This variant keeps every not-yet-finalized event in
    state instead; a session is emitted only when the WATERMARK passes
    ``last_event + gap``, at which point no future row can extend or
    split it (Spark drops sub-watermark input before the operator sees
    it).  Sessions finalize oldest-first (run ends are monotone within a
    key, so finalization is a prefix property of the sorted buffer).

    State is O(events inside the watermark horizon) per key — bounded by
    the watermark, not the stream; the in-order operator's O(1) state is
    the reward for the stronger delivery contract, this operator's
    correctness-under-disorder is the reward for the bigger state.  On
    in-order input it agrees with :func:`streaming_sessionize` wherever
    both emit, but because it finalizes ONLY via the watermark (never via
    an in-batch split), sessions the watermark has not yet passed are
    withheld — its bounded-replay output is a prefix-subset of the O(1)
    operator's (pinned by ``test_disordered_sessionizer_matches_inorder_
    operator_on_ordered_input``).
    """

    def sessions_df(user_id, starts, lasts, ns, tots_q) -> pd.DataFrame:
        starts_a = np.asarray(starts, dtype="int64")
        lasts_a = np.asarray(lasts, dtype="int64")
        return pd.DataFrame(
            {
                "user_id": np.full(len(starts_a), user_id, dtype="int64"),
                "session_start_unix": starts_a,
                "session_end_unix": lasts_a,
                "duration_s": lasts_a - starts_a,
                "n_events": np.asarray(ns, dtype="int64"),
                "total_value": np.asarray(tots_q, dtype="int64") / float(_Q),
            }
        )

    def finalize(unix, vals, wm_ms):
        """Split the sorted buffer into gap runs; emit the prefix of runs
        whose ``(last + gap) * 1000 + 1 < wm_ms``; return (emit_lists,
        kept arrays, first pending run's end).  The comparison is against
        the UN-floored ms watermark: flooring to seconds would mean a
        timeout firing with the watermark inside
        ``((last+gap)*1000, (last+gap+1)*1000]`` finalizes nothing and
        re-arms — and if the watermark never advances again (end of a
        bounded replay) the session would be withheld forever even though
        the timeout predicate was met.  The ``+1`` matches the armed
        timeout timestamp ``(end+gap)*1000 + 1`` exactly, so "the timeout
        fires" and "finalize emits the run" are the SAME predicate — the
        emitted set on a bounded replay is deterministically
        ``{runs: (end+gap)*1000+1 < final watermark}``, which is what the
        registered query's oracle selects."""
        is_new = np.empty(len(unix), dtype=bool)
        is_new[0] = True
        is_new[1:] = (unix[1:] - unix[:-1]) > gap_seconds
        run_starts = np.flatnonzero(is_new)
        run_last_idx = np.append(run_starts[1:] - 1, len(unix) - 1)
        r_start = unix[run_starts]
        r_end = unix[run_last_idx]
        n_final = int(
            np.searchsorted((r_end + gap_seconds) * 1000 + 1, wm_ms, side="left")
        )
        # Timeout basis = the FIRST unfinalized run's end: arming at the
        # last buffered event's end+gap would withhold an earlier run the
        # watermark has already passed if the watermark parks between the
        # two (bounded replay).  Timeouts cascade: each fire finalizes the
        # ripe prefix and re-arms at the new first pending run.
        next_end = int(r_end[n_final]) if n_final < len(r_end) else None
        if n_final == 0:
            return None, (unix, vals), next_end
        r_cnt = np.diff(np.append(run_starts, len(unix)))
        r_sum = np.add.reduceat(vals, run_starts)
        emit = (
            r_start[:n_final].tolist(),
            r_end[:n_final].tolist(),
            r_cnt[:n_final].tolist(),
            r_sum[:n_final].tolist(),
        )
        keep_from = int(run_starts[n_final]) if n_final < len(run_starts) else len(unix)
        return emit, (unix[keep_from:], vals[keep_from:]), next_end

    def fn(key, pdfs, state: GroupState):
        (user_id,) = key
        wm_ms = state.getCurrentWatermarkMs()

        if state.hasTimedOut:
            unix, vals = (np.asarray(a, dtype="int64") for a in state.get)
            emit, (ku, kv), next_end = finalize(unix, vals, wm_ms)
            if len(ku):
                state.update((ku.tolist(), kv.tolist()))
                # clamp past the watermark: a timeout <= the current
                # watermark is rejected by the state API.
                state.setTimeoutTimestamp(
                    max(
                        (next_end + gap_seconds) * 1000 + 1,
                        state.getCurrentWatermarkMs() + 1,
                    )
                )
            else:
                state.remove()
            if emit:
                yield sessions_df(user_id, *emit)
            return

        rows = pd.concat(list(pdfs))
        new_unix, new_vals = _batch_unix_vals(rows.sort_values(["ts", "event_id"]))
        if state.exists:
            old_u, old_v = (np.asarray(a, dtype="int64") for a in state.get)
            unix = np.concatenate([old_u, new_unix])
            vals = np.concatenate([old_v, new_vals])
            order = np.argsort(unix, kind="stable")
            unix, vals = unix[order], vals[order]
        else:
            unix, vals = new_unix, new_vals
        if not len(unix):
            return
        emit, (ku, kv), next_end = finalize(unix, vals, wm_ms)
        if len(ku):
            state.update((ku.tolist(), kv.tolist()))
            state.setTimeoutTimestamp(
                max(
                    (next_end + gap_seconds) * 1000 + 1,
                    state.getCurrentWatermarkMs() + 1,
                )
            )
        else:
            state.remove()
        if emit:
            yield sessions_df(user_id, *emit)

    marked = events.withWatermark("ts", watermark)
    return marked.groupBy("user_id").applyInPandasWithState(
        fn,
        SESSION_OUTPUT_SCHEMA,
        _BUFFER_STATE_SCHEMA,
        "append",
        GroupStateTimeout.EventTimeTimeout,
    )
