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

from .sealed import _ripe, watermark_sealed

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


def _gap_runs(
    unix: np.ndarray, vals_q: np.ndarray, gap_seconds: int
) -> "tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray, np.ndarray]":
    """Split sorted epoch-seconds into gap runs (a new run wherever the
    inter-event gap exceeds ``gap_seconds``); return each run's first
    index, start, end, event count and quantized value sum."""
    is_new = np.empty(len(unix), dtype=bool)
    is_new[0] = True
    is_new[1:] = (unix[1:] - unix[:-1]) > gap_seconds
    first = np.flatnonzero(is_new)
    last = np.append(first[1:] - 1, len(unix) - 1)
    counts = np.diff(np.append(first, len(unix)))
    return first, unix[first], unix[last], counts, np.add.reduceat(vals_q, first)


def _sessions_df(
    user_id: int, starts: Any, lasts: Any, ns: Any, tots_q: Any
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
    leaves open.  All O(n) numpy, no per-row Python.
    """
    _, r_start, r_end, r_cnt, r_sum = _gap_runs(unix, vals_q, gap_seconds)
    closed: list = [[], [], [], []]
    if open_state is not None:
        start, last, n, tot = open_state
        if unix[0] - last > gap_seconds:
            # The batch's first event doesn't extend the open session.
            closed = [[start], [last], [n], [tot]]
        else:
            # First run continues the open session from state.
            r_start[0] = start
            r_cnt[0] += n
            r_sum[0] += tot
    # Every run but the last is closed by the run after it.
    for acc, runs in zip(closed, (r_start, r_end, r_cnt, r_sum)):
        acc.extend(runs[:-1].tolist())
    new_open = (int(r_start[-1]), int(r_end[-1]), int(r_cnt[-1]), int(r_sum[-1]))
    return tuple(closed), new_open


def _quantized(values: pd.Series) -> np.ndarray:
    """Half-up 1e-8-quantized values (NULL counts as 0)."""
    return np.floor(
        values.fillna(0.0).to_numpy(dtype="float64") * _Q + 0.5
    ).astype("int64")


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

    def fn(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key

        if state.hasTimedOut:
            start, last, n, tot = state.get
            state.remove()
            yield _sessions_df(user_id, [start], [last], [n], [tot])
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
        # ns-normalize first: pandas may hand us datetime64[us] via Arrow.
        unix = (
            rows["ts"].astype("datetime64[ns]").astype("int64") // 10**9
        ).to_numpy()
        open_state = tuple(state.get) if state.exists else None
        closed, new_open = _advance_open_session(
            unix, _quantized(rows["value"]), open_state, gap_seconds
        )

        # The final run stays open in state, flushed by event-time timeout
        # when the watermark passes last + gap.
        state.update(new_open)
        wm = state.getCurrentWatermarkMs()
        state.setTimeoutTimestamp(
            max((new_open[1] + gap_seconds) * 1000 + 1, wm + 1)
        )
        if closed[0]:
            yield _sessions_df(user_id, *closed)

    marked = events.withWatermark("ts", watermark)
    return marked.groupBy("user_id").applyInPandasWithState(
        fn,
        SESSION_OUTPUT_SCHEMA,
        _STATE_SCHEMA,
        "append",
        GroupStateTimeout.EventTimeTimeout,
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
    the :mod:`.sealed` buffer instead; a gap run is emitted only when the
    watermark passes ``last_event + gap`` (the ``+1`` convention of
    :mod:`.sealed`), at which point no future row can extend or split it
    (Spark drops sub-watermark input before the operator sees it).  Run
    ends are monotone within a key, so sealing is a prefix property of
    the sorted buffer; the timeout is armed for the FIRST unsealed run, so
    a watermark parked between two runs still seals the earlier one.

    On in-order input it agrees with :func:`streaming_sessionize`
    wherever both emit, but because it finalizes ONLY via the watermark
    (never via an in-batch split), sessions the watermark has not yet
    passed are withheld — its bounded-replay output is a prefix-subset of
    the O(1) operator's (pinned by ``test_disordered_sessionizer_matches_
    inorder_operator_on_ordered_input``).
    """
    def seal(user_id, wm_ms, carry, us, ids, vals_q):
        first, starts, ends, counts, sums = _gap_runs(
            us // 10**6, vals_q, gap_seconds
        )
        m, next_ms = _ripe((ends + gap_seconds) * 1000, wm_ms)
        keep_from = int(first[m]) if m < len(first) else len(us)
        out = (
            _sessions_df(user_id, starts[:m], ends[:m], counts[:m], sums[:m])
            if m
            else None
        )
        return keep_from, next_ms, carry, out

    return watermark_sealed(
        events,
        watermark,
        SESSION_OUTPUT_SCHEMA,
        carry=[],
        payload=[("vals_q", T.LongType(), lambda rows: _quantized(rows["value"]))],
        seal=seal,
    )
