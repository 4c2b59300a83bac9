"""The watermark-sealed event buffer behind the disorder-tolerant stateful
operators (``streaming_sessionize_disordered``,
``streaming_transitions_disordered``, ``streaming_ewma_disordered``).

Each of those operators keeps, per user, every event whose output the
watermark has not yet settled, sorted by ``(ts, event_id)``, plus an
optional fixed-width carry (the EWMA's ``(ewma, n)`` fold over the sealed
prefix).  On every call — new rows or an event-time timeout, which is just
a call with no new rows — :func:`watermark_sealed` merges and sorts the
buffer, hands it to the operator's ``seal`` rule, keeps the unsealed tail
and arms the next timeout.  The operators differ only in their seal rule
and their output frame.

The ``+1`` convention.  An output unit (a session run, a transition pair,
an EWMA step) whose settling instant is ``ms`` (epoch milliseconds:
``(end + gap) * 1000`` for a session, the event time for a pair's "to"
event or an EWMA step) is sealed iff ``ms + 1 < watermark_ms``, and the
timeout is armed at ``ms + 1`` for the first unsealed unit.  Spark fires an
event-time timeout only once the watermark is strictly past the armed
timestamp, so "the timeout fires" and "the seal admits the unit" are the
same predicate, and the set emitted by a bounded replay is exactly
``{units: ms + 1 < final watermark}`` — what the registered queries'
DuckDB oracles select.  The comparison is against the un-floored ms
watermark; flooring would leave a fired timeout sealing nothing.  The
armed timestamp is clamped to ``watermark_ms + 1``: the state API rejects
a timeout older than the current watermark, and one at the watermark
would never fire.

State per key is O(events inside the watermark horizon) — bounded by the
watermark, not the stream; that is the price of tolerating any arrival
order within it.  The in-order twins keep O(1) fixed-width state instead.
"""

from __future__ import annotations

from typing import Any, Callable, Iterator, Sequence, Tuple

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

__all__ = ["watermark_sealed"]


def _ripe(ms: np.ndarray, wm_ms: int) -> "tuple[int, int | None]":
    """For sorted settling instants ``ms``: how many lead units are sealed
    (``ms + 1 < wm_ms``) and the timeout for the first unsealed one."""
    due = ms + 1
    m = int(np.searchsorted(due, wm_ms, side="left"))
    return m, (int(due[m]) if m < len(due) else None)


def watermark_sealed(
    events: DataFrame,
    watermark: str,
    out_schema: T.StructType,
    carry: Sequence,
    payload: Sequence,
    seal: Callable,
) -> DataFrame:
    """Run ``seal`` over a per-user buffer of ``events`` (needs user_id,
    event_id, ts and whatever ``payload`` reads), watermarked on ``ts``.

    ``carry`` is ``[(name, spark type, initial value), ...]`` — the
    fixed-width fold over sealed events, empty for an operator that
    carries nothing; ``payload`` is ``[(name, element spark type,
    extract), ...]`` where ``extract(rows)`` gives the batch's numpy column
    (with an explicit dtype, so an empty batch converts the same way).
    The state row is the carry fields, then arrays ``us`` (event time in
    epoch micros) and ``ids``, then the payload arrays.  ``seal`` sees the
    buffer sorted by ``(us, ids)`` and returns ``(keep_from, next_ms,
    carry, out)``: the buffer keeps ``[keep_from:]``, the timeout is armed
    at ``next_ms`` (clamped past the watermark), and ``out`` (a frame in
    ``out_schema``, or None) is emitted.  The state is removed when the
    kept buffer is empty and there is no carry.
    """
    init = tuple(v for _, _, v in carry)

    def fn(
        key: Tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        wm_ms = state.getCurrentWatermarkMs()
        # A timed-out call gets one empty frame: it takes this same path
        # with no new rows.
        rows = pd.concat(list(pdfs))
        new = [
            (rows["ts"].astype("datetime64[ns]").astype("int64") // 1000).to_numpy(),
            rows["event_id"].to_numpy(dtype="int64"),
        ] + [extract(rows) for _, _, extract in payload]
        if state.exists:
            old = state.get
            c = old[: len(init)]
            cols = [
                np.concatenate([np.asarray(o, dtype=n.dtype), n])
                for o, n in zip(old[len(init) :], new)
            ]
        else:
            c, cols = init, new
        order = np.lexsort((cols[1], cols[0]))
        cols = [a[order] for a in cols]
        keep_from, next_ms, c, out = seal(user_id, wm_ms, c, *cols)
        kept = [a[keep_from:] for a in cols]
        if not len(kept[0]) and not init:
            state.remove()
        else:
            state.update(tuple(c) + tuple(a.tolist() for a in kept))
            if next_ms is not None:
                state.setTimeoutTimestamp(max(next_ms, wm_ms + 1))
        if out is not None:
            yield out

    state_schema = T.StructType(
        [T.StructField(name, typ) for name, typ, _ in carry]
        + [
            T.StructField("us", T.ArrayType(T.LongType())),
            T.StructField("ids", T.ArrayType(T.LongType())),
        ]
        + [T.StructField(name, T.ArrayType(typ)) for name, typ, _ in payload]
    )
    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            out_schema,
            state_schema,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )
