"""Custom stateful streaming operator #3: per-key exponentially-weighted
moving average (``applyInPandasWithState``) — numeric state evolution,
complementing the sessionizer (interval state) and the transition
operator (categorical state).

Each key's state is its running EWMA and observation count; every
arriving event folds ``ewma = 0.5·value + 0.5·ewma`` (first observation
seeds the fold with the raw value) in (ts, event_id) order, emitting the
updated running value per event.  α = 0.5 is a power of two, so each
step is two exact halvings and one rounded addition — the SAME IEEE
double sequence in any engine that folds in the same order, which is
what lets the DuckDB oracle (``list_reduce`` over the identically-
ordered value list) hash-match the final state bitwise.

The per-key fold is a scalar loop in the Python worker — a linear
recurrence is inherently sequential, and this honesty is the operator's
point (the batch closed-form ``Σ 0.5^(n-i)·x_i`` sums in a different
order and is NOT bit-identical).  At scale the loop is O(events) scalar
ops Arrow-batched per key group.

Equal-timestamp events never split across micro-batches here (the
replay stages chunk on timestamp VALUE boundaries), so the in-batch
(ts, event_id) sort reproduces the global fold order without carrying
the last-seen key in state.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from .sealed import _ripe, watermark_sealed

__all__ = ["streaming_ewma", "streaming_ewma_disordered", "EWMA_OUTPUT_SCHEMA"]

EWMA_OUTPUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("ewma", T.DoubleType()),
        T.StructField("n_seen", T.LongType()),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("ewma", T.DoubleType()),
        T.StructField("n", T.LongType()),
    ]
)


def _fold(
    user_id: int, ewma: float, n: int, ids: Any, vals: Any
) -> "tuple[float, int, pd.DataFrame]":
    """Fold ``vals`` in order into the running ``(ewma, n)`` (the first
    observation seeds the fold); return the new carry and the per-event
    trajectory frame."""
    out_ids: list[int] = []
    out_ewma: list[float] = []
    out_n: list[int] = []
    for eid, v in zip(ids, vals):
        v = float(v)
        ewma = v if n == 0 else 0.5 * v + 0.5 * ewma
        n += 1
        out_ids.append(int(eid))
        out_ewma.append(ewma)
        out_n.append(n)
    out = pd.DataFrame(
        {
            "user_id": pd.array([user_id] * len(out_ids), dtype="int64"),
            "event_id": pd.array(out_ids, dtype="int64"),
            "ewma": pd.array(out_ewma, dtype="float64"),
            "n_seen": pd.array(out_n, dtype="int64"),
        }
    )
    return float(ewma), int(n), out


def streaming_ewma(events: DataFrame) -> DataFrame:
    """Running per-key EWMA over a streaming events frame (append mode).

    ``events`` needs (user_id, event_id, ts, value); rows with NULL
    value must be filtered out upstream (a NULL cannot fold).  Emits one
    row per event with the post-update running value and count; the last
    row per key (max ``n_seen``) is the key's final state and equals the
    batch ``list_reduce`` fold over the same ordered values.

    ORDERING CONTRACT (round-9 displaced-replay audit): the ``(ewma, n)``
    state cannot be rewound, so this operator requires per-key
    EVENT-TIME-ORDERED delivery ACROSS micro-batches; a cross-batch
    straggler folds out of order and every later running value of the key
    diverges from the (ts, event_id)-ordered fold (measured: 15/15 users'
    final fold diverged at 10% one-chunk displacement —
    ``tests/test_streaming_disorder.py::
    test_ewma_operator_requires_inorder_delivery``).  For disordered
    sources use :func:`streaming_ewma_disordered`.
    """

    def fn(
        key: Tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        rows = pd.concat(list(pdfs))
        if rows.empty:
            return
        rows = rows.sort_values(["ts", "event_id"])
        ewma, n = state.get if state.exists else (0.0, 0)
        ewma, n, out = _fold(
            user_id, float(ewma), int(n), rows["event_id"], rows["value"]
        )
        state.update((ewma, n))
        yield out

    return events.groupBy("user_id").applyInPandasWithState(
        fn,
        EWMA_OUTPUT_SCHEMA,
        _STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )


def streaming_ewma_disordered(
    events: DataFrame, watermark: str = "30 minutes"
) -> DataFrame:
    """Disorder-tolerant running EWMA: correct for ANY arrival order
    within the watermark, at the cost of buffering unsealed events.

    ORDERING CONTRACT of the fixed-width twin (round-9 displaced-replay
    audit): :func:`streaming_ewma` folds a linear recurrence whose state
    ``(ewma, n)`` cannot be rewound, so a cross-batch straggler is folded
    AFTER values it should precede — every subsequent running value of
    that key diverges from the (ts, event_id)-ordered fold (measured in
    ``tests/test_streaming_disorder.py``).  This variant keeps events in
    the :mod:`.sealed` buffer and folds an event into the carried
    ``(ewma, n)`` only once the watermark passes its event time (the
    ``+1`` convention of :mod:`.sealed`) — after which Spark drops any
    arrival that could still sort at or before it.  Sealed rows carry the
    EXACT fold the batch ``list_reduce`` oracle produces — alpha = 1/2,
    two exact halvings + one rounded add per step, in settled global
    order, so the hash match is bitwise.
    """

    def seal(user_id, wm_ms, carry, us, ids, vals):
        m, next_ms = _ripe(us // 1000, wm_ms)
        if not m:
            return 0, next_ms, carry, None
        ewma, n, out = _fold(
            user_id, float(carry[0]), int(carry[1]), ids[:m], vals[:m]
        )
        return m, next_ms, (ewma, n), out

    return watermark_sealed(
        events,
        watermark,
        EWMA_OUTPUT_SCHEMA,
        carry=[("ewma", T.DoubleType(), 0.0), ("n", T.LongType(), 0)],
        payload=[
            (
                "vals",
                T.DoubleType(),
                lambda rows: rows["value"].to_numpy(dtype="float64"),
            )
        ],
        seal=seal,
    )
