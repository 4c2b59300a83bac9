"""The watermark-sealed buffer's state function (``streaming.sealed``),
driven without Spark: each disorder-tolerant operator is built against a
stand-in frame that captures the state function it would hand to
``applyInPandasWithState``, and every call goes through a fake
``GroupState`` that records updates, removal and the armed timeout.
"""

from __future__ import annotations

import pandas as pd
import pytest

from bigdatapipeline_steamreviews_spark.streaming.ewma import (
    streaming_ewma_disordered,
)
from bigdatapipeline_steamreviews_spark.streaming.sessions import (
    streaming_sessionize_disordered,
)
from bigdatapipeline_steamreviews_spark.streaming.transitions import (
    streaming_transitions_disordered,
)

GAP = 1800
T0_MS = 1_699_920_000_000
COLUMNS = ["user_id", "event_id", "ts", "event_type", "value"]


class _Capture:
    """Stands in for a streaming frame; keeps the state function."""

    def withWatermark(self, col, delay):
        return self

    def groupBy(self, *cols):
        return self

    def applyInPandasWithState(self, fn, out_schema, state_schema, mode, timeout):
        self.fn, self.state_schema = fn, state_schema
        return self


class _FakeState:
    def __init__(self, wm_ms, value=None, timed_out=False):
        self.wm_ms, self.value, self.hasTimedOut = wm_ms, value, timed_out
        self.timeout = None
        self.removed = False

    @property
    def exists(self):
        return self.value is not None

    @property
    def get(self):
        return tuple(self.value)

    def getCurrentWatermarkMs(self):
        return self.wm_ms

    def update(self, value):
        self.value = tuple(value)

    def remove(self):
        self.value, self.removed = None, True

    def setTimeoutTimestamp(self, ms):
        self.timeout = ms


OPERATORS = {
    "sessions": lambda ev: streaming_sessionize_disordered(ev, gap_seconds=GAP),
    "transitions": streaming_transitions_disordered,
    "ewma": streaming_ewma_disordered,
}


def _state_fn(name):
    cap = _Capture()
    OPERATORS[name](cap)
    return cap.fn, [f.name for f in cap.state_schema.fields]


def _rows(*events):
    """(event_id, ms offset from T0_MS, event_type, value) -> a batch."""
    return pd.DataFrame(
        {
            "user_id": [7] * len(events),
            "event_id": [e[0] for e in events],
            "ts": pd.to_datetime([T0_MS + e[1] for e in events], unit="ms"),
            "event_type": [e[2] for e in events],
            "value": [e[3] for e in events],
        },
        columns=COLUMNS,
    )


def _call(fn, state, pdfs):
    out = list(fn((7,), iter(pdfs), state))
    return pd.concat(out).reset_index(drop=True) if out else None


def _frozen(state):
    return (state.value, state.timeout, state.removed)


def test_state_layout_is_carry_then_us_ids_then_payload():
    assert _state_fn("sessions")[1] == ["us", "ids", "vals_q"]
    assert _state_fn("transitions")[1] == ["us", "ids", "types"]
    assert _state_fn("ewma")[1] == ["ewma", "n", "us", "ids", "vals"]


@pytest.mark.parametrize("name", sorted(OPERATORS))
def test_timed_out_call_is_a_call_with_no_new_rows(name):
    fn, _ = _state_fn(name)
    first = _FakeState(wm_ms=T0_MS - 10**9)
    batch = _rows((2, 5_000, "b", 2.0), (1, 0, "a", 1.0), (3, 9_000, "c", 4.0))
    _call(fn, first, [batch])
    assert first.exists and first.timeout is not None
    later_wm = T0_MS + 6_000  # seals the events at 0 and 5s, not the one at 9s
    results = []
    for timed_out in (True, False):
        state = _FakeState(later_wm, first.value, timed_out=timed_out)
        # A timed-out call gets one empty, column-only frame, as PySpark
        # passes it.
        out = _call(fn, state, [pd.DataFrame(columns=COLUMNS)])
        results.append((out, _frozen(state)))
    (out_t, state_t), (out_d, state_d) = results
    assert state_t == state_d
    if name == "sessions":  # one gap run: nothing sealed yet
        assert out_t is None and out_d is None
    else:
        assert out_t is not None
        pd.testing.assert_frame_equal(out_t, out_d)


@pytest.mark.parametrize("name", sorted(OPERATORS))
def test_timeout_is_armed_past_the_watermark(name):
    """The first unsealed unit is due exactly AT the watermark
    (``ms + 1 == wm``): unsealed, and a timeout armed at its due time
    would never fire — the armed timestamp must be past the watermark."""
    fn, _ = _state_fn(name)
    if name == "sessions":  # two gap runs; the second settles at end + gap
        events = [(1, 0, "a", 1.0), (2, (GAP + 1) * 1000, "b", 2.0)]
        wm = T0_MS + (GAP + 1) * 1000 + GAP * 1000 + 1
    else:  # the second event settles at its own event time
        events = [(1, 0, "a", 1.0), (2, 60_000, "b", 2.0)]
        wm = T0_MS + 60_000 + 1
    state = _FakeState(wm)
    _call(fn, state, [_rows(*events)])
    assert state.exists and state.timeout is not None
    assert state.timeout > wm


def test_drained_buffer_without_carry_removes_state():
    fn, _ = _state_fn("sessions")
    state = _FakeState(wm_ms=T0_MS + (GAP + 10) * 1000)
    out = _call(fn, state, [_rows((1, 0, "a", 1.5))])
    assert out is not None and out["n_events"].tolist() == [1]
    assert state.removed and not state.exists and state.timeout is None


def test_drained_buffer_with_carry_keeps_state():
    fn, _ = _state_fn("ewma")
    state = _FakeState(wm_ms=T0_MS + 10_000)
    out = _call(fn, state, [_rows((1, 0, "a", 1.0), (2, 1_000, "b", 3.0))])
    assert out["ewma"].tolist() == [1.0, 2.0]
    assert not state.removed
    assert state.value == (2.0, 2, [], [], [])
    assert state.timeout is None


def test_transitions_buffer_keeps_the_last_sealed_event():
    fn, _ = _state_fn("transitions")
    state = _FakeState(wm_ms=T0_MS + 10_000)
    out = _call(fn, state, [_rows((1, 0, "a", 0.0), (2, 1_000, "b", 0.0))])
    assert list(zip(out["from_state"], out["to_state"])) == [("a", "b")]
    us0 = (T0_MS + 1_000) * 1000
    assert state.value == ([us0], [2], ["b"])
    assert not state.removed and state.timeout is None
