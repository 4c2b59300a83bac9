"""In-flight observability: ``df.observe`` metrics and a
``StreamingQueryListener`` — per-batch counters WITHOUT a second scan.

The reference's only observability is a per-row ``print`` in its replay
producer (``stream_generator.py:57``), which is a driver-side console
write per record — unusable past toy scale.  The Spark-native form is:

* ``df.observe(name, <aggregate exprs>)`` — a ``CollectMetrics`` node
  that rides the query's OWN pass as accumulators: rows, null rates and
  conditional counts come out of the same scan that feeds the
  aggregation, with zero extra jobs (at 100 TB, "count the rows again"
  is a second multi-hour scan; observe is free);
* ``StreamingQueryListener`` — per-micro-batch progress events carrying
  the observed metrics AND the state-operator counters
  (``numRowsDroppedByWatermark`` — the rows a tight watermark silently
  discards, which no output-table query can reveal precisely because
  they never reach the output).

Both are wired to the flagship events pipeline here and gated two ways:
the batch observation is a registered, DuckDB-oracled query
(``obs_ingest_metrics``), and the listener's captured drop count is
asserted equal to an independently computed late-row oracle under the
displaced replay (``tests/test_observability.py``).

Watermark-drop accounting semantics (pinned empirically, Spark 4.1):

* LAG — the late-row filter in micro-batch N uses the watermark as of
  the START of batch N, i.e. the value derived from data seen through
  batch N-2 and REPORTED in batch N-1's progress
  (``eventTime.watermark``); eviction / append-emission uses the newer
  end-of-batch value.  Corollary: disorder of exactly one trigger can
  never be dropped, at ANY delay — the filter is always one batch
  behind the data that set the watermark.
* UNIT — ``numRowsDroppedByWatermark`` counts rows at the STATE
  operator, which sits above the map-side partial aggregation: its
  unit is partially-aggregated (group-key) rows per input partition,
  not raw input rows.  Raw arriving rows are what ``observe`` counts
  (attached below the watermark filter), so the two counters answer
  different questions by design: "how many rows arrived" vs "how many
  state updates were discarded".
* COMPLETE output mode never drops (state must cover all windows);
  drops occur in update/append modes.

The oracle in tests/test_observability.py encodes all three.
"""

from __future__ import annotations

import json
import re
import threading

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

__all__ = [
    "INGEST_OBS_NAME",
    "ingest_metric_exprs",
    "metric_identity_values",
    "observation_result",
    "StreamMetricsListener",
]

INGEST_OBS_NAME = "ingest_metrics"


def ingest_metric_exprs() -> list[Column]:
    """The standard ingest health metrics for an events-shaped frame:
    row count, null rates on the join/aggregate keys, conversion count,
    and an exact-DECIMAL value total (the same order-independent
    accumulation recipe as ``sum_exact``, so the observed total is
    partition-count-independent and bitwise comparable to the SQL
    oracle).  All are plain aggregate expressions — ``observe`` runs
    them as accumulators on the host query's pass."""
    return [
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("user_id").isNull(), 1)).alias("n_null_user"),
        F.count(F.when(F.col("value").isNull(), 1)).alias("n_null_value"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias(
            "n_purchase"
        ),
        F.sum(F.col("value").cast("decimal(28,10)")).alias("sum_value_dec"),
    ]


def metric_identity_values(exprs: list[Column]) -> dict:
    """Each metric's aggregate-identity value (the value a real aggregate
    returns over ZERO rows: ``count`` -> 0, ``sum``/``min``/``max`` ->
    NULL), keyed by alias — DERIVED from the expressions themselves so a
    metric added to :func:`ingest_metric_exprs` can never silently drift
    from a hand-maintained fallback dict."""
    out: dict = {}
    for c in exprs:
        s = str(c)
        m = re.match(r"Column<'(.*) AS (\w+)'>$", s, re.DOTALL)
        if not m:
            raise ValueError(f"observed metric expression has no alias: {s}")
        body, alias = m.group(1), m.group(2)
        out[alias] = 0 if body.startswith("count(") else None
    return out


def observation_result(obs, exprs: list[Column]) -> dict:
    """``Observation.get``, tolerant of the ZERO-ROW edge (routine at
    100 TB after partition pruning): when the observed plan processed no
    rows, classic PySpark's ``Observation.get`` asserts inside the JVM
    row conversion (``PythonSQLUtils.toPyRow`` arity check on a
    schema-less empty Row) instead of returning aggregate identities.

    Strategy, most- to least-specific:

    1. probe the private JVM handle (``obs._jo.getRow()``) when it
       exists — classic PySpark; its row arity distinguishes "no rows"
       from a populated result WITHOUT tripping the conversion;
    2. if the handle is absent (Spark Connect) or its shape changed
       (internals rename), fall back to the PUBLIC ``obs.get`` and map
       its zero-row conversion failure to the same identity values —
       exactly what the SQL oracle computes over zero rows.

    Path 1 with rows present re-raises real errors (nothing is
    swallowed); only the no-private-probe path has to treat a ``get``
    failure as the zero-row signal."""
    jo = getattr(obs, "_jo", None)
    if jo is not None:
        try:
            empty = jo.getRow().size() == 0
        except Exception:
            empty = None  # internals moved; use the public API below
        if empty is True:
            return metric_identity_values(exprs)
        if empty is False:
            return obs.get  # real failures propagate
    try:
        return obs.get
    except Exception:
        return metric_identity_values(exprs)


class _ProgressJsonBridge:
    """The py4j callback object behind :class:`StreamMetricsListener`:
    hands each progress event's JSON string over in one JVM call."""

    def __init__(self, listener: "StreamMetricsListener"):
        self.listener = listener

    def onQueryStarted(self, jevent) -> None:  # noqa: D102
        pass

    def onQueryProgress(self, jevent) -> None:  # noqa: D102
        self.listener._add_progress_json(jevent.progress().json())

    def onQueryIdle(self, jevent) -> None:  # noqa: D102
        pass

    def onQueryTerminated(self, jevent) -> None:  # noqa: D102
        self.listener._terminated.set()

    class Java:
        implements = ["org.apache.spark.sql.streaming.PythonStreamingQueryListener"]


class StreamMetricsListener(StreamingQueryListener):
    """Captures per-micro-batch progress for one named streaming query:
    observed metrics (from ``df.observe``) and state-operator counters.

    Listener events arrive on a separate bus thread, AFTER the batch
    they describe — ``awaitTermination()`` returning does not imply the
    final progress event has been delivered.  ``wait_terminated()``
    blocks on the QueryTerminated event, which the bus delivers after
    every progress event for that query, making the captured list
    complete and deterministic.

    Each progress is kept as ``json.loads`` of the event's JSON, which is
    the JVM's own ``StreamingQueryProgress.json()`` string.  PySpark's
    stock wrapper first rebuilds the whole progress object in Python
    (``QueryProgressEvent.fromJObject``: dozens of py4j reflection calls
    per trigger, each a class lookup on the JVM's listener thread) and
    only then runs the callback, which would read that same string back.
    So ``_jlistener`` registers :class:`_ProgressJsonBridge` instead, which
    fetches ``jevent.progress().json()`` in one call; the Python callbacks
    below stay for direct use."""

    def __init__(self, query_name: str):
        self.query_name = query_name
        self.progresses: list[dict] = []
        self._terminated = threading.Event()

    @property
    def _jlistener(self):
        """The JVM listener ``spark.streams.addListener`` registers (the
        same wrapper class PySpark's own ``_jlistener`` builds, around the
        one-call bridge); one object per listener, so ``removeListener``
        finds it."""
        from pyspark import SparkContext

        if not hasattr(self, "_jlistenerobj"):
            self._jlistenerobj = SparkContext._jvm.PythonStreamingQueryListenerWrapper(
                _ProgressJsonBridge(self)
            )
        return self._jlistenerobj

    def _add_progress_json(self, progress_json: str) -> None:
        p = json.loads(progress_json)
        if p.get("name") == self.query_name:
            self.progresses.append(p)

    # -- listener callbacks (bus thread) --------------------------------
    def onQueryStarted(self, event) -> None:  # noqa: D102
        pass

    def onQueryProgress(self, event) -> None:  # noqa: D102
        self._add_progress_json(event.progress.json)

    def onQueryIdle(self, event) -> None:  # noqa: D102
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: D102
        # Terminated events carry no name; the id check would need the
        # query handle, which races with start() — one listener per
        # replay (fresh query name per test) keeps this unambiguous.
        self._terminated.set()

    # -- host-side accessors ---------------------------------------------
    def wait_terminated(self, timeout: float = 120.0) -> bool:
        """Block until the bus has delivered the terminated event (and
        therefore every prior progress event for the query)."""
        return self._terminated.wait(timeout)

    def dropped_by_watermark(self) -> int:
        """Total input rows the watermark filter discarded across all
        micro-batches — the counter a lakehouse SLA dashboard alarms on."""
        return sum(
            so.get("numRowsDroppedByWatermark", 0)
            for p in self.progresses
            for so in p.get("stateOperators", [])
        )

    def observed_totals(self, obs_name: str = INGEST_OBS_NAME) -> dict:
        """Sum the named observation's numeric metrics across batches —
        for run-total counters (counts) this equals the batch query's
        aggregate over the same rows, which is what the test asserts."""
        totals: dict = {}
        for p in self.progresses:
            m = p.get("observedMetrics", {}).get(obs_name)
            if not m:
                continue
            for k, v in m.items():
                if isinstance(v, (int, float)) and not isinstance(v, bool):
                    totals[k] = totals.get(k, 0) + v
        return totals

    def reported_watermarks(self) -> list[str]:
        """Per-batch ``eventTime.watermark`` strings, batch order — the
        series the one-batch-lag drop oracle is computed against."""
        return [
            p.get("eventTime", {}).get("watermark")
            for p in self.progresses
        ]
