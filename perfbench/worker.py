"""Spark side of the benchmark: one workload in one process.

``run.py`` starts this script in a child process with the run's temp root
as ``TMPDIR`` and ``SPARK_LOCAL_DIRS``, the checkout on ``PYTHONPATH`` (so
Spark's Python workers import the package from any working directory) and
the generated inputs in ``--inputs``.  It starts a session, warms the
workload up, times the workload's ops, and writes the raw measurements to
``--out/result.json`` and the outputs the oracles check to ``--out/*.pkl``.
It checks nothing itself: correctness runs in ``run.py`` after this process
has exited, outside the timed window.
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import sys
import tempfile
import threading
import time

import numpy as np

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.getcwd())

import stats  # noqa: E402

# Spark's local core count: one fixed setting for every workload.  Two
# cores gave the steadiest figures on a 4-vCPU host with hypervisor steal;
# more cores than the host can keep busy only add scheduling noise.
SPARK_CORES = 2
SUMMARY_STATE_PARTITIONS = 2
SESSION_STATE_PARTITIONS = 2

SERVING_KEYS = ["event_type", "time_year", "time_month", "time_day"]
DRILL_METRICS = ["A_value", "T_events", "T_high"]
TOPN_METRICS = ["A_value", "T_events", "T_conversions"]
TOPN_N = 10

# One job per curation module: exact dedup (operators/dedup.py), MinHash
# LSH over staged bands (dedup.py, sources/staging.py) and exact cosine
# top-k (operators/similarity.py).  Each costs under a second a call, so a
# run times six or more passes; the IVF-PQ and streaming-curation jobs cost
# 1.1-5.5 s a call whatever the corpus size, which would leave one or two.
CURATION_JOBS = [
    "x1_exact_dedup",
    "x2_minhash_lsh",
    "x3_cosine_topk",
]
# The jobs that build a staged artifact on their first call.
STAGED_CURATION_JOBS = ("x2_minhash_lsh",)
# Untimed passes after the first (checked) one; about 15 s on a 4-vCPU host.
CURATION_WARM_PASSES = 12

# The benchmark's own files (the checkpoints it hands the stream queries,
# the serving table it hands the upsert writer) live under this directory
# of the run's temp root, and its memory tables carry these names, so the
# leak counts below see only what the program leaves on its own.
OWN_DIR = "perfbench_own"
OWN_TABLES = ("perfbench_warm", "perfbench_timed")

# The dashboard's fixed request set, checked against DuckDB over the final
# serving table after the timed window.
FIXED_READS = [
    {"kind": "drill", "app": "app0000", "year": 2024, "month": 1, "day": 5},
    {"kind": "topn", "app": "app0000", "year": 2024, "month": 1, "day": 5},
    {"kind": "slice", "app": "app0000", "year": 2024, "month": 1, "day": 5},
    {"kind": "dict", "app": "app0000", "year": 2024, "month": 1, "day": 5},
]


class Tracer:
    """Spans kept in memory and written at exit; off in untraced runs.

    A span is ``(name, start_s, end_s, parent, op)`` with times relative to
    the timed window's start.  ``overhead_s`` accumulates time spent in
    trace-only work (status polls, process sampling) inside the window."""

    def __init__(self, on: bool) -> None:
        self.on = on
        self.t0 = time.perf_counter()
        self.spans: list[tuple] = []
        self.overhead_s = 0.0
        self.rss_jvm_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def span(self, name: str, start: float, end: float, parent: str | None, op: int) -> None:
        if self.on:
            self.spans.append((name, start - self.t0, end - self.t0, parent, op))

    def start_sampler(self, pid: int, period_s: float = 0.25) -> None:
        """Sample the JVM's resident memory in the process tree."""
        if not self.on:
            return

        def loop() -> None:
            while not self._stop.wait(period_s):
                t = time.perf_counter()
                u = stats.tree_usage(stats.read_proc(), pid)
                self.rss_jvm_mb = max(self.rss_jvm_mb, u["jvm"]["rss_mb"])
                self.overhead_s += time.perf_counter() - t

        self._thread = threading.Thread(target=loop, daemon=True)
        self._thread.start()

    def stop_sampler(self) -> None:
        if self._thread is not None:
            self._stop.set()
            self._thread.join(timeout=5)


class Window:
    """The timed window: wall time, process-tree CPU and host steal."""

    def __init__(self, pid: int) -> None:
        self.pid = pid

    def __enter__(self) -> "Window":
        self.u0 = stats.tree_usage(stats.read_proc(), self.pid)
        self.s0 = stats.steal_ticks()
        self.t0_epoch = time.time()
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc) -> None:
        self.wall_s = time.perf_counter() - self.t0
        self.u1 = stats.tree_usage(stats.read_proc(), self.pid)
        self.steal_pct = stats.steal_pct(self.s0, stats.steal_ticks())

    def record(self) -> dict:
        return {
            "wall_s": self.wall_s,
            "cpu_ms": stats.cpu_delta(self.u0, self.u1),
            "hwm_mb": {r: self.u1[r]["hwm_mb"] for r in self.u1},
            "steal_pct": self.steal_pct,
        }


def _dump(obj, out_dir: str, name: str) -> None:
    with open(os.path.join(out_dir, name), "wb") as f:
        pickle.dump(obj, f)


def _progress_summary(progs: list[dict]) -> list[dict]:
    """The per-trigger fields the benchmark reads from Spark's
    ``StreamingQueryProgress``."""
    out = []
    for p in progs:
        ops = p.get("stateOperators") or []
        out.append(
            {
                "batch": p["batchId"],
                "rows_in": p.get("numInputRows", 0),
                "rows_out": (p.get("sink") or {}).get("numOutputRows", -1),
                "ms": p.get("durationMs", {}),
                "state_rows": sum(o.get("numRowsTotal", 0) for o in ops),
                "state_updated": sum(o.get("numRowsUpdated", 0) for o in ops),
                "state_commit_ms": sum(o.get("commitTimeMs", 0) for o in ops),
                "state_mem_bytes": sum(o.get("memoryUsedBytes", 0) for o in ops),
                "timestamp": p.get("timestamp"),
            }
        )
    return out


# ---------------------------------------------------------------------------
# Streams
# ---------------------------------------------------------------------------


def _drain(spark, build, source_dir: str, name: str, ckpt: str, mode: str, partitions: int):
    """Drain every file in ``source_dir`` (one per trigger) through
    ``build(stream)`` into the memory table ``name`` with checkpoint
    ``ckpt``; returns (table, progresses)."""
    from bigdatapipeline_steamreviews_spark.streaming.metrics import StreamMetricsListener
    from bigdatapipeline_steamreviews_spark.streaming.summarizer import (
        events_file_stream,
        run_to_memory_table,
    )

    listener = StreamMetricsListener(name)
    spark.streams.addListener(listener)
    try:
        result = build(events_file_stream(spark, source_dir, max_files_per_trigger=1))
        table = run_to_memory_table(result, name, ckpt, mode, shuffle_partitions=partitions)
        if not listener.wait_terminated(60):
            raise RuntimeError(f"{name}: no terminated event within 60 s; progress is incomplete")
    finally:
        spark.streams.removeListener(listener)
    return table, _progress_summary(listener.progresses)


# Trigger phases in the order Spark runs them within one micro-batch.
TRIGGER_PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets")


def _trigger_spans(tracer: Tracer, p: dict, win: "Window") -> None:
    """Spans for one trigger and its phases, placed by the progress event's
    start timestamp; phases are laid end to end from that start."""
    if not tracer.on:
        return
    from datetime import datetime

    start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
    t = tracer.t0 + (start - win.t0_epoch)
    tracer.span("trigger", t, t + p["ms"].get("triggerExecution", 0) / 1000.0, None, p["batch"])
    for phase in TRIGGER_PHASES:
        d = p["ms"].get(phase, 0) / 1000.0
        tracer.span(phase, t, t + d, "trigger", p["batch"])
        t += d


def _own_dir() -> str:
    path = os.path.join(tempfile.gettempdir(), OWN_DIR)
    os.makedirs(path, exist_ok=True)
    return path


def _stream_workload(spark, a, tracer: Tracer, build, mode: str, partitions: int) -> dict:
    """Warm up on the warm files, then time the drain of the backlog by a
    fresh query.  (The memory sink cannot resume a checkpoint in update or
    append mode, so the timed query starts from empty state.)"""
    _drain(spark, build, os.path.join(a.inputs, "warm"), OWN_TABLES[0],
           tempfile.mkdtemp(prefix="ckpt_", dir=_own_dir()), mode, partitions)
    backlog = os.path.join(a.inputs, "backlog")
    n_files = sum(1 for f in os.listdir(backlog) if f.endswith(".parquet"))
    setup_end = time.time()

    error = None
    progs: list[dict] = []
    tracer.t0 = time.perf_counter()
    tracer.start_sampler(os.getpid())
    with Window(os.getpid()) as win:
        try:
            table, progs = _drain(spark, build, backlog, OWN_TABLES[1],
                                  tempfile.mkdtemp(prefix="ckpt_", dir=_own_dir()), mode, partitions)
        except Exception as e:  # noqa: BLE001 - a failed stream is a failed op, reported
            error = f"{type(e).__name__}: {e}"
    tracer.stop_sampler()
    res = _after_window(spark, win, tracer)
    for p in progs:
        _trigger_spans(tracer, p, win)
    if error is None:
        _dump(table.toPandas(), a.out, "stream_out.pkl")
    res.update(
        setup_end=setup_end,
        n_ops=n_files,
        n_ok=sum(1 for p in progs if p["rows_in"] > 0),
        errors=[error] if error else [],
        progress=progs,
    )
    return res


def summary_stream(spark, a, tracer: Tracer) -> dict:
    from bigdatapipeline_steamreviews_spark.streaming.summarizer import streaming_daily_summary

    # No watermark, as the reference summarizer: every (app, day) stays open
    # and update mode re-emits a key whenever a row (late or not) lands in it.
    return _stream_workload(
        spark, a, tracer, lambda s: streaming_daily_summary(s, watermark=None),
        "update", SUMMARY_STATE_PARTITIONS,
    )


def session_stream(spark, a, tracer: Tracer) -> dict:
    from bigdatapipeline_steamreviews_spark.streaming.sessions import streaming_sessionize

    return _stream_workload(
        spark, a, tracer,
        lambda s: streaming_sessionize(s, gap_seconds=1800, watermark="30 minutes"),
        "append", SESSION_STATE_PARTITIONS,
    )


# ---------------------------------------------------------------------------
# Dashboard
# ---------------------------------------------------------------------------


def build_read(spark, table_dir: str, r: dict):
    """One visualizer interaction as an engine DataFrame over the serving
    table as it is now."""
    from pyspark.sql import functions as F

    from bigdatapipeline_steamreviews_spark.operators.aggregations import (
        global_rollup,
        monthly_rollup,
    )
    from bigdatapipeline_steamreviews_spark.operators.serving import (
        distinct_values,
        hierarchical_time_filter,
        top_n,
    )

    df = spark.read.parquet(table_dir)
    kind = r["kind"]
    if kind == "drill":
        return monthly_rollup(
            df.filter(F.col("event_type") == r["app"]), DRILL_METRICS,
            ["event_type", "time_year", "time_month"],
        )
    if kind == "topn":
        sliced = hierarchical_time_filter(df, year=r["year"], month=r["month"])
        return top_n(
            global_rollup(sliced, TOPN_METRICS),
            [F.col("T_events").desc(), F.col("event_type")], TOPN_N,
        )
    if kind == "slice":
        return hierarchical_time_filter(df, year=r["year"], month=r["month"], day=r["day"])
    if kind == "dict":
        return distinct_values(df, "event_type")
    raise ValueError(f"unknown read kind {kind!r}")


def dashboard(spark, a, tracer: Tracer) -> dict:
    from bigdatapipeline_steamreviews_spark.operators.aggregations import daily_summary
    from bigdatapipeline_steamreviews_spark.operators.serving import with_date_parts
    from bigdatapipeline_steamreviews_spark.sources.tables import load_table
    from bigdatapipeline_steamreviews_spark.streaming.serving_sink import upsert_batch_writer

    with open(os.path.join(a.inputs, "dashboard.json")) as f:
        spec = json.load(f)
    table_dir = os.path.join(_own_dir(), "serving_table")
    write = upsert_batch_writer(table_dir, SERVING_KEYS)
    write(with_date_parts(daily_summary(load_table(spark, os.path.join(a.inputs, "base"), "events"))), 0)
    schema = spark.read.parquet(table_dir).schema
    deltas = spec["deltas"]
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def delta_df(i: int):
        return spark.read.schema(schema).parquet(deltas[i]["path"])

    def do_read(r: dict, op: int, rec: dict | None) -> None:
        t0 = time.perf_counter()
        if rec is not None and tracer.on:
            g0 = time.perf_counter()
            sc.setJobGroup(f"read{op}", r["kind"])
            tracer.overhead_s += time.perf_counter() - g0
        q = build_read(spark, table_dir, r)
        t1 = time.perf_counter()
        if tracer.on:
            q._jdf.queryExecution().executedPlan()
        t2 = time.perf_counter()
        q.collect()
        t3 = time.perf_counter()
        if rec is None:
            return
        rec["reads"].append({"kind": r["kind"], "ms": (t3 - t0) * 1000.0,
                             "build_ms": (t1 - t0) * 1000.0, "plan_ms": (t2 - t1) * 1000.0,
                             "exec_ms": (t3 - t2) * 1000.0})
        if tracer.on:
            g0 = time.perf_counter()
            jobs = tracker.getJobIdsForGroup(f"read{op}")
            tasks = 0
            for j in jobs:
                info = tracker.getJobInfo(j)
                for s in (info.stageIds if info else []):
                    si = tracker.getStageInfo(s)
                    tasks += si.numTasks if si else 0
            rec["reads"][-1].update(jobs=len(jobs), tasks=tasks)
            sc.setJobGroup("idle", "idle")
            tracer.overhead_s += time.perf_counter() - g0
            tracer.span("read", t0, t3, None, op)
            tracer.span("build", t0, t1, "read", op)
            tracer.span("plan", t1, t2, "read", op)
            tracer.span("exec", t2, t3, "read", op)

    def do_write(i: int, op: int, rec: dict | None) -> None:
        t0 = time.perf_counter()
        write(delta_df(i), i + 1)
        t1 = time.perf_counter()
        if rec is None:
            return
        rec["writes"].append({"ms": (t1 - t0) * 1000.0})
        if tracer.on:
            rec["writes"][-1].update(table_bytes=stats.dir_bytes(table_dir),
                                     delta_bytes=os.path.getsize(deltas[i]["path"]))
            tracer.span("upsert", t0, t1, None, op)

    plan = spec["plan"]
    n_warm = spec["warm_steps"]
    for i in range(n_warm):
        do_write(i, 0, None)
        for r in plan[i]:
            do_read(r, 0, None)
    setup_end = time.time()

    rec: dict = {"reads": [], "writes": [], "first_read_ms": []}
    errors: list[str] = []
    n_ops = op = 0
    tracer.t0 = time.perf_counter()
    tracer.start_sampler(os.getpid())
    with Window(os.getpid()) as win:
        for i in range(n_warm, len(deltas)):
            n_ops += 1 + len(plan[i])
            try:
                op += 1
                do_write(i, op, rec)
                for j, r in enumerate(plan[i]):
                    op += 1
                    do_read(r, op, rec)
                    if j == 0:
                        rec["first_read_ms"].append(rec["reads"][-1]["ms"])
            except Exception as e:  # noqa: BLE001 - counted as a failed op
                errors.append(f"step {i}: {type(e).__name__}: {e}")
    tracer.stop_sampler()
    res = _after_window(spark, win, tracer)

    _dump([build_read(spark, table_dir, r).toPandas() for r in FIXED_READS], a.out, "fixed_reads.pkl")
    res.update(
        setup_end=setup_end,
        n_ops=n_ops,
        n_ok=len(rec["reads"]) + len(rec["writes"]),
        errors=errors,
        table_dir=table_dir,
        **rec,
    )
    return res


# ---------------------------------------------------------------------------
# Curation
# ---------------------------------------------------------------------------


def curation_batch(spark, a, tracer: Tracer) -> dict:
    from bigdatapipeline_steamreviews_spark.registry import queries

    regs = queries()
    sf = os.path.join(a.inputs, "curation")
    first: dict[str, dict] = {}
    outputs: dict[str, object] = {}
    for name in CURATION_JOBS:
        t0 = time.perf_counter()
        df = regs[name](spark, sf)
        t1 = time.perf_counter()
        outputs[name] = df.toPandas()
        first[name] = {"build_ms": (t1 - t0) * 1000.0, "exec_ms": (time.perf_counter() - t1) * 1000.0}
        spark.catalog.clearCache()
    _dump(outputs, a.out, "curation_out.pkl")
    # Untimed passes as the timed ones run.  The JVM's compiler threads
    # stay busy for about a minute: after one warm pass a pass still gets a
    # quarter faster over the next 20 s, and how far along that curve a run
    # is depends on how much CPU the compiler threads got.  The timed
    # passes start where it has flattened.
    for _ in range(CURATION_WARM_PASSES):
        for name in CURATION_JOBS:
            regs[name](spark, sf).write.format("noop").mode("overwrite").save()
            spark.catalog.clearCache()
    setup_end = time.time()

    rng = np.random.Generator(np.random.PCG64([a.seed, 5]))
    jobs: list[dict] = []
    errors: list[str] = []
    n_ops = 0
    tracer.t0 = time.perf_counter()
    tracer.start_sampler(os.getpid())
    with Window(os.getpid()) as win:
        for p in range(a.passes):
            for k in rng.permutation(len(CURATION_JOBS)):
                name = CURATION_JOBS[int(k)]
                n_ops += 1
                try:
                    t0 = time.perf_counter()
                    df = regs[name](spark, sf)
                    t1 = time.perf_counter()
                    df.write.format("noop").mode("overwrite").save()
                    t2 = time.perf_counter()
                    jobs.append({"job": name, "pass": p, "build_ms": (t1 - t0) * 1000.0,
                                 "exec_ms": (t2 - t1) * 1000.0, "ms": (t2 - t0) * 1000.0})
                    tracer.span(name, t0, t2, None, n_ops)
                    tracer.span("build", t0, t1, name, n_ops)
                    tracer.span("exec", t1, t2, name, n_ops)
                except Exception as e:  # noqa: BLE001 - counted as a failed op
                    errors.append(f"{name}: {type(e).__name__}: {e}")
                spark.catalog.clearCache()
    tracer.stop_sampler()
    res = _after_window(spark, win, tracer)
    res.update(setup_end=setup_end, n_ops=n_ops, n_ok=len(jobs), errors=errors,
               jobs=jobs, first=first)
    return res


# ---------------------------------------------------------------------------


def _after_window(spark, win: Window, tracer: Tracer) -> dict:
    """What the program leaves behind, read right after the timed window:
    checkpoint dirs it made itself and memory tables it registered, not
    counting the benchmark's own (``OWN_DIR``, ``OWN_TABLES``)."""
    tmp = tempfile.gettempdir()
    res = win.record()
    res["ckpt_dirs_left"] = sum(1 for d in os.listdir(tmp) if d.startswith("spark_graft_ckpt_"))
    res["memory_tables_left"] = sum(
        1 for t in spark.catalog.listTables() if t.isTemporary and t.name not in OWN_TABLES
    )
    res["trace_overhead_s"] = tracer.overhead_s
    res["rss_jvm_mb"] = tracer.rss_jvm_mb
    return res


WORKLOADS = {
    "summary_stream": summary_stream,
    "session_stream": session_stream,
    "dashboard": dashboard,
    "curation_batch": curation_batch,
}

# A traced run of a workload named here runs a second workload after its
# own, in the same Spark process, for that workload's per-layer metrics:
# the serving tier that consumes the summarizer's output, and the
# sessionizer, which is not a listed workload (see README.md).  Its inputs
# and outputs sit in a subdirectory named after it.
TRACE_PHASES = {"summary_stream": "dashboard", "curation_batch": "session_stream"}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--inputs", required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--passes", type=int, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    from bigdatapipeline_steamreviews_spark.session import get_spark

    tmp = tempfile.gettempdir()
    t0 = time.perf_counter()
    spark = get_spark(
        "perfbench",
        master=f"local[{SPARK_CORES}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            # The heap starts at its limit (SPARK_GRAFT_DRIVER_MEM) and is
            # touched at start, so resident memory does not drift with the
            # collector's expansion decisions or with how much heap a run
            # happens to touch.
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} -XX:+AlwaysPreTouch",
        },
    )
    start_s = time.perf_counter() - t0
    session_end = time.time()
    tracer = Tracer(bool(a.trace))
    try:
        res = WORKLOADS[a.workload](spark, a, tracer)
        phase = TRACE_PHASES.get(a.workload) if a.trace else None
        if phase:
            phase_args = argparse.Namespace(**{**vars(a), "inputs": os.path.join(a.inputs, phase),
                                               "out": os.path.join(a.out, phase)})
            ptracer = Tracer(True)
            res[phase] = WORKLOADS[phase](spark, phase_args, ptracer)
            res[phase]["spans"] = ptracer.spans
    finally:
        spark.stop()
    res["session_start_s"] = start_s
    res["session_end"] = session_end
    res["spans"] = tracer.spans
    with open(os.path.join(a.out, "result.json"), "w") as f:
        json.dump(res, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
