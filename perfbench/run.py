"""Benchmark entry point: one workload, one run.

    python3 perfbench/run.py --workload summary_stream --seed 1 --seconds 10 --trace 0

Run from the repository root.  Generates the workload's inputs from
``--seed`` under ``.perfbench_runs/``, runs the workload in a child Spark
process (``worker.py``) with a fresh temp root, checks every output against
the registry's DuckDB oracles, deletes what it created, and prints one JSON
line last: ``{"correct", "attempted", "failed", "metrics"}``.  With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` they
are the per-layer ones, and the spans go to a sidecar under
``.perfbench_out/``.  See ``perfbench/README.md``.
"""

from __future__ import annotations

import time

T_START = time.time()  # setup_s counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import pickle  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import stats  # noqa: E402
import worker  # noqa: E402

PACKAGE = "bigdatapipeline_steamreviews_spark"
WORKLOADS = ("summary_stream", "session_stream", "dashboard", "curation_batch")
RUNS_DIR = ".perfbench_runs"
OUT_DIR = ".perfbench_out"
# The whole run must end within 180 s: the Spark process gets what is left
# of 160 s after input generation, and its shutdown a few seconds more.
RUN_BUDGET_S = 160
# The driver JVM's heap limit (the engine's SPARK_GRAFT_DRIVER_MEM).  The
# engine's default, 8g, lets the heap's size, and so resident memory, drift
# with garbage-collector timing; every workload fits in 2g.
DRIVER_MEM = "2g"

# Work per run, sized from --seconds so that on a 4-vCPU host at local[2]
# (a warm trigger ~0.45 s for the summarizer and ~1.7 s for the sessionizer, a
# warm curation pass ~1.0 s, a dashboard step ~1.6 s) the timed phase lasts
# 15-20 s at --seconds 15, with 41 summarizer triggers (tail p76) and 45
# curation jobs (tail p76).  The work is a function of the seed and
# --seconds only, never of measured speed, so every run of a seed does the
# same work.  Warm-up is long because the JVM's compiler threads stay
# busy for the first minute or so: a summarizer trigger still gets 40%
# faster over the 24 triggers after three warm ones.
SUMMARY_WARM_FILES = 12
SUMMARY_FILES_PER_S = 2.7
SESSION_WARM_FILES = 2
SESSION_FILES_PER_S = 1.0
DASH_BASE_SLICES = 12
DASH_WARM_STEPS = 2
DASH_STEPS_PER_S = 0.6
CURATION_PASS_S = 1.0
# A traced run's extra phase (worker.TRACE_PHASES) is sized as for this
# many seconds whatever --seconds is, so the traced run stays within the
# run budget.
PHASE_SECONDS = 10

E2E_UNITS = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "latency_p50_ms": "ms",
    "latency_tail_ms": "ms",
    "write_p50_ms": "ms",
    "write_tail_ms": "ms",
    "cpu_ms_per_op": "ms",
    "peak_rss_mb": "MB",
    "disk_left_mb": "MB",
}


# ---------------------------------------------------------------------------
# Inputs
# ---------------------------------------------------------------------------


def make_inputs(workload: str, seed: int, seconds: int, inputs: str) -> dict:
    """Write the workload's inputs; return what the checks need."""
    mtime0 = time.time() - 3600
    if workload in ("summary_stream", "session_stream"):
        slices = gen.summary_slices if workload == "summary_stream" else gen.session_slices
        n_warm = SUMMARY_WARM_FILES if workload == "summary_stream" else SESSION_WARM_FILES
        rate = SUMMARY_FILES_PER_S if workload == "summary_stream" else SESSION_FILES_PER_S
        n_files = math.ceil(seconds * rate)
        # The timed query starts from empty state, so its oracle reads the
        # backlog only.
        gen.write_stream_dir(slices(seed, n_warm), os.path.join(inputs, "warm"), mtime0)
        backlog = slices(seed, n_files, first_file=n_warm)
        gen.write_stream_dir(backlog, os.path.join(inputs, "backlog"), mtime0)
        events = os.path.join(inputs, "events.parquet")
        gen.write_parquet(gen.to_oracle_events(backlog), events)
        return {"events": events}
    if workload == "dashboard":
        import pyarrow as pa

        n_steps = DASH_WARM_STEPS + math.ceil(seconds * DASH_STEPS_PER_S)
        slices = gen.summary_slices(seed, DASH_BASE_SLICES + n_steps, stream=4)
        events = gen.to_oracle_events(slices)
        gen.write_parquet(
            gen.to_oracle_events(slices[:DASH_BASE_SLICES]),
            os.path.join(inputs, "base", "events.parquet"),
        )
        tagged = events.append_column(
            "slice", pa.array([i for i, t in enumerate(slices) for _ in range(t.num_rows)], pa.int32())
        )
        deltas = []
        for i, t in enumerate(gen.dashboard_deltas(tagged, DASH_BASE_SLICES, n_steps)):
            path = os.path.join(inputs, "deltas", f"delta-{i:05d}.parquet")
            gen.write_parquet(t, path)
            deltas.append({"path": path})
        spec = {
            "deltas": deltas,
            "warm_steps": DASH_WARM_STEPS,
            "plan": gen.dashboard_plan(seed, n_steps),
        }
        with open(os.path.join(inputs, "dashboard.json"), "w") as f:
            json.dump(spec, f)
        gen.write_parquet(events, os.path.join(inputs, "events.parquet"))
        return {"events": os.path.join(inputs, "events.parquet")}
    if workload == "curation_batch":
        docs, emb = gen.curation_corpus()
        gen.write_parquet(docs, os.path.join(inputs, "curation", "documents.parquet"))
        gen.write_parquet(emb, os.path.join(inputs, "curation", "embeddings.parquet"))
        return {"corpus": os.path.join(inputs, "curation"),
                "passes": max(1, math.ceil(seconds / CURATION_PASS_S))}
    raise ValueError(workload)


# ---------------------------------------------------------------------------
# The Spark process
# ---------------------------------------------------------------------------


def run_worker(args: list[str], tmp: str, root: str) -> int:
    """Run ``worker.py`` with the run's temp root, then stop everything it
    started and wait for all of it to end.

    Spark's Python daemon moves itself into its own process group, so the
    worker's descendants are found by making this process their subreaper:
    when the worker exits, its orphans become children of this process."""
    _set_child_subreaper()
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_") and k != "PYSPARK_SUBMIT_ARGS"}
    env.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(tmp, "local"),
        PYTHONPATH=os.pathsep.join(p for p in (root, os.environ.get("PYTHONPATH")) if p),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        PYTHONHASHSEED="0",
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
    )
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"), *args],
        env=env, cwd=root, stdout=sys.stderr,
    )
    try:
        rc = proc.wait(timeout=max(1.0, RUN_BUDGET_S - (time.time() - T_START)))
    except subprocess.TimeoutExpired:
        rc = -1
    finally:
        _stop_descendants()
    return rc


def _set_child_subreaper() -> None:
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    if ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def _stop_descendants() -> None:
    """Let descendants end on their own (the JVM exits once its Python
    parent has gone, the Python daemon once the JVM has), then terminate,
    then kill; return only once none is left, reaping each one."""
    me = os.getpid()
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        deadline = time.time() + 5.0
        while True:
            _reap()
            left = [p for p in stats.tree(stats.read_proc(), me) if p != me]
            if not left:
                return
            if sig is not None:
                for pid in left:
                    try:
                        os.kill(pid, sig)
                    except ProcessLookupError:
                        pass
                sig = None
            if time.time() > deadline:
                break
            time.sleep(0.05)


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


# ---------------------------------------------------------------------------
# Checks and metrics
# ---------------------------------------------------------------------------


def run_checks(workload: str, res: dict, made: dict, out: str, ops: stats.OpCounter) -> None:
    """Every correctness check is one op; a failed check is a failed op."""
    import check

    def load(name: str):
        with open(os.path.join(out, name), "rb") as f:
            return pickle.load(f)  # written by our own worker process

    def record(name: str, problems: list[str]) -> None:
        ops.record(not problems, f"{name}: {'; '.join(problems)}"[:400] if problems else "")

    if workload in ("summary_stream", "session_stream"):
        if os.path.exists(os.path.join(out, "stream_out.pkl")):
            fn = check.summary_stream if workload == "summary_stream" else check.session_stream
            record(workload, fn(load("stream_out.pkl"), made["events"]))
        else:
            record(workload, ["no stream output"])
    elif workload == "dashboard":
        table = check.serving_table(res["table_dir"])
        res["table_rows"] = table.num_rows
        record("serving_table", check.dashboard_table(table, made["events"]))
        for r, got in zip(worker.FIXED_READS, load("fixed_reads.pkl")):
            record(f"read_{r['kind']}", check.dashboard_read(got, table, r))
    else:
        outputs = load("curation_out.pkl")
        for name, got in outputs.items():
            record(name, check.curation_job(name, got, made["corpus"]))


def _tail_fields(name: str, samples: list[float], ann: dict) -> float:
    """Tail value by the ten-beyond rule; annotates n and the percentile,
    or flags the maximum standing in (``stats.tail_or_max``)."""
    value, ann[name] = stats.tail_or_max(samples)
    return value


def e2e_metrics(workload: str, res: dict, ann: dict) -> dict:
    wall = res["wall_s"]
    n_ops = max(res["n_ops"], 1)
    m = {"setup_s": res["setup_end"] - T_START}
    if workload in ("summary_stream", "session_stream"):
        progs = res["progress"]
        lat = [p["ms"].get("triggerExecution", 0) for p in progs]
        writes = [p["ms"].get("addBatch", 0) for p in progs]
        m["throughput_per_s"] = sum(p["rows_in"] for p in progs) / wall
        ann["throughput_per_s"] = "events/s"
        ann["latency_p50_ms"] = f"n={len(lat)} triggers (triggerExecution)"
        ann["write_p50_ms"] = f"n={len(writes)} triggers (addBatch)"
    elif workload == "dashboard":
        lat = [r["ms"] for r in res["reads"]]
        writes = [w["ms"] for w in res["writes"]]
        m["throughput_per_s"] = len(lat) / wall
        ann["throughput_per_s"] = "read requests/s"
        ann["latency_p50_ms"] = f"n={len(lat)} reads"
        ann["write_p50_ms"] = f"n={len(writes)} upserts"
    else:
        # The op is one job.  Every pass runs each job once, so the median
        # is the middle job's typical time and the tail falls among the
        # slowest job's calls; the per-job split is in the traced run.
        lat = [j["ms"] for j in res["jobs"]]
        writes = [j["exec_ms"] for j in res["jobs"]]
        m["throughput_per_s"] = len(res["jobs"]) / wall
        ann["throughput_per_s"] = "jobs/s"
        ann["latency_p50_ms"] = f"n={len(lat)} jobs (build + noop write)"
        ann["write_p50_ms"] = f"n={len(writes)} jobs (noop write)"
    m["latency_p50_ms"] = stats.p50(lat)
    m["latency_tail_ms"] = _tail_fields("latency_tail_ms", lat, ann)
    m["write_p50_ms"] = stats.p50(writes)
    m["write_tail_ms"] = _tail_fields("write_tail_ms", writes, ann)
    m["cpu_ms_per_op"] = res["cpu_ms"]["total"] / n_ops
    ann["cpu_ms_per_op"] = f"{res['cpu_ms']['total']:.0f} ms over {n_ops} ops"
    m["peak_rss_mb"] = sum(res["hwm_mb"].values())
    ann["peak_rss_mb"] = ", ".join(f"{k} {v:.0f}" for k, v in res["hwm_mb"].items())
    m["disk_left_mb"] = res["disk_left_bytes"] / 2**20
    return m


def _med(xs: list[float]) -> float:
    return stats.p50(xs) if xs else 0.0


def layer_metrics(workload: str, res: dict) -> dict:
    """Per-layer metrics.  A layer the run does not exercise did no work
    and reports 0; the layers of a traced run's extra phase
    (``worker.TRACE_PHASES``) come from that phase."""
    n_ops = max(res["n_ops"], 1)
    m = {name: 0.0 for name in LAYER_UNITS}
    m["session.start_s"] = res["session_start_s"]
    m["proc.cpu_driver_ms_per_op"] = res["cpu_ms"]["driver"] / n_ops
    m["proc.cpu_jvm_ms_per_op"] = res["cpu_ms"]["jvm"] / n_ops
    m["proc.cpu_pyworker_ms_per_op"] = res["cpu_ms"]["pyworker"] / n_ops
    m["proc.rss_jvm_mb"] = res["rss_jvm_mb"]
    m["disk.ckpt_dirs_left"] = res["ckpt_dirs_left"]
    m["disk.memory_tables_left"] = res["memory_tables_left"]
    m["host.steal_pct"] = res["steal_pct"]
    m["trace.overhead_pct"] = 100.0 * res["trace_overhead_s"] / res["wall_s"]
    m.update(_workload_layers(workload, res))
    phase = worker.TRACE_PHASES.get(workload)
    if phase in res:
        m.update(_workload_layers(phase, res[phase]))
    return m


def _workload_layers(workload: str, res: dict) -> dict:
    m: dict[str, float] = {}
    if workload in ("summary_stream", "session_stream"):
        progs = res["progress"]
        ms = lambda k: _med([p["ms"].get(k, 0) for p in progs])  # noqa: E731
        m["sources.latest_offset_ms"] = ms("latestOffset")
        m["sources.get_batch_ms"] = ms("getBatch")
        m["summarizer.query_planning_ms"] = ms("queryPlanning")
        m["summarizer.wal_commit_ms"] = ms("walCommit")
        m["summarizer.commit_offsets_ms"] = ms("commitOffsets")
        last = progs[-1] if progs else {}
        if workload == "summary_stream":
            m["summarizer.add_batch_ms"] = ms("addBatch")
            m["state.rows_total"] = last.get("state_rows", 0)
            m["state.rows_updated"] = _med([p["state_updated"] for p in progs])
            m["state.commit_ms"] = _med([p["state_commit_ms"] for p in progs])
            m["state.memory_mb"] = last.get("state_mem_bytes", 0) / 2**20
        else:
            m["sessions.add_batch_ms"] = ms("addBatch")
            m["sessions.state_rows_total"] = last.get("state_rows", 0)
            m["sessions.emitted_per_op"] = sum(max(p["rows_out"], 0) for p in progs) / max(len(progs), 1)
            m["proc.cpu_pyworker_ms_per_op"] = res["cpu_ms"]["pyworker"] / max(res["n_ops"], 1)
    elif workload == "dashboard":
        w = res["writes"]
        m["serving_sink.bytes_written_per_upsert"] = _med([x["table_bytes"] for x in w])
        m["serving_sink.table_rows"] = res["table_rows"]
        m["serving_sink.write_amplification"] = _med([x["table_bytes"] / x["delta_bytes"] for x in w])
        reads = res["reads"]
        for k in ("build_ms", "plan_ms", "exec_ms"):
            m[f"dashboard.{k}"] = _med([r[k] for r in reads])
        for kind in gen.READ_KINDS:
            m[f"dashboard.{kind}_p50_ms"] = _med([r["ms"] for r in reads if r["kind"] == kind])
        m["dashboard.jobs_per_read"] = sum(r.get("jobs", 0) for r in reads) / max(len(reads), 1)
        m["dashboard.tasks_per_read"] = sum(r.get("tasks", 0) for r in reads) / max(len(reads), 1)
        m["dashboard.first_read_after_write_ms"] = _med(res["first_read_ms"])
    else:
        builds = {}
        for j in res["jobs"]:
            builds.setdefault(j["job"], []).append(j)
        stage_s = 0.0
        for name, js in builds.items():
            b = _med([j["build_ms"] for j in js])
            m[f"curation.{name}.build_ms"] = b
            m[f"curation.{name}.exec_ms"] = _med([j["exec_ms"] for j in js])
            if name in worker.STAGED_CURATION_JOBS:
                stage_s += max(res["first"][name]["build_ms"] - b, 0.0) / 1000.0
        m["sources.stage_build_s"] = stage_s
    return m


LAYER_UNITS = {
    "session.start_s": "s",
    "sources.latest_offset_ms": "ms",
    "sources.get_batch_ms": "ms",
    "sources.stage_build_s": "s",
    "summarizer.add_batch_ms": "ms",
    "summarizer.query_planning_ms": "ms",
    "summarizer.wal_commit_ms": "ms",
    "summarizer.commit_offsets_ms": "ms",
    "state.rows_total": "count",
    "state.rows_updated": "count",
    "state.commit_ms": "ms",
    "state.memory_mb": "MB",
    "sessions.add_batch_ms": "ms",
    "sessions.state_rows_total": "count",
    "sessions.emitted_per_op": "count",
    "serving_sink.bytes_written_per_upsert": "bytes",
    "serving_sink.table_rows": "count",
    "serving_sink.write_amplification": "ratio",
    "dashboard.build_ms": "ms",
    "dashboard.plan_ms": "ms",
    "dashboard.exec_ms": "ms",
    **{f"dashboard.{k}_p50_ms": "ms" for k in gen.READ_KINDS},
    "dashboard.jobs_per_read": "count",
    "dashboard.tasks_per_read": "count",
    "dashboard.first_read_after_write_ms": "ms",
    **{f"curation.{j}.{k}": "ms" for j in worker.CURATION_JOBS for k in ("build_ms", "exec_ms")},
    "proc.cpu_driver_ms_per_op": "ms",
    "proc.cpu_jvm_ms_per_op": "ms",
    "proc.cpu_pyworker_ms_per_op": "ms",
    "proc.rss_jvm_mb": "MB",
    "disk.ckpt_dirs_left": "count",
    "disk.memory_tables_left": "count",
    "host.steal_pct": "%",
    "trace.overhead_pct": "%",
}


# ---------------------------------------------------------------------------


def _count_timed_ops(res: dict, ops: stats.OpCounter) -> None:
    for _ in range(res["n_ok"]):
        ops.record(True)
    for i in range(res["n_ops"] - res["n_ok"]):
        ops.record(False, res["errors"][i] if i < len(res["errors"]) else "op failed")


def main() -> int:
    ap = argparse.ArgumentParser(description="Run one benchmark workload once.")
    ap.add_argument("--workload", required=True,
                    choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # A termination request unwinds through the cleanup below, which stops
    # the Spark process tree and removes the run's files.
    signal.signal(signal.SIGTERM, lambda sig, _frame: sys.exit(128 + sig))

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE}/ package under {root}; run from the repository root",
              file=sys.stderr)
        return 2

    made_runs_dir = not os.path.isdir(os.path.join(root, RUNS_DIR))
    run_dir = os.path.join(root, RUNS_DIR, f"{a.workload}-{a.seed}-{os.getpid()}")
    inputs, tmp, out = (os.path.join(run_dir, d) for d in ("inputs", "tmp", "out"))
    for d in (inputs, os.path.join(tmp, "local"), out):
        os.makedirs(d)
    try:
        made = make_inputs(a.workload, a.seed, a.seconds, inputs)
        phase = worker.TRACE_PHASES.get(a.workload) if a.trace else None
        if phase:
            made["phase"] = make_inputs(phase, a.seed, PHASE_SECONDS, os.path.join(inputs, phase))
            os.makedirs(os.path.join(out, phase))
        inputs_end = time.time()
        args = ["--workload", a.workload, "--inputs", inputs, "--out", out,
                "--seed", str(a.seed), "--trace", str(a.trace),
                "--passes", str(made.get("passes", 1))]
        rc = run_worker(args, tmp, root)
        if rc != 0:
            print(f"perfbench: worker exited with {rc}", file=sys.stderr)
            return rc if rc > 0 else 1
        with open(os.path.join(out, "result.json")) as f:
            res = json.load(f)
        # What outlives the Spark process: Spark deletes its own local dirs
        # at exit, so this is checkpoints, stages, tables and anything leaked.
        res["disk_left_bytes"] = stats.dir_bytes(tmp)
        if phase:
            res[phase]["disk_left_bytes"] = res["disk_left_bytes"]  # one temp root
        ops = stats.OpCounter()
        _count_timed_ops(res, ops)
        run_checks(a.workload, res, made, out, ops)
        if phase:
            _count_timed_ops(res[phase], ops)
            run_checks(phase, res[phase], made["phase"], os.path.join(out, phase), ops)
        for e in ops.errors:
            print(f"perfbench: failed op: {e}", file=sys.stderr)
        if ops.failed == res["n_ops"]:
            print("perfbench: every timed op failed; no metrics to report", file=sys.stderr)
            return 1
        ann = {"setup_s": f"inputs {inputs_end - T_START:.1f} s, session up at "
                          f"{res['session_end'] - T_START:.1f} s, warm-up done at "
                          f"{res['setup_end'] - T_START:.1f} s"}
        if a.trace:
            metrics = layer_metrics(a.workload, res)
            units = LAYER_UNITS
            os.makedirs(os.path.join(root, OUT_DIR), exist_ok=True)
            side = os.path.join(root, OUT_DIR, f"trace-{a.workload}-seed{a.seed}.json")
            with open(side, "w") as f:
                json.dump({"workload": a.workload, "seed": a.seed, "metrics": metrics,
                           "e2e_traced": e2e_metrics(a.workload, res, {}),
                           "spans": res["spans"], "progress": res.get("progress"),
                           **({phase: {"spans": res[phase]["spans"],
                                       "e2e_traced": e2e_metrics(phase, res[phase], {})}}
                              if phase else {}),
                           "errors": ops.errors}, f)
            print(f"perfbench: trace sidecar {side}")
        else:
            metrics = e2e_metrics(a.workload, res, ann)
            units = E2E_UNITS
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        if made_runs_dir:
            shutil.rmtree(os.path.join(root, RUNS_DIR), ignore_errors=True)

    for name, v in metrics.items():
        print(f"perfbench: {a.workload} {name} = {v:.4f} {units[name]}  {ann.get(name, '')}")
    print(f"perfbench: {a.workload} attempted={ops.attempted} failed={ops.failed}")
    print(json.dumps({
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
