"""Spark-free tests for the benchmark's pure parts.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import gen  # noqa: E402
import stats  # noqa: E402

# ---------------------------------------------------------------------------
# Tail rule
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("n", [0, 1, 5, 10])
def test_no_tail_below_eleven_samples(n):
    assert stats.tail(list(range(n))) is None


def test_tail_has_exactly_ten_samples_beyond():
    for n in (11, 12, 20, 37, 100, 1000):
        xs = list(np.random.default_rng(n).permutation(n).astype(float))
        value, pct = stats.tail(xs)
        assert sum(1 for x in xs if x > value) == 10
        assert pct == pytest.approx(100.0 * (n - 10) / n)


def test_tail_of_eleven_is_the_minimum():
    value, pct = stats.tail([5.0, 3.0, 9.0, 1.0, 7.0, 2.0, 8.0, 4.0, 6.0, 10.0, 11.0])
    assert value == 1.0
    assert pct == pytest.approx(100.0 / 11)


def test_tail_below_the_median_is_not_reported():
    # 11..20 samples: the ten-beyond percentile is under p50, so the
    # maximum stands in, flagged; from 21 on the rule's value is used.
    for n in (1, 11, 20):
        value, note = stats.tail_or_max([float(x) for x in range(n)])
        assert value == n - 1
        assert "no tail" in note and f"n={n}" in note
    value, note = stats.tail_or_max([float(x) for x in range(21)])
    assert value == 10.0
    assert note == "n=21, p52.4"


def test_p50_is_the_median():
    assert stats.p50([3.0, 1.0, 2.0]) == 2.0
    assert stats.p50([4.0, 1.0, 2.0, 3.0]) == 2.5


# ---------------------------------------------------------------------------
# /proc process tree
# ---------------------------------------------------------------------------


def _proc(root, pid, ppid, comm, utime, stime, cutime=0, cstime=0, hwm_kb=0, rss_kb=0):
    d = root / str(pid)
    d.mkdir()
    # pid (comm) state ppid pgrp session tty tpgid flags minflt cminflt
    # majflt cmajflt utime stime cutime cstime ...
    fields = ["S", ppid, pid, pid, 0, -1, 0, 0, 0, 0, 0, utime, stime, cutime, cstime, 20, 0, 1]
    (d / "stat").write_text(f"{pid} ({comm}) " + " ".join(str(f) for f in fields) + "\n")
    (d / "status").write_text(f"Name:\t{comm}\nVmHWM:\t{hwm_kb} kB\nVmRSS:\t{rss_kb} kB\n")


@pytest.fixture
def fake_proc(tmp_path):
    # 1 init; 100 the benchmark worker; 101 its JVM; 102 Spark's Python
    # daemon (a JVM child) and 103 a worker it forked; 200 an unrelated
    # process, which must not be counted.
    _proc(tmp_path, 1, 0, "init", 5, 5)
    _proc(tmp_path, 100, 1, "python3", 100, 20, hwm_kb=102400, rss_kb=51200)
    _proc(tmp_path, 101, 100, "java", 400, 100, hwm_kb=1048576, rss_kb=524288)
    _proc(tmp_path, 102, 101, "python3", 10, 10, cutime=30, cstime=10, hwm_kb=20480, rss_kb=20480)
    _proc(tmp_path, 103, 102, "python (x) y", 50, 0, hwm_kb=40960, rss_kb=10240)
    _proc(tmp_path, 200, 1, "java", 999, 999, hwm_kb=999999)
    (tmp_path / "stat").write_text("cpu  100 0 50 800 10 0 0 40 0 0\ncpu0 1 2 3 4\n")
    return tmp_path


def test_tree_holds_root_and_descendants_only(fake_proc):
    procs = stats.read_proc(str(fake_proc))
    assert set(stats.tree(procs, 100)) == {100, 101, 102, 103}
    assert procs[103]["comm"] == "python (x) y"


def test_tree_usage_sums_cpu_and_memory_per_role(fake_proc):
    u = stats.tree_usage(stats.read_proc(str(fake_proc)), 100)
    tick_ms = 1000.0 / stats.CLK_TCK
    assert u["driver"]["cpu_ms"] == pytest.approx(120 * tick_ms)
    assert u["jvm"]["cpu_ms"] == pytest.approx(500 * tick_ms)
    # Reaped children's time (cutime + cstime) counts for the daemon.
    assert u["pyworker"]["cpu_ms"] == pytest.approx((60 + 50) * tick_ms)
    assert u["jvm"]["hwm_mb"] == pytest.approx(1024.0)
    assert u["pyworker"]["hwm_mb"] == pytest.approx(60.0)
    assert u["pyworker"]["rss_mb"] == pytest.approx(30.0)


def test_cpu_delta_counts_new_processes_from_zero(fake_proc):
    procs = stats.read_proc(str(fake_proc))
    before = stats.tree_usage({p: v for p, v in procs.items() if p != 103}, 100)
    after = stats.tree_usage(procs, 100)
    d = stats.cpu_delta(before, after)
    assert d["pyworker"] == pytest.approx(50 * 1000.0 / stats.CLK_TCK)
    assert d["driver"] == d["jvm"] == 0
    assert d["total"] == pytest.approx(d["pyworker"])


def test_steal_share_of_busy(fake_proc):
    busy, steal = stats.steal_ticks(str(fake_proc))
    assert (busy, steal) == (100 + 50 + 40, 40)
    assert stats.steal_pct((0, 0), (200, 20)) == pytest.approx(10.0)
    assert stats.steal_pct((5, 1), (5, 1)) == 0.0


def test_dir_bytes_sums_files_recursively(tmp_path):
    (tmp_path / "a" / "b").mkdir(parents=True)
    (tmp_path / "a" / "b" / "f").write_bytes(b"x" * 10)
    (tmp_path / "g").write_bytes(b"y" * 5)
    assert stats.dir_bytes(str(tmp_path)) == 15
    assert stats.dir_bytes(str(tmp_path / "missing")) == 0


# ---------------------------------------------------------------------------
# Op accounting
# ---------------------------------------------------------------------------


def test_failed_ops_count_against_attempted():
    ops = stats.OpCounter()
    for ok in (True, True, False, True, False):
        ops.record(ok, "" if ok else "boom")
    assert (ops.attempted, ops.failed) == (5, 2)
    assert ops.errors == ["boom", "boom"]


# ---------------------------------------------------------------------------
# Generator
# ---------------------------------------------------------------------------


def test_generator_is_deterministic_per_seed():
    a, b, c = gen.summary_slices(7, 3), gen.summary_slices(7, 3), gen.summary_slices(8, 3)
    assert all(x.equals(y) for x, y in zip(a, b))
    assert not a[0].equals(c[0])
    assert gen.session_slices(7, 2)[1].equals(gen.session_slices(7, 2)[1])
    assert gen.dashboard_plan(7, 5) == gen.dashboard_plan(7, 5)
    assert gen.dashboard_plan(7, 5) != gen.dashboard_plan(8, 5)
    d1, e1 = gen.curation_corpus()
    d2, e2 = gen.curation_corpus()
    assert d1.equals(d2) and e1.equals(e2)


def test_each_dashboard_step_refreshes_every_view_once():
    for step in gen.dashboard_plan(3, 6):
        assert sorted(r["kind"] for r in step) == sorted(gen.READ_KINDS)


def test_slices_do_not_depend_on_how_many_are_drawn():
    # Warm-up and backlog files are drawn separately; file i is the same
    # either way.
    assert gen.summary_slices(3, 5)[4].equals(gen.summary_slices(3, 1, first_file=4)[0])


def test_summary_keys_are_zipf_and_a_share_is_late():
    t = pa.concat_tables(gen.summary_slices(1, 8))
    counts = np.unique(np.asarray(t.column("event_type").to_pylist(), dtype=object),
                       return_counts=True)[1]
    top = np.sort(counts)[::-1]
    assert top[0] > 10 * top[50]  # heavy head
    ts = t.column("ts").to_numpy()
    file_start = gen.T0_US + np.repeat(np.arange(8), gen.ROWS_PER_FILE) * gen.SUMMARY_FILE_SPAN_US
    late = ts < file_start
    assert 0.01 < late.mean() < 0.03
    assert (file_start[late] - ts[late]).max() < gen.LATE_MAX_US


def test_session_events_are_in_order_per_user_across_files():
    slices = gen.session_slices(5, 12)
    last: dict[int, int] = {}
    for t in slices:
        users = t.column("user_id").to_numpy()
        ts = t.column("ts").to_numpy()
        for u in np.unique(users):
            mine = ts[users == u]
            assert mine.min() > last.get(int(u), -1)
            last[int(u)] = int(mine.max())


def test_session_gaps_close_sessions():
    t = pa.concat_tables(gen.session_slices(5, 40))
    users, ts = t.column("user_id").to_numpy(), t.column("ts").to_numpy()
    order = np.lexsort((ts, users))
    users, ts = users[order], ts[order]
    same = users[1:] == users[:-1]
    gaps = (ts[1:] - ts[:-1])[same] / 1e6
    share = (gaps > 1800).mean()  # the sessionizer's 30-minute gap
    assert 0.2 < share < 0.5


def test_stream_files_replay_in_slice_order(tmp_path):
    slices = gen.summary_slices(2, 4)
    gen.write_stream_dir(slices, str(tmp_path), 1_700_000_000.0)
    files = sorted(os.listdir(tmp_path), key=lambda f: os.path.getmtime(tmp_path / f))
    assert files == [f"part-{i:05d}.parquet" for i in range(4)]
    mtimes = [os.path.getmtime(tmp_path / f) for f in files]
    assert all(b > a for a, b in zip(mtimes, mtimes[1:]))


def test_oracle_events_carry_naive_timestamps():
    t = gen.to_oracle_events(gen.summary_slices(1, 2))
    assert t.schema.field("ts").type == pa.timestamp("us")
    assert t.num_rows == 2 * gen.ROWS_PER_FILE


# ---------------------------------------------------------------------------
# BENCHMARK.json agrees with what run.py prints
# ---------------------------------------------------------------------------


def test_declared_metrics_match_the_printed_ones():
    import json

    import run

    root = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "..")
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.LAYER_UNITS
    assert {w["name"] for w in bench["workloads"]} <= set(run.WORKLOADS)
