"""scripts/ab.py tests (no Spark session needed).

A fake benchmark command in two temp trees prints a fixed JSON line, so the
pairing, the steal and correctness gates and the verdict rule run without a
workload.
"""

from __future__ import annotations

import importlib.util
import json
import os
import sys

import pytest

_spec = importlib.util.spec_from_file_location(
    "ab", os.path.join(os.path.dirname(os.path.dirname(__file__)), "scripts", "ab.py")
)
ab = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(ab)

FAKE = """\
import json, sys
with open({log!r}, "a") as f:
    f.write({side!r} + "\\n")
print("noise before the result")
print({result!r})
"""


def _result(throughput: float, correct: bool = True) -> dict:
    return {
        "correct": correct,
        "attempted": 10,
        "failed": 0 if correct else 1,
        "metrics": {
            "throughput_per_s": {"value": throughput, "unit": "1/s"},
            "latency_p50_ms": {"value": 100.0, "unit": "ms"},
        },
    }


def _tree(tmp_path, side: str, result: dict) -> str:
    root = tmp_path / side
    root.mkdir()
    log = str(tmp_path / "order.log")
    (root / "fake.py").write_text(FAKE.format(log=log, side=side, result=json.dumps(result)))
    (root / "BENCHMARK.json").write_text(json.dumps({
        "command": [sys.executable, "fake.py"],
        "run_seconds": 1,
        "workloads": [{"name": "w"}],
        "end_to_end": [
            {"name": "throughput_per_s", "better": "higher", "bound": 0.25},
            {"name": "latency_p50_ms", "better": "lower", "bound": 0.25},
        ],
    }))
    return str(root)


@pytest.fixture(autouse=True)
def no_steal(monkeypatch):
    """The host's own steal must not decide these tests: a quiet counter
    unless a test installs its own."""
    monkeypatch.setattr(ab, "steal_ticks", lambda: (0, 0))


def _main(tmp_path, parent: dict, change: dict, seeds: int, capsys) -> tuple[int, str]:
    argv = [_tree(tmp_path, "parent", parent), _tree(tmp_path, "change", change),
            "--workload", "w", "--seeds", *map(str, range(1, seeds + 1))]
    rc = ab.main(argv)
    return rc, capsys.readouterr().out


def _row(out: str, metric: str) -> str:
    return next(ln for ln in out.splitlines() if ln.startswith(metric))


def test_first_side_alternates_per_pair(tmp_path, capsys):
    _main(tmp_path, _result(4.0), _result(4.0), 4, capsys)
    order = (tmp_path / "order.log").read_text().split()
    assert order == ["parent", "change", "change", "parent",
                     "parent", "change", "change", "parent"]


def test_ten_clean_wins_beyond_the_iqr_is_a_gain(tmp_path, capsys):
    rc, out = _main(tmp_path, _result(4.0), _result(5.0), 10, capsys)
    assert rc == 0
    assert "10 clean pairs of 10" in out
    assert _row(out, "throughput_per_s").endswith("10/0     gain")
    # Equal on every pair: no win, no verdict of gain.
    assert _row(out, "latency_p50_ms").endswith("0/10    not met")


def test_fewer_than_ten_clean_pairs_gives_no_verdict(tmp_path, capsys):
    _, out = _main(tmp_path, _result(4.0), _result(5.0), 9, capsys)
    assert "no verdict below 10" in out
    assert _row(out, "throughput_per_s").endswith("no verdict")


def test_thirteen_percent_on_eight_of_ten_pairs_is_not_met():
    """Median +13% but wins on only 8 of 10 pairs: the claim rule refuses."""
    parent = [4.30, 4.25, 4.35, 4.28, 4.32, 4.27, 4.33, 4.31, 4.29, 4.26]
    change = [4.86, 4.90, 4.85, 4.88, 4.87, 4.89, 4.20, 4.84, 4.91, 4.10]
    row = ab.compare(parent, change, "higher", 0.25)
    assert row["change"] / row["parent"] == pytest.approx(1.13, abs=0.005)
    assert (row["wins"], row["ties"]) == (8, 0)
    assert row["change"] - row["parent"] > row["iqr"]
    assert row["verdict"] == "not met"
    # The same shape with one more win meets it.
    change[-1] = 4.92
    assert ab.compare(parent, change, "higher", 0.25)["verdict"] == "gain"


def test_worse_beyond_bound_and_wide_spread_are_flagged():
    parent = [100.0] * 10
    assert ab.compare(parent, [130.0] * 10, "lower", 0.25)["verdict"] == "worse"
    assert ab.compare(parent, [120.0] * 10, "lower", 0.25)["verdict"] == "not met"
    wide = [60.0, 140.0] * 5
    assert ab.compare(parent, wide, "lower", 0.25)["verdict"] == "unresolved"
    # A wide spread still resolves when every change run beats every parent run.
    assert ab.compare([100.0, 200.0] * 5, [10.0, 40.0] * 5, "lower", 0.25)["verdict"] == "gain"
    # bench.py has no bounds: medians and wins only.
    assert ab.compare(parent, [50.0] * 10, "lower", None)["verdict"] == "-"


def test_pair_over_the_steal_gate_is_excluded_and_reported(tmp_path, capsys, monkeypatch):
    """A run measured in a stolen window is no evidence; the pair goes out
    of the comparison and its steal is printed."""
    # (busy, steal) ticks read around each run: 4 runs, the third stolen.
    ticks = iter([(0, 0), (1000, 10), (1000, 10), (2000, 20),
                  (2000, 20), (3000, 120), (3000, 120), (4000, 130)])
    monkeypatch.setattr(ab, "steal_ticks", lambda: next(ticks))
    _, out = _main(tmp_path, _result(4.0), _result(5.0), 2, capsys)
    lines = out.splitlines()
    assert lines[0] == "pair seed=1 first=parent steal parent=1.0% change=1.0% clean"
    assert lines[1] == ("pair seed=2 first=change steal parent=1.0% change=10.0% "
                        "EXCLUDED: change steal 10.0%")
    assert "1 clean pairs of 2" in out


def test_run_that_is_not_correct_is_refused(tmp_path, capsys):
    rc, out = _main(tmp_path, _result(4.0), _result(9.0, correct=False), 10, capsys)
    assert rc == 1
    assert out.count("EXCLUDED: change not correct, change failed more ops") == 10
    assert "0 clean pairs of 10" in out
    assert "gain" not in out
