"""bench.py artifact-shape tests (no Spark session needed).

The driver records bench.py's single JSON line as BENCH_r{N}.json and the
judge reads ``value`` as the headline total.  The contract under failure:
a partial query set must NEVER produce a numeric total (it would read as
a perf win), while a warmup-only error must not void an otherwise
complete run.
"""

from __future__ import annotations

import json

from bench import BENCH_QUERIES, STDOUT_BYTE_BUDGET, build_output, compact_output


def test_complete_run_reports_total():
    out = build_output({"q1": 1.5, "q2": 2.25}, {}, 2, "/root/testdata/sf0.1")
    assert out["value"] == 3.75
    assert out["n_completed"] == 2
    assert out["n_queries"] == 2
    assert out["sf"] == 0.1
    assert "incomplete" not in out
    assert "errors" not in out


def test_partial_run_nulls_the_total():
    out = build_output(
        {"q1": 1.5}, {"q2": "AnalysisException: boom"}, 2, "/root/testdata/sf0.1"
    )
    assert out["value"] is None
    assert out["incomplete"] is True
    assert out["n_completed"] == 1
    assert out["errors"] == {"q2": "AnalysisException: boom"}
    # per-query times for the completed queries are still recorded
    assert out["queries"] == {"q1": 1.5}


def test_warmup_only_error_keeps_the_total():
    out = build_output(
        {"q1": 1.5, "q2": 2.0},
        {"__warmup__": "Py4JError: x"},
        2,
        "/root/testdata/sf0.1",
    )
    assert out["value"] == 3.5
    assert "incomplete" not in out
    assert out["errors"] == {"__warmup__": "Py4JError: x"}


def test_output_is_json_serializable():
    out = build_output({}, {"q1": "err"}, 1, "/root/testdata/sf0.01")
    assert json.loads(json.dumps(out)) == out
    assert out["value"] is None


def test_samples_and_spread_are_recorded():
    """r7 verdict What's-wrong #1: the artifact itself must carry the
    per-query variance band (all samples + max-min spread), so a headline
    swing can be attributed to contention vs code from BENCH_r{N}.json
    alone.  ``value``/``queries`` stay the best-of-N minima — the
    r1-comparable series must not change meaning."""
    out = build_output(
        {"q1": 1.5, "q2": 2.0},
        {},
        2,
        "/root/testdata/sf0.1",
        samples={"q1": [1.8, 1.5, 1.6], "q2": [2.0, 2.4, 2.2]},
    )
    assert out["value"] == 3.5  # still the sum of minima
    assert out["samples"] == {"q1": [1.8, 1.5, 1.6], "q2": [2.0, 2.4, 2.2]}
    assert out["spread"] == {"q1": 0.3, "q2": 0.4}
    assert json.loads(json.dumps(out)) == out


def test_samples_are_optional_for_backward_shape():
    out = build_output({"q1": 1.0}, {}, 1, "/root/testdata/sf0.1")
    assert "samples" not in out and "spread" not in out


def test_stdout_line_fits_driver_tail_capture():
    """r8 verdict ask #7: the driver keeps only the last 2000 characters of
    stdout, and the round-8 artifact was truncated mid-JSON (``"parsed": null``)
    because the samples-laden line outgrew that cap.  The compact stdout
    line for the FULL current bench set — worst-case 4-digit seconds per
    query — must parse on its own and fit the capture window."""
    per_query = {q: 999.999 for q in BENCH_QUERIES}
    samples = {q: [999.999, 999.999, 999.999] for q in BENCH_QUERIES}
    out = build_output(
        per_query, {}, len(BENCH_QUERIES), "/root/testdata/sf0.1", samples
    )
    line = json.dumps(compact_output(out))
    assert len(line) + 1 <= STDOUT_BYTE_BUDGET, len(line)
    parsed = json.loads(line)
    assert parsed["value"] == out["value"]
    assert parsed["queries"] == per_query
    assert "samples" not in parsed and "spread" not in parsed


def test_compact_output_caps_error_verbosity():
    """A mass failure (every query erroring with a long message) must not
    evict the completed queries' numbers from the 2000-char window."""
    errors = {q: "AnalysisException: " + "x" * 300 for q in BENCH_QUERIES}
    out = build_output({}, errors, len(BENCH_QUERIES), "/root/testdata/sf0.1")
    slim = compact_output(out)
    assert len(slim["errors"]) == 6  # 5 truncated messages + __more__
    assert slim["errors"]["__more__"] == f"{len(BENCH_QUERIES) - 5} more"
    assert all(len(v) <= 80 for v in slim["errors"].values())
    assert len(json.dumps(slim)) + 1 <= STDOUT_BYTE_BUDGET
    # the full artifact keeps every untruncated message
    assert len(out["errors"]) == len(BENCH_QUERIES)


def test_compact_output_carries_steal_summary_within_budget():
    """r17 verdict ask #2: the compact line must tell PERF whether the
    window was stolen — run-level plus a per-query SUMMARY (worst window,
    count over the 5% gate).  The full per-query map stays sidecar-only:
    50 long-named entries would blow the 2000-char capture budget."""
    per_query = {q: 999.999 for q in BENCH_QUERIES}
    out = build_output(
        per_query, {}, len(BENCH_QUERIES), "/root/testdata/sf0.1"
    )
    out["steal_pct"] = {q: float(i) for i, q in enumerate(BENCH_QUERIES)}
    out["run_steal_pct"] = 7.5
    slim = compact_output(out)
    assert "steal_pct" not in slim  # map is sidecar-only
    assert slim["steal_hi"] == float(len(BENCH_QUERIES) - 1)
    assert slim["steal_n_over5"] == sum(
        1 for v in out["steal_pct"].values() if v > 5.0
    )
    assert slim["run_steal_pct"] == 7.5
    assert len(json.dumps(slim)) + 1 <= STDOUT_BYTE_BUDGET

