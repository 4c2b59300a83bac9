#!/usr/bin/env python
"""Paired A/B comparison of two source trees on one benchmark target.

    python scripts/ab.py PARENT CHANGE --workload curation_batch --seeds $(seq 1 12)
    python scripts/ab.py PARENT CHANGE --bench --seeds $(seq 1 10)

PARENT and CHANGE are checkouts of the two commits (``git worktree add`` or
``git archive``).  For each seed the target runs once in each tree, from that
tree's root, and the side that goes first alternates from pair to pair.
``--workload`` runs the command that PARENT's ``BENCHMARK.json`` names, with
its ``run_seconds`` and ``--trace 0``; ``--bench`` runs ``bench.py``, whose
seed only numbers the pair.  Each run's last JSON line is its result.

A pair is excluded, and listed with the reason, when either run saw more than
5% hypervisor steal (``/proc/stat``, measured around the run), when either
run is not correct, or when the change failed more ops than the parent.
Nothing is retried: pass more seeds instead.  Over the clean pairs, each
metric gets both medians, the parent's IQR, the change's wins and ties, and
a verdict:

* ``gain``: at least 10 clean pairs, wins on at least 9 in 10 of them (a tie
  is no win), and a median difference larger than the parent's IQR;
* ``worse``: the change's median is worse than the parent's by more than the
  metric's bound;
* ``unresolved``: either side's IQR is wider than the bound, relative to its
  median, and not every change run beats every parent run;
* ``not met``: none of these.

With fewer than 10 clean pairs there is no verdict.  ``bench.py`` has no
bounds in ``BENCHMARK.json``, so ``--bench`` gives medians, IQR and wins only.
Exits 1 when a change run was not correct.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.stats import steal_pct, steal_ticks  # noqa: E402

STEAL_GATE_PCT = 5.0
MIN_PAIRS = 10


def run(tree: str, cmd: list[str], bench: bool) -> dict:
    """One run of ``cmd`` from ``tree``'s root: its steal %, whether it is
    correct, its failed ops and its metrics by name."""
    before = steal_ticks()
    proc = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    steal = steal_pct(before, steal_ticks())
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    try:
        out = json.loads(lines[-1])
    except (IndexError, ValueError):
        out = None
    if proc.returncode or out is None:
        print(f"ab: {tree}: exit {proc.returncode}, no result\n{proc.stderr[-1500:]}",
              file=sys.stderr)
        return {"steal": steal, "correct": False, "failed": None, "metrics": {}}
    if bench:
        return {"steal": steal, "correct": not out.get("incomplete", False),
                "failed": len(out.get("errors", {})),
                "metrics": {"value": out["value"], **out["queries"]}}
    return {"steal": steal, "correct": out["correct"], "failed": out["failed"],
            "metrics": {k: m["value"] for k, m in out["metrics"].items()}}


def exclusion(parent: dict, change: dict) -> str:
    """Why a pair cannot be compared ('' when it is clean)."""
    why = []
    for side, r in (("parent", parent), ("change", change)):
        if r["steal"] > STEAL_GATE_PCT:
            why.append(f"{side} steal {r['steal']:.1f}%")
        if not r["correct"]:
            why.append(f"{side} not correct")
    if None not in (parent["failed"], change["failed"]) and change["failed"] > parent["failed"]:
        why.append("change failed more ops")
    return ", ".join(why)


def iqr(xs: list[float]) -> float:
    if len(xs) < 2:
        return 0.0
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[2] - q[0]


def rel(delta: float, base: float) -> float:
    """``delta`` as a share of ``base`` (infinite for a nonzero delta on 0)."""
    if base == 0:
        return 0.0 if delta == 0 else math.copysign(math.inf, delta)
    return delta / abs(base)


def compare(parent: list[float], change: list[float], better: str,
            bound: float | None) -> dict:
    """One metric's row over the clean pairs, in pair order."""
    sign = 1 if better == "higher" else -1
    wins = sum(sign * (c - p) > 0 for p, c in zip(parent, change))
    ties = sum(c == p for p, c in zip(parent, change))
    mp, mc = statistics.median(parent), statistics.median(change)
    row = {"parent": mp, "change": mc, "iqr": iqr(parent), "wins": wins,
           "ties": ties, "verdict": "-"}
    if bound is None:
        return row
    if len(parent) < MIN_PAIRS:
        row["verdict"] = "no verdict"
    elif rel(sign * (mp - mc), mp) > bound:
        row["verdict"] = "worse"
    elif (max(rel(row["iqr"], mp), rel(iqr(change), mc)) > bound
          and not all(sign * (c - p) > 0 for p in parent for c in change)):
        row["verdict"] = "unresolved"
    elif 10 * wins >= 9 * len(parent) and sign * (mc - mp) > row["iqr"]:
        row["verdict"] = "gain"
    else:
        row["verdict"] = "not met"
    return row


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="Compare two trees, run by run, on one target.")
    ap.add_argument("parent")
    ap.add_argument("change")
    target = ap.add_mutually_exclusive_group(required=True)
    target.add_argument("--workload", help="a workload named in BENCHMARK.json")
    target.add_argument("--bench", action="store_true", help="bench.py's 50-query run")
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    a = ap.parse_args(argv)

    if a.bench:
        specs = None
    else:
        with open(os.path.join(a.parent, "BENCHMARK.json")) as f:
            bm = json.load(f)
        if a.workload not in {w["name"] for w in bm["workloads"]}:
            ap.error(f"--workload {a.workload!r} is not in BENCHMARK.json")
        specs = {m["name"]: m for m in bm["end_to_end"]}

    pairs = []
    for i, seed in enumerate(a.seeds):
        cmd = ([sys.executable, "bench.py"] if a.bench else
               [*bm["command"], "--workload", a.workload, "--seed", str(seed),
                "--seconds", str(bm["run_seconds"]), "--trace", "0"])
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        res = {side: run(getattr(a, side), cmd, a.bench) for side in order}
        excluded = exclusion(res["parent"], res["change"])
        pairs.append({**res, "excluded": excluded})
        print(f"pair seed={seed} first={order[0]} steal parent={res['parent']['steal']:.1f}% "
              f"change={res['change']['steal']:.1f}% "
              f"{'EXCLUDED: ' + excluded if excluded else 'clean'}", flush=True)

    clean = [p for p in pairs if not p["excluded"]]
    print(f"\n{len(clean)} clean pairs of {len(pairs)}"
          + ("" if len(clean) >= MIN_PAIRS else f"; no verdict below {MIN_PAIRS}"))
    names = list(clean[0]["parent"]["metrics"]) if clean else []
    print(f"{'metric':<34} {'parent':>10} {'change':>10} {'parent IQR':>10} "
          f"{'wins/ties':>9}  verdict")
    for name in names:
        spec = specs[name] if specs else {"better": "lower", "bound": None}
        row = compare([p["parent"]["metrics"][name] for p in clean],
                      [p["change"]["metrics"][name] for p in clean],
                      spec["better"], spec["bound"])
        print(f"{name:<34} {row['parent']:>10.4g} {row['change']:>10.4g} {row['iqr']:>10.4g} "
              f"{row['wins']:>4}/{row['ties']:<4}  {row['verdict']}")
    return 1 if any(not p["change"]["correct"] for p in pairs) else 0


if __name__ == "__main__":
    sys.exit(main())
