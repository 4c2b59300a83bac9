"""Spark-free measurement helpers: percentile rules, ``/proc`` process-tree
CPU and memory, directory sizes, and op accounting.  Pure functions over
plain values or a ``/proc``-shaped directory, so tests can feed fixtures."""

from __future__ import annotations

import os
import statistics

TAIL_MIN_BEYOND = 10


def p50(samples: list[float]) -> float:
    return float(statistics.median(samples))


def tail(samples: list[float]) -> tuple[float, float] | None:
    """The highest percentile with at least ``TAIL_MIN_BEYOND`` samples
    beyond it, as ``(value, percentile)``; ``None`` when ``n < 11``.

    Sorted ascending, the value is the sample with exactly ten larger
    samples after it, and its percentile is the share of samples at or
    below it."""
    n = len(samples)
    if n <= TAIL_MIN_BEYOND:
        return None
    xs = sorted(samples)
    i = n - TAIL_MIN_BEYOND - 1
    return float(xs[i]), 100.0 * (i + 1) / n


def tail_or_max(samples: list[float]) -> tuple[float, str]:
    """The tail by the ten-beyond rule and a note naming ``n`` and the
    percentile.  Below 21 samples that percentile is at most p50 (or does
    not exist), so it says nothing about the tail: the maximum stands in
    instead, and the note says so."""
    t = tail(samples)
    n = len(samples)
    if t is None or t[1] <= 50.0:
        return float(max(samples)), f"n={n}, no tail (n<{2 * TAIL_MIN_BEYOND + 1}): max shown"
    return t[0], f"n={n}, p{t[1]:.1f}"


class OpCounter:
    """Ops attempted and failed for one run.  Every timed op and every
    correctness check is one attempt; an exception or a failed check is
    one failure."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def record(self, ok: bool, what: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if what:
                self.errors.append(what)


# ---------------------------------------------------------------------------
# /proc process tree
# ---------------------------------------------------------------------------

CLK_TCK = os.sysconf("SC_CLK_TCK") if hasattr(os, "sysconf") else 100


def _stat_fields(text: str) -> tuple[str, list[str]]:
    """(comm, fields after comm) of a ``/proc/<pid>/stat`` line; comm may
    hold spaces and parentheses, so split at the last ``)``."""
    lo, hi = text.index("("), text.rindex(")")
    return text[lo + 1 : hi], text[hi + 2 :].split()


def read_proc(proc_root: str = "/proc") -> dict[int, dict]:
    """Snapshot every process: ``{pid: {ppid, comm, cpu_ticks, hwm_kb,
    rss_kb}}``.  ``cpu_ticks`` is user+system time of the process
    plus that of its reaped children, so CPU of workers that exited in the
    window is not lost once their parent has waited for them."""
    out: dict[int, dict] = {}
    for name in os.listdir(proc_root):
        if not name.isdigit():
            continue
        base = os.path.join(proc_root, name)
        try:
            with open(os.path.join(base, "stat")) as f:
                comm, rest = _stat_fields(f.read())
            hwm = rss = 0
            with open(os.path.join(base, "status")) as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        hwm = int(line.split()[1])
                    elif line.startswith("VmRSS:"):
                        rss = int(line.split()[1])
        except (OSError, ValueError):
            continue  # exited while we looked
        # Fields after comm: state(0) ppid(1) ... utime(11) stime(12)
        # cutime(13) cstime(14).
        out[int(name)] = {
            "ppid": int(rest[1]),
            "comm": comm,
            "cpu_ticks": sum(int(x) for x in rest[11:15]),
            "hwm_kb": hwm,
            "rss_kb": rss,
        }
    return out


def tree(procs: dict[int, dict], root: int) -> dict[int, dict]:
    """``root`` and all its descendants."""
    kids: dict[int, list[int]] = {}
    for pid, p in procs.items():
        kids.setdefault(p["ppid"], []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in procs and pid not in out:
            out[pid] = procs[pid]
            todo.extend(kids.get(pid, []))
    return out


def role(pid: int, p: dict, root: int) -> str:
    """``driver`` (the benchmark's Python process), ``jvm``, or
    ``pyworker`` (Spark's Python daemon and the workers it forks)."""
    if pid == root:
        return "driver"
    if p["comm"] == "java":
        return "jvm"
    return "pyworker"


def tree_usage(procs: dict[int, dict], root: int) -> dict[str, dict[str, float]]:
    """Per role: CPU milliseconds, summed peak RSS (MB, from each process's
    ``VmHWM``) and current RSS (MB), over the tree rooted at ``root``."""
    out = {r: {"cpu_ms": 0.0, "hwm_mb": 0.0, "rss_mb": 0.0} for r in ("driver", "jvm", "pyworker")}
    for pid, p in tree(procs, root).items():
        r = out[role(pid, p, root)]
        r["cpu_ms"] += p["cpu_ticks"] * 1000.0 / CLK_TCK
        r["hwm_mb"] += p["hwm_kb"] / 1024.0
        r["rss_mb"] += p["rss_kb"] / 1024.0
    return out


def cpu_delta(before: dict[str, dict], after: dict[str, dict]) -> dict[str, float]:
    """CPU milliseconds per role between two ``tree_usage`` snapshots, plus
    ``total``.  A process absent from ``before`` (spawned in the window)
    counts from zero."""
    d = {r: after[r]["cpu_ms"] - before[r]["cpu_ms"] for r in after}
    d["total"] = sum(d.values())
    return d


def steal_ticks(proc_root: str = "/proc") -> tuple[int, int]:
    """(busy, steal) jiffies from ``/proc/stat``'s cpu line."""
    with open(os.path.join(proc_root, "stat")) as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return sum(v) - v[3] - v[4], v[7]


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    busy = after[0] - before[0]
    return 100.0 * (after[1] - before[1]) / busy if busy > 0 else 0.0


def dir_bytes(path: str) -> int:
    """Total size of the regular files under ``path`` (0 if it is absent)."""
    total = 0
    for dirpath, _, files in os.walk(path):
        for fn in files:
            try:
                total += os.lstat(os.path.join(dirpath, fn)).st_size
            except OSError:
                pass  # removed while we walked
    return total
