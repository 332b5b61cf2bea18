"""Summary statistics the benchmark reports, and the host contention record."""

from __future__ import annotations

import math
import os
import statistics

# percentiles tried for a tail, highest first
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0


def _rank(n: int, pct: float) -> int:
    # round first: 10000 * 99.9 / 100 must be 9990, not 9990.000000000002
    return max(1, math.ceil(round(n * pct / 100.0, 9)))


def percentile(values, pct: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least ``pct``
    percent of the samples at or below it."""
    xs = sorted(values)
    if not xs:
        return 0.0
    return float(xs[_rank(len(xs), pct) - 1])


def tail(values) -> tuple[float, float]:
    """The highest percentile of ``values`` that has at least 10 samples
    beyond it, as ``(percentile, value)``; ``(0.0, 0.0)`` when there are too
    few samples for any (fewer than 20 for the median)."""
    n = len(values)
    for pct in TAIL_LADDER:
        if n - _rank(n, pct) >= 10:
            return pct, percentile(values, pct)
    return 0.0, 0.0


def recall_at_k(got, truth, k: int = 10) -> float:
    """|got ∩ truth[:k]| / k for one query."""
    want = list(truth)[:k]
    if not want:
        return 1.0
    return len(set(list(got)[:k]) & set(want)) / float(len(want))


# ---------------------------------------------------------------------------
# host record: /proc/stat steal and busy core-seconds, process-tree memory
# ---------------------------------------------------------------------------

_CLK_TCK = os.sysconf("SC_CLK_TCK") if hasattr(os, "sysconf") else 100


def cpu_times() -> dict[str, float]:
    """Machine-wide busy and steal core-seconds since boot, from the
    aggregate ``cpu`` line of /proc/stat (empty off Linux)."""
    try:
        with open("/proc/stat", encoding="ascii") as f:
            fields = f.readline().split()
    except OSError:
        return {}
    # cpu user nice system idle iowait irq softirq steal ...
    v = [int(x) for x in fields[1:9]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = v
    return {
        "busy_core_s": (user + nice + system + irq + softirq) / _CLK_TCK,
        "steal_core_s": steal / _CLK_TCK,
    }


def cpu_delta(before: dict, after: dict) -> dict[str, float]:
    return {k: round(after[k] - before[k], 2) for k in before if k in after}


def _children(pid: int) -> list[int]:
    out = []
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for t in tasks:
        try:
            with open(f"/proc/{pid}/task/{t}/children", encoding="ascii") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            continue
    return out


def process_tree(root: int) -> list[int]:
    seen, todo = [], [root]
    while todo:
        p = todo.pop()
        if p in seen:
            continue
        seen.append(p)
        todo.extend(_children(p))
    return seen


def tree_peak_rss_mb(root: int | None = None) -> float:
    """Sum of the peak resident set (VmHWM) of ``root`` and every live
    descendant: the driver Python, the JVM and the Python workers."""
    total_kb = 0
    for pid in process_tree(root or os.getpid()):
        try:
            with open(f"/proc/{pid}/status", encoding="ascii") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0
