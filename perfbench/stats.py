"""Small statistics and process-tree memory helpers."""

from __future__ import annotations

import os
import statistics


def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def tail(xs, beyond: int = 10) -> tuple[float, float, int] | None:
    """(value, percentile, n) of the highest percentile that still has at
    least ``beyond`` samples above it; None when there are too few."""
    s = sorted(xs)
    n = len(s)
    if n <= beyond:
        return None
    return s[n - beyond - 1], round(100.0 * (n - beyond) / n, 1), n


def cycle_time(samples) -> float:
    """One cycle's time from per-op-type medians: the sum over a cycle's
    ops of the median latency of each op's type. Robust to how a seed
    spreads cheap and costly requests over the cycles of a run."""
    by_op: dict[str, list[float]] = {}
    for s in samples:
        by_op.setdefault(s["op"], []).append(s["s"])
    per_cycle = max(1, len({s["cycle"] for s in samples}))
    return sum(median(v) * len(v) / per_cycle for v in by_op.values())


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: the ppid follows its ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def process_tree(root: int | None = None) -> list[int]:
    """``root`` (this process by default) and all its descendants."""
    kids = _children()
    out, todo = [], [root or os.getpid()]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def peak_rss_mb() -> float:
    """VmHWM summed over this process tree (Python driver, JVM, Python
    workers), in MiB."""
    total_kb = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0
