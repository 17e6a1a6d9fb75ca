"""Process-tree CPU and memory readings, and host-noise diagnostics.

CPU and peak memory are read from /proc for the benchmark process and every
descendant (the driver JVM, the Python worker daemon and its workers).
The calibration rate and steal share are recorded only; no metric is ever
scaled by them.
"""

from __future__ import annotations

import os
import time

import numpy as np

_TICK = os.sysconf("SC_CLK_TCK")


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while listing
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def process_tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all of its descendants."""
    root = os.getpid() if root is None else root
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def cpu_seconds(pids: list[int]) -> float:
    """User + system CPU of ``pids``, including their reaped children (a
    worker that exits mid-pass lands in its parent's cutime/cstime)."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def tree_cpu_seconds() -> float:
    return cpu_seconds(process_tree())


def peak_rss_by_process(pids: list[int]) -> list[tuple[str, float]]:
    """(command name, VmHWM in MB) of each of ``pids`` still alive."""
    out = []
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                fields = dict(line.split(":", 1) for line in f)
        except OSError:
            continue
        if "VmHWM" in fields:
            out.append((fields["Name"].strip(),
                        int(fields["VmHWM"].split()[0]) / 1024.0))
    return out


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the kernel's resident high-water marks (VmHWM) over ``pids``."""
    return sum(mb for _, mb in peak_rss_by_process(pids))


def reset_own_peak_rss() -> None:
    """Restart this process's VmHWM, so input generation does not count."""
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def cpu_ticks() -> tuple[int, int]:
    """(total, steal) jiffies of the aggregate /proc/stat cpu line."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields[:8]), fields[7]


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[0] - before[0]
    return 100.0 * (after[1] - before[1]) / total if total > 0 else 0.0


def calibration_rate(seconds: float = 0.3) -> float:
    """Fixed single-thread numpy work (sorting one seeded 200k-element
    array) as elements sorted per second."""
    data = np.random.default_rng(0).random(200_000)
    n, t0 = 0, time.perf_counter()
    while True:
        np.sort(data)
        n += 1
        dt = time.perf_counter() - t0
        if dt >= seconds:
            return n * len(data) / dt
