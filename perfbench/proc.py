"""Process figures read from `/proc` (`psutil` is not installed)."""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: str) -> tuple[int, list[str]] | None:
    """(parent pid, fields after the command name) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            rest = fh.read().rsplit(")", 1)[1].split()
    except OSError:  # the process ended while we looked
        return None
    return int(rest[1]), rest


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    process below it, including ended children each has waited for: the
    driver, the JVM and Spark's Python workers together."""
    stats = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit() and (st := _stat(pid)) is not None:
            stats[int(pid)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in stats:
            rest = stats[pid][1]
            # utime, stime, cutime, cstime
            ticks += sum(int(v) for v in rest[11:15])
        todo += children.get(pid, [])
    return ticks / _TICK


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident set (VmHWM) of the given processes."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024

