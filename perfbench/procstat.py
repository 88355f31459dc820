"""``/proc`` readings for the python + JVM process tree (Linux)."""

from __future__ import annotations

import os

_TICK_MS = 1000.0 / os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str]:
    with open(f"/proc/{pid}/stat") as fh:
        # the command name may hold spaces; fields restart after ") "
        return fh.read().rsplit(") ", 1)[1].split()


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its descendants."""
    root = root or os.getpid()
    children: dict[int, list[int]] = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            ppid = int(_stat_fields(int(p))[1])
        except (OSError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(p))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_ms() -> float:
    """User + system CPU of the process tree so far, in ms."""
    total = 0.0
    for pid in tree_pids():
        try:
            f = _stat_fields(pid)
        except OSError:
            continue
        total += (int(f[11]) + int(f[12])) * _TICK_MS  # utime, stime
    return total


def tree_peak_rss_mb() -> float:
    """Sum over the process tree of each process's peak RSS (VmHWM)."""
    total_kb = 0
    for pid in tree_pids():
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def process_age_s() -> float:
    """Seconds since this process started (10 ms resolution)."""
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - int(_stat_fields(os.getpid())[19]) * _TICK_MS / 1000.0


def reset_peak_rss() -> None:
    """Reset this process's VmHWM to its current RSS."""
    with open("/proc/self/clear_refs", "w") as fh:
        fh.write("5")


def cpu_times() -> list[int]:
    """The aggregate ``cpu`` line of /proc/stat (ticks per state)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of all CPU time the hypervisor stole between two readings."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[:8])  # user..steal; guest time is already in user
    return d[7] / total if total else 0.0
