"""Process-tree and host counters read from /proc (Linux only).

The Spark session spans three kinds of process: the Python driver, the
JVM it launches, and the Python workers the JVM forks.  CPU and memory
are therefore summed over the whole tree rooted at one pid.
"""

from __future__ import annotations

import os

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # comm (field 2) may hold spaces and parentheses; fields after the
    # last ')' are fixed-position.
    return s[s.rfind(")") + 2 :].split()


def tree_pids(root: int) -> list[int]:
    """The root pid and every live descendant."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(name))
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root: int) -> float:
    """User+system CPU-seconds of the tree, including reaped children.

    A child that exits moves its time into its parent's cutime/cstime,
    so the sum only grows and per-interval deltas stay exact."""
    ticks = 0
    for pid in tree_pids(root):
        f = _stat_fields(pid)
        if f is not None:
            # utime, stime, cutime, cstime are fields 14-17 (1-based).
            ticks += sum(int(x) for x in f[11:15])
    return ticks / _TICK


def pss_mb(pid: int) -> float:
    """Proportional set size of one process in MB (0 once it ended).
    PSS splits each shared page among the processes mapping it, so
    forked Python workers do not count their parent's pages again, as
    RSS would."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) / 1e3
    except OSError:
        pass
    return 0.0


def comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


def cpu_times() -> list[int]:
    """The aggregate `cpu` line of /proc/stat, in ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of all CPU ticks between two cpu_times() readings that the
    hypervisor gave to other guests (field 8, `steal`)."""
    delta = [b - a for a, b in zip(before, after)]
    total = sum(delta[:8])  # guest time is already inside user/nice
    return delta[7] / total if total > 0 else 0.0


def host_state() -> dict:
    load1, load5, _ = os.getloadavg()
    return {"load_1m": load1, "load_5m": load5, "nproc": len(os.sched_getaffinity(0))}
