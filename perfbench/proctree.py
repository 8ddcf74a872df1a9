"""Process-tree CPU and memory, read from /proc.

A benchmark run is one Python process (the Spark driver), the JVM it
launches and the Python workers the JVM forks. CPU time is split three
ways: the Spark driver's own process, the JVM, and everything else in the
tree (the worker daemon and its workers). A process's ``cutime`` and
``cstime`` carry the CPU of children it has already reaped, so
short-lived workers are not lost when they exit.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

CLK_TCK = os.sysconf("SC_CLK_TCK")


@dataclass(frozen=True)
class ProcStat:
    pid: int
    ppid: int
    comm: str
    own_ticks: int  # utime + stime
    cpu_ticks: int  # own_ticks + cutime + cstime (reaped children)


def parse_stat(text: str) -> ProcStat:
    """Parse one ``/proc/<pid>/stat`` line. ``comm`` may hold spaces and
    parentheses, so fields are split after the LAST ')'."""
    head, _, tail = text.rpartition(")")
    pid_s, _, comm = head.partition(" (")
    f = tail.split()
    # tail starts at field 3 (state): ppid=f[1], utime..cstime=f[11:15]
    own = int(f[11]) + int(f[12])
    return ProcStat(int(pid_s), int(f[1]), comm, own, own + int(f[13]) + int(f[14]))


def read_all(proc: str = "/proc") -> dict[int, ProcStat]:
    out: dict[int, ProcStat] = {}
    for name in os.listdir(proc):
        if not name.isdigit():
            continue
        try:
            with open(f"{proc}/{name}/stat") as fh:
                st = parse_stat(fh.read())
        except (OSError, ValueError, IndexError):
            continue  # exited while we looked
        out[st.pid] = st
    return out


def descendants(stats: dict[int, ProcStat], root: int) -> list[int]:
    """``root`` and every process below it."""
    children: dict[int, list[int]] = {}
    for st in stats.values():
        children.setdefault(st.ppid, []).append(st.pid)
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        if pid in stats:
            out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


def cpu_split(stats: dict[int, ProcStat], root: int) -> dict[str, float]:
    """CPU seconds of the tree under ``root``: ``driver`` (root itself,
    without its reaped children), ``jvm`` (processes named java) and
    ``pyworker`` (the rest, reaped children included)."""
    split = {"driver": 0.0, "jvm": 0.0, "pyworker": 0.0}
    for pid in descendants(stats, root):
        st = stats[pid]
        if pid == root:
            split["driver"] += st.own_ticks
        elif st.comm == "java":
            split["jvm"] += st.cpu_ticks
        else:
            split["pyworker"] += st.cpu_ticks
    return {k: v / CLK_TCK for k, v in split.items()}


def peak_rss_mb(root: int, proc: str = "/proc") -> float:
    """Sum of the kernel-recorded peak RSS (VmHWM) of every live process
    in the tree: an upper bound of the tree's simultaneous peak."""
    total_kb = 0
    for pid in descendants(read_all(proc), root):
        try:
            with open(f"{proc}/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def tree_pids(root: int) -> list[int]:
    return [p for p in descendants(read_all(), root) if p != root]


def host_cpu_s() -> dict[str, float]:
    """Host-wide CPU seconds from /proc/stat, summed over CPUs: time the
    hypervisor ran something else (``steal``) and time waiting on I/O."""
    with open("/proc/stat") as fh:
        f = fh.readline().split()
    return {"iowait": int(f[5]) / CLK_TCK, "steal": int(f[8]) / CLK_TCK}
