"""Host-speed probe: a fixed piece of work, run on every CPU at once,
whose CPU time tells how fast the host executes instructions right now.

The benchmark shares a machine with other tenants. Their load can make
every instruction of a run up to twice as slow for minutes at a time
(shared cores, caches, memory bandwidth and clock), and a process's CPU
time grows with it. That slowdown is the same for the engine and for any
other program, so the benchmark times this fixed work between passes
and states its pass figures at the probe's quiet-host speed (see
``cpu_factor``). The work does not touch the engine, Spark or the JVM,
so no change to the engine changes it. Its CPU time, unlike its wall
time, does not grow when other threads of the run (the JVM's compiler
and collector) share the CPUs with it.

Each worker is a separate Python process that waits on stdin, runs a
fixed pure-Python loop once per ``go`` line and answers with its own
wall and CPU seconds. The work is pure computation: a memory-bound part
(sums over a large array) varied from sample to sample far more than the
engine's passes did (see perfbench/README.md, "Host-speed
normalisation").

    python3 perfbench/hostprobe.py --samples 20    # print quiet-host figures
"""

from __future__ import annotations

import os
import statistics
import subprocess
import sys
import time

LOOP = 1_000_000
# Median worker CPU seconds of one sample with every CPU probing at
# once, on a quiet 4-core VM (Linux, Python 3.11). It fixes the scale of
# the normalised figures only: two runs compare the same way whatever it
# reads.
QUIET_CPU_S = 0.053
# Measured on the same VM: over 90 passes of both workloads, a pass's
# wall time exceeded the least-stolen pass of its run by 3.3 times the
# difference in reported steal share (correlation 0.73; 3.0 on
# `analytics` passes alone, 4.5 on `etl_ingest`). Reported steal
# presumably misses time that an idle CPU waits to be woken again.
STEAL_WEIGHT = 3.0


def _work() -> tuple[float, float]:
    t0, c0 = time.perf_counter(), time.thread_time()
    s = 0
    for i in range(LOOP):
        s += i * i % 7
    return time.perf_counter() - t0, time.thread_time() - c0


def _serve() -> None:
    _work()
    print("ready", flush=True)
    for line in sys.stdin:
        if line.strip() != "go":
            break
        wall, cpu = _work()
        print(f"{wall:.9f} {cpu:.9f}", flush=True)


class HostProbe:
    """``n`` probe workers. ``sample()`` runs the work on all of them at
    once and returns (wall seconds of the whole burst, median worker CPU
    seconds). ``close()`` stops them and waits until each has exited."""

    def __init__(self, n: int):
        self.procs: list[subprocess.Popen] = []
        self.walls: list[float] = []
        self.cpus: list[float] = []
        try:
            for _ in range(n):
                self.procs.append(subprocess.Popen(
                    [sys.executable, os.path.abspath(__file__), "--serve"],
                    stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True, bufsize=1,
                ))
            for p in self.procs:
                if p.stdout.readline().strip() != "ready":
                    raise RuntimeError("host probe worker did not start")
        except BaseException:
            self.close()
            raise

    def sample(self) -> tuple[float, float]:
        t0 = time.perf_counter()
        for p in self.procs:
            p.stdin.write("go\n")
            p.stdin.flush()
        answers = [p.stdout.readline().split() for p in self.procs]
        wall = time.perf_counter() - t0
        cpu = statistics.median(float(a[1]) for a in answers)
        self.walls.append(wall)
        self.cpus.append(cpu)
        return wall, cpu

    def close(self) -> None:
        for p in self.procs:
            try:
                p.stdin.close()
            except OSError:
                pass
        for p in self.procs:
            try:
                p.wait(timeout=10)
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
            if p.stdout:
                p.stdout.close()
        self.procs = []


def cpu_factor(cpus: list[float]) -> float:
    """How much slower than on the quiet host the probe's instructions
    ran: the median CPU seconds of its samples over the quiet value.
    Divide a time by it to state the time at quiet-host speed."""
    return statistics.median(cpus) / QUIET_CPU_S


def at_quiet_speed(wall: float, steal_s: float, n_cpu: int, factor: float) -> float:
    """A pass's wall time stated at quiet-host speed: first without the
    time the hypervisor withheld from the run during the pass, then
    divided by the run's ``cpu_factor``.

    ``steal_s`` is the steal time /proc/stat reported during the pass,
    summed over ``n_cpu`` CPUs. The reported steal undercounts what the
    run lost: passes took longer by about STEAL_WEIGHT times the reported
    steal share, so the wall time is divided by one plus that."""
    share = steal_s / (n_cpu * wall) if wall > 0 else 0.0
    return wall / (1.0 + STEAL_WEIGHT * share) / factor


if __name__ == "__main__":
    if sys.argv[1:] == ["--serve"]:
        _serve()
    else:
        n = int(sys.argv[sys.argv.index("--samples") + 1]) if "--samples" in sys.argv else 20
        probe = HostProbe(len(os.sched_getaffinity(0)))
        try:
            for _ in range(n):
                probe.sample()
        finally:
            probe.close()
        print(f"wall {statistics.median(probe.walls):.4f} s  cpu {statistics.median(probe.cpus):.4f} s"
              f"  (median of {n}; wall range {min(probe.walls):.4f}-{max(probe.walls):.4f})")
