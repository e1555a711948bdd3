"""CPU time of the program under test, read from the kernel.

The benchmark's operations are timed in CPU seconds as well as in wall
seconds.  On a virtual machine that shares its host, wall time also counts
the time other tenants hold the cores: on 4 cores, three busy neighbour
processes turned a 5.6 s pass of the 13 queries into 9.4 s, while its CPU
time did not move.  The kernel charges a virtual CPU's stolen time to no
process, so CPU time does not grow with the host's load either.
"""

from __future__ import annotations

import os
import time

_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")

# HotSpot's JIT compiler threads ("C1 CompilerThread0", ...).
JIT_THREAD_PREFIXES = ("C1 CompilerThre", "C2 CompilerThre")


def _process_clock(pid: int) -> int:
    """The clock id of ``pid``'s CPU time (Linux's CPUCLOCK_SCHED)."""
    return (~pid << 3) | 2


def _stat(path: str) -> list[str] | None:
    """The fields after the command name of a ``stat`` file, or None when
    the process or thread is gone."""
    try:
        with open(path) as fh:
            stat = fh.read()
    except OSError:
        return None
    return stat[stat.rindex(")") + 2:].split()


def jit_threads(pid: int) -> list[str]:
    """The ``schedstat`` paths of the JIT compiler threads of JVM ``pid``.
    The JVM must keep them for its whole life
    (``-XX:-UseDynamicNumberOfCompilerThreads``), or the CPU of one that
    exits would be lost."""
    out = []
    task = f"/proc/{pid}/task"
    for tid in os.listdir(task):
        try:
            with open(f"{task}/{tid}/comm") as fh:
                name = fh.read()
        except OSError:
            continue
        if name.startswith(JIT_THREAD_PREFIXES):
            out.append(f"{task}/{tid}/schedstat")
    return out


class CpuClock:
    """CPU seconds used so far by process ``root`` and all its descendants
    (here the driver Python, the driver JVM with its executor threads, and
    Spark's Python workers), less what the JVM's JIT compiler threads used.

    JIT compilation is left out because how much of it lands in a pass
    depends on when HotSpot decides to compile, not on the pass: on 4 cores
    the compiler threads used 11.7, 7.0, 5.0, 3.9 and 3.9 s over five
    passes of the 13 queries, while the rest used 6.6, 6.3, 5.9, 5.4 and
    6.2 s."""

    def __init__(self, root: int | None = None, jvm_pid: int | None = None):
        self.root = os.getpid() if root is None else root
        self.jit = jit_threads(jvm_pid) if jvm_pid else []

    def __call__(self) -> float:
        parent, reaped = {}, {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            fields = _stat(f"/proc/{name}/stat")
            if fields is not None:
                parent[int(name)] = int(fields[1])
                reaped[int(name)] = int(fields[13]) + int(fields[14])
        total = 0.0
        for pid in parent:
            p = pid
            while p > 1 and p != self.root:
                p = parent.get(p, 0)
            if p != self.root:
                continue
            try:
                total += time.clock_gettime(_process_clock(pid))
            except OSError:  # exited since the listing
                continue
            total += reaped[pid] * _TICK_S
        for path in self.jit:
            try:
                with open(path) as fh:
                    total -= int(fh.read().split()[0]) / 1e9
            except OSError:
                pass
        return total
