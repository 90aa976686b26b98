"""Process-subtree and host readings from ``/proc`` (Linux only).

The engine runs as three kinds of process — the Python driver, the
local-mode JVM (whose threads are the executors) and the Python workers
the JVM forks — so CPU and memory are summed over the whole subtree
rooted at the driver.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            continue  # thread exited between listing and reading
    return out


def subtree(root: int | None = None) -> tuple[float, int]:
    """``(cpu_seconds, rss_bytes)`` summed over ``root`` and every live
    descendant. CPU of descendants that already exited and were reaped
    is included through the parent's ``cutime``/``cstime``. The JVM starts
    helper processes (shell commands) by vfork: until the child execs, it
    is still named ``java`` and shares the JVM's memory, so its RSS is not
    counted a second time."""
    stack = [(root or os.getpid(), None)]
    cpu, rss, seen = 0.0, 0, set()
    while stack:
        pid, parent_comm = stack.pop()
        if pid in seen:
            continue
        seen.add(pid)
        try:
            with open(f"/proc/{pid}/stat") as f:
                comm, rest = f.read().rsplit(")", 1)
        except OSError:
            continue  # exited while walking
        fields = rest.split()
        comm = comm.split("(", 1)[1]
        # fields[11..14] = utime stime cutime cstime; fields[21] = rss pages
        cpu += sum(int(v) for v in fields[11:15]) / _TICK
        if not comm == parent_comm == "java":
            rss += int(fields[21]) * _PAGE
        stack.extend((c, comm) for c in children(pid))
    return cpu, rss


def host() -> dict:
    """Host-noise record: cumulative steal seconds, load average, nproc."""
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    steal = int(cpu[8]) / _TICK if len(cpu) > 8 else 0.0
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    return {"steal_s": steal, "load1": load1, "nproc": nproc()}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


class PeakRss:
    """Background sampler of the subtree's summed RSS. Only the peak is
    kept; start it around the timed region and read ``peak`` after
    :meth:`stop`."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, subtree()[1])
            self._stop.wait(self.interval)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, subtree()[1])
