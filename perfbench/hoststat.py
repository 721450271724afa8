"""Host readings from /proc: process-tree memory and CPU time, CPU
steal, core count.

``psutil`` is not available, so the process tree is walked by hand:
every ``/proc/<pid>/stat`` gives the parent pid.  Memory is the
proportional set size (``Pss`` in ``smaps_rollup``), not the resident
set: Spark's Python workers are forked from one daemon and share most
of their pages with it, and resident sizes would count those pages
once per worker, so the sum would swing with however many workers
Spark happened to fork.
"""

from __future__ import annotations

import os
import threading
import time


def _children_map() -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields after ')' are fixed
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        out.setdefault(ppid, []).append(int(name))
    return out


def descendants(root: int) -> list[int]:
    """Pids below *root* (not including it)."""
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        for c in kids.get(todo.pop(), ()):
            out.append(c)
            todo.append(c)
    return out


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def tree_pss_bytes(root: int) -> int:
    return sum(_pss_bytes(p) for p in [root, *descendants(root)])


def _cpu_ticks(pid: int) -> int:
    """utime + stime of *pid* and of its children it has reaped."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    return sum(int(x) for x in fields[11:15])


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by *root* and all of its descendants.
    Time the hypervisor gives to other guests (steal) is not in it, so
    it moves less than wall time when other tenants load the host."""
    ticks = sum(_cpu_ticks(p) for p in [root, *descendants(root)])
    return ticks / os.sysconf("SC_CLK_TCK")


class PeakMemory:
    """Samples the memory of this process and all of its descendants
    (JVM, Python workers, search server) every ``interval`` seconds
    on a background thread; ``peak_mb`` is the largest sum seen."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while True:
            self.peak = max(self.peak, tree_pss_bytes(root))
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "PeakMemory":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


def cpu_snapshot() -> tuple[int, int]:
    """(total jiffies, steal jiffies) from the first line of
    /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals), (vals[7] if len(vals) > 7 else 0)


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of the machine's CPU time between two ``cpu_snapshot``s
    that the hypervisor gave to other guests."""
    return 100.0 * (after[1] - before[1]) / max(1, after[0] - before[0])


def host_stamp(before: tuple[int, int], after: tuple[int, int]) -> dict:
    """Context for a run, not a metric: machine-wide CPU steal over
    the run and the cores this process may use."""
    return {"steal_pct": round(steal_pct(before, after), 2),
            "nproc": len(os.sched_getaffinity(0))}


def wait_gone(pids: list[int], timeout: float) -> None:
    """Wait until none of *pids* is alive (a zombie counts as gone)."""
    deadline = time.monotonic() + timeout
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False
