"""Host diagnostics and the resident-memory sampler.

Steal time, co-tenant JVMs and the core count are recorded with every
result and never gated: on a shared host they explain a noisy run.
"""

from __future__ import annotations

import os
import threading
import time


def steal_cs() -> int:
    """Cumulative hypervisor steal of all CPUs, in centiseconds (the 8th
    value of the ``cpu`` line of /proc/stat)."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8])
    except (OSError, IndexError, ValueError):
        return 0


def _comm(pid: str) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def live_jvms() -> int:
    """Java processes running on the host."""
    return sum(1 for p in os.listdir("/proc") if p.isdigit() and _comm(p) == "java")


def child_jvm(parent: int) -> int | None:
    """The first Java process among the descendants of ``parent``."""
    return next((pid for pid in tree_pids(parent)[1:]
                 if _comm(str(pid)) == "java"), None)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def tree_pids(root: int) -> list[int]:
    """``root`` and all its live descendants."""
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        try:
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/children") as f:
                    todo.extend(int(c) for c in f.read().split())
        except OSError:
            continue
    return out


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def range_pss_kb(pid: int, lo: int, hi: int) -> int:
    """Proportional set size of the mappings of ``pid`` that lie in the
    address range [lo, hi)."""
    total, inside = 0, False
    try:
        with open(f"/proc/{pid}/smaps") as f:
            for line in f:
                head = line.split(None, 1)[0]
                if not head.endswith(":"):  # a mapping: "start-end perms ..."
                    start, end = (int(x, 16) for x in head.split("-"))
                    inside = lo <= start and end <= hi
                elif inside and head == "Pss:":
                    total += int(line.split()[1])
    except OSError:
        pass
    return total


# a sample reads the JVM's smaps (~25 ms at a 3 GB heap) besides the
# tree's smaps_rollup; every 0.2 s that slowed stream batches by ~15%
SAMPLE_S = 1.0


class MemSampler:
    """Resident memory of this process tree (the Python driver, its JVM
    and the JVM's Python workers) outside the Java heap, sampled every
    SAMPLE_S inside the windows opened by ``begin``/``end``. The heap is
    the address range ``heap`` of process ``jvm``; its resident pages are
    left out because a pre-sized heap is all resident."""

    def __init__(self, jvm: int, heap: tuple[int, int]):
        self.jvm, self.heap = jvm, heap
        self.nonheap_mb: list[float] = []
        self.windows: list[tuple[float, float]] = []
        self._t0: float | None = None
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def begin(self) -> None:
        self._t0 = time.time()

    def end(self) -> None:
        self.windows.append((self._t0, time.time()))
        self._t0 = None

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.wait(SAMPLE_S):
            if self._t0 is not None:
                kb = sum(_pss_kb(pid) for pid in tree_pids(me))
                kb -= range_pss_kb(self.jvm, *self.heap)
                self.nonheap_mb.append(kb / 1024.0)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
