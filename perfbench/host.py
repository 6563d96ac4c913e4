"""Host sizing and process-tree accounting from ``/proc``.

The benchmark runs one driver process whose tree holds the Spark JVM and
its Python workers. CPU and memory are read for that whole tree, so the
figures include work done outside the Python driver.
"""

from __future__ import annotations

import os
import threading

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def host_cpus() -> int:
    """CPUs this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def driver_memory_mb() -> int:
    """A quarter of physical memory, capped at 8 GiB: the benchmark's
    inputs are small, and a heap sized to the whole host gets the JVM
    killed when other processes share the machine."""
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                total_mb = int(line.split()[1]) // 1024
                return max(512, min(8192, total_mb // 4))
    raise RuntimeError("no MemTotal in /proc/meminfo")


def load1() -> float:
    return os.getloadavg()[0]


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) ticks of all CPUs from ``/proc/stat``: the share
    of time the hypervisor ran something else while this guest's CPUs
    wanted to run."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks[:8])


def _stat(pid: int) -> tuple[int, int, int] | None:
    """(ppid, cpu ticks incl. reaped children, rss pages) of one pid."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    fields = raw[raw.rindex(")") + 2:].split()
    # fields[0] is field 3 (state) of proc(5): ppid=4, utime..cstime=14..17, rss=24
    ppid = int(fields[1])
    ticks = sum(int(x) for x in fields[11:15])
    return ppid, ticks, int(fields[21])


def _tree(root: int) -> dict[int, tuple[int, int]]:
    """pid -> (cpu ticks, rss pages) for ``root`` and all descendants."""
    stats = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                stats[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid][1:]
            todo.extend(children.get(pid, ()))
    return out


def tree_pids() -> list[int]:
    """Every process this one started, directly or not."""
    return [p for p in _tree(os.getpid()) if p != os.getpid()]


def tree_cpu_s() -> float:
    """User+system CPU seconds of this process tree, reaped children
    included."""
    return sum(t for t, _ in _tree(os.getpid()).values()) / _CLK_TCK


def tree_rss_mb() -> float:
    return sum(r for _, r in _tree(os.getpid()).values()) * _PAGE / 2**20


class RssSampler:
    """Samples the tree's resident memory every ``INTERVAL`` seconds
    while armed; ``peak_mb`` is the largest sum seen."""

    INTERVAL = 0.1

    def __init__(self):
        self.peak_mb = 0.0
        self._armed = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        while not self._stop.is_set():
            if self._armed.wait(self.INTERVAL):
                self.peak_mb = max(self.peak_mb, tree_rss_mb())
                self._stop.wait(self.INTERVAL)

    def arm(self) -> None:
        self._armed.set()

    def disarm(self) -> None:
        self._armed.clear()
        # one last sample so a short op is never missed entirely
        self.peak_mb = max(self.peak_mb, tree_rss_mb())

    def close(self) -> None:
        self._stop.set()
        self._armed.set()
        self._thread.join(timeout=5)
