"""Process-tree CPU and memory, and host noise, read from ``/proc``.

The benchmark's process tree is the driver (this Python process), the
JVM that ``pyspark`` launches, and the Python worker daemon and
workers that the JVM forks. Spark reports none of these totals itself,
so they are read from the kernel's accounting.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> tuple[str, int, float] | None:
    """(comm, ppid, cpu seconds incl. reaped children) of one process,
    or None when it has exited."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except (FileNotFoundError, ProcessLookupError):
        return None
    # comm may hold spaces or parentheses: split at the last ')'
    head, _, rest = raw.rpartition(")")
    comm = head.partition("(")[2]
    fields = rest.split()
    # fields[0] is state; utime, stime, cutime, cstime are fields 14-17
    ticks = sum(int(x) for x in fields[11:15])
    return comm, int(fields[1]), ticks / _TICK


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except (FileNotFoundError, ProcessLookupError):
        return 0


def tree(root: int | None = None) -> dict[int, tuple[str, float]]:
    """pid -> (comm, cpu seconds) for ``root`` and all its descendants.

    A descendant that exited and was reaped inside the tree is still
    counted, through its parent's cumulative child time."""
    root = root or os.getpid()
    procs: dict[int, tuple[str, int, float]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                procs[int(name)] = st
    children: dict[int, list[int]] = {}
    for pid, (_, ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in procs:
            out[pid] = (procs[pid][0], procs[pid][2])
            todo.extend(children.get(pid, ()))
    return out


def cpu_split(root: int | None = None) -> dict[str, float]:
    """CPU seconds of the tree so far, split into the JVM, the Python
    workers (every Python process below the JVM) and the driver."""
    root = root or os.getpid()
    split = {"total": 0.0, "jvm": 0.0, "py_worker": 0.0, "driver": 0.0}
    for pid, (comm, cpu) in tree(root).items():
        split["total"] += cpu
        if pid == root:
            split["driver"] += cpu
        elif comm == "java":
            split["jvm"] += cpu
        elif comm.startswith("python"):
            split["py_worker"] += cpu
    return split


def host_ticks() -> tuple[int, int, int]:
    """(busy, steal, total) CPU ticks of the host since boot; busy
    excludes idle, iowait and steal."""
    with open("/proc/stat") as f:
        user, nice, system, idle, iowait, irq, softirq, steal = map(
            int, f.readline().split()[1:9])
    busy = user + nice + system + irq + softirq
    return busy, steal, busy + steal + idle + iowait


def steal_pct(before: tuple, after: tuple) -> float:
    """Share of all host CPU ticks stolen by the hypervisor."""
    return 100.0 * (after[1] - before[1]) / max(after[2] - before[2], 1)


def steal_share(before: tuple, after: tuple) -> float:
    """Share of the CPU time the guest wanted that the hypervisor
    gave to other guests: steal / (busy + steal)."""
    busy, steal = after[0] - before[0], after[1] - before[1]
    return steal / max(busy + steal, 1)


def loadavg_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


class RssSampler:
    """Background thread that samples the summed RSS of the process
    tree. ``reset()`` starts a new window; ``peak()`` is the highest
    sum seen in it."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self._lock = threading.Lock()
        self._peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def sample(self) -> None:
        total = sum(_rss_bytes(pid) for pid in tree())
        with self._lock:
            self._peak = max(self._peak, total)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def reset(self) -> None:
        with self._lock:
            self._peak = 0
        self.sample()

    def peak(self) -> int:
        self.sample()
        with self._lock:
            return self._peak
