"""Process-tree CPU and memory, and host noise, read from /proc.

The program under test spans three kinds of process: this driver (Python),
the Spark JVM it launches, and the Python workers the JVM forks.  Spark's
own metrics cannot see the Python workers' CPU, so CPU and RSS are summed
over the whole process tree rooted at this process.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int):
    """Fields after the command name of /proc/<pid>/stat (state is [0])."""
    with open(f"/proc/{pid}/stat", "rb") as f:
        raw = f.read()
    return raw[raw.rindex(b")") + 2:].split()


def tree_pids(root: int) -> list:
    """root and every live descendant."""
    children: dict = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            ppid = int(_stat_fields(int(name))[1])
        except (OSError, ValueError, IndexError):
            continue  # exited while listing
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_usage(root: int):
    """(cpu_s, rss_bytes) of the tree.  CPU counts each live process's own
    time plus the time of children it has reaped (cutime/cstime), so short
    lived Python workers stay counted after they exit."""
    cpu_ticks = 0
    rss_pages = 0
    for pid in tree_pids(root):
        try:
            f = _stat_fields(pid)
        except OSError:
            continue
        # utime, stime, cutime, cstime are stat fields 14-17; rss is 24
        cpu_ticks += sum(int(x) for x in f[11:15])
        rss_pages += int(f[21])
    return cpu_ticks / _TICK, rss_pages * _PAGE


def _cpu_line():
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal (guest time is
    # already inside user/nice)
    return sum(vals[:8]), vals[7]


class HostNoise:
    """Steal share and load average over an interval, so a steal burst is
    visible next to the sample it inflated."""

    def __init__(self):
        self._total, self._steal = _cpu_line()

    def read(self) -> dict:
        total, steal = _cpu_line()
        dt = total - self._total
        pct = 100.0 * (steal - self._steal) / dt if dt > 0 else 0.0
        self._total, self._steal = total, steal
        with open("/proc/loadavg") as f:
            load1 = float(f.read().split()[0])
        return {"steal_pct": round(pct, 2), "loadavg_1m": load1}


class PeakRss:
    """Background sampler of the tree's summed RSS; ``peak`` is the highest
    sample since the last ``reset``."""

    def __init__(self, root: int, interval: float = 0.2):
        self.root = root
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while not self._stop.wait(self.interval):
            self.peak = max(self.peak, tree_usage(self.root)[1])

    def reset(self):
        self.peak = tree_usage(self.root)[1]

    def __enter__(self):
        self.reset()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


def wait_for_children(root: int, timeout: float = 30.0) -> list:
    """Block until ``root`` has no live descendants; returns the ones left
    after ``timeout`` (empty on success)."""
    deadline = time.monotonic() + timeout
    while True:
        left = [p for p in tree_pids(root) if p != root]
        # a zombie waiting to be reaped by us is not running
        left = [p for p in left if _state(p) not in (b"Z", None)]
        if not left or time.monotonic() > deadline:
            return left
        time.sleep(0.2)


def _state(pid: int):
    try:
        return _stat_fields(pid)[0]
    except OSError:
        return None
