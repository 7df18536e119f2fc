"""Process-tree CPU and memory, and host steal/load, read from /proc.

Only this process and its descendants are read (the driver JVM and the
Python workers it forks); nothing on the host is changed.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode()
    except OSError:
        return None
    # the command name may hold spaces: split after its closing ')'
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and every live descendant."""
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        f = _stat_fields(int(name))
        if f is not None:
            children.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s(pids: list[int] | None = None) -> float:
    """User+system CPU seconds of the process tree, counting children
    that already exited and were reaped (their time sits in the
    parent's cutime/cstime)."""
    total = 0
    for pid in pids if pids is not None else tree_pids():
        f = _stat_fields(pid)
        if f is not None:
            # fields 14-17 of stat(5): utime stime cutime cstime
            total += sum(int(x) for x in f[11:15])
    return total / _TICK


def tree_rss_mb(pids: list[int] | None = None) -> float:
    total = 0
    for pid in pids if pids is not None else tree_pids():
        f = _stat_fields(pid)
        if f is not None:
            total += int(f[21])  # field 24: rss in pages
    return total * _PAGE / 2**20


class RssSampler:
    """Samples the tree's summed RSS on a daemon thread; ``peak_mb`` is
    the largest sample seen."""

    def __init__(self, interval_s: float = 0.25) -> None:
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def host_cpu() -> dict[str, float]:
    """Host-wide CPU seconds from the first line of /proc/stat:
    ``busy`` (user+nice+system+irq+softirq) and ``steal``."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = v[:8]
    return {
        "busy": (user + nice + system + irq + softirq) / _TICK,
        "steal": steal / _TICK,
    }


def process_age_s() -> float:
    """Seconds since this process was started: stat starttime (ticks
    since boot) against the boot-time clock."""
    start = int(_stat_fields(os.getpid())[19]) / _TICK
    return time.clock_gettime(time.CLOCK_BOOTTIME) - start
