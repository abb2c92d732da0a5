"""Process-tree measurements read from /proc: descendants, CPU time and
resident set."""

from __future__ import annotations

import os
import threading

PAGE = os.sysconf("SC_PAGE_SIZE")
TICK = os.sysconf("SC_CLK_TCK")


def descendants(pid: int, depth: int | None = None) -> list[int]:
    """Processes below ``pid``, down to ``depth`` generations (all if None)."""
    parent = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    parent[int(name)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    out, frontier = [], [pid]
    while frontier and depth != 0:
        kids = [c for c, p in parent.items() if p in frontier]
        out += kids
        frontier = kids
        depth = None if depth is None else depth - 1
    return out


def tree_cpu_s(pid: int) -> float:
    """CPU seconds, user and system, spent so far by ``pid`` and every live
    descendant, plus the children each of them has already reaped: the
    driver, the JVM and the JVM's Python workers. Time the hypervisor steals
    from the machine is not charged to any process, so it is not in here."""
    ticks = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/stat") as f:
                ticks += sum(int(x) for x in f.read().rsplit(")", 1)[1].split()[11:15])
        except (OSError, IndexError, ValueError):
            pass
    return ticks / TICK


class RssSampler(threading.Thread):
    """Peak resident set of the driver -- this process and its children, the
    JVM -- sampled every 100 ms from /proc. The JVM's Python workers are left
    out: how many the scheduler keeps alive at once varies between runs."""

    def __init__(self):
        super().__init__(daemon=True)
        self.peak = 0
        self.stop = threading.Event()

    def run(self):
        me = os.getpid()
        while not self.stop.wait(0.1):
            total = 0
            for pid in [me, *descendants(me, depth=1)]:
                try:
                    with open(f"/proc/{pid}/statm") as f:
                        total += int(f.read().split()[1]) * PAGE
                except (OSError, IndexError, ValueError):
                    pass
            self.peak = max(self.peak, total)
