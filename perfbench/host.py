"""Host readings from /proc: CPU time by state and the RSS of a process tree.

``loadavg`` is not used: on a shared VM it reads high while the VM itself is
idle, so it cannot tell a contended run from a quiet one. ``/proc/stat`` can:
steal is time the hypervisor gave this VM's vCPUs to someone else.
"""

from __future__ import annotations

import os
import threading
from dataclasses import dataclass

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


@dataclass(frozen=True)
class CpuTimes:
    busy: float  # core-seconds in user+nice+system+irq+softirq
    steal: float
    total: float  # every state, idle and steal included

    @staticmethod
    def read() -> "CpuTimes":
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
        user, nice, system, idle, iowait, irq, softirq, steal = fields[:8]
        return CpuTimes(
            busy=(user + nice + system + irq + softirq) / _TICK,
            steal=steal / _TICK,
            total=sum(fields[:8]) / _TICK,
        )

    def __sub__(self, other: "CpuTimes") -> "CpuTimes":
        return CpuTimes(
            self.busy - other.busy, self.steal - other.steal, self.total - other.total
        )

    @property
    def steal_share(self) -> float:
        return self.steal / self.total if self.total else 0.0

    def record(self) -> dict:
        """The contention record published beside a run's metrics."""
        return {"busy_core_s": round(self.busy, 3), "steal_share": round(self.steal_share, 4)}


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                # the command name may hold spaces; ppid follows its ')'
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended while we listed /proc
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root: int) -> list[int]:
    """Every live process below ``root``: for the benchmark process, the JVM
    and its Python worker daemon and workers."""
    kids = _children()
    todo, found = list(kids.get(root, ())), []
    while todo:
        pid = todo.pop()
        found.append(pid)
        todo.extend(kids.get(pid, ()))
    return found


def tree_rss_bytes(root: int) -> int:
    """Summed RSS of every descendant of ``root`` (not ``root`` itself)."""
    total = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            continue
    return total


class RssSampler:
    """Samples :func:`tree_rss_bytes` of this process on a background thread
    while the context is open; ``peak`` holds the largest sample."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while True:
            self.peak = max(self.peak, tree_rss_bytes(pid))
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
