"""Host context and memory readings from ``/proc`` (no psutil).

- :func:`cpu_times` / :func:`cpu_shares`: steal and iowait share of all CPU
  time between two readings of ``/proc/stat``, so a run on a disturbed host
  shows it next to its metrics;
- :class:`RssSampler`: peak resident memory of this process and all its
  descendants (the Spark JVM and its Python workers), sampled on a thread.
"""

from __future__ import annotations

import os
import threading

_PAGE = os.sysconf("SC_PAGE_SIZE")


def cpu_times() -> list[int]:
    """Aggregate jiffies: user nice system idle iowait irq softirq steal."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return [int(x) for x in fields[1:9]]


def cpu_shares(before: list[int], after: list[int]) -> dict[str, float]:
    d = [b - a for a, b in zip(before, after)]
    total = sum(d) or 1
    return {
        "steal_frac": round(d[7] / total, 4),
        "iowait_frac": round(d[4] / total, 4),
        "busy_frac": round((total - d[3] - d[4]) / total, 4),
    }


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, rss bytes) for every visible process."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # exited between listdir and open
            continue
        # the command name may hold spaces or parentheses: split after it
        rest = stat[stat.rfind(")") + 2 :].split()
        table[int(name)] = (int(rest[1]), int(rest[21]) * _PAGE)
    return table


def descendants(root: int) -> list[int]:
    """Live processes below ``root``."""
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in _proc_table().items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_rss(root: int) -> int:
    """Resident bytes of ``root`` plus all of its descendants."""
    table = _proc_table()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        children.setdefault(ppid, []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        if pid in table:
            total += table[pid][1]
        todo.extend(children.get(pid, ()))
    return total


class RssSampler:
    """Samples :func:`tree_rss` of this process every ``interval`` seconds."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        root = os.getpid()
        while True:
            self.peak = max(self.peak, tree_rss(root))
            if self._stop.wait(self.interval):
                return

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak
