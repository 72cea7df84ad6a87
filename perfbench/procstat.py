"""Resource use of the engine's processes, read from /proc.

The engine runs as this Python driver, the Spark JVM it starts and the
JVM's Python workers. CPU time consumed by that process tree does not
grow when the host steals CPU from the machine, so CPU-time figures
stay steady where wall-clock figures swing with the host's load."""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int | str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after ')'
    return stat.rsplit(")", 1)[1].split()


def _tree(root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(name)
            if f is not None:
                kids.setdefault(int(f[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    except OSError:
        return 0


def tree_rss_bytes(root: int) -> int:
    return sum(_rss_bytes(p) for p in _tree(root))


def cpu_seconds(root: int) -> float:
    """User + system CPU of this process and of ``root`` with all its
    descendants, including descendants already reaped."""
    total = 0
    for pid in {os.getpid(), *_tree(root)}:
        f = _stat_fields(pid)
        if f is not None:
            # utime, stime, cutime, cstime
            total += sum(int(x) for x in f[11:15])
    return total / _TICK


def host_ticks() -> tuple[int, int]:
    """(all CPU ticks, stolen ticks) of the machine since boot."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals), vals[7] if len(vals) > 7 else 0


class PeakRss:
    """Samples the RSS of ``root`` and its descendants every
    ``interval`` seconds on a daemon thread until ``stop``."""

    def __init__(self, root: int, interval: float = 0.2):
        self.root = root
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, tree_rss_bytes(self.root))
            if self._stop.wait(self.interval):
                return

    def stop(self) -> int:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_rss_bytes(self.root))
        return self.peak
