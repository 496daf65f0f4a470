"""Process-tree and host readings taken from /proc.

The benchmark runs Spark in local mode, so one run is a tree of processes:
this Python driver, the JVM it launches, and the Python workers the JVM
forks for pandas UDFs. Memory and CPU are read for the whole tree.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name sits in parentheses and may itself contain spaces
    return raw[raw.rindex(")") + 2:].split()


def tree_pids(root: int) -> list[int]:
    """``root`` and every live descendant."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            fields = _stat_fields(int(name))
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_seconds(root: int) -> float:
    """User + system CPU of the tree, including reaped children."""
    total = 0
    for pid in tree_pids(root):
        fields = _stat_fields(pid)
        if fields is not None:
            # utime, stime, cutime, cstime (stat fields 14-17)
            total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def tree_rss_bytes(root: int) -> int:
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


def cpu_times() -> tuple[int, int]:
    """(total, steal) jiffies of the whole host from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals), vals[7] if len(vals) > 7 else 0


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


class RssSampler:
    """Samples the tree's resident memory on a background thread; ``peak``
    is the largest sample since the last :meth:`reset`."""

    def __init__(self, root: int, interval: float = 0.2):
        self.root = root
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._lock = threading.Lock()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            rss = tree_rss_bytes(self.root)
            with self._lock:
                self.peak = max(self.peak, rss)

    def reset(self) -> None:
        with self._lock:
            self.peak = tree_rss_bytes(self.root)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


class HostNoise:
    """Load average and steal share across one run, recorded as metadata
    only: the benchmark never waits for an idle host."""

    def __init__(self):
        self.load_start = loadavg()
        self._cpu0 = cpu_times()

    def summary(self) -> dict:
        total, steal = cpu_times()
        d_total = max(1, total - self._cpu0[0])
        return {
            "loadavg_start": self.load_start,
            "loadavg_end": loadavg(),
            "steal_pct": round(100.0 * (steal - self._cpu0[1]) / d_total, 3),
        }
