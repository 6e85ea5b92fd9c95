"""Peak resident memory and CPU time of this process and all its
descendants.

The benchmark process is the PySpark driver; its children are the JVM
(started by spark-submit) and any Python workers. A background thread
sums ``VmRSS`` over the process tree from ``/proc`` and keeps the peak;
CPU time is the tree's user + system time, including reaped children.
"""

from __future__ import annotations

import os
import threading


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                # the command name may hold spaces: ppid follows the last ')'
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue  # the process ended while being read
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _tree(root: int) -> list[int]:
    kids, todo, out = _children(), [root], []
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _cpu_ticks(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/stat") as f:
            # utime stime cutime cstime are fields 14-17; they follow the last ')'
            return sum(int(x) for x in f.read().rsplit(")", 1)[1].split()[11:15])
    except (OSError, IndexError, ValueError):
        return 0  # the process ended while being read


def tree_cpu_s(root: int) -> float:
    return sum(_cpu_ticks(p) for p in _tree(root)) / os.sysconf("SC_CLK_TCK")


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PeakRss:
    """Samples the tree's RSS every ``interval`` seconds while running.

    A process is counted from its second sample on. The JVM starts its
    helpers (``chmod`` and the like) with ``posix_spawn``, whose child
    shares the JVM's pages until it execs; a sample that caught one would
    count the whole JVM twice."""

    def __init__(self, interval: float = 0.1) -> None:
        self.interval = interval
        self.peak_mb = 0.0
        self._seen: set[int] = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def _sample(self) -> None:
        rss = {p: _rss_kb(p) for p in _tree(os.getpid())}
        mb = sum(kb for p, kb in rss.items() if p in self._seen) / 1024.0
        self.peak_mb = max(self.peak_mb, mb)
        self._seen = set(rss)

    def _run(self) -> None:
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    @property
    def running(self) -> bool:
        return self._thread.is_alive()

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()
