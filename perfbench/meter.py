"""Peak resident memory of the benchmark's process tree.

The tree is walked in ``/proc`` from the benchmark's own pid, so it covers
the driver, the JVM it launched and the JVM's Python workers. The foreign
CPU share of a run comes from ``bench.ForeignCpuMeter``.
"""

from __future__ import annotations

import os
import threading


def _tree(root: int) -> list[int]:
    """Pids of the live process subtree rooted at ``root``."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except OSError:  # exited between listdir and open
            continue
        children.setdefault(ppid, []).append(int(name))
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, each shared page split among
    the processes that map it, so forked Python workers are not counted
    once per worker for the pages they share."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:  # exited meanwhile
        pass
    return 0


class PeakRss:
    """Samples the tree's summed resident memory (PSS) on a thread while
    active; ``peak_bytes`` is the highest sample over all active spans."""

    def __init__(self, interval_s: float = 0.05) -> None:
        self._interval = interval_s
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self.peak_bytes = 0

    def sample(self) -> None:
        rss = sum(_pss_bytes(p) for p in _tree(os.getpid()))
        self.peak_bytes = max(self.peak_bytes, rss)

    def _loop(self) -> None:
        while not self._stop.wait(self._interval):
            self.sample()

    def __enter__(self) -> PeakRss:
        self._stop.clear()
        self.sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()
