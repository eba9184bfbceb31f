"""Memory and CPU of the benchmark's process tree, read from /proc.

The tree is this Python driver, the Spark JVM it launches and the JVM's
Python workers. A sampler thread sums the tree's proportional set sizes
(PSS) at each sample and keeps the highest sum, and it keeps each
process's latest CPU ticks, so processes that exit before the run ends
still count.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")


def calibration_ms() -> float:
    """Median wall of a fixed single-threaded numpy kernel (sorting 4M
    seeded floats). It involves no engine code, so on a shared host it
    shows how fast the host ran; the benchmark prints it, never uses it."""
    import numpy as np

    x = np.random.default_rng(0).random(4_000_000)
    walls = []
    for _ in range(5):
        t = time.perf_counter()
        np.sort(x)
        walls.append(time.perf_counter() - t)
    return 1000.0 * sorted(walls)[2]


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _tree(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _read(pid: int) -> tuple[int, int] | None:
    """(PSS in kB, CPU ticks) of one process, or None if it is gone.

    PSS charges each page shared between processes (the Python workers
    are forks of one daemon) in equal parts, so the tree's sum counts
    every resident page once."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
        with open(f"/proc/{pid}/smaps_rollup") as f:
            rollup = f.read()
    except OSError:
        return None
    fields = stat[stat.rindex(")") + 2 :].split()
    ticks = int(fields[11]) + int(fields[12])
    pss = 0
    for line in rollup.splitlines():
        if line.startswith("Pss:"):
            pss = int(line.split()[1])
            break
    return pss, ticks


class TreeProbe:
    """Samples the process tree every ``interval`` seconds until closed."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self._root = os.getpid()
        self._peak_kb = 0
        self._ticks: dict[int, int] = {}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def sample(self) -> None:
        total = 0
        for pid in _tree(self._root):
            got = _read(pid)
            if got is None:
                continue
            total += got[0]
            with self._lock:
                self._ticks[pid] = got[1]
        with self._lock:
            self._peak_kb = max(self._peak_kb, total)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def cpu_s(self) -> float:
        """CPU seconds used so far by every process seen in the tree."""
        self.sample()
        with self._lock:
            return sum(self._ticks.values()) / _TICK

    def peak_rss_mb(self) -> float:
        """Highest sampled sum of the tree's PSS, in MiB."""
        self.sample()
        with self._lock:
            return self._peak_kb / 1024.0

    def close(self, timeout: float = 30.0) -> None:
        """Stop sampling, then wait until every process seen in the tree but
        this one has exited (Python workers outlive the JVM briefly)."""
        self._stop.set()
        self._thread.join(timeout=5)
        pids = set(self._ticks) - {self._root}
        deadline = time.monotonic() + timeout
        while pids and time.monotonic() < deadline:
            time.sleep(0.1)
            pids = {p for p in pids if os.path.exists(f"/proc/{p}")}
