"""Host context (CPU count, burn-rate control) and peak-RSS sampling.

The host record is written beside every result as context. It is never a
metric and never rescales one; ``compare.py`` refuses to compare results
taken at different CPU counts.
"""

from __future__ import annotations

import os
import sys
import threading

from inputs import ROOT

BURN_SECONDS = 0.5


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def burn_rate(n_procs: int) -> float:
    """Integer-burn capacity (M iterations/s summed over n_procs processes),
    the repository's own co-tenant load control."""
    tools = os.path.join(ROOT, "tools")
    if tools not in sys.path:
        sys.path.insert(0, tools)
    from scaling_with_control import burn_rate as _burn_rate

    return round(_burn_rate(n_procs, BURN_SECONDS), 1)


def _ppid_and_rss(pid: str) -> tuple[int, int]:
    """(parent pid, resident bytes) of one process, (-1, 0) if it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        with open(f"/proc/{pid}/statm") as f:
            pages = int(f.read().split()[1])
    except (OSError, IndexError, ValueError):
        return -1, 0
    return int(fields[1]), pages * os.sysconf("SC_PAGE_SIZE")


class RssSampler:
    """Samples, every ``interval`` seconds, the summed RSS of every process
    descending from this one (the driver JVM, the Python worker daemon and
    its workers) and keeps the peak."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> int:
        procs = {}
        for pid in os.listdir("/proc"):
            if pid.isdigit():
                procs[int(pid)] = _ppid_and_rss(pid)
        me = os.getpid()
        total, frontier = 0, [me]
        while frontier:
            parent = frontier.pop()
            for pid, (ppid, rss) in procs.items():
                if ppid == parent:
                    total += rss
                    frontier.append(pid)
        self.peak_bytes = max(self.peak_bytes, total)
        return total

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self.sample()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 2**20
