"""Peak resident memory of the Python driver plus its JVM.

A daemon thread samples ``/proc`` every ``INTERVAL_S``. Only the two
driver processes are counted: the Python workers (children of the JVM)
and the benchmark's own helper processes are not.
"""

from __future__ import annotations

import os
import threading
from pathlib import Path

INTERVAL_S = 0.05
_PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


def _rss_kb(pid: int) -> int:
    try:
        return int(Path(f"/proc/{pid}/statm").read_text().split()[1]) * _PAGE_KB
    except (OSError, IndexError, ValueError):
        return 0


class PeakRss:
    """Context manager over this process and the JVM ``jvm_pid``;
    ``peak_mb`` holds the highest sampled sum."""

    def __init__(self, jvm_pid: int) -> None:
        self.pids = (os.getpid(), jvm_pid)
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0

    def sample(self) -> None:
        self.peak_kb = max(self.peak_kb, sum(_rss_kb(p) for p in self.pids))

    def _run(self) -> None:
        while not self._stop.wait(INTERVAL_S):
            self.sample()

    def __enter__(self):
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()
        return False
