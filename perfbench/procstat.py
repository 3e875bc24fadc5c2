"""CPU time and resident memory of this process tree, read from /proc.

The tree is this Python driver, the Spark JVM it launched and the
JVM's Python workers.  CPU counts ``cutime``/``cstime`` too, so workers
that exited and were reaped inside the tree are not lost.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:           # the process exited between listdir and open
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2:].split()


def tree() -> dict[int, list[str]]:
    """pid -> stat fields (from field 3 on) for every process in the tree."""
    stats, children = {}, {}
    for pid in os.listdir("/proc"):
        if pid.isdigit() and (fields := _stat(pid)) is not None:
            stats[int(pid)] = fields
            children.setdefault(int(fields[1]), []).append(int(pid))
    out, todo = {}, [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
        todo.extend(children.get(pid, ()))
    return out


def cpu_s() -> float:
    """User + system CPU seconds of the tree, reaped children included."""
    return sum(sum(int(f[i]) for i in (11, 12, 13, 14))
               for f in tree().values()) / _TICK


def rss_mb() -> float:
    return sum(int(f[21]) for f in tree().values()) * _PAGE / 2 ** 20


class PeakRss:
    """Samples the tree's RSS on a background thread; ``peak_mb`` is the
    largest sample.  Use as a context manager."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, rss_mb())
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, rss_mb())
