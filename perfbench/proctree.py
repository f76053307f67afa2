"""CPU time and resident memory of this process and its descendants.

The benchmark's process tree is the driver Python process, the JVM it
launches and the Python workers the JVM forks. CPU is read from
``/proc/<pid>/stat`` (utime + stime of each live process, plus
cutime + cstime, which hold the CPU of children it has already
reaped). RSS is sampled by a background thread and summed over the
tree, so the peak is the largest sum seen.
"""

from __future__ import annotations

import os
import threading

_TICKS = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # the command name is in parentheses and may hold spaces
    return raw[raw.rindex(")") + 2 :].split()


def _tree() -> dict[int, list[str]]:
    """Stat fields of the current process and all its descendants."""
    stats = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _stat(int(entry))
            if fields is not None:
                stats[int(entry)] = fields
    children: dict[int, list[int]] = {}
    for pid, fields in stats.items():
        children.setdefault(int(fields[1]), []).append(pid)
    out, todo = {}, [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
            todo.extend(children.get(pid, ()))
    return out


def cpu_seconds() -> float:
    """CPU seconds used so far by the whole tree."""
    # fields after the name: utime, stime, cutime, cstime are 11..14
    return sum(
        sum(int(f) for f in fields[11:15]) for fields in _tree().values()
    ) / _TICKS


def rss_bytes() -> int:
    # rss (in pages) is field 21 after the name
    return sum(int(fields[21]) for fields in _tree().values()) * _PAGE


def descendants() -> set[int]:
    return set(_tree()) - {os.getpid()}


def wait_gone(pids: set[int], timeout: float) -> None:
    """Wait up to ``timeout`` seconds for the processes ``pids`` to
    end (a process whose parent died is reparented, so this follows
    pids, not the tree), then kill those left."""
    import signal
    import time

    def alive(pid):
        fields = _stat(pid)
        return fields is not None and fields[0] != "Z"

    deadline = time.monotonic() + timeout
    while True:
        left = [pid for pid in pids if alive(pid)]
        if not left:
            return
        if time.monotonic() > deadline:
            for pid in left:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = float("inf")
        time.sleep(0.1)


class PeakRss:
    """Samples the tree's summed RSS every ``interval`` seconds
    between ``start()`` and ``stop()``; ``peak`` is the largest sum."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak = 0
        self._halt = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        while True:
            self.peak = max(self.peak, rss_bytes())
            if self._halt.wait(self.interval):
                return

    def start(self) -> None:
        self._halt.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._halt.set()
        self._thread.join()
        self.peak = max(self.peak, rss_bytes())
