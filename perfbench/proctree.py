"""CPU time and resident memory of this process and all its descendants
(the driver Python, the JVM it launched, and the JVM's Python workers), read
from ``/proc``."""

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
    # the command name (field 2) may contain spaces; split after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def tree_pids(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _stat_fields(int(entry))
            if fields is not None:
                children.setdefault(int(fields[1]), []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_cpu_s() -> float:
    """User + system seconds of the live tree, plus what its reaped
    children used (cutime/cstime), so exited workers are not lost."""
    total = 0
    for pid in tree_pids():
        fields = _stat_fields(pid)
        if fields is not None:
            # fields[11:15] = utime stime cutime cstime (stat fields 14-17)
            total += sum(int(x) for x in fields[11:15])
    return total / _TICK


def tree_rss_bytes(pids: list[int] | None = None) -> int:
    total = 0
    for pid in tree_pids() if pids is None else pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            pass
    return total


def since_process_start_s() -> float:
    """Seconds since this process was created (10 ms resolution)."""
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - int(_stat_fields(os.getpid())[19]) / _TICK


class RssSampler:
    """Samples the tree's RSS every ``interval`` seconds in a thread and
    keeps the peak since the last ``take``."""

    def __init__(self, interval: float = 0.25) -> None:
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        n = 0
        while not self._stop.is_set():
            if n % 8 == 0:  # the tree changes rarely; rescan /proc every 2 s
                pids = tree_pids()
            n += 1
            self.peak = max(self.peak, tree_rss_bytes(pids))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def take(self) -> int:
        """Peak RSS in bytes since the previous call; starts a new window."""
        peak, self.peak = max(self.peak, tree_rss_bytes()), 0
        return peak
