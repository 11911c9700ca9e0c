"""Sample statistics and process-tree memory sampling."""

from __future__ import annotations

import os
import statistics
import threading


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def cpu_steal_ticks() -> tuple[int, int]:
    """Host-wide (steal, total) CPU ticks from /proc/stat. Steal is time the
    hypervisor ran someone else while this machine wanted the CPU."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def descendants(root_pid: int) -> list[int]:
    """Live descendants of ``root_pid``, from /proc."""
    parent: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    parent[int(entry)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
    out, frontier = [], [root_pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p]
        out += kids
        frontier += kids
    return out


def tree_rss_mb(root_pid: int) -> float:
    """Resident memory of ``root_pid`` and every descendant (the driver's
    JVM and the Python workers it forks)."""
    page, total = os.sysconf("SC_PAGE_SIZE"), 0
    for pid in [root_pid, *descendants(root_pid)]:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total / 1e6


class RssSampler:
    """Background thread recording the peak of :func:`tree_rss_mb` held over
    two consecutive samples. A single high reading is not counted: the JVM
    spawns short-lived commands (chmod, readlink) through posix_spawn, whose
    child shares the JVM's address space until it execs, so one reading can
    count the JVM twice (seen as 1.3 GB spikes in about 1 run of 15)."""

    def __init__(self, interval_s: float = 0.2) -> None:
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid, last = os.getpid(), 0.0
        while not self._stop.is_set():
            now = tree_rss_mb(pid)
            self.peak_mb = max(self.peak_mb, min(last, now))
            last = now
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
