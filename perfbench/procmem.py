"""Peak summed resident memory of this process and all its descendants,
from /proc.

The process tree covers the driver Python process, the JVM it launches,
and the JVM's Python daemon and workers. Each process counts its
proportional set size (``Pss`` in ``smaps_rollup``): resident pages
shared between processes are split among them. A plain RSS sum counts a
page once per sharer, so the forked Python workers and the short-lived
fork of the JVM that launches the daemon would inflate the peak by
whatever they happen to share at the sampled instant.
"""

from __future__ import annotations

import os
import signal
import threading
import time
from typing import Dict, List

def _parents() -> Dict[int, int]:
    out: Dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue
        # comm may hold spaces or parens; fields resume after the last ')'
        out[int(entry)] = int(stat[stat.rindex(b")") + 2:].split()[1])
    return out


def _descendants(root: int) -> List[int]:
    children: Dict[int, List[int]] = {}
    for pid, ppid in _parents().items():
        children.setdefault(ppid, []).append(pid)
    out: List[int] = []
    todo = list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup", "rb") as fh:
        for line in fh:
            if line.startswith(b"Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_rss(root: int) -> Dict[str, int]:
    """Resident bytes (PSS) of the tree rooted at ``root``, by process
    name (``java``, ``python3``...), plus the process count under
    ``procs``."""
    out: Dict[str, int] = {"procs": 0}
    for pid in [root] + _descendants(root):
        try:
            rss = _pss_bytes(pid)
            with open(f"/proc/{pid}/comm") as fh:
                name = fh.read().strip()
        except OSError:
            continue
        out[name] = out.get(name, 0) + rss
        out["procs"] += 1
    return out


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            stat = fh.read()
    except OSError:
        return False
    return stat[stat.rindex(b")") + 2:].split()[0] != b"Z"


def become_subreaper() -> bool:
    """Make this process adopt the descendants whose parent exits
    (Linux ``PR_SET_CHILD_SUBREAPER``), so that ``end_descendants`` can
    wait for and reap them, such as the Python daemon the JVM started
    once the JVM has gone."""
    import ctypes
    try:
        libc = ctypes.CDLL(None, use_errno=True)
        return libc.prctl(36, 1, 0, 0, 0) == 0
    except (OSError, AttributeError):
        return False


def end_descendants(grace: float = 60.0) -> List[int]:
    """Wait until every process this one started, directly or not, has
    ended, reaping each; kill what still runs after ``grace`` seconds.
    Returns the pids that had to be killed."""
    me = os.getpid()
    known = set(_descendants(me))
    killed: List[int] = []
    deadline = time.monotonic() + grace
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
            no_child = False
        except ChildProcessError:
            no_child = True
        known.update(_descendants(me))
        live = [p for p in known if _running(p)]
        if no_child and not live:
            return killed
        if time.monotonic() > deadline:
            if killed:              # SIGKILL sent and still not gone
                return killed
            for pid in live:
                try:
                    os.kill(pid, signal.SIGKILL)
                    killed.append(pid)
                except OSError:
                    pass
            deadline = time.monotonic() + 10
        time.sleep(0.05)


def cpu_ticks() -> List[int]:
    """The box's cumulative CPU time counters (the ``cpu`` line of
    /proc/stat: user, nice, system, idle, iowait, irq, softirq, steal...).
    """
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_frac(before: List[int], after: List[int]) -> float:
    """Share of the box's CPU time between two ``cpu_ticks`` readings
    that the hypervisor gave to other guests."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if len(d) > 7 and sum(d) else 0.0


class PeakRss:
    """Samples the tree's RSS every ``interval`` seconds while active."""

    def __init__(self, interval: float = 0.5) -> None:
        self.interval = interval
        self.peak = 0
        self.at_peak: Dict[str, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        by_name = tree_rss(os.getpid())
        total = sum(v for k, v in by_name.items() if k != "procs")
        if total > self.peak:
            self.peak, self.at_peak = total, by_name

    def _run(self) -> None:
        while True:
            self._sample()
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()
