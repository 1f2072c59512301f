"""/proc readings for the benchmark's own process tree.

The tree is this Python driver, the JVM it launches, and the Python
workers the JVM forks and reuses (pyspark.daemon and its children). CPU is
read as utime+stime+cutime+cstime of every live process in the tree, so a
worker that exits during a measurement still counts: its time lands in the
parent's cutime/cstime once reaped. Memory is the sum of RSS over the tree,
sampled on a background thread; the peak is over the sampled window.
"""
from __future__ import annotations

import os
import signal
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> tuple[str, list[str]] | None:
    """(comm, fields after comm) of /proc/<pid>/stat."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            s = f.read()
    except OSError:
        return None
    # comm may contain spaces; everything after the last ')' is positional
    return s[s.index("(") + 1:s.rindex(")")], s[s.rindex(")") + 2:].split()


def _tree(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(int(name))
        if st is not None:
            children.setdefault(int(st[1][1]), []).append(int(name))
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


def descendants(root: int) -> list[tuple[int, str]]:
    """(pid, start time) of every live process below `root`; the start
    time tells a process from a later one that reuses its pid."""
    out = []
    for pid in _tree(root)[1:]:
        st = _stat(pid)
        if st is not None:
            out.append((pid, st[1][19]))  # stat field 22: starttime
    return out


def _running(pid: int, start: str) -> bool:
    st = _stat(pid)
    return st is not None and st[1][19] == start and st[1][0] != "Z"


def end_all(procs: list[tuple[int, str]], grace_s: float = 20.0) -> None:
    """Wait until each of `procs` (from descendants()) has ended. Those
    still running after `grace_s` are killed, and waited for too."""
    deadline = time.monotonic() + grace_s
    left = [p for p in procs if _running(*p)]
    while left and time.monotonic() < deadline:
        time.sleep(0.05)
        left = [p for p in left if _running(*p)]
    for pid, _ in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass  # ended meanwhile
    while left:
        time.sleep(0.05)
        left = [p for p in left if _running(*p)]


def tree_cpu_s(root: int) -> float:
    total = 0
    for pid in _tree(root):
        st = _stat(pid)
        if st is not None:
            # stat fields 14-17: utime stime cutime cstime
            total += sum(int(x) for x in st[1][11:15])
    return total / _TICK


def tree_rss_bytes(root: int) -> int:
    """RSS of the driver, the JVM it launched and every Python process
    below them. Short-lived helpers the JVM spawns are skipped: between
    vfork and exec they report the JVM's own RSS a second time."""
    total = 0
    for pid in _tree(root):
        st = _stat(pid)
        if st is None:
            continue
        comm, fields = st
        if not (pid == root or comm.startswith("python")
                or (comm == "java" and int(fields[1]) == root)):
            continue
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


def host_cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies over all CPUs from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    # guest time is already included in user/nice
    total = sum(vals[:8])
    return vals[7], total


class Window:
    """Measures one timed window: peak tree RSS and the host's steal share.
    Use as a context manager; read the attributes after it exits."""

    def __init__(self, interval_s: float = 0.1):
        self.root = os.getpid()
        self.interval_s = interval_s
        self.peak_rss_bytes = 0
        self.steal_frac = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._sample, daemon=True)

    def _sample(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.peak_rss_bytes = max(self.peak_rss_bytes,
                                      tree_rss_bytes(self.root))

    def __enter__(self) -> "Window":
        self._steal0, self._total0 = host_cpu_ticks()
        self.peak_rss_bytes = tree_rss_bytes(self.root)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_rss_bytes = max(self.peak_rss_bytes,
                                  tree_rss_bytes(self.root))
        steal1, total1 = host_cpu_ticks()
        d_total = total1 - self._total0
        self.steal_frac = (steal1 - self._steal0) / d_total if d_total else 0.0
