"""CPU and memory of this process tree, read from /proc (Linux only).

The tree is this process, the local Spark JVM it launched, and the
PySpark worker daemon and workers the JVM forks.  The kernel folds a
reaped child's CPU into its parent's cutime/cstime, so summing own plus
reaped ticks over the live members counts every process exactly once.
That sum is not monotonic on its own: when the JVM kills a worker daemon,
the daemon's live workers are reparented to init and their CPU leaves
the tree.  ``become_subreaper`` makes this process their new parent
instead, and ``reap_orphans`` folds them into its cutime once they exit,
so tree CPU never goes backwards.
"""

from __future__ import annotations

import ctypes
import os
import threading
import time

_PR_SET_CHILD_SUBREAPER = 36
_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def become_subreaper() -> None:
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _stat(pid: int) -> tuple[int, str, int, int] | None:
    """(ppid, state, own_ticks, reaped_ticks), or None if pid is gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read().decode("ascii", "replace")
    except OSError:
        return None
    rest = raw[raw.rindex(")") + 2:].split()
    return (
        int(rest[1]),
        rest[0],
        int(rest[11]) + int(rest[12]),
        int(rest[13]) + int(rest[14]),
    )


def _snapshot() -> dict[int, tuple[int, str, int, int]]:
    out = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                out[int(name)] = st
    return out


def _descendants(info: dict, root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, st in info.items():
        children.setdefault(st[0], []).append(pid)
    found, stack = [], [root]
    while stack:
        pid = stack.pop()
        if pid in info:
            found.append(pid)
            stack.extend(children.get(pid, ()))
    return found


def children() -> list[int]:
    me = os.getpid()
    return [pid for pid, st in _snapshot().items() if st[0] == me]


def reap_orphans(keep: int | None) -> None:
    """Wait for every exited direct child except ``keep`` (the JVM,
    whose ``Popen`` handle does its own wait)."""
    me = os.getpid()
    for pid, (ppid, state, _, _) in _snapshot().items():
        if ppid == me and state == "Z" and pid != keep:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass


class TreeCpu:
    """CPU seconds of the tree: ``total``, and ``workers`` for everything
    but this process and the JVM (the PySpark worker daemons and workers)."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid

    def read(self) -> dict[str, float]:
        info = _snapshot()
        me = os.getpid()
        total = sum(info[p][2] + info[p][3] for p in _descendants(info, me))
        own = sum(info[p][2] for p in (me, self.jvm_pid) if p in info)
        return {"total": total / _TICK, "workers": (total - own) / _TICK}


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def tree_rss_bytes(jvm_pid: int) -> int:
    """Summed RSS of the tree.  A child the JVM has spawned but not yet
    exec'd shares the JVM's memory and reports the JVM's RSS as its own;
    such children (still running the JVM's executable) are skipped, or
    one sample would count the JVM twice."""
    info = _snapshot()
    jvm_exe = _exe(jvm_pid)
    total = 0
    for pid in _descendants(info, os.getpid()):
        if pid != jvm_pid and _exe(pid) == jvm_exe:
            continue
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            pass
    return total


class PeakRss:
    """Samples the tree's summed RSS every ``interval`` seconds on a
    daemon thread between ``start`` and ``stop``; ``peak`` is the max.

    The sampler runs inside the measured process, so its CPU lands in the
    tree's; after ``stop``, ``cpu_s`` is that thread's own CPU, for the
    caller to take out."""

    def __init__(self, jvm_pid: int, interval: float = 0.1):
        self.jvm_pid = jvm_pid
        self.interval = interval
        self.peak = 0
        self.cpu_s = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, tree_rss_bytes(self.jvm_pid))
            if self._stop.wait(self.interval):
                break
        self.cpu_s = time.thread_time()

    def start(self) -> None:
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
