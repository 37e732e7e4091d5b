"""CPU and memory of a live process tree, sampled from ``/proc``.

``getrusage`` cannot see this work: the Spark JVM is a grandchild of
the benchmark (the CLI process or the PySpark gateway starts it), and
its CPU and memory never reach the benchmark's child rusage.  A
:class:`TreeSampler` thread therefore walks the descendants of a root
process every ``interval`` seconds and keeps, per process, the last
CPU time it saw, so the CPU of a process that has exited still counts
up to its last sample.  Peak RSS is the largest sum over the tree seen
in one sample.
"""

from __future__ import annotations

import os
import threading

_TICK = float(os.sysconf("SC_CLK_TCK"))
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: str) -> tuple[int, float, int, int] | None:
    """(ppid, cpu seconds, start time ticks, rss bytes) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            rest = fh.read().rsplit(")", 1)[1].split()
    except (OSError, IndexError):
        return None
    # fields after "(comm)": state=0 ppid=1 ... utime=11 stime=12
    # starttime=19 rss=21 (pages)
    return (int(rest[1]), (int(rest[11]) + int(rest[12])) / _TICK,
            int(rest[19]), int(rest[21]) * _PAGE)


def _all() -> dict[int, tuple[int, float, int, int]]:
    out = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            st = _stat(pid)
            if st is not None:
                out[int(pid)] = st
    return out


def descendants(root: int, procs=None) -> dict[int, tuple[int, float, int, int]]:
    """``root`` and every live descendant, by parent links."""
    procs = _all() if procs is None else procs
    kids: dict[int, list[int]] = {}
    for pid, st in procs.items():
        kids.setdefault(st[0], []).append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in procs and pid not in out:
            out[pid] = procs[pid]
            todo.extend(kids.get(pid, ()))
    return out


class TreeSampler:
    """Samples the tree under ``root`` on a daemon thread until closed."""

    def __init__(self, root: int | None = None, interval: float = 0.05):
        self.root = os.getpid() if root is None else root
        self.interval = interval
        self._cpu: dict[tuple[int, int], float] = {}
        self._peak_rss = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self.sample()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def sample(self) -> None:
        tree = descendants(self.root)
        rss = 0
        with self._lock:
            for pid, (_, cpu, start, r) in tree.items():
                key = (pid, start)
                if cpu > self._cpu.get(key, 0.0):
                    self._cpu[key] = cpu
                rss += r
            self._peak_rss = max(self._peak_rss, rss)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def cpu_s(self) -> float:
        """CPU seconds of every process seen so far (exited ones included)."""
        self.sample()
        with self._lock:
            return sum(self._cpu.values())

    def take_peak_rss_mb(self) -> float:
        """Peak tree RSS since the last call, in MB; resets the peak."""
        self.sample()
        with self._lock:
            peak, self._peak_rss = self._peak_rss, 0
        return peak / 1e6

    def pids(self) -> list[int]:
        """Every process seen in the tree so far."""
        with self._lock:
            return [pid for pid, _ in self._cpu]

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def other_spark_jvms(own_root: int | None = None) -> list[int]:
    """PIDs of Spark JVMs alive on the box outside our own process tree."""
    procs = _all()
    mine = set(descendants(os.getpid() if own_root is None else own_root, procs))
    found = []
    for pid in procs:
        if pid in mine:
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                cmd = fh.read()
        except OSError:
            continue
        if b"java" in cmd and b"org.apache.spark" in cmd:
            found.append(pid)
    return found


def box_state() -> dict:
    """nproc, 1-minute load average, foreign Spark JVMs and the box-wide
    CPU tick counters (``/proc/stat``), right now."""
    with open("/proc/loadavg") as fh:
        load1 = float(fh.read().split()[0])
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    jvms = other_spark_jvms()
    return {"nproc": len(os.sched_getaffinity(0)), "loadavg_1m": load1,
            "other_spark_jvms": len(jvms), "cpu_ticks": ticks}


def steal_pct(start: dict, end: dict) -> float:
    """Share of the box's CPU time stolen by the hypervisor in between."""
    delta = [b - a for a, b in zip(start["cpu_ticks"], end["cpu_ticks"])]
    # user nice system idle iowait irq softirq steal (guest is in user)
    total = sum(delta[:8])
    return 100.0 * delta[7] / total if total else 0.0


def become_subreaper() -> None:
    """Make orphaned descendants (the JVM after its launcher exits, the
    Python workers after the JVM) children of this process, so that
    :func:`wait_gone` can reap them instead of leaving zombies."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def wait_gone(pids, timeout: float) -> None:
    """Wait until every pid has exited and reap it; SIGKILL the ones left
    at timeout.  Call only after every ``subprocess`` child was waited."""
    import signal
    import time

    deadline = time.monotonic() + timeout
    left = list(pids)
    killed = False
    while True:
        _reap()
        left = [p for p in left if not _zombie(p)]
        if not left:
            _reap()
            return
        if time.monotonic() > deadline:
            if killed:
                return
            for p in left:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            killed, deadline = True, time.monotonic() + 5
        time.sleep(0.05)


def _zombie(pid: int) -> bool:
    """True when the process has ended: it is gone, or only its zombie
    entry is left (every thread exited, not yet reaped by its parent)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            state = fh.read().rsplit(")", 1)[1].split()[0]
        return state == "Z" and len(os.listdir(f"/proc/{pid}/task")) <= 1
    except OSError:
        return True
