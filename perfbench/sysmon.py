"""Benchmark-side observation: trace spans, process-tree CPU and
Python-worker memory read from /proc (psutil is not assumed), and the
clean-up that waits for every process the benchmark started."""

from __future__ import annotations

import ctypes
import os
import signal
import threading
import time
from contextlib import contextmanager

_CLK = os.sysconf("SC_CLK_TCK")
_PR_SET_CHILD_SUBREAPER = 36


class Tracer:
    """Spans (id, name, parent, start, end, attrs) kept in memory and
    written once at the end of the run. Times are seconds from `t0`; each
    thread nests its own spans."""

    def __init__(self) -> None:
        self.t0 = time.monotonic()
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {"id": None, "name": name,
               "parent": stack[-1] if stack else None,
               "start": time.monotonic() - self.t0, "end": None,
               "attrs": attrs}
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec["id"])
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.monotonic() - self.t0

    @staticmethod
    def wall(rec: dict) -> float:
        return rec["end"] - rec["start"]


def _procs() -> dict[int, tuple[int, float]]:
    """pid -> (ppid, cpu seconds incl. reaped children) for every process."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # fields after the parenthesised command name; ppid is field 4,
        # utime/stime/cutime/cstime are fields 14-17
        rest = stat[stat.rfind(b")") + 2:].split()
        out[int(name)] = (int(rest[1]),
                          sum(int(x) for x in rest[11:15]) / _CLK)
    return out


def _descendants(procs: dict, root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and all its descendants (the
    Spark JVM and its Python workers). A child that exited between two
    readings moves into its parent's reaped-children time, so the
    difference of two readings stays exact."""
    procs = _procs()
    return sum(procs[p][1] for p in _descendants(procs, os.getpid()))


def _worker_hwm_kb() -> int:
    """Largest peak RSS (VmHWM) among this process's Python workers."""
    best = 0
    for pid in _descendants(_procs(), os.getpid())[1:]:
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
            # the daemon and the workers it forks; not the JVM, whose
            # command line also names pyspark
            if b"pyspark.daemon" not in cmd and b"pyspark.worker" not in cmd:
                continue
            with open(f"/proc/{pid}/status", "rb") as f:
                for line in f:
                    if line.startswith(b"VmHWM:"):
                        best = max(best, int(line.split()[1]))
                        break
        except OSError:
            continue  # the worker exited between listing and reading
    return best


class WorkerPeakRss:
    """Background sampler of the largest Python worker's peak RSS. The
    kernel keeps each process's high-water mark, so sampling only has to
    see every worker once before it exits."""

    INTERVAL_S = 0.5

    def __init__(self) -> None:
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _worker_hwm_kb())
            self._stop.wait(self.INTERVAL_S)

    def __enter__(self) -> "WorkerPeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_kb = max(self.peak_kb, _worker_hwm_kb())

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024


def adopt_orphans() -> None:
    """Make this process the subreaper of everything it starts: a process
    whose parent exits first (the Python daemon and workers of a stopped
    Spark JVM, which outlive it by a moment) is re-parented here instead
    of to init, so `end_descendants` can see it and wait for it."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _reap() -> None:
    """Collect every child of this process that has exited."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def end_descendants(grace_s: float = 20.0, kill_s: float = 5.0) -> list[int]:
    """Return only once every process this one started has exited. They
    get `grace_s` to end on their own, then SIGTERM, then SIGKILL. Returns
    the pids that had to be signalled."""
    from multiprocessing import resource_tracker

    # the tracker that a spawn-context pool starts ignores SIGTERM and
    # exits when its pipe from this process closes
    resource_tracker._resource_tracker._stop()
    signalled: list[int] = []
    deadline = time.monotonic() + grace_s
    sig = signal.SIGTERM
    while True:
        _reap()
        pids = _descendants(_procs(), os.getpid())[1:]
        if not pids:
            return signalled
        if time.monotonic() > deadline:
            for pid in pids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            signalled.extend(p for p in pids if p not in signalled)
            sig = signal.SIGKILL
            deadline = time.monotonic() + kill_s
        time.sleep(0.02)
