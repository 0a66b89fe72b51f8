"""CPU time and resident memory of a process tree, read from ``/proc``.

The tree is this Python driver, the Spark JVM it launched and the Python
workers the JVM forks. Spark's own ``executorCpuTime`` leaves the workers
out, so the benchmark counts CPU here. A process's ``cutime``/``cstime``
hold the CPU of children it has reaped, so CPU of a worker that exits
between two readings moves to its parent instead of being lost.
"""

from __future__ import annotations

import os
import threading

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
# thread names of HotSpot's C1 and C2 compilers, as /proc truncates them
JIT_THREAD_PREFIXES = ("C1 CompilerThre", "C2 CompilerThre")


def _children(pid: int) -> list[int]:
    out: list[int] = []
    try:
        tasks = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tasks:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            continue
    return out


def tree(root: int) -> list[int]:
    pids, todo = [], [root]
    while todo:
        pid = todo.pop()
        pids.append(pid)
        todo.extend(_children(pid))
    return pids


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            text = f.read()
    except OSError:
        return None
    # the command name is parenthesised and may contain spaces
    return text[text.rindex(")") + 2:].split()


def cpu_seconds(root: int) -> float:
    """User + system CPU of the live tree, including reaped children."""
    total = 0
    for pid in tree(root):
        f = _stat(pid)
        if f is not None:
            # fields 14-17 of stat: utime stime cutime cstime
            total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _TICK


def jit_cpu_seconds(root: int) -> float:
    """User + system CPU of the JVM's JIT compiler threads in the tree.
    The sandbox keeps these threads alive for the JVM's lifetime, so their
    counters never drop out of a difference."""
    total = 0
    for pid in tree(root):
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/stat") as f:
                    text = f.read()
            except OSError:
                continue
            comm = text[text.index("(") + 1:text.rindex(")")]
            if comm.startswith(JIT_THREAD_PREFIXES):
                fields = text[text.rindex(")") + 2:].split()
                total += int(fields[11]) + int(fields[12])
    return total / _TICK


def rss_bytes(root: int) -> int:
    total = 0
    for pid in tree(root):
        f = _stat(pid)
        if f is not None:
            total += int(f[21]) * _PAGE  # field 24: rss in pages
    return total


class RssSampler:
    """Samples the tree's summed RSS on a background thread and keeps the
    peak. Use as a context manager; the thread is joined on exit."""

    def __init__(self, root: int, period_s: float = 0.2):
        self.root, self.period_s = root, period_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, rss_bytes(self.root))
            self._stop.wait(self.period_s)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, rss_bytes(self.root))
