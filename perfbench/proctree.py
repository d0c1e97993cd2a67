"""CPU and memory of this process and every descendant.

The local-mode engine is three kinds of process: the Python driver, the JVM
it launches, and the Python workers the JVM forks. All are descendants of
the benchmark process, so summing over the tree from ``/proc`` covers the
whole engine with no dependencies.
"""

from __future__ import annotations

import os
import threading

_HZ = os.sysconf("SC_CLK_TCK")
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")  # /proc comm, 15 chars


def _tree() -> list[tuple[int, list[str]]]:
    """(pid, stat fields after the command name) of this process's tree."""
    stats: dict[int, list[str]] = {}
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process exited while we listed /proc
            continue
        pid = int(name)
        stats[pid] = fields
        children.setdefault(int(fields[1]), []).append(pid)
    out, todo = [], [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out.append((pid, stats[pid]))
        todo.extend(children.get(pid, ()))
    return out


def tree_pids() -> list[int]:
    return [pid for pid, _ in _tree()]


def _jit_ticks(pid: int) -> int:
    """CPU ticks of the JVM's JIT compiler threads in ``pid``, if any."""
    ticks = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        name, fields = raw[raw.index("(") + 1 :].rsplit(")", 1)
        if name.startswith(JIT_THREADS):
            fields = fields.split()
            ticks += int(fields[11]) + int(fields[12])
    return ticks


def cpu_seconds() -> float:
    """utime + stime of every live process in the tree, plus the reaped
    children each one has waited for (cutime + cstime), less the JVM's JIT
    compiler threads: in a process minutes old they are still compiling,
    which is a warm-up cost, not a per-document one, and they were half the
    JVM's CPU and most of this number's run-to-run spread. The JVM must keep
    its compiler threads alive (``-XX:-UseDynamicNumberOfCompilerThreads``)
    so that none of their time is lost into the process total."""
    ticks = 0
    for pid, f in _tree():
        ticks += sum(int(f[i]) for i in (11, 12, 13, 14)) - _jit_ticks(pid)
    return ticks / _HZ


def pss_mb() -> float:
    """Summed proportional set size: pages shared between processes (the
    Python workers fork from one daemon) count once across the tree."""
    kib = 0
    for pid, _ in _tree():
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        kib += int(line.split()[1])
                        break
        except OSError:  # the process exited while we walked the tree
            continue
    return kib / 1024


class PeakMemory:
    """Samples the tree's summed PSS on a background thread while active."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, pss_mb())
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakMemory":
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, pss_mb())
