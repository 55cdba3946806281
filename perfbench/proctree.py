"""CPU and memory of a process tree, read from ``/proc``.

The tree is the benchmark's driver process and every descendant: the JVM
that ``pyspark`` launches, the python worker daemon and the forked workers.
CPU is ``utime + stime`` summed over the live tree, less the CPU of the
sampler's own thread; a worker that exits between two readings loses its
last slice, which Spark's reused workers make rare.  RSS is summed per
process (pages shared after fork count once per process) and kept for two
kinds of process: python (the driver and the workers, where sketch states
and Arrow batches live) and the JVM, whose RSS follows the garbage
collector's heap sizing and swings by more than a third between identical
runs.  Any other process in the tree (shell helpers) counts towards
neither.
"""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
#: seconds between two RSS samples of the background thread
PERIOD_S = 0.1


def _stat(pid: int) -> list[str] | None:
    """Fields of /proc/<pid>/stat from field 3 (state) on, preceded by
    the command name."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as f:
            raw = f.read().decode()
    except OSError:  # exited between listing and reading
        return None
    # comm (field 2) may hold spaces; the fields after it start past ')'
    close = raw.rindex(")")
    return [raw[raw.index("(") + 1:close]] + raw[close + 2:].split()


def _tree(root: int) -> dict[int, list[str]]:
    """{pid: stat fields} of ``root`` and every live descendant, from one
    read of each process's stat."""
    stats: dict[int, list[str]] = {}
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat(int(name))
        if fields is not None:
            stats[int(name)] = fields
            children.setdefault(int(fields[2]), []).append(int(name))
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            out[pid] = stats[pid]
        todo.extend(children.get(pid, ()))
    return out


def descendants(root: int) -> list[int]:
    """``root`` and every live descendant pid."""
    return list(_tree(root))


def sample(root: int) -> tuple[float, int, int]:
    """(CPU seconds, python RSS bytes, JVM RSS bytes) summed over the tree
    under ``root``; CPU counts every process."""
    cpu_ticks = rss_pages = jvm_pages = 0
    for fields in _tree(root).values():
        # comm=0 state=1 ppid=2 ... utime=12 stime=13 ... rss=22
        cpu_ticks += int(fields[12]) + int(fields[13])
        if fields[0] == "java":
            jvm_pages += int(fields[22])
        elif fields[0].startswith("python"):
            rss_pages += int(fields[22])
    return cpu_ticks / _TICK, rss_pages * _PAGE, jvm_pages * _PAGE


class TreeSampler:
    """Background RSS sampler plus on-demand CPU readings of this
    process's tree.

    ``cpu_s()`` is read at operation boundaries by the caller; the thread
    only tracks the peak summed RSS while ``active`` is set, and its own
    CPU is taken out of ``cpu_s()``."""

    def __init__(self):
        self.root = os.getpid()
        self.peak_rss = 0       # python processes
        self.peak_jvm_rss = 0
        self.active = threading.Event()
        self._lock = threading.Lock()
        self._own_cpu = 0.0     # CPU seconds the sampler thread has used
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True,
                                        name="perfbench-rss")

    def __enter__(self) -> "TreeSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _run(self) -> None:
        while not self._stop.wait(PERIOD_S):
            if self.active.is_set():
                self._peak(*sample(self.root)[1:])
            self._own_cpu = time.thread_time()

    def _peak(self, rss: int, jvm_rss: int) -> None:
        with self._lock:   # the thread and cpu_s() both update the peaks
            self.peak_rss = max(self.peak_rss, rss)
            self.peak_jvm_rss = max(self.peak_jvm_rss, jvm_rss)

    def cpu_s(self) -> float:
        own = self._own_cpu
        cpu, rss, jvm_rss = sample(self.root)
        if self.active.is_set():
            self._peak(rss, jvm_rss)
        return cpu - own
