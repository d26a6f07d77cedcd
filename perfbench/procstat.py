"""Process-tree CPU and RSS sampling from /proc (no psutil dependency).

CPU is integrated from POSITIVE deltas of the tree total: pyspark's
worker daemon ignores SIGCHLD, so the kernel auto-reaps exiting Python
workers and discards their CPU time — it is never credited to an
ancestor's cutime. A plain end-minus-start subtraction therefore loses
every worker that exits mid-run; summing only the increases between
frequent samples keeps the time each worker accumulated while alive.
"""

from __future__ import annotations

import bisect
import os
import threading
from time import perf_counter

_TICK = os.sysconf("SC_CLK_TCK")
_INTERVAL_S = 0.25  # CPU sampling period
_PSS_EVERY = 4  # PSS is read on every 4th sample: it costs tens of ms


def read_procs() -> dict[int, tuple[int, float]]:
    """pid -> (ppid, cpu seconds incl. reaped children). Cheap enough to
    read every few hundred milliseconds."""
    procs: dict[int, tuple[int, float]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue  # exited between listdir and open
        # fields after the comm: state(0) ppid(1) ... utime(11) stime(12)
        # cutime(13) cstime(14)
        cpu = sum(int(rest[i]) for i in (11, 12, 13, 14)) / _TICK
        procs[int(name)] = (int(rest[1]), cpu)
    return procs


def tree_pids(root: int, procs: dict, exclude=frozenset()) -> list[int]:
    """``root`` and its live descendants, minus the subtrees rooted at
    ``exclude``."""
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    out, stack, seen = [], [root], set()
    while stack:
        p = stack.pop()
        if p in seen or p in exclude:
            continue
        seen.add(p)
        if p in procs:
            out.append(p)
        stack.extend(children.get(p, []))
    return out


def tree_cpu(root: int, exclude: set[int] | frozenset = frozenset(),
             procs: dict | None = None) -> float:
    """CPU seconds summed over ``root``'s tree."""
    procs = read_procs() if procs is None else procs
    return sum(procs[p][1] for p in tree_pids(root, procs, exclude))


def tree_pss(root: int, exclude: set[int] | frozenset = frozenset()) -> int:
    """Proportional set size summed over ``root``'s tree, in bytes. RSS
    would count the pages pyspark's forked Python workers share with
    their daemon once per worker, so its sum swings with how many idle
    workers happen to be alive; PSS splits each shared page among its
    sharers. Costs tens of milliseconds (the kernel walks page tables)."""
    total = 0
    for p in tree_pids(root, read_procs(), exclude):
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue  # exited meanwhile
    return total


def cpu_steal() -> tuple[int, int]:
    """(steal ticks, all ticks) of the whole machine from /proc/stat:
    CPU time the hypervisor gave to other guests while this one wanted it."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals)


class TreeSampler:
    """Background sampler of this process tree's CPU and memory (PSS).

    ``mark()`` returns the integrated CPU seconds so far, so a caller
    brackets a phase with two marks. Each mark also takes a fresh
    sample, so a phase shorter than the interval is still measured.
    """

    def __init__(self, exclude: set[int] | None = None) -> None:
        self.exclude = exclude if exclude is not None else set()
        self.root = os.getpid()
        self.cpu_integral = 0.0
        self.peak_pss = 0
        self.n_samples = 0
        self._last: float | None = None
        self.timeline: list[tuple[float, float]] = []  # (time, cpu_integral)
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="tree-sampler", daemon=True)

    def sample(self) -> None:
        # read under the lock: two interleaved readers would each book
        # the other's newer reading as a drop and then count it twice
        with self._lock:
            cpu = tree_cpu(self.root, self.exclude)
            if self._last is not None:
                self.cpu_integral += max(0.0, cpu - self._last)
            self._last = cpu
            if self.n_samples % _PSS_EVERY == 0:
                self.peak_pss = max(self.peak_pss, tree_pss(self.root, self.exclude))
            self.n_samples += 1
            self.timeline.append((perf_counter(), self.cpu_integral))

    def mark(self) -> float:
        self.sample()
        with self._lock:
            return self.cpu_integral

    def cpu_between(self, a: float, b: float) -> float:
        """CPU seconds integrated over [a, b] (perf_counter times),
        linearly interpolated between the samples around each end."""
        return max(0.0, self._integral_at(b) - self._integral_at(a))

    def _integral_at(self, t: float) -> float:
        with self._lock:
            line = list(self.timeline)
        if not line:
            return 0.0
        i = bisect.bisect_left(line, (t, float("-inf")))
        if i == 0:
            return line[0][1]
        if i == len(line):
            return line[-1][1]
        (t0, c0), (t1, c1) = line[i - 1], line[i]
        return c0 + (c1 - c0) * (t - t0) / (t1 - t0) if t1 > t0 else c1

    def _loop(self) -> None:
        while not self._stop.wait(_INTERVAL_S):
            self.sample()

    def __enter__(self) -> "TreeSampler":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()

