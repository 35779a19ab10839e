"""Process-tree meters read from /proc, and the statistics rules the
benchmark reports with.

CPU is split by process kind: the JVM (``java``), the Python workers
the JVM forks (every descendant of the JVM) and the driver's own
Python. A process's reaped children show up in its cutime/cstime, so
those ticks are credited to the children's kind: the JVM's and the
workers' reaped children are workers; the driver's are launcher
processes of the JVM. Deltas of two snapshots therefore never lose or
double-count a short-lived worker.
"""

from __future__ import annotations

import math
import os
import threading

_TICKS = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")
KINDS = ("jvm", "pyworker", "driver")


def _proc_table() -> dict[int, tuple[int, str, tuple[int, int, int, int], int]]:
    """pid -> (ppid, comm, (utime, stime, cutime, cstime), rss_pages)."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                raw = f.read()
        except OSError:
            continue  # the process exited between listdir and open
        comm = raw[raw.index("(") + 1 : raw.rindex(")")]
        rest = raw[raw.rindex(")") + 2 :].split()
        # rest[1]=ppid, rest[11..14]=utime stime cutime cstime, rest[21]=rss
        out[int(entry)] = (
            int(rest[1]),
            comm,
            tuple(int(x) for x in rest[11:15]),
            int(rest[21]),
        )
    return out


def _tree(procs, root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, (ppid, *_rest) in procs.items():
        children.setdefault(ppid, []).append(pid)
    seen, stack = [], [root]
    while stack:
        pid = stack.pop()
        if pid in procs:
            seen.append(pid)
            stack.extend(children.get(pid, ()))
    return seen


def _classify():
    """(proc table, pids of this process's tree, JVM pids, Python worker
    pids: every descendant of a JVM)."""
    procs = _proc_table()
    pids = _tree(procs, os.getpid())
    jvms = {p for p in pids if procs[p][1] == "java"}
    workers: set[int] = set()
    for j in jvms:
        workers.update(p for p in _tree(procs, j) if p != j)
    return procs, pids, jvms, workers


def tree_cpu_by_kind() -> dict[str, float]:
    """CPU seconds (user+sys) of this process's tree, split into
    KINDS."""
    procs, pids, jvms, workers = _classify()
    ticks = dict.fromkeys(KINDS, 0)
    for p in pids:
        _ppid, _comm, (ut, st, cut, cst), _rss = procs[p]
        if p in jvms:
            own, reaped = "jvm", "pyworker"
        elif p in workers:
            own, reaped = "pyworker", "pyworker"
        else:
            own, reaped = "driver", "jvm"
        ticks[own] += ut + st
        ticks[reaped] += cut + cst
    return {k: v / _TICKS for k, v in ticks.items()}


def _pss_bytes(pid: int, rss_pages: int) -> int:
    """Proportional resident memory: a page shared by n processes counts
    1/n in each. Falls back to RSS without smaps_rollup."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return rss_pages * _PAGE


def tree_rss_bytes() -> int:
    """Resident memory of the process tree with shared pages counted
    once: the Python workers fork from one daemon and share its pages,
    so they count proportionally (PSS); the JVM and the driver share
    nothing with the tree and count their RSS, which is far cheaper to
    read than a multi-gigabyte heap's PSS."""
    procs, pids, _jvms, workers = _classify()
    return sum(_pss_bytes(p, procs[p][3]) if p in workers else procs[p][3] * _PAGE for p in pids)


class RssSampler:
    """Samples the tree's resident memory (``tree_rss_bytes``) every
    ``INTERVAL_S`` on a background thread while active. ``peak`` is the
    highest running median of three consecutive samples: memory held
    for at least two sampling intervals, not a lone sub-second spike of
    forked workers."""

    INTERVAL_S = 0.2

    def __init__(self) -> None:
        self.samples: list[int] = []
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    @property
    def peak(self) -> int:
        s = self.samples
        if len(s) < 3:
            return max(s, default=0)
        return max(sorted(s[i : i + 3])[1] for i in range(len(s) - 2))

    def __enter__(self) -> "RssSampler":
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)
        self._thread.start()
        return self

    def _loop(self) -> None:
        while True:
            self.samples.append(tree_rss_bytes())
            if self._stop.wait(self.INTERVAL_S):
                return

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least
    ``q`` percent of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0 < q <= 100:
        raise ValueError(f"percentile out of range: {q}")
    ordered = sorted(values)
    return ordered[max(0, math.ceil(q / 100 * len(ordered)) - 1)]
