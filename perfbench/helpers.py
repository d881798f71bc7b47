"""Statistics, host probes and reference checks used by the benchmark.

Everything here is stdlib or numpy, with no Spark, so the tests in
``test_helpers.py`` run without a session.
"""

from __future__ import annotations

import hashlib
import math
import os
import threading
import time

import numpy as np


def tail_percentile(samples: list[float], q: float, beyond: int = 10) -> dict:
    """Nearest-rank ``q``-th percentile, reported only when at least
    ``beyond`` samples lie strictly above its rank.

    Returns ``{"value", "q", "n", "beyond"}``.  Raises ``ValueError``
    when ``samples`` is too small for ``q``: the caller must run more
    operations, not report a percentile that rests on a handful of
    samples.
    """
    n = len(samples)
    rank = max(1, math.ceil(q / 100 * n))
    above = n - rank
    if n == 0 or above < beyond:
        raise ValueError(
            f"p{q:g} needs at least {beyond} samples beyond it; "
            f"{n} samples leave {max(above, 0)}"
        )
    return {"value": sorted(samples)[rank - 1], "q": q, "n": n, "beyond": above}


def min_samples(q: float, beyond: int = 10) -> int:
    """Smallest sample count for which ``tail_percentile(q, beyond)`` is defined."""
    n = beyond + 1
    while n - math.ceil(q / 100 * n) < beyond:
        n += 1
    return n


# -- host probes -------------------------------------------------------------


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate ``cpu`` line of /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice];
    # guest time is already counted in user/nice
    return fields[7], sum(fields[:8])


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    d_total = after[1] - before[1]
    return 100.0 * (after[0] - before[0]) / d_total if d_total > 0 else 0.0


def _processes() -> dict[int, tuple[int, int]]:
    """pid -> (ppid, RSS bytes) for every live process."""
    page = os.sysconf("SC_PAGE_SIZE")
    procs = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
            with open(f"/proc/{name}/statm") as f:
                rss = int(f.read().split()[1]) * page
        except OSError:
            continue  # the process ended between listdir and open
        # the command name may hold spaces; ppid is the 2nd field after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        procs[int(name)] = (ppid, rss)
    return procs


def tree_rss(root: int, procs: dict[int, tuple[int, int]]) -> int:
    """Summed RSS of ``root`` and its descendants in ``procs``.

    A child with exactly its parent's RSS is skipped.  That is a child
    that still shares its parent's memory: between a vfork-style spawn
    and its exec (how the JVM starts shell commands), or just after a
    fork.  Counting it would count the parent twice; one sampled run
    read 5.8 GB instead of 3.4 GB that way.
    """
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _rss) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    total = procs[root][1] if root in procs else 0
    todo = [root]
    while todo:
        parent = todo.pop()
        for pid in kids.get(parent, ()):
            if procs[pid][1] != procs[parent][1]:
                total += procs[pid][1]
            todo.append(pid)
    return total


class RssSampler:
    """Samples the process tree's RSS on a thread; ``peak`` is the max."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss(pid, _processes()))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# -- reference checks --------------------------------------------------------


def rows_digest(rows) -> str:
    """Order-insensitive digest of an iterable of row tuples."""
    h = hashlib.sha256()
    for line in sorted(repr(tuple(r)) for r in rows):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def union_find_components(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(nodes, component) with component = min node id of its component.

    Independent of ``operators.cc``: repeated min-label relaxation over
    the edge list with pointer jumping, in plain numpy.
    """
    src = np.asarray(src, dtype=np.int64)
    dst = np.asarray(dst, dtype=np.int64)
    nodes = np.unique(np.concatenate([src, dst]))
    s = np.searchsorted(nodes, src)
    d = np.searchsorted(nodes, dst)
    label = np.arange(len(nodes))
    while True:
        before = label.copy()
        m = np.minimum(label[s], label[d])
        np.minimum.at(label, s, m)
        np.minimum.at(label, d, m)
        label = label[label]  # pointer jumping: follow each label to its label
        if np.array_equal(label, before):
            break
    return nodes, nodes[label]


def timed(fn):
    """(result, seconds) of ``fn()``."""
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0
