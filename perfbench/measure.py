"""Measurement helpers for the perfbench CDC benchmark.

Every helper here is engine-agnostic and unit-tested in
``perfbench/tests/test_measure.py``:

- ``ProcTreeCpu``      user+sys CPU of this process and all its descendants,
                       including children already reaped (cutime/cstime)
- ``retained_heap``    repeated-GC heap reading that stops when two
                       consecutive readings agree
- ``tail_percentile``  the highest percentile with >= N samples beyond it
- ``Tracer`` / ``self_times``  in-memory spans and span self time
- ``steal_jiffies``    host steal counter from /proc/stat
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable, Iterable
from contextlib import contextmanager
from dataclasses import dataclass

_CLK_TCK = os.sysconf("SC_CLK_TCK") if hasattr(os, "sysconf") else 100


# ------------------------------------------------------------ process CPU
def _read_stat(pid: int) -> tuple[int, int] | None:
    """(ppid, utime+stime+cutime+cstime ticks) of one pid, None if gone."""
    try:
        with open(f"/proc/{pid}/stat", "rb") as fh:
            raw = fh.read().decode("utf-8", "replace")
    except OSError:
        return None
    # comm may contain spaces and parentheses: fields resume after the last ')'
    rest = raw[raw.rfind(")") + 2 :].split()
    ppid = int(rest[1])
    ticks = int(rest[11]) + int(rest[12]) + int(rest[13]) + int(rest[14])
    return ppid, ticks


def descendants(root_pid: int) -> set[int]:
    """Live (or zombie) descendants of ``root_pid``, not including it."""
    parent: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _read_stat(int(name))
            if st is not None:
                parent[int(name)] = st[0]
    kids: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        kids.setdefault(ppid, []).append(pid)
    out: set[int] = set()
    stack = list(kids.get(root_pid, []))
    while stack:
        p = stack.pop()
        if p not in out:
            out.add(p)
            stack.extend(kids.get(p, []))
    return out


class ProcTreeCpu:
    """CPU seconds (user+sys) consumed by a process tree.

    A reading sums, over the root and every live descendant, the process's
    own utime+stime plus cutime+cstime — the CPU of children it has already
    waited for. A child that exits between two readings therefore moves
    from "live descendant" into its parent's reaped total and is neither
    lost nor counted twice. A process the tree has seen is remembered, so a
    descendant that exits un-reaped by any tree member (re-parented to
    init) keeps contributing its last reading instead of vanishing.
    """

    def __init__(self, root_pid: int | None = None):
        self.root = os.getpid() if root_pid is None else root_pid
        self._last: dict[int, int] = {}  # pid -> last ticks reading
        self._parent: dict[int, int] = {}  # pid -> parent when last seen

    def seconds(self) -> float:
        pids = {self.root} | descendants(self.root)
        for pid in pids:
            st = _read_stat(pid)
            if st is not None:
                self._parent[pid] = st[0]
                self._last[pid] = max(self._last.get(pid, 0), st[1])
        # a gone pid whose parent is a live tree member was reaped by it: its
        # ticks now sit in the parent's cutime/cstime. The same holds up a
        # chain of reaped processes, so resolve to a fixed point.
        reaped: set[int] = set()
        changed = True
        while changed:
            changed = False
            for pid in self._last:
                if pid in pids or pid in reaped:
                    continue
                par = self._parent[pid]
                if par in pids or par in reaped:
                    reaped.add(pid)
                    changed = True
        for pid in reaped:
            self._last.pop(pid)
            self._parent.pop(pid)
        return sum(self._last.values()) / _CLK_TCK


# ------------------------------------------------------------ retained heap
# Spark's ContextCleaner drops broadcast, shuffle and cached blocks on its own
# thread once a collection has made their owners unreachable. Read at once,
# two readings agreed on the uncleaned heap (211 MB on mor_microbatch); after
# a 0.5 s pause the next read 77 MB.
HEAP_SETTLE_S = 0.5


def retained_heap(
    gc: Callable[[], None],
    used_bytes: Callable[[], int],
    rel_tol: float = 0.005,
    max_rounds: int = 12,
    sleep: Callable[[float], None] = time.sleep,
) -> tuple[float, int]:
    """Heap retained after garbage collection, in MB, and GC rounds used.

    One GC is not enough: a single post-``System.gc()`` reading of the same
    JVM state was bimodal (84-246 MB); from the second collection on it
    repeated within 0.2 MB. So collect, wait ``HEAP_SETTLE_S``, and read,
    until two consecutive readings agree within ``rel_tol``; return the
    later one. Raises if they never agree within ``max_rounds``."""
    prev: int | None = None
    for rnd in range(1, max_rounds + 1):
        gc()
        sleep(HEAP_SETTLE_S)
        cur = int(used_bytes())
        if prev is not None and abs(cur - prev) <= rel_tol * max(prev, 1):
            return cur / 1e6, rnd
        prev = cur
    raise RuntimeError(f"heap readings did not settle in {max_rounds} GC rounds")


# ------------------------------------------------------------ percentiles
def tail_percentile(samples: Iterable[float], min_beyond: int = 10):
    """Highest nearest-rank percentile with at least ``min_beyond`` samples
    strictly above its rank. Returns ``(percentile, value, n)`` or ``None``
    when there are too few samples for any such percentile."""
    xs = sorted(samples)
    n = len(xs)
    idx = n - 1 - min_beyond  # 0-based rank with exactly min_beyond above it
    if idx < 0:
        return None
    return 100.0 * (idx + 1) / n, xs[idx], n


# ------------------------------------------------------------ spans
@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float | None
    parent: int | None
    request: object = None

    @property
    def dur(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(start: float, end: float, children: list[tuple[float, float]]) -> float:
    """``end - start`` minus the part of that interval the children cover
    (overlapping children are counted once; parts outside are clipped)."""
    clipped = [(max(s, start), min(e, end)) for s, e in children]
    clipped = [(s, e) for s, e in clipped if e > s]
    return (end - start) - _union_len(clipped)


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time of every closed span, keyed by span id."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None and s.end is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {
        s.sid: self_time(s.start, s.end, kids.get(s.sid, []))
        for s in spans
        if s.end is not None
    }


class Tracer:
    """In-memory spans around the benchmark's calls into the engine, all
    made from one thread.

    Disabled, ``span`` is a bare ``yield`` (the timed runs). Enabled, each
    span records wall-clock start/end (``time.time``, the event log's
    clock), its parent (the innermost open span) and a request id (the
    batch); ``on_enter``/``on_exit`` hooks let the caller tag Spark jobs
    with the span (job groups)."""

    def __init__(self, enabled: bool, on_enter=None, on_exit=None):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._on_enter = on_enter
        self._on_exit = on_exit

    @contextmanager
    def span(self, name: str, request=None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1].sid if self._stack else None
        sp = Span(len(self.spans), name, time.time(), None, parent, request)
        self.spans.append(sp)
        self._stack.append(sp)
        if self._on_enter:
            self._on_enter(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if self._on_exit:
                self._on_exit(sp, self._stack[-1] if self._stack else None)


# ------------------------------------------------------------ host stamps
def steal_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate cpu line of /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    return 100.0 * (after[0] - before[0]) / max(after[1] - before[1], 1)
