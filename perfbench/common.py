"""Shared pieces of the protection-path benchmark: spans, statistics,
per-process resource readings and the machine-speed reference."""

from __future__ import annotations

import os
import threading
import time
import zlib
from collections import defaultdict

import numpy as np

_CLK_TCK = os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


class Tracer:
    """In-memory span recorder.

    A span is ``[name, start, end, parent, op_id]`` with times from
    ``time.perf_counter`` (CLOCK_MONOTONIC, so spans taken in two processes
    on one machine share a time base). ``parent`` is the index of the
    enclosing span on the same thread. Nothing is written until the caller
    dumps ``spans`` at the end of the run.
    """

    def __init__(self) -> None:
        self.spans: list[list] = []
        self.counts: dict[str, int] = defaultdict(int)
        self.op_id: int | None = None
        self._local = threading.local()

    def wrap(self, name: str, fn):
        spans, local = self.spans, self._local

        def traced(*args, **kwargs):
            stack = local.__dict__.setdefault("stack", [])
            idx = len(spans)
            span = [name, time.perf_counter(), 0.0, stack[-1] if stack else None, self.op_id]
            spans.append(span)
            stack.append(idx)
            try:
                return fn(*args, **kwargs)
            finally:
                span[2] = time.perf_counter()
                stack.pop()

        traced.__wrapped__ = fn
        return traced

    def patch(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a traced version of itself."""
        setattr(owner, attr, self.wrap(name, getattr(owner, attr)))


def self_times(spans: list[list], lo: float = float("-inf"), hi: float = float("inf")) -> dict[str, float]:
    """Seconds of self time per span name (duration minus the time its
    child spans cover), over spans that start inside ``[lo, hi]``."""
    child = defaultdict(float)
    for s in spans:
        if s[3] is not None:
            child[s[3]] += s[2] - s[1]
    out: dict[str, float] = defaultdict(float)
    for i, s in enumerate(spans):
        if lo <= s[1] <= hi:
            out[s[0]] += s[2] - s[1] - child.get(i, 0.0)
    return out


# ---------------------------------------------------------------------------
# statistics
# ---------------------------------------------------------------------------


def percentile(values, q: float) -> float:
    """Nearest-rank percentile (``q`` in 0..100) of a non-empty sample."""
    ordered = sorted(values)
    rank = max(1, int(np.ceil(q / 100.0 * len(ordered))))
    return float(ordered[rank - 1])


def median(values) -> float:
    return float(np.median(np.asarray(values, dtype=np.float64)))


# ---------------------------------------------------------------------------
# processes
# ---------------------------------------------------------------------------


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def cpu_seconds(pid: int, children: bool = False) -> float:
    """User+system CPU seconds of ``pid`` (plus its reaped children)."""
    f = _stat_fields(pid)
    if f is None:
        return 0.0
    ticks = int(f[11]) + int(f[12])
    if children:
        ticks += int(f[13]) + int(f[14])
    return ticks / _CLK_TCK


def process_start_boottime(pid: int) -> float:
    """Seconds since boot at which ``pid`` started (10 ms resolution)."""
    return int(_stat_fields(pid)[19]) / _CLK_TCK


def descendants(pid: int) -> list[int]:
    """Live descendant pids of ``pid``, found through ``/proc``."""
    parent_of = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            f = _stat_fields(int(name))
            if f is not None:
                parent_of[int(name)] = int(f[1])
    found, frontier = [], [pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent_of.items() if pp == p]
        found.extend(kids)
        frontier.extend(kids)
    return found


def peak_rss_mb(pids) -> float:
    """Sum over ``pids`` of each process's peak resident set (VmHWM), MB."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb * 1024 / 1e6


# ---------------------------------------------------------------------------
# machine-speed reference
# ---------------------------------------------------------------------------


class Reference:
    """A fixed computation that is not part of the program: a numpy XOR
    over 4 MiB, a zlib level-1 compression of 256 KiB and a Python loop
    over 20 000 bytes (memory bandwidth, native code and interpreter, as
    in the workloads). Timed between operations, its median tracks how
    fast the machine is running."""

    def __init__(self) -> None:
        rng = np.random.default_rng(7)
        self._a = rng.integers(0, 256, 4 << 20, dtype=np.uint8)
        self._b = rng.integers(0, 256, 4 << 20, dtype=np.uint8)
        words = np.array([b"scan", b"page", b"value", b"column", b"batch"])
        self._text = b" ".join(words[rng.integers(0, len(words), 50_000)])[: 256 << 10]
        self.samples: list[float] = []

    def tick(self, times: int = 1) -> None:
        for _ in range(times):
            t = time.perf_counter()
            np.bitwise_xor(self._a, self._b)
            zlib.compress(self._text, 1)
            acc = 0
            for byte in self._text[:20_000]:
                acc = (acc * 31 + byte) & 0xFFFF
            self.samples.append((time.perf_counter() - t) * 1e3)

    def ms(self) -> float:
        return median(self.samples)
