"""Helpers shared by the workloads: percentile rule, open-loop schedule,
match-to-creation join, in-memory span tracer with self-time arithmetic,
and host telemetry (loadavg, /proc/stat steal, process-tree VmHWM).

Nothing here touches Spark, so the unit tests import it without a JVM.
"""

from __future__ import annotations

import json
import math
import os
import time
from dataclasses import dataclass, field

# A percentile is reported only when at least this many samples lie above it.
MIN_BEYOND = 10


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 1]."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    pos = q * (len(s) - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def samples_beyond(n: int, q: float) -> int:
    """How many of ``n`` sorted samples lie strictly above the ``q`` rank."""
    return n - 1 - math.floor(q * (n - 1))


def supported(n: int, q: float) -> bool:
    """The percentile rule: ``q`` is reportable from ``n`` samples only when
    at least MIN_BEYOND samples lie beyond it."""
    return n > 0 and samples_beyond(n, q) >= MIN_BEYOND


def min_samples(q: float) -> int:
    """The fewest samples from which ``q`` is reportable."""
    n = 1
    while not supported(n, q):
        n += 1
    return n


def reported_percentile(values: list[float], q: float) -> float:
    """``percentile(values, q)`` under the percentile rule: a run whose
    samples cannot support ``q`` fails rather than report a guess."""
    if not supported(len(values), q):
        raise ValueError(
            f"p{q * 100:g} needs {MIN_BEYOND} samples beyond it; "
            f"{len(values)} samples have {samples_beyond(len(values), q)}")
    return percentile(values, q)


# ---- open-loop schedule ------------------------------------------------------


def due_time(t0: float, k: int, rate: float) -> float:
    """Creation (due) time of event ``k`` in an open loop started at ``t0``:
    events are spaced evenly at ``rate`` per second, whatever the system
    under test is doing."""
    return t0 + k / rate


def batch_due_time(t0: float, n: int, interval: float) -> float:
    """Producer batch ``n`` holds the events created in
    [t0 + n*interval, t0 + (n+1)*interval) and is due once its last event
    exists, at the end of that interval."""
    return t0 + (n + 1) * interval


def batch_event_range(n: int, rate: float, interval: float) -> range:
    per = int(round(rate * interval))
    return range(n * per, (n + 1) * per)


# ---- stream latency join -----------------------------------------------------


def match_latencies(
    emitted: list[tuple[int, float]], created: dict[int, float]
) -> list[float]:
    """Join each emitted match (last_event_id, sink end time) to the creation
    time of that event; latency = sink end - creation. An id with no
    creation record is an error in the benchmark, not a sample."""
    out = []
    for eid, t_end in emitted:
        if eid not in created:
            raise KeyError(f"match closes on unknown event {eid}")
        out.append(t_end - created[eid])
    return out


# ---- tracing -----------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    sid: int
    attrs: dict = field(default_factory=dict)


class Tracer:
    """Spans kept in memory, written out once at exit. A disabled tracer
    records nothing and costs one attribute check per call site."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self.counts: dict[str, float] = {}
        self._stack: list[int] = []

    def span(self, name: str, **attrs):
        return _SpanCtx(self, name, attrs)

    def add(self, name: str, start: float, end: float, parent=None, **attrs):
        """Record a span measured elsewhere (e.g. a StreamingQueryProgress
        duration); returns its id."""
        sid = len(self.spans)
        self.spans.append(
            Span(name, start, end, parent, self.run_id, sid, attrs)
        )
        return sid

    def count(self, name: str, value: float = 1) -> None:
        if self.enabled:
            self.counts[name] = self.counts.get(name, 0) + value

    def wrap(self, name: str, fn):
        """Return ``fn`` timed as span ``name`` when tracing, else ``fn``."""
        if not self.enabled:
            return fn

        def timed(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        timed.__wrapped__ = fn
        return timed

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")
            f.write(json.dumps({"counts": self.counts}) + "\n")


class _SpanCtx:
    def __init__(self, tr: Tracer, name: str, attrs: dict):
        self.tr, self.name, self.attrs = tr, name, attrs
        self.sid = None

    def __enter__(self):
        if not self.tr.enabled:
            return self
        parent = self.tr._stack[-1] if self.tr._stack else None
        self.sid = self.tr.add(self.name, time.perf_counter(), 0.0, parent,
                               **self.attrs)
        self.tr._stack.append(self.sid)
        return self

    def __exit__(self, *exc):
        if self.sid is not None:
            self.tr.spans[self.sid].end = time.perf_counter()
            self.tr._stack.pop()
        return False


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_times(spans: list[Span]) -> dict[str, float]:
    """Per span name, the summed duration minus the part of each span's
    interval that its child spans cover (overlapping children count once)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    out: dict[str, float] = {}
    for s in spans:
        own = (s.end - s.start) - _covered(children.get(s.sid, []), s.start, s.end)
        out[s.name] = out.get(s.name, 0.0) + own
    return out


# ---- host telemetry ----------------------------------------------------------


def read_proc_stat():
    """(busy, steal, total) jiffies from the aggregate cpu line, or None."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        vals = [int(x) for x in parts[1:]]
        idle = vals[3] + (vals[4] if len(vals) > 4 else 0)
        steal = vals[7] if len(vals) > 7 else 0
        total = sum(vals[:8])
        return total - idle, steal, total
    except (OSError, ValueError, IndexError):
        return None


def cpu_window(before, after) -> dict:
    if not before or not after or after[2] <= before[2]:
        return {}
    d = after[2] - before[2]
    return {
        "cpu_busy_pct": round(100.0 * (after[0] - before[0]) / d, 1),
        "cpu_steal_pct": round(100.0 * (after[1] - before[1]) / d, 2),
    }


def _children(pid: int) -> list[int]:
    out = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return out


def tree_pids(root: int) -> list[int]:
    seen, todo = [], [root]
    while todo:
        p = todo.pop()
        if p in seen:
            continue
        seen.append(p)
        todo.extend(_children(p))
    return seen


def vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except (OSError, ValueError, IndexError):
        pass
    return 0
