"""Measurement helpers: percentiles, spans with self time, bench-side
wrappers and a Spark event-log parser.

Nothing here imports Spark, so the unit tests run without a JVM.
"""

from __future__ import annotations

import json
import math
import time
from collections import defaultdict
from collections.abc import Callable, Iterable, Iterator
from contextlib import contextmanager
from dataclasses import dataclass, field

__all__ = [
    "TAIL_CANDIDATES",
    "Span",
    "Tracer",
    "tail_percentile",
    "self_times",
    "patch_attr",
    "GroupStats",
    "parse_event_log",
]

# Percentiles a tail figure may be reported at, highest first.
TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0)


def tail_percentile(values: Iterable[float]) -> tuple[float, float] | None:
    """The highest percentile in ``TAIL_CANDIDATES`` that has at least ten
    samples beyond it, as ``(p, value)`` with the nearest-rank value;
    ``None`` when no candidate has."""
    xs = sorted(values)
    n = len(xs)
    for p in TAIL_CANDIDATES:
        # round() first: 99.9 / 100 * 10000 is 9990.000000000002 in floats.
        rank = max(1, math.ceil(round(p / 100.0 * n, 9)))
        if n - rank >= 10:
            return p, xs[rank - 1]
    return None


@dataclass
class Span:
    name: str
    start: float
    end: float
    span_id: int
    parent_id: int | None


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time of each span: its duration minus the part of its interval
    that its child spans cover (overlapping children count once)."""
    children: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent_id is not None:
            children[s.parent_id].append(s)
    out: dict[int, float] = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for c in sorted(children.get(s.span_id, ()), key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s.span_id] = (s.end - s.start) - covered
    return out


class Tracer:
    """Spans and counters kept in memory for one benchmark run. Disabled
    tracers record nothing, so untraced runs pay one attribute check."""

    def __init__(self, enabled: bool, clock: Callable[[], float] = time.perf_counter):
        self.enabled = enabled
        self.clock = clock
        self.spans: list[Span] = []
        self.counters: dict[str, float] = defaultdict(float)
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str) -> Iterator[None]:
        if not self.enabled:
            yield
            return
        span_id = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        rec = Span(name, self.clock(), math.nan, span_id, parent)
        self.spans.append(rec)
        self._stack.append(span_id)
        try:
            yield
        finally:
            self._stack.pop()
            rec.end = self.clock()

    def reset(self) -> None:
        """Forget everything recorded so far (used after warm-up)."""
        self.spans.clear()
        self.counters.clear()

    def count(self, name: str, n: float = 1) -> None:
        if self.enabled:
            self.counters[name] += n

    def self_time_by_name(self) -> dict[str, float]:
        """Total self time per span name, over all spans."""
        st = self_times(self.spans)
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s.name] += st[s.span_id]
        return dict(out)

    def wrap(self, fn: Callable, name: str) -> Callable:
        """``fn`` inside a span named ``name``."""

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced


def patch_attr(targets: Iterable[object], attr: str, original: object, replacement: object) -> list[object]:
    """Set ``attr`` to ``replacement`` on every target whose ``attr`` is
    ``original``; returns the patched targets. Modules that did
    ``from x import f`` hold their own reference, so a wrapper has to be
    installed in each of them."""
    patched = []
    for t in targets:
        if getattr(t, attr, None) is original:
            setattr(t, attr, replacement)
            patched.append(t)
    return patched


@dataclass
class GroupStats:
    """Spark work attributed to one job group."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    empty_tasks: int = 0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    stage_ids: set[int] = field(default_factory=set)


def parse_event_log(lines: Iterable[str]) -> dict[str, GroupStats]:
    """Aggregate a Spark event log by job group (``spark.jobGroup.id``).

    Jobs come from ``SparkListenerJobStart``; a stage counts when at least
    one of its tasks ended; task metrics come from ``SparkListenerTaskEnd``.
    A task is empty when it read no input or shuffle records and wrote no
    output or shuffle records. Jobs without a group land under ``""``.
    """
    stage_group: dict[int, str] = {}
    groups: dict[str, GroupStats] = defaultdict(GroupStats)
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            groups[group].jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            sid = ev.get("Stage ID")
            g = groups[stage_group.get(sid, "")]
            g.stage_ids.add(sid)
            g.tasks += 1
            m = ev.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            rec_in = (m.get("Input Metrics") or {}).get("Records Read", 0) + sr.get(
                "Total Records Read", 0
            )
            rec_out = (m.get("Output Metrics") or {}).get("Records Written", 0) + sw.get(
                "Shuffle Records Written", 0
            )
            if rec_in == 0 and rec_out == 0:
                g.empty_tasks += 1
            g.executor_run_s += m.get("Executor Run Time", 0) / 1e3
            g.executor_cpu_s += m.get("Executor CPU Time", 0) / 1e9
            g.gc_s += m.get("JVM GC Time", 0) / 1e3
            g.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
            g.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            g.spill_bytes += m.get("Disk Bytes Spilled", 0)
    for g in groups.values():
        g.stages = len(g.stage_ids)
    return dict(groups)
