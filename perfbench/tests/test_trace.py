"""Unit tests for the benchmark's measurement helpers (no Spark needed)."""

import os

import pytest

from perfbench.trace import (
    Span,
    Tracer,
    parse_event_log,
    patch_attr,
    self_times,
    tail_percentile,
)

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog.jsonl")


@pytest.mark.parametrize(
    "n, expected_p",
    [
        (19, None),  # p75 would leave only 4 samples beyond it
        (40, 75.0),  # p75 leaves exactly 10
        (99, 75.0),  # p90 leaves 9: not enough
        (100, 90.0),
        (200, 95.0),
        (1000, 99.0),
        (10000, 99.9),
    ],
)
def test_tail_percentile_needs_ten_samples_beyond(n, expected_p):
    xs = [float(i) for i in range(1, n + 1)]
    got = tail_percentile(xs)
    if expected_p is None:
        assert got is None
        return
    p, value = got
    assert p == expected_p
    # Nearest rank: at least p% of the samples are at or below the value,
    # and at least ten lie beyond it.
    assert sum(1 for x in xs if x <= value) >= round(p / 100 * n, 9)
    assert sum(1 for x in xs if x > value) >= 10


def _span(i, start, end, parent=None):
    return Span(f"s{i}", start, end, i, parent)


def test_self_time_subtracts_children_once():
    spans = [
        _span(0, 0.0, 10.0),
        _span(1, 1.0, 4.0, parent=0),
        _span(2, 3.0, 6.0, parent=0),  # overlaps span 1: union is [1, 6)
        _span(3, 8.0, 12.0, parent=0),  # sticks out of the parent: clipped
        _span(4, 1.5, 2.0, parent=1),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 5.0 - 2.0)
    assert st[1] == pytest.approx(3.0 - 0.5)
    assert st[2] == pytest.approx(3.0)
    assert st[4] == pytest.approx(0.5)


def test_tracer_nesting_and_wrap():
    ticks = iter(range(100))
    t = Tracer(True, clock=lambda: float(next(ticks)))
    inner = t.wrap(lambda x: x + 1, "inner")
    with t.span("outer"):
        assert inner(1) == 2
    # outer: 0..3, inner: 1..2
    assert t.self_time_by_name() == {"outer": 2.0, "inner": 1.0}
    assert t.spans[1].parent_id == t.spans[0].span_id


def test_disabled_tracer_records_nothing():
    t = Tracer(False)
    with t.span("x"):
        t.count("c")
    assert t.spans == [] and not t.counters


def test_patch_attr_replaces_only_matching_references():
    class M:
        pass

    def f():
        return 1

    def g():
        return 2

    a, b = M(), M()
    a.f, b.f = f, g
    assert patch_attr([a, b], "f", f, g) == [a]
    assert a.f is g and b.f is g


def test_event_log_groups():
    with open(FIXTURE) as fh:
        groups = parse_event_log(fh)
    build, action, none = groups["op1/build"], groups["op1/action"], groups[""]
    assert (build.jobs, build.stages, build.tasks, build.empty_tasks) == (1, 1, 1, 0)
    assert build.executor_run_s == pytest.approx(0.12)
    # Job 2 lists stage 1 again but it was skipped: stages are counted
    # once, and only when a task of theirs ended.
    assert (action.jobs, action.stages, action.tasks, action.empty_tasks) == (2, 2, 4, 1)
    assert action.executor_run_s == pytest.approx(1.172)
    assert action.executor_cpu_s == pytest.approx(0.454623733)
    assert action.gc_s == pytest.approx(0.104)
    assert action.shuffle_write_bytes == 776
    assert action.shuffle_read_bytes == 776
    assert action.spill_bytes == 1024
    assert (none.jobs, none.tasks) == (1, 1)
