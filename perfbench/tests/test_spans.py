"""Span arithmetic of the traced run.

    python3 -m pytest perfbench/tests -q
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from spans import Tracer, innermost_owner, sched_gap, self_times, union_length  # noqa: E402


def test_union_length_merges_overlaps_and_skips_empty():
    assert union_length([]) == 0
    assert union_length([(0, 1), (2, 3)]) == 2
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([(0, 10), (2, 3)]) == 10
    assert union_length([(4, 4), (3, 2)]) == 0


def test_self_time_subtracts_children_once():
    spans = [
        (0.0, 10.0, -1),  # op
        (1.0, 4.0, 0),  # child
        (3.0, 6.0, 0),  # overlapping child: 1..6 covered once
        (2.0, 3.0, 1),  # grandchild: counts against its parent only
    ]
    assert self_times(spans) == pytest.approx([5.0, 2.0, 3.0, 1.0])


def test_self_time_clips_children_to_the_parent():
    assert self_times([(0.0, 2.0, -1), (1.0, 5.0, 0)])[0] == pytest.approx(1.0)


def test_sched_gap_with_overlapping_jobs():
    jobs = [(1.0, 3.0), (2.0, 4.0), (6.0, 7.0), (9.5, 12.0)]
    # covered inside [0, 10]: 1..4, 6..7, 9.5..10 -> 4.5 s busy
    assert sched_gap(0.0, 10.0, jobs) == pytest.approx(5.5)
    assert sched_gap(4.0, 6.0, jobs) == pytest.approx(2.0)


def test_jobs_go_to_the_innermost_open_span():
    spans = [(0.0, 10.0, -1), (1.0, 5.0, 0), (2.0, 3.0, 1), (6.0, 8.0, 0)]
    assert innermost_owner(spans, [0.5, 1.5, 2.5, 7.0, 11.0]) == [0, 1, 2, 3, -1]


def test_wrappers_record_only_while_active():
    tr = Tracer(enabled=True)
    calls = []

    def read(x):
        calls.append(x)
        return x * 2

    traced = tr.wrap(read, "sources.read")
    assert traced(1) == 2 and tr.spans == []
    tr.active = True
    with tr.span("op"):
        assert traced(2) == 4
    tr.active = False
    assert [s.name for s in tr.spans] == ["op", "sources.read"]
    assert tr.spans[1].parent == 0
    assert tr.counts["sources.read.calls"] == 1
    assert calls == [1, 2]
