"""Arithmetic the benchmark's numbers rest on."""

from __future__ import annotations

import pytest

from perfbench import stats


def test_percentile_nearest_rank_with_ten_samples_beyond_p90():
    xs = [float(i) for i in range(1, 101)]  # 1..100, shuffled order below
    xs = xs[::2] + xs[1::2]
    v, above = stats.percentile(xs, 90)
    assert v == 90.0
    assert above == 10
    _, above99 = stats.percentile(xs[:99], 90)
    assert above99 == 9  # 99 samples cannot carry a 10-sample p90 tail


def test_percentile_small_and_tied_samples():
    assert stats.percentile([3.0], 90) == (3.0, 0)
    assert stats.percentile([1.0, 2.0, 3.0, 4.0], 50) == (2.0, 2)
    assert stats.percentile([1.0, 2.0, 2.0, 2.0], 50) == (2.0, 0)
    with pytest.raises(ValueError):
        stats.percentile([], 50)


def _span(i, parent, start, end):
    return {"id": i, "parent": parent, "start": start, "end": end}


def test_self_time_subtracts_children_once():
    spans = [
        _span(1, None, 0.0, 10.0),
        _span(2, 1, 1.0, 4.0),
        _span(3, 1, 3.0, 6.0),  # overlaps span 2: union is [1, 6]
        _span(4, 2, 2.0, 3.0),  # grandchild: only span 2 loses it
        _span(5, 1, 9.0, 12.0),  # runs past its parent: clipped to 1 s
    ]
    st = stats.self_times(spans)
    assert st[1] == pytest.approx(10.0 - 5.0 - 1.0)
    assert st[2] == pytest.approx(3.0 - 1.0)
    assert st[3] == pytest.approx(3.0)
    assert st[4] == pytest.approx(1.0)
    assert st[5] == pytest.approx(3.0)


def test_unattributed_share():
    assert stats.unattributed_share(10.0, [(0.0, 2.0), (1.0, 4.0)]) == pytest.approx(0.6)
    assert stats.unattributed_share(0.0, []) == 0.0


def test_schedule_is_fixed_by_rate_not_by_progress():
    sched = stats.schedule([(2.0, 1.0), (4.0, 0.5)], start=100.0)
    assert [d for d, _ in sched] == [100.0, 100.5, 101.0, 101.25]
    assert [k for _, k in sched] == [0, 0, 1, 1]


def test_commit_times_follow_cumulative_rows():
    # batches: (commit time, rows); files of 10 rows each
    batches = [(1.0, 10), (2.0, 20), (3.0, 5)]
    assert stats.commit_times([10, 10, 10, 10], batches) == [1.0, 2.0, 2.0, None]


def test_lateness_counts_from_due_time_not_drop_time():
    due = [0.0, 1.0, 2.0]
    dropped = [0.0, 1.5, 2.0]  # the generator ran 0.5 s late on file 1
    committed = [0.4, 2.5, None]
    acc = stats.lateness(due, dropped, committed)
    assert acc["latency"][:2] == pytest.approx([0.4, 1.5])  # 1.5, not 1.0
    assert acc["latency"][2] is None
    assert acc["gen_late"] == pytest.approx([0.0, 0.5, 0.0])
    assert acc["uncommitted"] == 1


def test_backlog_counts_due_but_uncommitted_files():
    due = [0.0, 1.0, 2.0, 3.0]
    assert stats.backlog(due, [0.5, 1.5, 2.5, 3.5], 3.2) == 1
    assert stats.backlog(due, [0.5, 4.0, 4.0, None], 3.2) == 3
    assert stats.backlog(due, [0.5, 4.0, 4.0, None], 0.0) == 1


def test_step_summary_keeps_each_steps_latencies_apart():
    steps = [(2.0, 1.0), (4.0, 1.0)]
    sched = stats.schedule(steps, start=0.0)  # due 0, .5 | 1, 1.25, 1.5, 1.75
    due = [d for d, _ in sched]
    committed = [0.3, 0.8, 1.4, 1.9, 2.6, 3.2]
    acc = stats.lateness(due, due, committed)
    ref, probe = stats.step_summary(steps, sched, acc, committed, 0.0, p90_limit_s=1.0)
    assert ref["latency"] == pytest.approx([0.3, 0.3])
    assert ref["ok"] and ref["backlog_files"] == 1  # due at 1.0, committed at 1.4
    assert probe["files"] == 4
    assert probe["p90_s"] == pytest.approx(1.45)
    assert probe["backlog_files"] == 2 and not probe["ok"]  # p90 over the limit
    # a file never committed fails its step whatever the limit
    gone = stats.lateness(due, due, committed[:5] + [None])
    assert not stats.step_summary(steps, sched, gone, committed[:5] + [None], 0.0, 10.0)[1]["ok"]
