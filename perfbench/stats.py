"""Pure arithmetic of the benchmark: percentiles, span self time and
open-loop lateness. No Spark here, so perfbench/tests can pin every
rule cheaply."""

from __future__ import annotations

import math
import statistics


def percentile(samples: list[float], p: float) -> tuple[float, int]:
    """Nearest-rank percentile: the smallest sample with at least
    ``p`` percent of the samples at or below it. Returns the value
    and how many samples lie strictly above it, so a report can say
    whether the tail holds enough samples to mean anything."""
    if not samples:
        raise ValueError("percentile of no samples")
    xs = sorted(samples)
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    v = xs[rank - 1]
    return v, sum(1 for x in xs if x > v)


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def _union_length(intervals: list[tuple[float, float]]) -> float:
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


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part its direct children cover.
    Children are clipped to the parent and overlapping children count
    once, so self time is never negative."""
    kids: dict[int, list[tuple[float, float]]] = {}
    by_id = {s["id"]: s for s in spans}
    for s in spans:
        p = by_id.get(s["parent"])
        if p is not None:
            lo, hi = max(s["start"], p["start"]), min(s["end"], p["end"])
            if hi > lo:
                kids.setdefault(p["id"], []).append((lo, hi))
    return {
        s["id"]: (s["end"] - s["start"]) - _union_length(kids.get(s["id"], []))
        for s in spans
    }


def unattributed_share(op_wall: float, covered: list[tuple[float, float]]) -> float:
    """Share of an operation's wall time no traced child span covers."""
    if op_wall <= 0:
        return 0.0
    return max(0.0, op_wall - _union_length(covered)) / op_wall


# -- open loop ---------------------------------------------------------------


def schedule(steps: list[tuple[float, float]], start: float = 0.0) -> list[tuple[float, int]]:
    """Due times of an open-loop input schedule. ``steps`` is a list
    of (files per second, seconds); returns (due time, step index)
    per file. The schedule is fixed in advance, never paced by how
    fast the system drains it."""
    out, t = [], start
    for k, (rate, secs) in enumerate(steps):
        n = int(round(rate * secs))
        out += [(t + i / rate, k) for i in range(n)]
        t += secs
    return out


def commit_times(rows_per_file: list[int], batches: list[tuple[float, int]]) -> list[float | None]:
    """Commit time of each file, from micro-batches (commit time, rows)
    in batch order: files are consumed in drop order, so file ``i`` is
    committed by the first batch whose cumulative rows cover it."""
    out: list[float | None] = []
    need, cum, b = 0, 0, 0
    for n in rows_per_file:
        need += n
        while cum < need and b < len(batches):
            cum += batches[b][1]
            b += 1
        out.append(batches[b - 1][0] if cum >= need and b else None)
    return out


def lateness(due: list[float], dropped: list[float], committed: list[float | None]) -> dict:
    """Per-file open-loop accounting. Latency runs from when a file
    was DUE, not when the generator got it out, so a late generator
    cannot hide queueing (no coordinated omission); it is None for a
    file never committed. ``gen_late`` is how far behind schedule the
    generator itself ran."""
    return {
        "latency": [None if c is None else c - d for d, c in zip(due, committed)],
        "gen_late": [max(0.0, x - d) for d, x in zip(due, dropped)],
        "uncommitted": sum(1 for c in committed if c is None),
    }


def backlog(due: list[float], committed: list[float | None], t: float) -> int:
    """Files due by ``t`` but not yet committed at ``t``."""
    return sum(1 for d, c in zip(due, committed) if d <= t and (c is None or c > t))


def step_summary(
    steps: list[tuple[float, float]],
    sched: list[tuple[float, int]],
    acc: dict,
    committed: list[float | None],
    start: float,
    p90_limit_s: float,
) -> list[dict]:
    """Per step of an open-loop schedule (``steps`` and ``sched`` as
    for :func:`schedule`, ``acc`` from :func:`lateness`): the
    committed files' latencies, their p90, the backlog left at the
    step's end and how late the generator ran. A step is ``ok`` when
    its p90 meets ``p90_limit_s`` and the files still waiting at its
    end are no more than it offers in that time, so the backlog stays
    flat rather than growing."""
    due = [d for d, _ in sched]
    out, t = [], start
    for k, (rate, secs) in enumerate(steps):
        t += secs
        idx = [i for i, (_, kk) in enumerate(sched) if kk == k]
        lat = [acc["latency"][i] for i in idx if acc["latency"][i] is not None]
        p90 = percentile(lat, 90)[0] if lat else math.inf
        waiting = backlog(due, committed, t)
        out.append(
            {
                "rate": rate,
                "files": len(idx),
                "latency": lat,
                "p90_s": p90,
                "backlog_files": waiting,
                "gen_late_max_s": max((acc["gen_late"][i] for i in idx), default=0.0),
                "ok": len(lat) == len(idx) > 0 and p90 <= p90_limit_s and waiting <= rate * p90_limit_s,
            }
        )
    return out
