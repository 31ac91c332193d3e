"""Pure summary statistics shared by the runner and the tests."""

from __future__ import annotations

import math
import statistics


def tail_percentile(values: list[float], beyond: int = 10) -> tuple[int, float] | None:
    """The highest whole percentile that still has at least ``beyond``
    samples strictly above it, and its value.

    With ``n`` samples the candidate is the value at ascending rank
    ``n - beyond`` (1-based); ties at that value would push samples out
    of the "beyond" set, so the rank walks down until enough lie strictly
    above. A percentile below the median is no tail: when fewer than
    ``beyond`` samples lie above the median (small ``n`` or heavy ties)
    there is none, and the result is None.
    """
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    rank = n - beyond  # 1-based rank with exactly `beyond` ranks above it
    while rank >= 1 and xs[rank - 1] == xs[rank]:
        rank -= 1
    pct = math.floor(100 * rank / n) if rank >= 1 else 0
    if pct < 50:
        return None
    return pct, xs[rank - 1]


def op_tail(samples: list[tuple[str, float]], beyond: int = 10) -> tuple[str, float]:
    """``op_tail_s`` of (op name, latency) samples, and the rule used.

    The tail percentile when there is one (``"p90"``, ...). With too few
    samples for it, the slowest op's median latency over its repeats
    (``"slowest-op median"``): the maximum of a handful of single
    latencies is mostly the noise of one sample, the median of each op's
    repeats is not. Ops that never repeat (every ELT month is a new op)
    are their own medians, so for them this is the maximum.
    """
    found = tail_percentile([v for _, v in samples], beyond)
    if found is not None:
        return f"p{found[0]}", found[1]
    by_name: dict[str, list[float]] = {}
    for name, v in samples:
        by_name.setdefault(name, []).append(v)
    return "slowest-op median", max(statistics.median(vs) for vs in by_name.values())


def interval_union_ms(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by the union of [start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time_ms(start: float, end: float, children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its children cover; child
    intervals are clipped to the span, and overlapping children (parallel
    jobs) count once."""
    clipped = [(max(s, start), min(e, end)) for s, e in children]
    return (end - start) - interval_union_ms(clipped)


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def mean(values: list[float]) -> float:
    return sum(values) / len(values) if values else 0.0
