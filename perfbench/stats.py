"""Summary statistics the benchmark reports."""

from __future__ import annotations

import math
import statistics


def median(values: list[float]) -> float:
    return float(statistics.median(values))


def geomean_of_medians(groups: dict[str, list[float]]) -> float:
    """Geometric mean over the groups of each group's median: a typical
    figure in which every group weighs the same, however many samples it
    has, and a change by the same factor in any one group moves it equally."""
    medians = [median(xs) for xs in groups.values() if xs]
    if not medians:
        return float("nan")
    return math.exp(sum(math.log(m) for m in medians) / len(medians))


def work_in_window(intervals: list[tuple[float, float]], t0: float, t1: float) -> float:
    """Operations done in [t0, t1]: each (start, end) counts by the share of
    its duration that falls inside, so an operation cut by either end of
    the window counts in part, not as all or nothing."""
    done = 0.0
    for s, e in intervals:
        inside = min(e, t1) - max(s, t0)
        if inside > 0:
            done += inside / (e - s)
    return done


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile: the smallest value with at least q% of the
    samples at or below it."""
    xs = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * len(xs)))
    return float(xs[rank - 1])


def tail_percentile(values: list[float], q: float, min_beyond: int = 10) -> float | None:
    """The q-th percentile, or None when fewer than ``min_beyond`` samples
    lie beyond it — a tail figure resting on fewer samples than that is
    noise, so it is not reported."""
    if not values:
        return None
    rank = max(1, math.ceil(q / 100.0 * len(values)))
    if len(values) - rank < min_beyond:
        return None
    return percentile(values, q)


def highest_reportable(values: list[float], qs=(99.0, 95.0, 90.0), min_beyond: int = 10):
    """(q, value) of the highest percentile in ``qs`` that has at least
    ``min_beyond`` samples beyond it, or None."""
    for q in qs:
        v = tail_percentile(values, q, min_beyond)
        if v is not None:
            return q, v
    return None
