"""Pure helpers for the benchmark's numbers: percentiles, recall with ties,
span self time, interval coverage and per-layer medians. No Spark here, so the tests of these
rules run without a session."""

from __future__ import annotations

import math
from collections.abc import Iterable, Sequence

import numpy as np


def percentile(values: Sequence[float], p: float) -> tuple[float, int]:
    """The ``p``-th percentile (0-100) by linear interpolation between the
    two closest ranks, with the sample count it rests on. Raises on an empty
    sample: a timing with no samples is a failed run, not a zero."""
    if not values:
        raise ValueError("percentile of an empty sample")
    xs = sorted(values)
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo), len(xs)


def recall_at_k(
    result_ids: Sequence[int], truth_dists: np.ndarray, kth_dist: float, k: int
) -> float:
    """Share of the first ``k`` results that are true top-k neighbours.

    A result counts when its true distance is no larger than the true k-th
    distance ``kth_dist`` (with a relative 1e-9 slack for the f32->f64
    round trip), so any member of a tie at the k-th place is a hit no
    matter which of the tied ids the ground truth listed. ``truth_dists``
    are the true distances of ``result_ids``, in the same order."""
    limit = kth_dist * (1 + 1e-9) + 1e-12
    hits = sum(1 for d in truth_dists[:k] if d <= limit)
    return hits / k


def union_length(intervals: Iterable[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total, end = 0.0, -math.inf
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def clip(intervals: Iterable[tuple[float, float]], lo: float, hi: float) -> list[tuple[float, float]]:
    """Intervals cut to ``[lo, hi]``; those outside it are dropped."""
    return [(max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi]


def self_time(start: float, end: float, children: Iterable[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its children cover (children
    that overlap each other are counted once)."""
    return (end - start) - union_length(clip(children, start, end))


def median(values: Sequence[float]) -> float:
    return percentile(values, 50)[0]


def layer_values(
    counters_by_span: dict[str, list[dict]], names: Iterable[str], own: set[str]
) -> tuple[dict[str, float], list[str]]:
    """The median of each ``<span>.<counter>`` in ``names`` over the spans
    of that name, and the names that were not measured though the running
    workload records that span (``own``): no span at all, or a span without
    the counter. Names of other workloads' spans read 0, since a traced run
    lists every per-layer metric, and are never reported as missing."""
    values, missing = {}, []
    for name in names:
        span, counter = name.rsplit(".", 1)
        counters = counters_by_span.get(span, [])
        vals = [c[counter] for c in counters if counter in c]
        if span in own and (not vals or len(vals) < len(counters)):
            missing.append(name)
        values[name] = median(vals) if vals else 0
    return values, missing
