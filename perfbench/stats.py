"""Pure statistics used by the benchmark: latency percentiles, failure
counting and span self time. No Spark, no I/O; unit-tested in
``test_perfbench.py``."""

from __future__ import annotations

import statistics
from collections.abc import Iterable, Sequence

TAIL_MIN_BEYOND = 10


def median(values: Sequence[float]) -> float:
    return statistics.median(values)


def tail_latency(values: Sequence[float]) -> tuple[float, float, int]:
    """Latency at the highest percentile that leaves at least
    ``TAIL_MIN_BEYOND`` samples strictly above its rank.

    Returns ``(value, percentile, samples_beyond)``. With n sorted
    samples the chosen rank is ``n - 1 - TAIL_MIN_BEYOND`` (so exactly
    ten samples lie beyond it) and the percentile is the share of
    samples at or below it. When there are too few samples for any
    percentile to have ten beyond it, the maximum is returned with the
    true number beyond it (zero) so the report never overstates.
    """
    if not values:
        raise ValueError("no latency samples")
    ordered = sorted(values)
    n = len(ordered)
    rank = n - 1 - TAIL_MIN_BEYOND
    if rank < 0:
        return ordered[-1], 100.0, 0
    return ordered[rank], 100.0 * (rank + 1) / n, n - 1 - rank


def failed_ratio(attempted: int, failed: int) -> float:
    """Share of attempted operations that raised or returned wrong rows."""
    if attempted <= 0:
        raise ValueError("no operations attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed={failed} outside [0, {attempted}]")
    return failed / attempted


def covered(intervals: Iterable[tuple[float, float]],
            lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals
                     if b > lo and a < hi)
    total = 0.0
    cur_a = cur_b = None
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


def self_times(spans: Sequence[tuple]) -> dict[int, float]:
    """Self time of every span: its duration minus the part of it that
    its direct child spans cover.

    ``spans`` holds ``(span_id, name, start, end, parent_id, op_id)``
    tuples as the tracer records them.
    """
    children: dict[int, list[tuple[float, float]]] = {}
    for _sid, _name, start, end, parent, _op in spans:
        if parent is not None:
            children.setdefault(parent, []).append((start, end))
    return {
        sid: (end - start) - covered(children.get(sid, ()), start, end)
        for sid, _name, start, end, _parent, _op in spans
    }
