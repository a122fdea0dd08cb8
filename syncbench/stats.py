"""Summaries of measured series: medians for the result line, tails and
a warm-up drift flag for the run record."""

from __future__ import annotations

import statistics

_TAIL_PERCENTILES = (99.9, 99.0, 90.0, 50.0)


def median(xs: list[float]) -> float:
    return statistics.median(xs)


def tail(xs: list[float]) -> dict:
    """The highest percentile with at least ten samples beyond it, with
    the sample count; ``percentile`` is None when there are fewer than
    twenty samples."""
    n = len(xs)
    for p in _TAIL_PERCENTILES:
        if n * (1 - p / 100.0) >= 10:
            rank = min(n - 1, int(p / 100.0 * n))
            return {"percentile": p, "value": sorted(xs)[rank], "n": n}
    return {"percentile": None, "value": None, "n": n}


def drift(xs: list[float], bound: float) -> dict:
    """Compare the medians of the first and last quarter of a series in
    the order it was measured. ``flagged`` when they differ by more
    than ``bound`` (a share of the first-quarter median): a warm-up that
    has not levelled off, or state growth during the run. A quarter is
    at least one sample; a single sample cannot be checked."""
    if len(xs) < 2:
        return {"checked": False, "n": len(xs)}
    q = max(1, len(xs) // 4)
    first, last = median(xs[:q]), median(xs[-q:])
    change = (last - first) / first if first else 0.0
    return {"checked": True, "first_q": first, "last_q": last, "change": change, "flagged": abs(change) > bound}
