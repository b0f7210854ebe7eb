"""Order statistics the benchmark reports.

Timings are reported as a median plus a ``tail``: the highest
nearest-rank percentile that still has at least ``TAIL_BEYOND`` samples
strictly above it, never below the median. The percentile and the
sample count travel with the value so a reader knows what it rests on.
"""

from __future__ import annotations

import statistics

TAIL_BEYOND = 10


def median(values: list[float]) -> float:
    if not values:
        raise ValueError("median of no samples")
    return float(statistics.median(values))


def tail(values: list[float], beyond: int = TAIL_BEYOND) -> dict:
    """``{"value", "pct", "n"}`` for the tail of ``values``.

    With ``n`` sorted samples the value at 0-based rank ``r`` is the
    ``100 * (r + 1) / n`` nearest-rank percentile and has ``n - 1 - r``
    samples above it, so the highest rank with ``beyond`` samples above
    it is ``n - 1 - beyond``. Too few samples for that to clear the
    median fall back to the median's rank (the upper median)."""
    if not values:
        raise ValueError("tail of no samples")
    s = sorted(values)
    n = len(s)
    r = max(n - 1 - beyond, n // 2)
    return {"value": float(s[r]), "pct": round(100.0 * (r + 1) / n, 1), "n": n}


def load_signature(reps: list[float]) -> bool:
    """True when the first repetition is more than twice the median of
    the rest: the loaded-host tell that a run should be repeated."""
    if len(reps) < 2:
        return False
    return reps[0] > 2.0 * median(reps[1:])
