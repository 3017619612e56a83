"""Statistics the benchmark reports. Plain Python, no Spark, so they are
unit-tested on their own (tests/test_stats.py)."""

from __future__ import annotations

import math

MIN_BEYOND = 10  # samples a percentile needs beyond it to be reported


def _rank(q: float, n: int) -> int:
    """1-based nearest rank; the epsilon keeps 0.999 * 10000 from
    rounding up past 9990."""
    return math.ceil(q * n / 100 - 1e-9)


def percentile(values: list[float], q: float, min_beyond: int = MIN_BEYOND) -> float:
    """Nearest-rank ``q``-th percentile of ``values``.

    Raises ValueError when fewer than ``min_beyond`` samples lie beyond the
    cut-off: a tail percentile resting on a handful of samples is noise."""
    if not 0 < q < 100:
        raise ValueError(f"percentile {q} outside (0, 100)")
    n = len(values)
    rank = _rank(q, n)
    if n == 0 or n - rank < min_beyond:
        raise ValueError(
            f"p{q:g} needs {min_beyond} samples beyond it; "
            f"{n} samples leave {max(0, n - rank)}"
        )
    return sorted(values)[rank - 1]


def trim(due: dict, start: float, end: float, warm_s: float, cool_s: float) -> set:
    """Keys whose due time lies in ``[start + warm_s, end - cool_s)``: the
    generator's warm-up and cool-down are cut from latency samples."""
    lo, hi = start + warm_s, end - cool_s
    if hi <= lo:
        raise ValueError(f"warm-up {warm_s}s + cool-down {cool_s}s leave no window")
    return {k for k, t in due.items() if lo <= t < hi}


def latencies(due: dict, seen: dict, keys) -> list[float]:
    """Seconds from due time to first visibility, for keys seen."""
    return [seen[k] - due[k] for k in keys if k in seen]


def throughput(count: int, start: float, end: float) -> float:
    """Items per second over ``[start, end]``."""
    if end <= start:
        raise ValueError("empty interval")
    return count / (end - start)


def lateness(due: list[float], sent: list[float]) -> list[float]:
    """How late each send ran against its schedule (never negative)."""
    if len(due) != len(sent):
        raise ValueError("due and sent differ in length")
    return [max(0.0, s - d) for d, s in zip(due, sent)]
