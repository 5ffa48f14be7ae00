"""Order statistics for the benchmark's reports (standard library only)."""

from __future__ import annotations

import math

#: samples that must lie beyond a reported tail percentile
TAIL_BEYOND = 10
#: the highest tail percentile reported
TAIL_CAP = 0.99


def tail_rank(n: int) -> int:
    """0-based index into `n` sorted samples of the highest percentile
    (nearest rank, at most p99) that has at least `TAIL_BEYOND` samples
    after it. With `n <= TAIL_BEYOND` none qualifies and the maximum is
    used."""
    if n <= 0:
        raise ValueError("tail of no samples")
    if n <= TAIL_BEYOND:
        return n - 1
    return min(n - 1 - TAIL_BEYOND, math.ceil(TAIL_CAP * n) - 1)


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest supportable tail percentile."""
    s = sorted(values)
    i = tail_rank(len(s))
    return s[i], round(100.0 * (i + 1) / len(s), 1)
