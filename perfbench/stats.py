"""The tail-latency rule of ``search_tail_ms``."""

from __future__ import annotations

#: samples that must lie above the reported tail percentile
BEYOND = 10


def tail(xs: list[float]) -> tuple[float, float, int]:
    """The highest percentile that still has at least ``BEYOND`` samples
    above it: the sample at sorted index ``n - BEYOND - 1``.

    Returns ``(value, percentile, n)``. With ``n <= BEYOND`` no percentile
    qualifies, and the maximum is returned with percentile 100.
    """
    n = len(xs)
    if n == 0:
        raise ValueError("tail of no samples")
    s = sorted(xs)
    if n <= BEYOND:
        return s[-1], 100.0, n
    i = n - BEYOND - 1
    return s[i], 100.0 * (i + 1) / n, n
