"""Summary statistics of per-op latencies."""

from __future__ import annotations

# A tail is reported only when at least this many samples lie beyond it.
TAIL_BEYOND = 10


def tail(samples: list[float]) -> tuple[float, float, int] | None:
    """The highest percentile that has at least ``TAIL_BEYOND`` samples
    beyond it, as ``(value, percentile, n)``; None below
    ``TAIL_BEYOND + 1`` samples.

    With the samples sorted ascending, the value at 1-based rank
    ``n - TAIL_BEYOND`` is the largest one with ten samples above it,
    and it sits at percentile ``100 * rank / n``."""
    n = len(samples)
    if n <= TAIL_BEYOND:
        return None
    rank = n - TAIL_BEYOND
    return sorted(samples)[rank - 1], 100.0 * rank / n, n
