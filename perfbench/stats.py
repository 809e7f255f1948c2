"""Summary statistics for the benchmark's samples."""

from __future__ import annotations

TAIL_BEYOND = 10  # a tail percentile needs at least this many samples above it


def median(xs: list[float]) -> float:
    s = sorted(xs)
    if not s:
        raise ValueError("median of no samples")
    mid = len(s) // 2
    return s[mid] if len(s) % 2 else (s[mid - 1] + s[mid]) / 2


def tail(xs: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, float]:
    """(percentile, value): the highest nearest-rank percentile that
    still has at least ``beyond`` samples above its rank.

    With n samples that is rank n - beyond, i.e. percentile
    100 * (n - beyond) / n.  Fewer than beyond + 1 samples cannot
    support any tail and raise."""
    n = len(xs)
    if n <= beyond:
        raise ValueError(f"{n} samples cannot leave {beyond} beyond a tail percentile")
    rank = n - beyond  # 1-based nearest rank
    return 100.0 * rank / n, sorted(xs)[rank - 1]
