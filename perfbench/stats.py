"""Arithmetic the benchmark reports: medians, the eligible tail,
quartile spread, span self time and ``/proc/<pid>/io`` deltas.

Pure functions over plain numbers so ``test_stats.py`` can pin them.
"""

from __future__ import annotations

import math
import statistics

TAIL_MIN_SAMPLES = 20
TAIL_MIN_BEYOND = 10


def median(values: list[float]) -> float:
    return statistics.median(values)


def tail(values: list[float]) -> tuple[float, float, int] | None:
    """The highest nearest-rank percentile that still has at least
    ``TAIL_MIN_BEYOND`` samples above it, as ``(value, percentile,
    samples_beyond)``; ``None`` below ``TAIL_MIN_SAMPLES`` samples,
    where such a percentile would sit at or below the median."""
    n = len(values)
    if n < TAIL_MIN_SAMPLES:
        return None
    xs = sorted(values)
    k = n - TAIL_MIN_BEYOND  # 1-based rank: exactly TAIL_MIN_BEYOND ranks above it
    return xs[k - 1], 100.0 * k / n, n - k


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """``(q1, median, q3, (q3 - q1) / median)`` as
    ``statistics.quantiles(values, n=4)`` gives the quartiles."""
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3, (q3 - q1) / q2 if q2 else math.inf


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by the union of ``[start, end]`` intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(start: float, end: float, children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of it its children cover
    (children clipped to the span; overlapping children count once)."""
    clipped = [(max(s, start), min(e, end)) for s, e in children if e > start and s < end]
    return (end - start) - union_length(clipped)


def parse_proc_io(text: str) -> dict[str, int]:
    """``/proc/<pid>/io`` as a dict of counters."""
    out = {}
    for line in text.splitlines():
        key, _, val = line.partition(":")
        if val.strip().isdigit():
            out[key.strip()] = int(val)
    return out


def io_delta(before: str, after: str, key: str) -> int:
    """Growth of one ``/proc/<pid>/io`` counter between two reads; the
    counters only grow within one process."""
    d = parse_proc_io(after)[key] - parse_proc_io(before)[key]
    if d < 0:
        raise ValueError(f"{key} went backwards: not the same process")
    return d


def wchar_delta(before: str, after: str) -> int:
    """Bytes passed to write-family syscalls between two reads."""
    return io_delta(before, after, "wchar")


def rchar_delta(before: str, after: str) -> int:
    """Bytes returned by read-family syscalls between two reads."""
    return io_delta(before, after, "rchar")
