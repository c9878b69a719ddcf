"""Pure metric math for the benchmark: percentiles, tails, ratios,
span self time and failure accounting. No Spark here, so every rule is
unit-tested on its own (``perfbench/tests/test_metrics.py``)."""

from __future__ import annotations

import statistics
from collections.abc import Iterable, Sequence
from dataclasses import dataclass, field

TAIL_BEYOND = 10


@dataclass(frozen=True)
class Tail:
    """The tail of a latency sample: ``value`` sits at ``percentile``
    and ``beyond`` samples lie above it, out of ``n``."""

    value: float
    percentile: float
    beyond: int
    n: int


def tail(samples: Sequence[float], beyond: int = TAIL_BEYOND) -> Tail:
    """The highest percentile with at least ``beyond`` samples above it.

    Rank-based on the sorted sample: the value at index ``n - 1 -
    beyond`` has exactly ``beyond`` samples after it, and its
    percentile is ``100 * index / (n - 1)``. With ``beyond`` or fewer
    samples no such percentile exists; the maximum is returned with
    ``beyond`` set to 0 so the caller can report that the figure is a
    maximum, not a tail percentile."""
    if not samples:
        raise ValueError("tail of an empty sample")
    xs = sorted(samples)
    n = len(xs)
    if n <= beyond:
        return Tail(xs[-1], 100.0, 0, n)
    idx = n - 1 - beyond
    return Tail(xs[idx], 100.0 * idx / (n - 1), beyond, n)


def median(samples: Sequence[float]) -> float:
    if not samples:
        raise ValueError("median of an empty sample")
    return float(statistics.median(samples))


def bytes_per_input_byte(bytes_written: int, input_bytes: int) -> float:
    """Bytes the sinks wrote per byte of source input read."""
    if input_bytes <= 0:
        raise ValueError("input_bytes must be positive")
    if bytes_written < 0:
        raise ValueError("bytes_written must be non-negative")
    return bytes_written / input_bytes


def union_length(intervals: Iterable[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping [start, end) intervals."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted((s, e) for s, e in intervals if e > s):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: Sequence[dict]) -> dict[int, float]:
    """Self time per span id: the span's duration minus the part of its
    interval that its direct children cover (children are clipped to
    the parent, and overlapping children are counted once)."""
    by_id = {s["id"]: s for s in spans}
    children: dict[int, list[tuple[float, float]]] = {i: [] for i in by_id}
    for s in spans:
        parent = s.get("parent")
        if parent is not None and parent in by_id:
            p = by_id[parent]
            children[parent].append(
                (max(s["start"], p["start"]), min(s["end"], p["end"]))
            )
    return {
        i: (s["end"] - s["start"]) - union_length(children[i])
        for i, s in by_id.items()
    }


@dataclass
class OpLog:
    """Closed-loop accounting per op kind. An op that raised counts as
    failed; an op whose output a later check rejects counts as wrong.
    Both are failures against the number attempted."""

    durations: dict[str, list[float]] = field(default_factory=dict)
    attempted: int = 0
    raised: int = 0
    wrong: int = 0

    def record(self, kind: str, seconds: float | None) -> None:
        """``seconds`` is None for an op that raised."""
        self.attempted += 1
        if seconds is None:
            self.raised += 1
        else:
            self.durations.setdefault(kind, []).append(seconds)

    def mark_wrong(self, count: int = 1) -> None:
        self.wrong += count

    @property
    def failed(self) -> int:
        return self.raised + self.wrong

    @property
    def failed_frac(self) -> float:
        if self.attempted == 0:
            raise ValueError("no ops attempted")
        return self.failed / self.attempted

    @property
    def ok_frac(self) -> float:
        return 1.0 - self.failed_frac


def quartile_spread(values: Sequence[float]) -> float:
    """(Q3 - Q1) / median, with quartiles as ``statistics.quantiles(n=4)``
    gives them — the steadiness rule the benchmark is tuned against."""
    q1, _, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    if med == 0:
        raise ValueError("median is zero")
    return (q3 - q1) / abs(med)
