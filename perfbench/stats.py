"""Pure helpers: percentiles, span self time, interval cover, and the
file -> micro-batch latency mapping. No Spark imports, so the self-tests
exercise them without a session."""

from __future__ import annotations

import math


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest value with at least ``p``
    percent of the samples at or below it. With two samples p50 is the
    smaller and p90 the larger, so every reported value is one that was
    measured."""
    if not values:
        raise ValueError("percentile of no samples")
    if not 0 < p <= 100:
        raise ValueError(f"percentile {p} outside (0, 100]")
    ordered = sorted(values)
    return ordered[max(0, math.ceil(p / 100 * len(ordered)) - 1)]


def covered(intervals: list[tuple[float, float]], lo: float | None = None,
            hi: float | None = None) -> float:
    """Length of the union of ``intervals``, clipped to ``[lo, hi]``."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    total, end = 0.0, -math.inf
    for a, b in sorted(clipped):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Per span id: duration minus the part of it covered by child spans."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {
        s["id"]: (s["end"] - s["start"])
        - covered(children.get(s["id"], []), s["start"], s["end"])
        for s in spans
    }


def file_commit_latencies(
    due: list[float], rows_per_file: int, batches: list[tuple[int, float]]
) -> list[float | None]:
    """Latency of each due file: from its due time to the commit of the
    first micro-batch whose cumulative input rows cover it.

    ``due[k]`` is file k's due time; files are consumed in due order, each
    holding ``rows_per_file`` rows. ``batches`` is the listener feed as
    (input rows, commit time) in batch order, counted from the start of
    the paced phase. A file no batch covers gets ``None``.
    """
    out: list[float | None] = []
    cumulative, b = 0, 0
    for k, t_due in enumerate(due):
        need = (k + 1) * rows_per_file
        while cumulative < need and b < len(batches):
            cumulative += batches[b][0]
            b += 1
        out.append(batches[b - 1][1] - t_due if cumulative >= need else None)
    return out
