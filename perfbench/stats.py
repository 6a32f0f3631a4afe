"""Arithmetic of the benchmark: percentiles, interval unions, self time,
job-to-span attribution and temp-dir accounting.

Pure functions over plain numbers, tuples and paths, so they are tested
without Spark (``python3 -m pytest perfbench/tests``).
"""

from __future__ import annotations

import math
import os

#: Percentiles tried, highest first, when picking a tail to report.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank ``q``-th percentile (0 < q <= 100) of a non-empty list."""
    xs = sorted(values)
    rank = max(1, math.ceil(q / 100.0 * len(xs)))
    return xs[rank - 1]


def beyond(n: int, q: float) -> int:
    """How many of ``n`` samples lie past the nearest-rank ``q``-th percentile."""
    return n - max(1, math.ceil(q / 100.0 * n))


def tail(values: list[float], min_beyond: int = 10) -> tuple[float, float, int] | None:
    """``(percentile, value, samples)`` for the highest percentile of
    :data:`TAIL_LADDER` with at least ``min_beyond`` samples beyond it, or
    ``None`` when even the median has fewer."""
    for q in TAIL_LADDER:
        if beyond(len(values), q) >= min_beyond:
            return q, percentile(values, q), len(values)
    return None


def union(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    """Merge overlapping ``(start, end)`` intervals; empty ones are dropped."""
    merged: list[tuple[float, float]] = []
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if merged and s <= merged[-1][1]:
            merged[-1] = (merged[-1][0], max(merged[-1][1], e))
        else:
            merged.append((s, e))
    return merged


def covered(intervals: list[tuple[float, float]], window: tuple[float, float]) -> float:
    """Length of ``window`` covered by the union of ``intervals``."""
    lo, hi = window
    return sum(e - s for s, e in union([(max(s, lo), min(e, hi)) for s, e in intervals]))


def driver_gap(window: tuple[float, float], jobs: list[tuple[float, float]]) -> float:
    """Wall time of ``window`` during which no Spark job was running."""
    return (window[1] - window[0]) - covered(jobs, window)


def self_times(spans: list[tuple[int, int | None, float, float]]) -> dict[int, float]:
    """Self time per span id, for spans given as ``(id, parent, start, end)``:
    the span's duration minus the part of it its children cover (children
    running on pool threads may overlap each other)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for sid, parent, s, e in spans:
        if parent is not None:
            children.setdefault(parent, []).append((s, e))
    return {sid: (e - s) - covered(children.get(sid, []), (s, e)) for sid, _p, s, e in spans}


def innermost(spans: list[tuple[int, float, float]], t: float) -> int | None:
    """Id of the innermost span, given as ``(id, start, end)``, that was open
    at time ``t``: the latest-started one containing ``t``, the shortest on a
    tie. Used to charge a Spark job to the span that submitted it, since jobs
    submitted from pool threads carry no job group."""
    best = None
    for sid, s, e in spans:
        if s <= t <= e and (best is None or (s, -(e - s)) > (best[1], -(best[2] - best[1]))):
            best = (sid, s, e)
    return None if best is None else best[0]


def attribute(spans: list[tuple[int, float, float]], submitted: dict[int, float]) -> dict[int, int | None]:
    """Map each job id to :func:`innermost` at its submission time."""
    return {job: innermost(spans, t) for job, t in submitted.items()}


def tree_bytes(path: str) -> int:
    """Bytes of regular files under ``path`` (a file or a directory)."""
    if not os.path.isdir(path):
        try:
            return os.lstat(path).st_size
        except OSError:
            return 0
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(root, f)).st_size
            except OSError:
                pass  # removed while walking
    return total


def tmp_snapshot(path: str) -> set[str]:
    """Names of the entries directly under ``path``."""
    try:
        return set(os.listdir(path))
    except FileNotFoundError:
        return set()


def tmp_left(path: str, before: set[str]) -> tuple[int, int]:
    """``(entries, bytes)`` that appeared under ``path`` since ``before``."""
    new = tmp_snapshot(path) - before
    return len(new), sum(tree_bytes(os.path.join(path, n)) for n in new)
