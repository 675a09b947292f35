"""Arithmetic the benchmark reports: percentiles, open-loop latency and span
self time. Pure functions, covered by ``perfbench/tests``."""

from __future__ import annotations

import math
from typing import Callable, Iterable


def percentile(values: Iterable[float], q: float) -> float:
    """The ``q``-th percentile (0-100) by linear interpolation between the
    closest ranks (numpy's default method)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    if not 0 <= q <= 100:
        raise ValueError(f"percentile {q} outside 0..100")
    pos = (len(xs) - 1) * q / 100
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values: Iterable[float]) -> float:
    return percentile(values, 50)


def open_loop_latencies(
    batches: list[tuple[float, float, list[int]]], due: Callable[[int], float]
) -> tuple[dict[int, float], dict[int, float]]:
    """Per-height latency and wait of an open-loop stream.

    ``batches`` holds ``(poll_time, end_time, heights)`` for each batch: the
    head was read at ``poll_time`` and the batch's files were durable at
    ``end_time``. A height's latency runs from when its block was *due*, so
    time spent queued behind a slow batch counts; its wait is the part
    before the batch that took it read the head."""
    latency: dict[int, float] = {}
    wait: dict[int, float] = {}
    for poll, end, heights in batches:
        for h in heights:
            latency[h] = end - due(h)
            wait[h] = poll - due(h)
    return latency, wait


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time of each span: its duration minus the union of the
    intervals its direct children cover (clipped to the span)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.get("parent") is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered = 0.0
        cur_s = cur_e = None
        for a, b in sorted(children.get(s["id"], [])):
            a, b = max(a, s["start"]), min(b, s["end"])
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out
