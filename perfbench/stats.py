"""The benchmark's own statistics: percentiles, tail choice, open-loop
timing and failure accounting. Pure Python, no dependencies."""

from __future__ import annotations

import math

#: percentiles a tail may be reported at, highest first
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
FAILED = math.inf  # a failed or refused request misses every latency limit


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it. A failed request (FAILED) sorts above
    every real latency."""
    if not values:
        raise ValueError("percentile of no samples")
    ordered = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(ordered)))
    return ordered[rank - 1]


def beyond(n: int, p: float) -> int:
    """How many of n samples lie above the nearest-rank p-th percentile."""
    return n - max(1, math.ceil(p / 100.0 * n))


def tail_percentile(
    values: list[float], min_beyond: int = 10, ladder=TAIL_LADDER
) -> tuple[float | None, float | None]:
    """(p, value) for the highest percentile on the ladder that has at
    least ``min_beyond`` samples beyond it, or (None, None) when even the
    lowest rung has too few."""
    for p in ladder:
        if beyond(len(values), p) >= min_beyond:
            return p, percentile(values, p)
    return None, None


def summarize(values: list[float]) -> dict:
    """Median, the reportable tail, and the sample count, for a
    human-readable line."""
    if not values:
        return {"n": 0}
    p, tail = tail_percentile(values)
    return {"n": len(values), "p50": percentile(values, 50), "tail_p": p, "tail": tail}


def open_loop_timings(requests: list[dict]) -> tuple[list[float], list[float]]:
    """Latency and lateness of open-loop requests.

    Each request carries ``due`` (when the schedule said to send it),
    ``sent`` (when the generator actually sent it), ``done`` (when the
    reply arrived) and ``ok``. Latency runs from ``due``, so a stall that
    delays later sends is charged to those requests too; lateness
    (``sent - due``) shows how far the generator itself fell behind. A
    failed or refused request's latency is FAILED."""
    latencies, lateness = [], []
    for r in requests:
        lateness.append(r["sent"] - r["due"])
        latencies.append(r["done"] - r["due"] if r["ok"] else FAILED)
    return latencies, lateness


def share_within(latencies: list[float], limit: float) -> float:
    """Share of requests that met a latency limit; failures never do."""
    if not latencies:
        return 0.0
    return sum(1 for x in latencies if x <= limit) / len(latencies)


def median(values: list[float]) -> float:
    return percentile(values, 50)
