"""Summaries of per-operation samples, as the benchmark reports them."""

from __future__ import annotations

import math
import statistics

TAIL_MIN_BEYOND = 10
# Candidate tail percentiles, highest first.
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def percentile(samples: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    s = sorted(samples)
    return s[max(0, math.ceil(p / 100 * len(s)) - 1)]


def beyond(n: int, p: float) -> int:
    """How many of n samples lie above the nearest-rank p-th percentile."""
    return n - max(1, math.ceil(p / 100 * n))


def tail(samples: list[float]) -> tuple[float, float | None]:
    """(value, percentile) of the highest candidate percentile with at least
    TAIL_MIN_BEYOND samples beyond it. With too few samples for any
    percentile, the tail is the largest sample and the percentile is None:
    the report then says so instead of naming a percentile it cannot
    support."""
    n = len(samples)
    for p in TAIL_PERCENTILES:
        if beyond(n, p) >= TAIL_MIN_BEYOND:
            return percentile(samples, p), p
    return max(samples), None


def summarize(samples: list[float], items: int, busy_s: float, attempted: int, failed: int) -> dict:
    """The five end-to-end figures of one workload run. `samples` are the
    per-operation latencies in seconds, `items` the work units completed in
    `busy_s` seconds of the closed loop."""
    tail_v, tail_p = tail(samples)
    return {
        "items_per_s": items / busy_s,
        "latency_p50_s": statistics.median(samples),
        "latency_tail_s": tail_v,
        "tail_percentile": tail_p,
        "samples": len(samples),
        "latency_samples": samples,
        "failed_frac": failed_frac(attempted, failed),
    }


def failed_frac(attempted: int, failed: int) -> float:
    if attempted < 1:
        raise ValueError("no operation was attempted")
    return failed / attempted
