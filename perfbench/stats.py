"""Statistics helpers for the benchmark: medians, the tail percentile,
span self time and the tracing-overhead line. Stdlib only."""

from __future__ import annotations

import math
import statistics

# percentiles a tail may be reported at, highest first
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
MIN_BEYOND = 10


median = statistics.median


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least p% of
    the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    rank = max(1, math.ceil(p / 100.0 * len(s)))
    return s[rank - 1]


def tail(values: list[float]):
    """The highest percentile on TAIL_LADDER with at least MIN_BEYOND
    samples beyond it, as (percentile, value, n); None when even the
    lowest rung has fewer than MIN_BEYOND samples beyond it."""
    n = len(values)
    for p in TAIL_LADDER:
        if n - max(1, math.ceil(p / 100.0 * n)) >= MIN_BEYOND:
            return p, percentile(values, p), n
    return None


def format_tail(name: str, t, unit: str) -> str:
    if t is None:
        return f"# {name}: no tail (fewer than {MIN_BEYOND} samples beyond p50)"
    p, v, n = t
    return f"# {name}: p{p:g} = {v:.3f} {unit} (n={n})"


def self_time(span: tuple[float, float], children: list[tuple[float, float]]) -> float:
    """A span's duration minus the part of its interval that its child
    spans cover (overlapping children are counted once)."""
    start, end = span
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in children):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (end - start) - covered


def overhead_line(metric: str, traced: float, untraced: float, unit: str) -> str:
    """The tracing-overhead line: traced minus untraced end-to-end time."""
    diff = traced - untraced
    pct = 100.0 * diff / untraced if untraced else float("nan")
    return (
        f"# tracing overhead: {metric} traced {traced:.4f} {unit} - untraced "
        f"{untraced:.4f} {unit} = {diff:+.4f} {unit} ({pct:+.1f}%)"
    )
