"""Order statistics and the batch classification the runner reports."""

from __future__ import annotations

import math
import statistics

TAIL_QUANTILES = (50.0, 90.0, 95.0, 99.0, 99.9)


def median(xs: list[float]) -> float:
    if not xs:
        raise ValueError("median of no samples")
    return float(statistics.median(xs))


def percentile(xs: list[float], q: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least q% of the
    samples at or below it."""
    if not xs:
        raise ValueError("percentile of no samples")
    s = sorted(xs)
    return float(s[max(math.ceil(q / 100.0 * len(s)), 1) - 1])


def tail_quantile(n: int) -> float | None:
    """The highest of TAIL_QUANTILES with at least ten of ``n`` samples
    beyond it; None when even the median has fewer."""
    best = None
    for q in TAIL_QUANTILES:
        if n - math.ceil(q / 100.0 * n) >= 10:
            best = q
    return best


def summary(xs: list[float]) -> dict:
    """Median, sample count, and the tail percentile the sample supports."""
    out = {"n": len(xs), "p50": median(xs)}
    q = tail_quantile(len(xs))
    if q is not None and q > 50.0:
        out[f"p{q:g}"] = percentile(xs, q)
    return out


def split_commits(batches: list[dict]) -> tuple[list[float], list[float]]:
    """(ordinary, maintenance) commit latencies.

    A batch is a maintenance batch when ``apply_batch`` ran in-line
    maintenance (``inline_maint``) or the benchmark ran prune/expire right
    after it (``maint_s`` set); its latency is the commit plus that
    maintenance. Every other batch is ordinary and counts its commit alone.
    The two are separate modes, so neither median straddles them."""
    ordinary, maint = [], []
    for b in batches:
        if b["inline_maint"] or b.get("maint_s") is not None:
            maint.append(b["apply_s"] + (b.get("maint_s") or 0.0))
        else:
            ordinary.append(b["apply_s"])
    return ordinary, maint
