"""Drift / skew distance metrics — behavioral port of the reference's
``tensorflow_data_validation/anomalies/metrics.cc:46-416``:

* L-infinity distance over separately-normalized string-value count vectors.
* Max normalized absolute difference (combined-total normalization).
* Jensen-Shannon divergence over aligned numeric histograms (union-boundary
  rebucketing assuming uniform in-bucket mass; point-mass, ±inf, and NaN
  buckets handled as dedicated mismatch buckets) or over categorical count maps.

All driver-side: inputs are tiny stats artifacts, not raw data.
"""

from __future__ import annotations

import math
from typing import Optional

from data_validation_spark.stats.result import Histogram, HistogramBucket


def linfty_distance(counts_a: dict[str, float], counts_b: dict[str, float]) -> tuple[str, float]:
    """L∞ over separately-normalized count vectors; returns (argmax key, value)."""
    return _max_normalized_difference(counts_a, counts_b, combined=False)


def normalized_absolute_difference(
    counts_a: dict[str, float], counts_b: dict[str, float]
) -> tuple[str, float]:
    """Max |a_i − b_i| with both vectors scaled by the combined total."""
    return _max_normalized_difference(counts_a, counts_b, combined=True)


def _max_normalized_difference(a: dict, b: dict, combined: bool) -> tuple[str, float]:
    if combined:
        scale = sum(a.values()) + sum(b.values())
        na = {k: v / scale for k, v in a.items()} if scale else {}
        nb = {k: v / scale for k, v in b.items()} if scale else {}
    else:
        ta, tb = sum(a.values()), sum(b.values())
        na = {k: v / ta for k, v in a.items()} if ta else {}
        nb = {k: v / tb for k, v in b.items()} if tb else {}
    keys = sorted(set(na) | set(nb))
    best = ("", 0.0)
    for k in keys:
        d = abs(na.get(k, 0.0) - nb.get(k, 0.0))
        if d >= best[1]:
            best = (k, d)
    return best


# ------------------------------------------------------------------ JSD -----
def jensen_shannon_divergence_counts(
    map_1: dict[str, float], map_2: dict[str, float]
) -> Optional[float]:
    """JSD over two categorical count maps (metrics.cc:367-416)."""
    if not map_1 or not map_2:
        return None
    a_sum = sum(map_1.values())
    b_sum = sum(map_2.values())
    if a_sum <= 0 or b_sum <= 0:
        return None
    # sorted, not set order: the float sum must not depend on string hashing,
    # which changes from process to process
    keys = sorted(set(map_1) | set(map_2))
    kl_sum = 0.0
    for k in keys:
        pa = map_1.get(k, 0.0) / a_sum
        pb = map_2.get(k, 0.0) / b_sum
        m = (pa + pb) / 2
        # m can underflow to 0.0 for denormal probabilities (found by the
        # hypothesis fuzz layer: pa=0, pb=5e-324 → m=0 while pb>0); the
        # term's contribution is ≤ pb·1074 bits ≈ 1e-321 — skip it.
        if m <= 0.0:
            continue
        if pa > 0:
            kl_sum += pa * math.log2(pa / m)
        if pb > 0:
            kl_sum += pb * math.log2(pb / m)
    return min(kl_sum / 2, 1.0)


def jensen_shannon_divergence_histograms(h1: Histogram, h2: Histogram) -> Optional[float]:
    """JSD over two numeric histograms after boundary alignment."""
    if h1 is None or h2 is None:
        return None
    p, q = align_histograms(h1, h2)
    tp = sum(p)
    tq = sum(q)
    if tp == 0 or tq == 0:
        return None
    p = [x / tp for x in p]
    q = [x / tq for x in q]
    kl = 0.0
    for a, b in zip(p, q):
        m = (a + b) / 2
        if a > 0 and m > 0:
            kl += a * math.log2(a / m)
        if b > 0 and m > 0:
            kl += b * math.log2(b / m)
    return min(kl / 2, 1.0)


def align_histograms(h1: Histogram, h2: Histogram) -> tuple[list[float], list[float]]:
    """Rebucket both histograms to union boundaries; returns aligned count
    vectors including point-mass, ±inf-mass, and NaN mismatch buckets
    (port of metrics.cc AlignHistograms)."""
    s1, pts1, inf1 = _strip(h1)
    s2, pts2, inf2 = _strip(h2)
    b1 = _boundaries(s1)
    b2 = _boundaries(s2)
    if b1 != b2:
        bounds = sorted(b1 | b2)
        c1 = _rebucket(bounds, s1)
        c2 = _rebucket(bounds, s2)
    else:
        c1 = [b.sample_count for b in s1]
        c2 = [b.sample_count for b in s2]
    # Point masses as aligned extra buckets.
    for pb in sorted(set(pts1) | set(pts2)):
        c1.append(pts1.get(pb, 0.0))
        c2.append(pts2.get(pb, 0.0))
    # Infinite-bound mass as mismatching buckets.
    if inf1 != 0:
        c1.append(inf1)
        c2.append(0.0)
    if inf2 != 0:
        c1.append(0.0)
        c2.append(inf2)
    # NaN buckets.
    if h1.num_nan > 0 or h2.num_nan > 0:
        c1 += [0.0, float(h1.num_nan)]
        c2 += [float(h2.num_nan), 0.0]
    return c1, c2


def _strip(h: Histogram):
    """Split into (finite-width buckets, point-mass map, infinite mass)."""
    buckets: list[HistogramBucket] = []
    points: dict[float, float] = {}
    inf_mass = 0.0
    for b in h.buckets:
        if not (math.isfinite(b.low_value) and math.isfinite(b.high_value)):
            inf_mass += b.sample_count
        elif b.low_value == b.high_value:
            points[b.low_value] = points.get(b.low_value, 0.0) + b.sample_count
        else:
            buckets.append(b)
    return buckets, points, inf_mass


def _boundaries(buckets: list[HistogramBucket]) -> set[float]:
    out = set()
    for b in buckets:
        out.add(b.low_value)
        out.add(b.high_value)
    return out


def _rebucket(bounds: list[float], buckets: list[HistogramBucket]) -> list[float]:
    """Redistribute counts onto ``bounds`` (every original boundary is in
    ``bounds``, so overlaps are never partial) — port of RebucketHistogram."""
    out: list[float] = []
    max_idx = len(bounds) - 1
    idx = 0
    for b in buckets:
        lo, hi, cnt = b.low_value, b.high_value, b.sample_count
        while idx < max_idx and lo > bounds[idx]:
            out.append(0.0)
            idx += 1
        covered = []
        while idx < max_idx and hi > bounds[idx]:
            covered.append(bounds[idx])
            idx += 1
        covered.append(bounds[idx])
        if len(covered) > 1:
            total_range = hi - lo
            for i in range(len(covered) - 1):
                frac = (covered[i + 1] - covered[i]) / total_range if total_range else 0.0
                out.append(frac * cnt)
    while idx < max_idx:
        out.append(0.0)
        idx += 1
    return out
