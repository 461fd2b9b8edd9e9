"""Histogram construction from quantile boundaries.

Numpy port of the reference's histogram math
(``tensorflow_data_validation/utils/quantiles_util.py:49-379``):

* QUANTILES histogram: equal-mass buckets from quantile boundaries, with
  duplicate-boundary (point-mass) coalescing.
* STANDARD histogram: equi-width buckets derived from a finer quantile grid by
  interval-overlap interpolation (the reference computes 100× the requested
  bucket count of quantiles, then redistributes assuming uniform in-bucket
  mass), with dedicated ±inf buckets and a NaN count.
"""

from __future__ import annotations

import math
from typing import Optional, Sequence

import numpy as np

from data_validation_spark.stats.result import Histogram, HistogramBucket


def get_bin_weights(boundaries, cumulative_counts):
    """Faithful port of ``quantiles_util.py:49-89`` (``_get_bin_weights``):
    per-bin weights from (possibly duplicated) boundaries + cumulative
    counts. Weight of bins sharing an upper bound is spread evenly across
    them, and the min element's own count (``cumulative_counts[0]``) is
    spread across the leading identical bins — duplicates are KEPT as
    distinct point-mass buckets, not coalesced."""
    b = np.asarray(boundaries, dtype=np.float64)
    cum = np.asarray(cumulative_counts, dtype=np.float64)
    low, high = b[:-1], b[1:]
    counts = np.diff(cum)
    n = low.size
    i = 0
    while i < n:
        j = i + 1
        while j < n and high[i] == high[j]:
            j += 1
        if j > i + 1:
            counts[i:j] = counts[i:j].sum() / (j - i)
        i = j
    i = 0
    while i < n and low[0] == low[i] and high[0] == high[i]:
        i += 1
    if i > 0:
        counts[0:i] += cum[0] / i
    return low, high, counts


def quantiles_histogram(
    boundaries: Sequence[float],
    total_count: float,
    num_buckets: int,
    num_nan: int = 0,
    cumulative_counts: Optional[Sequence[float]] = None,
) -> Optional[Histogram]:
    """Equal-mass histogram from ``num_buckets+1`` quantile boundaries via the
    reference's duplicate-spreading rule (``_get_bin_weights``).

    ``boundaries`` must be the quantiles at i/num_buckets, i=0..num_buckets
    (a finer grid is resampled down). Without explicit ``cumulative_counts``
    the grid is equal-mass by construction — cum[i] = total·i/n, with
    cum[0] = 0 (the min's multiplicity is unknown from a percentile grid;
    the reference's sketch knows it and folds it into the first bucket — a
    bounded divergence only when the minimum value is heavily duplicated).
    """
    if boundaries is None or total_count <= 0:
        return None
    b = [float(x) for x in boundaries]
    if cumulative_counts is not None:
        cum = [float(x) for x in cumulative_counts]
    else:
        cum = [total_count * i / (len(b) - 1) for i in range(len(b))]
    if len(b) != num_buckets + 1:
        # Resample a finer grid down to num_buckets.
        idx = np.linspace(0, len(b) - 1, num_buckets + 1).round().astype(int)
        b = [b[i] for i in idx]
        cum = [cum[i] for i in idx]
    low, high, counts = get_bin_weights(b, cum)
    buckets = [
        HistogramBucket(float(low[i]), float(high[i]), float(counts[i]))
        for i in range(low.size)
    ]
    return Histogram("QUANTILES", buckets, num_nan=num_nan)


def _overlap(b_low, b_high, low_bound, high_bound, first_bucket):
    """``quantiles_util.py:201-284`` (``_overlap``): fraction of a quantiles
    bucket's mass falling in [low_bound, high_bound], plus precedes/follows
    flags. A point bucket on the first interval's left edge belongs to it."""
    if first_bucket and b_high == b_low == low_bound:
        return 1.0, False, False
    if not first_bucket and b_high == b_low == low_bound:
        return 0.0, True, False
    if b_high < low_bound:
        return 0.0, True, False
    if b_low > high_bound:
        return 0.0, False, True
    if low_bound <= b_low and high_bound >= b_high:
        return 1.0, False, False
    if low_bound <= b_low:
        return (high_bound - b_low) / (b_high - b_low), False, False
    if high_bound >= b_high:
        return (b_high - low_bound) / (b_high - b_low), False, False
    return (high_bound - low_bound) / (b_high - b_low), False, False


def _equi_width_from_finite(quantiles, cum, finite_min, finite_max, num_buckets):
    """Core of ``generate_equi_width_histogram`` after infinity stripping
    (``quantiles_util.py:332-375``): build the quantiles histogram, then merge
    its buckets into equi-width bins by overlap."""
    low, high, weights = get_bin_weights(quantiles, cum)
    if finite_min == finite_max:
        new_boundaries = np.array([finite_min, finite_max], dtype=np.float64)
    else:
        new_boundaries = np.linspace(finite_min, finite_max, num_buckets + 1)
        if not np.isfinite(new_boundaries).all():
            # overflow (finite span > float range): bail with no buckets,
            # matching the reference's empty-histogram fallback
            return []
    buckets = []
    start_index = 0
    for i in range(new_boundaries.size - 1):
        lb, hb = new_boundaries[i], new_boundaries[i + 1]
        sample = 0.0
        for j in range(start_index, low.size):
            frac, precedes, follows = _overlap(low[j], high[j], lb, hb, i == 0)
            if follows:
                break
            if precedes:
                start_index = j
            sample += frac * weights[j]
        buckets.append(HistogramBucket(float(lb), float(hb), float(sample)))
    return buckets


def _strip_infinities(quantiles, cum, finite_max, num_pos_inf):
    """``quantiles_util.py:142-198``: drop ±inf boundary buckets, returning
    the finite (quantiles, cumulative counts) and the -inf mass removed."""
    q = np.asarray(quantiles, dtype=np.float64)
    c = np.asarray(cum, dtype=np.float64)
    neg_inf_idx = int(np.searchsorted(q, float("-inf"), side="right"))
    if neg_inf_idx:
        num_neg_inf = c[neg_inf_idx - 1]
        c = c[neg_inf_idx:] - num_neg_inf
        q = q[neg_inf_idx:]
    else:
        num_neg_inf = 0.0
    if num_pos_inf:
        pos_inf_index = int(np.searchsorted(q, float("inf"), side="left"))
        finite_max_count = c[-1] - num_pos_inf
        q = np.concatenate([q[:pos_inf_index], np.array([finite_max])])
        c = np.concatenate([c[:pos_inf_index], np.array([finite_max_count])])
    return q, c, num_neg_inf


def generate_equi_width_histogram(
    quantiles,
    cumulative_counts,
    finite_min: float,
    finite_max: float,
    num_buckets: int,
    num_pos_inf: float,
    num_nan: int = 0,
) -> Histogram:
    """Faithful port of ``quantiles_util.py:286-379``
    (``generate_equi_width_histogram``): quantile boundaries may contain
    ±inf; infinities become their own POINT buckets (low == high == ±inf) at
    the ends, exactly like the reference proto output."""
    q = np.asarray(quantiles, dtype=np.float64)
    c = np.asarray(cumulative_counts, dtype=np.float64)
    if not np.isfinite(finite_min) and not np.isfinite(finite_max):
        # no finite values at all → one bucket spanning the inf bounds
        return Histogram(
            "STANDARD",
            [HistogramBucket(float(finite_min), float(finite_max), float(c[-1]))],
            num_nan=num_nan,
        )
    assert np.all(q[:-1] <= q[1:]), "quantiles must be sorted"
    q, c, num_neg_inf = _strip_infinities(q, c, finite_max, num_pos_inf)
    buckets = []
    if num_neg_inf:
        buckets.append(
            HistogramBucket(float("-inf"), float("-inf"), float(num_neg_inf))
        )
    buckets += _equi_width_from_finite(q, c, finite_min, finite_max, num_buckets)
    if num_pos_inf:
        buckets.append(HistogramBucket(float("inf"), float("inf"), float(num_pos_inf)))
    return Histogram("STANDARD", buckets, num_nan=num_nan)


def equi_width_histogram(
    fine_boundaries: Sequence[float],
    total_count: float,
    num_buckets: int,
    num_nan: int = 0,
    num_pos_inf: int = 0,
    num_neg_inf: int = 0,
) -> Optional[Histogram]:
    """STANDARD equi-width histogram from a FINITE uniform quantile grid.

    ``fine_boundaries``: quantiles of the *finite* values at a fine grid
    (length K+1 ⇒ each interval carries total_count/K mass; the reference uses
    K = 100 × num_buckets, cf. ``basic_stats_generator.py:1163-1170``).
    Merging uses the reference's overlap rule; ±inf counts become POINT
    buckets (low == high == ±inf) at the ends, matching the reference's
    proto shape; NaN count is carried on the histogram.
    """
    if fine_boundaries is None or total_count <= 0:
        if num_pos_inf or num_neg_inf:
            buckets = []
            if num_neg_inf:
                buckets.append(
                    HistogramBucket(float("-inf"), float("-inf"), num_neg_inf)
                )
            if num_pos_inf:
                buckets.append(HistogramBucket(float("inf"), float("inf"), num_pos_inf))
            return Histogram("STANDARD", buckets, num_nan=num_nan)
        return None
    q = np.asarray(fine_boundaries, dtype=np.float64)
    k = len(q) - 1
    if k < 1:
        return None
    cum = total_count * np.arange(k + 1) / k
    lo, hi = float(q[0]), float(q[-1])
    buckets = []
    if num_neg_inf:
        buckets.append(HistogramBucket(float("-inf"), float("-inf"), float(num_neg_inf)))
    buckets += _equi_width_from_finite(q, cum, lo, hi, num_buckets)
    if num_pos_inf:
        buckets.append(HistogramBucket(float("inf"), float("inf"), float(num_pos_inf)))
    return Histogram("STANDARD", buckets, num_nan=num_nan)


def weighted_quantile_grid(pieces, qs: Sequence[float]):
    """Weighted quantiles from the long pass's pieces.

    ``pieces`` holds ``(lo, hi, before, w)`` per piece of the values, sorted
    by ``lo``: the smallest and largest value in it, the total weight of all
    smaller values and its own weight. Pieces never overlap in value, and
    they need not cover all values: only those that hold a grid point come
    back, plus the first and the last. The quantile at ``q`` is read in the
    first piece whose weight reaches ``q·W`` (so ``before < q·W ≤ before +
    w``), interpolated from ``lo`` to ``hi`` by the share of that piece's
    weight used; a piece with ``lo == hi`` gives its value exactly. ``q = 0``
    and ``q = 1`` give the minimum and the maximum. Returns (the grid at
    ``qs``, ``W``), or None without pieces.
    """
    if not pieces:
        return None
    lo, hi, before, w = (np.asarray(c, dtype=np.float64) for c in zip(*pieces))
    end = before + w
    q = np.asarray(qs, dtype=np.float64)
    target = q * end[-1]
    i = np.minimum(np.searchsorted(end, target, side="left"), w.size - 1)
    used = np.divide(target - before[i], w[i], out=np.zeros_like(target),
                     where=w[i] > 0)
    grid = np.minimum(lo[i] + (hi[i] - lo[i]) * np.clip(used, 0.0, 1.0), hi[i])
    grid[q <= 0] = lo[0]
    grid[q >= 1] = hi[-1]
    return [float(x) for x in grid], float(end[-1])


def median_from_boundaries(boundaries: Sequence[float]) -> float:
    """Median from quantile boundaries (``quantiles_util.py:23-46``): odd
    count → middle boundary; even count → mean of the two middles."""
    n = len(boundaries)
    if n == 0:
        return float("nan")
    mid = n // 2
    if n % 2 == 0:
        return (float(boundaries[mid - 1]) + float(boundaries[mid])) / 2.0
    return float(boundaries[mid])
