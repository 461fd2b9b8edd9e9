"""Mixed continuous/categorical kNN mutual information — pure numpy.

Behavioral port of the reference's ``mutual_information_util.py`` (96-715):
Kraskov/Stoegbauer/Grassberger PRE 69.066138 for ordinal-ordinal MI, Ross
PLoS ONE 9(2):e87357 for categorical-ordinal MI, and an entropy
decomposition for categorical-categorical — composed for arbitrary mixed
feature sets via the reference's identity

    I({C0,D0};{C1,D1}) = I({C0,C1};{D0,D1}) + I(C0;C1) + I(D0;D1)
                         - I(C0;D0) - I(C1;D1)

with the same missing-value filling, unit-variance scaling, tiny
tie-breaking noise, per-sample weights, filter feature, and the
``smaller_data`` / ``larger_data`` estimate methods (the PRE paper's
methods 1 and 2). Output is in bits.

This module owns the package's only copies of the MI kernels: ``_digamma``,
the neighbour searches (``_kneighbors``, ``_radius_counts``), KSG
(``_mi_high_dim_cc``), Ross (``_mi_high_dim_cd``) and the plug-in estimate
(``_mi_high_dim_dd`` over ``_entropy_discrete``). [[mi]] (``kraskov_mi``,
``estimated_mutual_information``) and [[mi_sklearn]] (the sklearn-parity
estimators, in nats) call them rather than carrying their own.

The reference leans on sklearn KDTree/NearestNeighbors and scipy digamma;
neither ships in this image, so the k-nearest-neighbour search is a chunked
Chebyshev scan (O(n^2) time, O(chunk*n) memory), one-dimensional radius
counts are sorted searchsorteds (O(n log n)), and digamma is a vectorized
recurrence + asymptotic expansion. This is sized for the per-partition
samples (a few thousand rows) that the partitioned stats harness
(``sparse.partitioned_stats``) feeds it — the same regime the reference runs
these estimators in (each Beam partition computes MI on its own sample;
``partitioned_stats_generator.py``).
"""

from __future__ import annotations

import math
from typing import List, Optional, Tuple, Union

import numpy as np

# Missing-value markers (mutual_information_util.py:82-93): a unique string
# for categorical NaNs so they form their own category, and an offset that
# pushes missing ordinals far from real data so kNN treats them as a
# separate cluster.
_NONE_STR = b"__none_0bd6f1ac-6b46-4f8a-a058-7c32af9c29f2__"
_NONE_NUM = 10.0
_NOISE_AMPLITUDE = 1e-10
_LN2 = math.log(2)


# --------------------------------------------------------------- numerics
def _digamma(x) -> np.ndarray:
    """Vectorized digamma: push arguments above 6 by the recurrence
    psi(x) = psi(x+1) - 1/x, then a 4-term asymptotic expansion."""
    x = np.asarray(x, dtype=np.float64).copy()
    r = np.zeros_like(x)
    with np.errstate(divide="ignore", invalid="ignore"):
        while True:
            m = x < 6
            if not m.any():
                break
            r[m] -= 1.0 / x[m]
            x[m] += 1.0
        f = 1.0 / (x * x)
        return r + np.log(x) - 0.5 / x - f * (
            1.0 / 12 - f * (1.0 / 120 - f * (1.0 / 252 - f / 240))
        )


def _cheb_block(block: np.ndarray, arr: np.ndarray) -> np.ndarray:
    """Chebyshev distances from each row of ``block`` to every row of
    ``arr``, accumulated one dimension at a time so peak memory stays
    O(len(block) * n) regardless of dimensionality."""
    d = np.abs(block[:, None, 0] - arr[None, :, 0])
    for j in range(1, arr.shape[1]):
        np.maximum(d, np.abs(block[:, None, j] - arr[None, :, j]), out=d)
    return d


def _kneighbors(arr: np.ndarray, k: int, chunk: int = 256):
    """k nearest neighbors (Chebyshev, self excluded) — the sklearn
    ``NearestNeighbors.kneighbors()`` contract: returns (distances, indices)
    of shape (n, k), nearest first."""
    n = arr.shape[0]
    dists = np.empty((n, k), dtype=np.float64)
    idx = np.empty((n, k), dtype=np.int64)
    for s in range(0, n, chunk):
        block = arr[s : s + chunk]
        d = _cheb_block(block, arr)
        rows = np.arange(d.shape[0])
        d[rows, s + rows] = np.inf  # exclude self
        part = np.argpartition(d, k - 1, axis=1)[:, :k]
        pdist = d[rows[:, None], part]
        order = np.argsort(pdist, axis=1, kind="stable")
        idx[s : s + chunk] = part[rows[:, None], order]
        dists[s : s + chunk] = pdist[rows[:, None], order]
    return dists, idx


def _radius_counts(arr: np.ndarray, radius: np.ndarray, chunk: int = 256) -> np.ndarray:
    """Number of points within Chebyshev distance ``radius[i]`` of point i,
    INCLUDING the point itself — the sklearn ``KDTree.query_radius(...,
    count_only=True)`` contract the reference builds on.

    1-D fast path: Chebyshev distance in one dimension is |x - y|, so the
    count is an interval rank query — two searchsorteds on the sorted
    column, O(n log n) total instead of O(n^2). This is the hot call (each
    subspace count in the cc/cd kernels is per-feature, hence usually 1-D)."""
    n = arr.shape[0]
    if arr.shape[1] == 1:
        x = arr[:, 0]
        s = np.sort(x)
        hi = np.searchsorted(s, x + radius, side="right")
        lo = np.searchsorted(s, x - radius, side="left")
        # The additions x±radius round, which matters: smaller_data passes a
        # radius one ulp inside the k-th neighbor distance to EXCLUDE the
        # boundary point, and a rounded-up x+radius silently re-includes it
        # (a psi(k+1)-psi(k) bias that never averages out). Correct both
        # bounds against the exact |s[j] - x| <= radius predicate.
        while True:
            m = (hi > lo) & (np.abs(s[np.clip(hi - 1, 0, n - 1)] - x) > radius)
            if not m.any():
                break
            hi[m] -= 1
        while True:
            m = (hi < n) & (np.abs(s[np.clip(hi, 0, n - 1)] - x) <= radius)
            if not m.any():
                break
            hi[m] += 1
        while True:
            m = (lo < hi) & (np.abs(s[np.clip(lo, 0, n - 1)] - x) > radius)
            if not m.any():
                break
            lo[m] += 1
        while True:
            m = (lo > 0) & (np.abs(s[np.clip(lo - 1, 0, n - 1)] - x) <= radius)
            if not m.any():
                break
            lo[m] -= 1
        return (hi - lo).astype(np.int64)
    counts = np.empty(n, dtype=np.int64)
    for s in range(0, n, chunk):
        d = _cheb_block(arr[s : s + chunk], arr)
        counts[s : s + chunk] = (d <= radius[s : s + chunk, None]).sum(axis=1)
    return counts


# ------------------------------------------------------------ MI kernels
def _process_high_dim(
    arr: np.ndarray, radius: np.ndarray, estimate_method: str, weights: np.ndarray
) -> Tuple[float, np.ndarray]:
    """mutual_information_util.py:574-586 — neighbor-count digamma terms."""
    radius_ns = _radius_counts(arr, radius)
    if estimate_method == "smaller_data":
        each = -_digamma(radius_ns) * weights
    else:
        each = -_digamma(radius_ns - 1) * weights
    return float(np.sum(each)), each


def _mi_high_dim_cc(
    arr0: np.ndarray,
    arr1: np.ndarray,
    k: int,
    estimate_method: str,
    weights: np.ndarray,
) -> Tuple[float, np.ndarray]:
    """Ordinal-ordinal MI (mutual_information_util.py:588-639): KSG with
    one shared radius (smaller_data, method 1) or per-subspace projected
    radii (larger_data, method 2)."""
    arr = np.hstack([arr0, arr1])
    m0 = arr0.shape[1]
    n_samples = arr.shape[0]

    k_dists, k_idx = _kneighbors(arr, k)

    if estimate_method == "smaller_data":
        # One radius just inside the k-th neighbor, shared by both subspaces
        # (strict inequality via nextafter, as in the PRE paper's method 1).
        r = np.nextafter(k_dists[:, -1], 0)
        r0 = r
        r1 = r
    else:
        # Per-subspace projection of the k-neighborhood: the largest
        # coordinate distance to any of the k neighbors, per subspace.
        r = np.abs(arr - arr[k_idx[:, 0]])
        for i in range(1, k_idx.shape[1]):
            np.maximum(r, np.abs(arr - arr[k_idx[:, i]]), out=r)
        r0 = np.max(r[:, :m0], axis=1)
        r1 = np.max(r[:, m0:], axis=1)

    mi0, each0 = _process_high_dim(arr0, r0, estimate_method, weights)
    mi1, each1 = _process_high_dim(arr1, r1, estimate_method, weights)
    mi = (mi0 + mi1) / float(n_samples)

    if estimate_method == "smaller_data":
        extra = (_digamma(k) + _digamma(n_samples)) * weights
    else:
        extra = (_digamma(k) + _digamma(n_samples) - 1.0 / k) * weights
    mi += float(np.mean(extra))
    each = each0 + each1 + extra
    return max(0.0, mi / _LN2), each / _LN2


def _mi_high_dim_cd(
    arr: np.ndarray,
    arr_d: np.ndarray,
    k: int,
    estimate_method: str,
    weights: np.ndarray,
) -> Tuple[float, np.ndarray]:
    """Ordinal-categorical MI (mutual_information_util.py:641-704) — the
    Ross PLoS estimator: per-label kNN radius, then neighbor counts over
    the pooled continuous space; singleton labels are dropped."""
    n_all = arr_d.size
    radius = np.empty(n_all)
    label_counts = np.empty(n_all)
    k_all = np.empty(n_all)
    each = np.zeros(n_all)

    for label in np.unique(arr_d):
        mask = arr_d == label
        count = int(np.sum(mask))
        if count > 1:
            cur_k = min(k, count - 1)
            k_dists, _ = _kneighbors(arr[mask], cur_k)
            if estimate_method == "smaller_data":
                radius[mask] = np.nextafter(k_dists[:, -1], 0)
            else:
                radius[mask] = k_dists[:, -1]
            k_all[mask] = cur_k
        label_counts[mask] = count

    mask = label_counts > 1
    if not np.any(mask):
        raise ValueError(
            "The tuples defined by discrete features (of either side) are "
            "all unique."
        )

    n_samples = int(np.sum(mask))
    mi, mi_each = _process_high_dim(
        arr[mask], radius[mask], estimate_method, weights[mask]
    )
    mi /= n_samples
    extra = (
        _digamma(n_samples) + _digamma(k_all[mask]) - _digamma(label_counts[mask])
    ) * weights[mask]
    mi += float(np.mean(extra))
    each[mask] += mi_each + extra
    return max(0.0, mi / _LN2), each / _LN2


def _entropy_discrete(
    discrete_f: np.ndarray, weight_f: np.ndarray
) -> Tuple[float, np.ndarray]:
    """Weighted plug-in entropy of one categorical array
    (mutual_information_util.py:425-434)."""
    _, inverse_idx, unique_counts = np.unique(
        discrete_f, return_inverse=True, return_counts=True
    )
    group_counts = unique_counts[inverse_idx]
    each = -np.log2(group_counts / discrete_f.size) * weight_f
    return float(np.mean(each)), each


def _mi_high_dim_dd(
    df0: np.ndarray, df1: np.ndarray, weight_f: np.ndarray
) -> Tuple[float, np.ndarray]:
    """Categorical-categorical MI as H(X) + H(Y) - H(X,Y)
    (mutual_information_util.py:706-715)."""
    mi0, each0 = _entropy_discrete(df0, weight_f)
    mi1, each1 = _entropy_discrete(df1, weight_f)
    mi01, each01 = _entropy_discrete(_merge_categorical([df0, df1]), weight_f)
    return max(0.0, mi0 + mi1 - mi01), each0 + each1 - each01


# ---------------------------------------------------------- array prep
def _to_dense_discrete_array(f: np.ndarray) -> np.ndarray:
    import pandas as pd

    ret = f.astype(bytes)
    ret[pd.isnull(f)] = _NONE_STR
    return ret


def _replace_none_categorical(f: np.ndarray) -> np.ndarray:
    """Missing ordinals become one far-away cluster
    (mutual_information_util.py:388-397): only other missing samples count
    as their neighbors."""
    if np.all(np.isnan(f)):
        return np.full_like(f, _NONE_NUM)
    return np.nan_to_num(
        f, copy=True, nan=2 * np.nanmax(f) - np.nanmin(f) + _NONE_NUM
    )


def _unit_variance_scale(f: np.ndarray) -> np.ndarray:
    """mutual_information_util.py:399-409 (ddof=1; constant -> zeros with
    NaNs preserved)."""
    f_nan_max = np.nanmax(f)
    f_nan_min = np.nanmin(f)
    if np.isnan(f_nan_max) or np.isnan(f_nan_min):
        raise ValueError("Continuous feature all missing.")
    if f_nan_max == f_nan_min:
        ret = np.full_like(f, np.nan, dtype=float)
        ret[~np.isnan(f)] = 0
        return ret
    return (f - np.nanmean(f)) / np.nanstd(f, ddof=1)


def _merge_categorical(discrete_fs: List[np.ndarray]):
    """Joins parallel categorical arrays into one with ':' separators
    (mutual_information_util.py:412-422)."""
    if not discrete_fs:
        return None
    out = discrete_fs[0].astype(bytes)
    for f in discrete_fs[1:]:
        out = np.char.add(np.char.add(out, b":"), f.astype(bytes))
    return out


def _to_noisy_numpy_array(cf_list: List[np.ndarray]) -> Optional[np.ndarray]:
    """Stacks ordinal features column-wise and adds the reference's tiny
    degeneracy-breaking noise (mutual_information_util.py:559-571) — drawn
    from the global numpy RNG, seeded by the caller exactly as the
    reference does."""
    if not cf_list:
        return None
    arr = np.hstack([f.reshape((-1, 1)) for f in cf_list])
    means = np.maximum(1, np.mean(np.abs(arr), axis=0))
    arr = arr + _NOISE_AMPLITUDE * means * np.random.randn(*arr.shape)
    return arr


def _fill_missing_values(f: np.ndarray, is_categorical: bool) -> np.ndarray:
    import pandas as pd

    if is_categorical:
        f = f.astype(object)
        f[pd.isnull(f)] = np.nan
        return f
    return f.astype(float)


def _validate_args(
    feature_list0,
    feature_list1,
    is_categorical_list0,
    is_categorical_list1,
    k,
    estimate_method,
    weight_feature,
    filter_feature,
    output_each=False,
    seed=None,
) -> None:
    """mutual_information_util.py:448-486 — the same assertion surface."""
    assert len(feature_list0) > 0 and len(feature_list1) > 0, (
        "Both feature lists must be nonempty."
    )
    assert len(feature_list0) == len(is_categorical_list0)
    assert len(feature_list1) == len(is_categorical_list1)
    assert isinstance(k, int) and k >= 3, "k must be an integer >= 3."
    assert estimate_method in ("smaller_data", "larger_data")
    n = len(feature_list0[0])
    for f in list(feature_list0) + list(feature_list1):
        assert len(f) == n, "All features must have the same length."
    if weight_feature is not None:
        assert len(weight_feature) == n
    if filter_feature is not None:
        assert len(filter_feature) == n
    assert isinstance(output_each, bool)
    assert seed is None or (isinstance(seed, int) and seed > 0)
    for f, cat in list(zip(feature_list0, is_categorical_list0)) + list(
        zip(feature_list1, is_categorical_list1)
    ):
        if not cat and np.asarray(f).dtype == float:
            assert not np.isinf(np.asarray(f, dtype=float)).any(), (
                "Infinite values are not supported."
            )


def _feature_list_to_numpy_arrays(
    feature_list0,
    feature_list1,
    is_categorical_list0,
    is_categorical_list1,
    weight_feature,
    filter_feature,
):
    """mutual_information_util.py:517-556 — split ordinal vs categorical,
    fill missing, apply the boolean filter row mask."""
    n_samples = len(feature_list0[0])
    if weight_feature is None:
        weights = np.ones(n_samples, dtype=float)
    else:
        weights = np.asarray(weight_feature).astype(float)

    def select(feature_list, is_cat_list, keep_categorical):
        return [
            _fill_missing_values(np.asarray(f), cat)
            for f, cat in zip(feature_list, is_cat_list)
            if cat is keep_categorical
        ]

    cf0 = select(feature_list0, is_categorical_list0, False)
    cf1 = select(feature_list1, is_categorical_list1, False)
    df0 = select(feature_list0, is_categorical_list0, True)
    df1 = select(feature_list1, is_categorical_list1, True)
    if filter_feature is not None:
        filt = np.asarray(filter_feature)
        cf0 = [f[filt] for f in cf0]
        cf1 = [f[filt] for f in cf1]
        df0 = [f[filt] for f in df0]
        df1 = [f[filt] for f in df1]
        weights = weights[filt]
    return cf0, cf1, df0, df1, weights


# --------------------------------------------------------------- drivers
def _mi_for_arrays(
    c_arrs0,
    c_arrs1,
    d_arrs0,
    d_arrs1,
    weights=None,
    k: int = 3,
    estimate_method: str = "larger_data",
    seed: Optional[int] = None,
) -> Tuple[float, np.ndarray]:
    """mutual_information_util.py:250-320 — the mixed-set decomposition."""
    assert bool(c_arrs0 + d_arrs0) and bool(c_arrs1 + d_arrs1), (
        "Both sides are expected to be nonempty."
    )
    fs = list(c_arrs0) + list(c_arrs1) + list(d_arrs0) + list(d_arrs1)
    for other in fs[1:]:
        assert len(fs[0]) == len(other)

    np.random.seed(seed)

    c_arrs0 = [_replace_none_categorical(_unit_variance_scale(f)) for f in c_arrs0]
    c_arrs1 = [_replace_none_categorical(_unit_variance_scale(f)) for f in c_arrs1]
    d_arrs0 = [_to_dense_discrete_array(f) for f in d_arrs0]
    d_arrs1 = [_to_dense_discrete_array(f) for f in d_arrs1]

    arr0 = _to_noisy_numpy_array(c_arrs0)
    arr1 = _to_noisy_numpy_array(c_arrs1)
    df0 = _merge_categorical(d_arrs0)
    df1 = _merge_categorical(d_arrs1)

    if weights is None:
        weights = np.ones(len(fs[0]), dtype=float)

    if (arr0 is None and arr1 is None) or (df0 is None and df1 is None):
        mi_c01_d01, each_c01_d01 = 0.0, 0.0
    else:
        arr = np.hstack(
            ([] if arr0 is None else [arr0]) + ([] if arr1 is None else [arr1])
        )
        dfm = _merge_categorical(
            ([] if df0 is None else [df0]) + ([] if df1 is None else [df1])
        )
        mi_c01_d01, each_c01_d01 = _mi_high_dim_cd(
            arr, dfm, k, estimate_method, weights
        )

    if arr0 is None or arr1 is None:
        mi_c0_c1, each_c0_c1 = 0.0, 0.0
    else:
        mi_c0_c1, each_c0_c1 = _mi_high_dim_cc(arr0, arr1, k, estimate_method, weights)

    if df0 is None or df1 is None:
        mi_d0_d1, each_d0_d1 = 0.0, 0.0
    else:
        mi_d0_d1, each_d0_d1 = _mi_high_dim_dd(df0, df1, weights)

    if arr0 is None or df0 is None:
        mi_c0_d0, each_c0_d0 = 0.0, 0.0
    else:
        mi_c0_d0, each_c0_d0 = _mi_high_dim_cd(arr0, df0, k, estimate_method, weights)

    if arr1 is None or df1 is None:
        mi_c1_d1, each_c1_d1 = 0.0, 0.0
    else:
        mi_c1_d1, each_c1_d1 = _mi_high_dim_cd(arr1, df1, k, estimate_method, weights)

    final_mi = max(0.0, mi_c01_d01 + mi_c0_c1 + mi_d0_d1 - mi_c0_d0 - mi_c1_d1)
    each = each_c01_d01 + each_c0_c1 + each_d0_d1 - each_c0_d0 - each_c1_d1
    return final_mi, np.asarray(each)


def _adjusted_mi_for_arrays(
    c_arrs0,
    c_arrs1,
    d_arrs0,
    d_arrs1,
    weights=None,
    k: int = 3,
    estimate_method: str = "larger_data",
    seed: Optional[int] = None,
) -> float:
    """mutual_information_util.py:322-380 — AMI = MI - MI(side0 shuffled),
    shuffling every side-0 feature with ONE shared permutation."""
    if seed is not None:
        np.random.seed(seed)
    seed1 = None if seed is None else np.random.randint(0, 1000)
    mi, _ = _mi_for_arrays(
        c_arrs0, c_arrs1, d_arrs0, d_arrs1, weights, k, estimate_method, seed1
    )
    shuffle_seed = np.random.randint(0, 1000)
    array_length = len((list(c_arrs0) + list(c_arrs1) + list(d_arrs0) + list(d_arrs1))[0])
    np.random.seed(shuffle_seed)
    shuffled_index = np.random.permutation(array_length)
    shuffled_c0 = [a[shuffled_index] for a in c_arrs0]
    shuffled_d0 = [a[shuffled_index] for a in d_arrs0]
    seed2 = None if seed is None else np.random.randint(0, 1000)
    mi_shuffled, _ = _mi_for_arrays(
        shuffled_c0, c_arrs1, shuffled_d0, d_arrs1, weights, k, estimate_method, seed2
    )
    return max(mi - mi_shuffled, 0.0)


def mutual_information(
    feature_list0: List[np.ndarray],
    feature_list1: List[np.ndarray],
    is_categorical_list0: List[bool],
    is_categorical_list1: List[bool],
    k: int = 3,
    estimate_method: str = "larger_data",
    weight_feature: Optional[np.ndarray] = None,
    filter_feature: Optional[np.ndarray] = None,
    output_each: bool = False,
    seed: Optional[int] = None,
) -> Union[float, Tuple[float, np.ndarray]]:
    """MI in bits between two mixed feature lists
    (mutual_information_util.py:96-182 surface)."""
    _validate_args(
        feature_list0,
        feature_list1,
        is_categorical_list0,
        is_categorical_list1,
        k,
        estimate_method,
        weight_feature,
        filter_feature,
        output_each,
        seed,
    )
    cf0, cf1, df0, df1, weights = _feature_list_to_numpy_arrays(
        feature_list0,
        feature_list1,
        is_categorical_list0,
        is_categorical_list1,
        weight_feature,
        filter_feature,
    )
    final_mi, each = _mi_for_arrays(
        cf0, cf1, df0, df1, weights, k, estimate_method, seed
    )
    if output_each:
        return final_mi, each
    return final_mi


def adjusted_mutual_information(
    feature_list0: List[np.ndarray],
    feature_list1: List[np.ndarray],
    is_categorical_list0: List[bool],
    is_categorical_list1: List[bool],
    k: int = 3,
    estimate_method: str = "larger_data",
    weight_feature: Optional[np.ndarray] = None,
    filter_feature: Optional[np.ndarray] = None,
    seed: Optional[int] = None,
) -> float:
    """Adjusted MI (chance-corrected by a shuffled baseline;
    mutual_information_util.py:185-248 surface)."""
    _validate_args(
        feature_list0,
        feature_list1,
        is_categorical_list0,
        is_categorical_list1,
        k,
        estimate_method,
        weight_feature,
        filter_feature,
        False,
        seed,
    )
    cf0, cf1, df0, df1, weights = _feature_list_to_numpy_arrays(
        feature_list0,
        feature_list1,
        is_categorical_list0,
        is_categorical_list1,
        weight_feature,
        filter_feature,
    )
    return _adjusted_mi_for_arrays(
        cf0, cf1, df0, df1, weights, k, estimate_method, seed
    )


def estimated_mixed_mi(
    df,
    features0: List[str],
    features1: List[str],
    categorical0: List[bool],
    categorical1: List[bool],
    weight_col: Optional[str] = None,
    k: int = 3,
    estimate_method: str = "larger_data",
    adjusted: bool = False,
    num_partitions: int = 10,
    max_rows_per_partition: int = 2000,
    seed: int = 42,
) -> dict:
    """Spark wrapper: mixed-MI per random partition via the partitioned
    stats harness, summarized min/max/mean/median/std across partitions —
    the shape ``mutual_information.py`` runs these estimators in (each
    partition computes MI on its own sample). ``max_rows_per_partition``
    bounds the O(n^2) neighbour search."""
    import pandas as pd

    from data_validation_spark.stats.sparse import partitioned_stats

    cols = list(features0) + list(features1) + ([weight_col] if weight_col else [])

    def fn(pdf: pd.DataFrame) -> dict:
        if len(pdf) > max_rows_per_partition:
            pdf = pdf.sample(n=max_rows_per_partition, random_state=0)
        fl0 = [pdf[c].to_numpy() for c in features0]
        fl1 = [pdf[c].to_numpy() for c in features1]
        w = pdf[weight_col].to_numpy() if weight_col else None
        fn_ = adjusted_mutual_information if adjusted else mutual_information
        val = fn_(
            fl0, fl1, list(categorical0), list(categorical1),
            k=k, estimate_method=estimate_method, weight_feature=w, seed=1,
        )
        return {"mixed_mi_bits": float(val)}

    out = partitioned_stats(
        df.select(*cols), fn, num_partitions=num_partitions, seed=seed
    )
    return out["mixed_mi_bits"]
