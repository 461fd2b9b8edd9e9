"""SkLearnMutualInformation parity — per-feature MI / AMI / normalized AMI
against a label (sklearn_mutual_information.py:40-464) without sklearn.

Two layers:

1. An estimator compatible with sklearn's public ``mutual_info_regression``
   / ``mutual_info_classif`` (the KSG estimator of Kraskov PRE 69.066138 for
   continuous pairs, the Ross PLoS ONE 9(2):e87357 estimator for
   continuous-discrete, and the contingency plug-in for discrete pairs, all
   in nats). The estimators themselves are the [[mi_mixed]] kernels, which
   own them; this module only converts bits to nats and keeps sklearn's
   edge rules. Noise injection and scaling follow sklearn's
   ``_estimate_mi`` (unit-variance scale without centering, 1e-10 relative
   noise from a seeded RandomState) so results reproduce the reference's
   sklearn-derived goldens bit-for-bit.

2. The TFDV generator semantics: univalent-only columns, imputation
   (categorical missing -> fill category; numeric missing/NaN -> 10*max),
   categorical integer encoding, AMI = MI - MI(shuffled labels), and
   normalized AMI = AMI / (max{H(label), H(feature)} - shuffle_mi) clipped
   to [0, 1].
"""

from __future__ import annotations

import sys
from typing import Dict, Optional, Sequence, Set, Union

import numpy as np

from data_validation_spark.stats.mi_mixed import (
    _LN2,
    _mi_high_dim_cc,
    _mi_high_dim_cd,
    _mi_high_dim_dd,
)
from data_validation_spark.stats.mi_relevance import (
    _analyzer_summary,
    _cell_values,
    infer_feature_kinds,
)

MUTUAL_INFORMATION_KEY = "sklearn_mutual_information"
ADJUSTED_MUTUAL_INFORMATION_KEY = "sklearn_adjusted_mutual_information"
NORMALIZED_ADJUSTED_MUTUAL_INFORMATION_KEY = (
    "sklearn_normalized_adjusted_mutual_information"
)
CATEGORICAL_FEATURE_IMPUTATION_FILL_VALUE = "__missing_category__"
_KNN_N_NEIGHBORS = 3


# ------------------------------------------------- sklearn-parity kernels
def mutual_info_score(x: np.ndarray, y: np.ndarray) -> float:
    """Discrete-discrete contingency plug-in MI in nats (sklearn
    metrics.mutual_info_score semantics, clipped at 0)."""
    _, xi = np.unique(np.asarray(x), return_inverse=True)
    _, yi = np.unique(np.asarray(y), return_inverse=True)
    bits, _ = _mi_high_dim_dd(xi, yi, np.ones(xi.size))
    return bits * _LN2


def _column(v) -> np.ndarray:
    return np.asarray(v, dtype=np.float64).reshape((-1, 1))


def _compute_mi(x, y, x_discrete: bool, y_discrete: bool, n_neighbors: int) -> float:
    """sklearn ``_compute_mi`` in nats: KSG for continuous pairs, Ross for
    continuous-discrete, plug-in for discrete pairs — the [[mi_mixed]]
    kernels with the ``smaller_data`` method (sklearn's strict-inside
    radius) and unit weights."""
    if x_discrete and y_discrete:
        return mutual_info_score(x, y)
    weights = np.ones(len(x))
    if x_discrete or y_discrete:
        c, d = (y, x) if x_discrete else (x, y)
        if not (np.unique(d, return_counts=True)[1] > 1).any():
            return 0.0  # sklearn drops singleton labels; here that is all of them
        bits, _ = _mi_high_dim_cd(_column(c), d, n_neighbors, "smaller_data", weights)
    else:
        bits, _ = _mi_high_dim_cc(
            _column(x), _column(y), n_neighbors, "smaller_data", weights
        )
    return bits * _LN2


def _scale_no_mean(arr: np.ndarray) -> np.ndarray:
    """sklearn preprocessing.scale(with_mean=False): divide by the ddof-0
    std, constant columns left unscaled."""
    std = np.std(arr, axis=0)
    std = np.where(std == 0.0, 1.0, std)
    return arr / std


def _estimate_mi(
    X: np.ndarray,
    y: np.ndarray,
    discrete_features: Union[bool, Sequence[bool]],
    discrete_target: bool,
    n_neighbors: int = 3,
    random_state: Optional[int] = None,
) -> np.ndarray:
    """sklearn feature_selection._estimate_mi: scale + noise continuous
    columns with a seeded RandomState (X noise first, then y), then one MI
    per column."""
    X = np.asarray(X)
    if X.ndim == 1:
        X = X.reshape((-1, 1))
    n_samples, n_features = X.shape
    if isinstance(discrete_features, (bool, np.bool_)):
        discrete_mask = np.full(n_features, bool(discrete_features))
    else:
        discrete_mask = np.asarray(discrete_features, dtype=bool)
    continuous_mask = ~discrete_mask

    rng = np.random.RandomState(random_state)
    if np.any(continuous_mask):
        X = X.astype(np.float64, copy=True)
        X[:, continuous_mask] = _scale_no_mean(X[:, continuous_mask])
        means = np.maximum(1, np.mean(np.abs(X[:, continuous_mask]), axis=0))
        X[:, continuous_mask] += (
            1e-10
            * means
            * rng.standard_normal(size=(n_samples, int(np.sum(continuous_mask))))
        )
    if not discrete_target:
        y = np.asarray(y, dtype=np.float64)
        y = y / (np.std(y) or 1.0)
        y = y + (
            1e-10
            * max(1.0, float(np.mean(np.abs(y))))
            * rng.standard_normal(size=n_samples)
        )
    return np.array(
        [
            _compute_mi(X[:, i], y, bool(discrete_mask[i]), discrete_target, n_neighbors)
            for i in range(n_features)
        ]
    )


def mutual_info_regression(
    X, y, *, discrete_features=False, n_neighbors=3, copy=True, random_state=None
) -> np.ndarray:
    return _estimate_mi(X, y, discrete_features, False, n_neighbors, random_state)


def mutual_info_classif(
    X, y, *, discrete_features=False, n_neighbors=3, copy=True, random_state=None
) -> np.ndarray:
    return _estimate_mi(X, y, discrete_features, True, n_neighbors, random_state)


def _calculate_mi_wrapper(
    feature: np.ndarray,
    label: np.ndarray,
    discrete_features,
    seed: int,
    is_label_categorical: bool,
) -> Optional[np.ndarray]:
    """sklearn_mutual_information.py:418-464 — the small-sample guard."""
    if is_label_categorical:
        calc = mutual_info_classif
    else:
        if len(feature) <= _KNN_N_NEIGHBORS:
            return None
        calc = mutual_info_regression
    return calc(
        feature,
        label,
        discrete_features=discrete_features,
        n_neighbors=_KNN_N_NEIGHBORS,
        random_state=seed,
    )


# --------------------------------------------------------- TFDV generator
def flatten_and_impute(pdf, categorical_features: Set[str]) -> Dict[str, np.ndarray]:
    """sklearn_mutual_information.py:49-113 on univalent pandas columns:
    categorical missing -> fill category; numeric NaN/missing -> 10*max of
    the observed values (sys.maxsize when nothing was observed)."""
    num_rows = len(pdf)
    result = {}
    for name in pdf.columns:
        cells = [_cell_values(c) for c in pdf[name]]
        if name in categorical_features:
            fill = CATEGORICAL_FEATURE_IMPUTATION_FILL_VALUE
            values = [v[0] if v else fill for v in cells]
            result[name] = np.asarray(values, dtype=object)
        else:
            raw = np.array([v[0] if v else np.nan for v in cells], dtype=np.float64)
            nan_mask = np.isnan(raw)
            if np.all(nan_mask):
                fill = float(sys.maxsize)
            else:
                fill = float(raw[~nan_mask].max() * 10)
            raw[nan_mask] = fill
            result[name] = raw
        assert len(result[name]) == num_rows
    return result


class SkLearnMutualInformationStats:
    """sklearn_mutual_information.py:115-415 — MI, AMI and normalized AMI
    of every univalent feature against the label, per row partition."""

    def __init__(
        self,
        label_feature: str,
        categorical_features: Set[str],
        schema_features: Optional[Set[str]] = None,
        multivalent_features: Optional[Set[str]] = None,
        seed: int = 12345,
    ):
        self._label_feature = label_feature
        self._categorical_features = set(categorical_features)
        self._schema_features = set(schema_features) if schema_features else None
        self._multivalent_features = set(multivalent_features or ())
        self._label_feature_is_categorical = (
            label_feature in self._categorical_features
        )
        # The reference seeds numpy's global RNG here; the label shuffle
        # draws from a RandomState(seed) of its own per compute() instead, so
        # a Python worker reused across partitions shuffles the same way.
        self._seed = seed

    def _remove_unsupported_feature_columns(self, pdf):
        """Drop multivalent / out-of-schema columns (the reference drops
        list-nested >1 and STRUCT arrow columns)."""
        drop = set(self._multivalent_features)
        for name in pdf.columns:
            if self._schema_features is not None and name not in self._schema_features:
                drop.add(name)
                continue
            for cell in pdf[name]:
                if isinstance(cell, (list, tuple, np.ndarray)) and len(cell) > 1:
                    drop.add(name)
                    break
                if isinstance(cell, dict):
                    drop.add(name)
                    break
        return pdf.drop(columns=[c for c in drop if c in pdf.columns])

    def _convert_categorical_features_to_numeric(self, df) -> np.ndarray:
        """sklearn_mutual_information.py:318-364 — integer-encode
        categorical columns; drop all-unique categoricals under a
        regression label."""
        is_categorical = [False for _ in df.columns]
        columns_to_drop = []
        indices_to_drop = []
        for i, column in enumerate(df.columns):
            if column in self._categorical_features:
                def maybe_decode_or_impute(x):
                    if isinstance(x, bytes):
                        return x.decode("utf-8", "replace")
                    elif x is not None:
                        return x
                    return CATEGORICAL_FEATURE_IMPUTATION_FILL_VALUE

                str_array = [maybe_decode_or_impute(x) for x in df[column].values]
                unique_elements, encoded = np.unique(str_array, return_inverse=True)
                df[column] = encoded
                is_categorical[i] = True
                if (
                    unique_elements.size == df[column].shape[0]
                    and not self._label_feature_is_categorical
                ):
                    columns_to_drop.append(column)
                    indices_to_drop.append(i)
        df.drop(columns_to_drop, axis=1, inplace=True)
        return np.delete(np.asarray(is_categorical), indices_to_drop)

    def compute(self, pdf) -> Dict[str, Dict[str, float]]:
        import pandas as pd

        pdf = self._remove_unsupported_feature_columns(pdf.copy())
        if self._label_feature not in pdf.columns:
            raise ValueError("Label column contains unsupported data.")
        flattened = flatten_and_impute(pdf, self._categorical_features)
        labels = flattened.pop(self._label_feature)
        df = pd.DataFrame(flattened)
        discrete_mask = self._convert_categorical_features_to_numeric(df)
        return self._calculate_mi(df, labels, discrete_mask, seed=self._seed)

    def _calculate_mi(self, df, labels, discrete_feature_mask, seed):
        """sklearn_mutual_information.py:194-316 — MI + shuffled-label AMI +
        max-entropy-normalized AMI."""
        result: Dict[str, Dict[str, float]] = {}
        if df.shape[1] == 0:
            return result

        mi_per_feature = _calculate_mi_wrapper(
            df.values,
            labels,
            discrete_features=discrete_feature_mask,
            seed=seed,
            is_label_categorical=self._label_feature_is_categorical,
        )
        if mi_per_feature is None:
            return result

        # Normalized AMI(X, Y) = AMI / (max{H(X), H(Y)} - shuffle_mi), with
        # H(X) = MI(X, X).
        entropy_per_feature = []
        for col in df.columns:
            col_is_categorical = col in self._categorical_features
            entropy = _calculate_mi_wrapper(
                np.array([[x] for x in df[col].values]),
                df[col].values,
                discrete_features=col_is_categorical,
                seed=seed,
                is_label_categorical=col_is_categorical,
            )
            entropy_per_feature.append(entropy[0] if entropy is not None else 0)

        if self._label_feature_is_categorical:
            _, integerized_label = np.unique(labels, return_inverse=True)
            labels_as_feature = np.array([[x] for x in integerized_label])
        else:
            labels_as_feature = np.array([[x] for x in labels])
        label_entropy = _calculate_mi_wrapper(
            labels_as_feature,
            labels,
            discrete_features=self._label_feature_is_categorical,
            seed=seed,
            is_label_categorical=self._label_feature_is_categorical,
        )
        assert label_entropy is not None and len(label_entropy) == 1
        label_entropy = label_entropy[0]

        # In-place shuffle, as the reference's first one after seeding.
        np.random.RandomState(seed).shuffle(labels)
        shuffled_mi_per_feature = _calculate_mi_wrapper(
            df.values,
            labels,
            discrete_features=discrete_feature_mask,
            seed=seed,
            is_label_categorical=self._label_feature_is_categorical,
        )

        for i, (mi, shuffle_mi, entropy) in enumerate(
            zip(mi_per_feature, shuffled_mi_per_feature, entropy_per_feature)
        ):
            max_entropy = max(label_entropy, entropy)
            ami = mi - shuffle_mi
            if max_entropy == shuffle_mi:
                normalized_ami = 0.0
            else:
                normalized_ami = min(1.0, max(0.0, ami / (max_entropy - shuffle_mi)))
            result[df.columns[i]] = {
                MUTUAL_INFORMATION_KEY: float(max(mi, 0.0)),
                ADJUSTED_MUTUAL_INFORMATION_KEY: float(ami),
                NORMALIZED_ADJUSTED_MUTUAL_INFORMATION_KEY: float(normalized_ami),
            }
        return result


def sklearn_mutual_information_stats(
    df,
    label_feature: str,
    categorical_features: Optional[Set[str]] = None,
    seed: int = 12345,
    row_partitions: int = 10,
    max_rows_per_partition: int = 2000,
    min_partitions_stat_presence: int = 1,
) -> Dict[str, Dict[str, float]]:
    """Distributed MI/AMI/NAMI relevance with the partitioned-analyzer
    summary naming, mirroring ``adjusted_mutual_information_stats`` in
    [[mi_relevance]]: one ``sparse.partitioned_stats`` job keyed by
    ``(feature, stat)``; per-partition outputs are feature-count-sized."""
    from data_validation_spark.stats.sparse import partitioned_stats

    inferred_cat, inferred_multi = infer_feature_kinds(df)
    if categorical_features is None:
        categorical_features = inferred_cat

    gen = SkLearnMutualInformationStats(
        label_feature,
        categorical_features,
        schema_features=None,
        multivalent_features=inferred_multi,
        seed=seed,
    )

    def fn(pdf) -> dict:
        if len(pdf) > max_rows_per_partition:
            pdf = pdf.sample(n=max_rows_per_partition, random_state=0)
        return {
            (feature, stat): float(value)
            for feature, d in gen.compute(pdf).items()
            for stat, value in d.items()
        }

    return _analyzer_summary(
        partitioned_stats(
            df, fn, num_partitions=row_partitions, seed=seed,
            min_partitions_stat_presence=min_partitions_stat_presence,
        )
    )
