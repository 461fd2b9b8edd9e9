"""Per-feature adjusted-MI-vs-label relevance — the Spark shape of the
reference's ``MutualInformation`` partitioned stats generator
(statistics/generators/mutual_information.py:40-720).

The reference runs per Beam partition: encode every feature to a fixed-length
representation (univalent pass-through, multivalent categorical bag-of-words
over the top ``max_encoding_length - 1`` categories, multivalent numeric
equal-width histogram counts), then estimate AMI(label; feature) with the
mixed kNN estimator ([[mi_mixed]]) per feature, and summarize across
partitions with the PartitionedStatisticsAnalyzer's min/max/mean/median/
std_dev/num_partitions naming (partitioned_stats_generator.py:36-50).

Spark-first shape: one ``sparse.partitioned_stats`` job per column
partition (the reference's ColumnHasher becomes an explicit feature-group
projection — Catalyst prunes the scan to each group's columns plus the
label), KB-scale per-partition results collected and summarized driver-side.
The O(n^2) neighbor kernels bound each row partition via
``max_rows_per_partition``.
"""

from __future__ import annotations

import collections
import logging
from typing import Any, Dict, Iterable, List, Optional, Set

import numpy as np

ADJUSTED_MUTUAL_INFORMATION_KEY = "adjusted_mutual_information"


# ----------------------------------------------------------- cell helpers
def _is_missing_cell(cell: Any) -> bool:
    """A row cell with no values: None / NaN scalar (not a list)."""
    if cell is None:
        return True
    if isinstance(cell, (list, tuple, np.ndarray)):
        return False
    try:
        return bool(np.isnan(cell))
    except (TypeError, ValueError):
        return False


def _cell_values(cell: Any) -> list:
    """The value list of a cell: scalars wrap to a 1-list, missing to []."""
    if _is_missing_cell(cell):
        return []
    if isinstance(cell, np.ndarray):
        return list(cell)
    if isinstance(cell, (list, tuple)):
        return list(cell)
    return [cell]


def _flatten_without_nulls(cells: Iterable[Any]) -> list:
    """mutual_information.py:40-53 — flattened values, nulls removed."""
    out = []
    for cell in cells:
        for v in _cell_values(cell):
            if v is None:
                continue
            if isinstance(v, float) and np.isnan(v):
                continue
            out.append(v)
    return out


# ------------------------------------------------------------- encoders
def _get_categorical_feature_encoding(
    category_frequencies: Dict[Any, int], max_encoding_length: int
) -> Dict[Any, int]:
    """mutual_information.py:55-82 — top (max_len - 1) categories by
    frequency get dedicated indices (ties resolved by the sorted-unique
    construction order, as in the reference)."""
    encoding = {}
    for index, value in enumerate(
        sorted(category_frequencies, key=category_frequencies.get, reverse=True)[
            : max_encoding_length - 1
        ]
    ):
        encoding[value] = index
    return encoding


def _encode_multivalent_categorical(
    cells: List[Any], max_encoding_length: int
) -> List[list]:
    """mutual_information.py:135-172 — bag-of-words with an 'other' tail."""
    flattened = _flatten_without_nulls(cells)
    # The reference's all-null arrow column (null type: every cell missing,
    # none of them an empty LIST) encodes to [].
    if not flattened and all(_is_missing_cell(c) for c in cells):
        return []
    category_frequencies = (
        dict(zip(*np.unique(flattened, return_counts=True))) if flattened else {}
    )
    if not category_frequencies:
        encoding_length = max_encoding_length
    else:
        encoding_length = min(max_encoding_length, len(category_frequencies))
    encoding = _get_categorical_feature_encoding(
        category_frequencies, max_encoding_length
    )
    result = []
    for cell in cells:
        if _is_missing_cell(cell):
            result.append([None] * encoding_length)
            continue
        values = _cell_values(cell)
        if not values:
            result.append([None] * encoding_length)
            continue
        counts = collections.Counter(values)
        encoded = [0] * encoding_length
        for category, freq in counts.items():
            if category in encoding:
                encoded[encoding[category]] = freq
            elif not (
                category is None
                or (isinstance(category, float) and np.isnan(category))
            ):
                encoded[-1] += freq
        result.append(encoded)
    return result


def _encode_multivalent_numeric(
    cells: List[Any], encoding_length: int
) -> Optional[List[list]]:
    """mutual_information.py:175-264 — equal-width histogram counts per row
    over (encoding_length - 1) bins; rows whose values are all NaN count as
    zeros, value-less rows as [None]*len."""
    flattened = _flatten_without_nulls(cells)
    if not flattened and all(_is_missing_cell(c) for c in cells):
        return []
    try:
        _, bin_boundaries = np.histogram(flattened, bins=encoding_length - 1)
    except (IndexError, ValueError) as e:  # numpy#8627 for huge ints
        logging.getLogger(__name__).exception("Unable to encode examples: %s", e)
        return None
    result = []
    for cell in cells:
        if _is_missing_cell(cell):
            result.append([None] * encoding_length)
            continue
        raw = _cell_values(cell)
        if not raw:
            result.append([None] * encoding_length)
            continue
        values = [
            v
            for v in raw
            if v is not None and not (isinstance(v, float) and np.isnan(v))
        ]
        result.append(
            np.bincount(
                np.digitize(values, bin_boundaries) - 1, minlength=encoding_length
            ).tolist()
        )
    return result


def _encode_univalent(cells: List[Any]) -> List[list]:
    """mutual_information.py:267-294 — [value] per row, [None] when missing
    (including empty lists and NaN)."""
    result = []
    for cell in cells:
        values = [
            v
            for v in _cell_values(cell)
            if v is not None and not (isinstance(v, float) and np.isnan(v))
        ]
        result.append([values[0]] if values else [None])
    return result


def encode_examples(
    pdf,
    multivalent_features: Set[str],
    categorical_features: Set[str],
    features_to_ignore: Optional[Set[str]],
    max_encoding_length: int,
) -> Dict[str, List[list]]:
    """mutual_information.py:297-369 — fixed-length encodings per feature;
    a feature that cannot be encoded is dropped from the result."""
    result = {}
    for name in pdf.columns:
        if features_to_ignore and name in features_to_ignore:
            continue
        cells = list(pdf[name])
        if name in multivalent_features:
            if name in categorical_features:
                result[name] = _encode_multivalent_categorical(
                    cells, max_encoding_length
                )
            else:
                encoded = _encode_multivalent_numeric(cells, max_encoding_length)
                if encoded is None:
                    logging.getLogger(__name__).error(
                        "Feature: %s was not encoded", name
                    )
                else:
                    result[name] = encoded
        else:
            result[name] = _encode_univalent(cells)
    return result


# ------------------------------------------------------------- generator
class AdjustedMutualInformation:
    """Per-partition AMI(label; feature) — mutual_information.py:452-719.

    ``compute(pdf)`` returns ``{feature: {custom_stats_key: ami}}`` for one
    row partition; ``adjusted_mutual_information_stats`` runs it distributed.
    """

    def __init__(
        self,
        label_feature: str,
        categorical_features: Set[str],
        multivalent_features: Set[str],
        features_to_ignore: Optional[Set[str]] = None,
        max_encoding_length: int = 512,
        seed: int = 12345,
        normalize_by_max: bool = False,
        allow_invalid_partitions: bool = False,
        custom_stats_key: str = ADJUSTED_MUTUAL_INFORMATION_KEY,
    ):
        self._label_feature = label_feature
        self._categorical_features = set(categorical_features)
        self._multivalent_features = set(multivalent_features)
        self._features_to_ignore = (
            set(features_to_ignore) if features_to_ignore else None
        )
        self._max_encoding_length = max_encoding_length
        self._seed = seed
        self._normalize_by_max = normalize_by_max
        self._allow_invalid_partitions = allow_invalid_partitions
        self._custom_stats_key = custom_stats_key
        self._label_feature_is_categorical = label_feature in self._categorical_features

    def _is_unique_array(self, array: np.ndarray) -> bool:
        try:
            values = np.asarray(array.flatten(), dtype=bytes)
        except UnicodeEncodeError:
            # numpy's S-cast is ASCII; non-ASCII str cells normalize to
            # utf-8 so they compare like the reference's arrow bytes.
            values = [
                v.encode("utf-8") if isinstance(v, str) else bytes(str(v), "utf-8")
                for v in array.flatten()
            ]
            return len(set(values)) == len(values)
        return len(np.unique(values)) == len(values)

    def _label_is_unique(self, pdf) -> bool:
        """A categorical univalent label whose values are all distinct
        (mutual_information.py:557-570)."""
        if not (
            self._label_feature in self._categorical_features
            and self._label_feature not in self._multivalent_features
        ):
            return False
        values = np.asarray(
            _flatten_without_nulls(list(pdf[self._label_feature])), dtype=object
        )
        return self._is_unique_array(values)

    def compute(self, pdf) -> Dict[str, Dict[str, float]]:
        if self._label_feature not in pdf.columns:
            raise ValueError(f"Label column {self._label_feature} not found.")
        if self._label_is_unique(pdf):
            return {
                name: {self._custom_stats_key: 0.0}
                for name in pdf.columns
                if name != self._label_feature
            }
        encoded = encode_examples(
            pdf,
            self._multivalent_features,
            self._categorical_features,
            self._features_to_ignore,
            self._max_encoding_length,
        )
        if self._normalize_by_max:
            labels = encoded[self._label_feature]
        else:
            labels = encoded.pop(self._label_feature)
        result = self._calculate_mi(encoded, labels, self._seed)
        if self._normalize_by_max:
            result = self._normalize_mi_values(result)
        return result

    def _normalize_mi_values(self, raw_mi):
        """mutual_information.py:619-629 — divide by AMI(label, label)."""
        max_ami = raw_mi.pop(self._label_feature)[self._custom_stats_key]
        normalized = {}
        for name, value in raw_mi.items():
            normalized[name] = {
                self._custom_stats_key: (
                    value[self._custom_stats_key] / max_ami if max_ami > 0 else 0.0
                )
            }
        return normalized

    def _calculate_mi(self, examples_dict, labels, seed, k: int = 3):
        """mutual_information.py:631-719 — the per-feature edge rules, then
        the mixed-set AMI with the label on the shuffled side."""
        from data_validation_spark.stats import mi_mixed

        result: Dict[str, Dict[str, float]] = {}
        if not examples_dict:
            return result

        label_list = list(np.array(labels, dtype=object).T)
        label_categorical_mask = [
            (
                self._label_feature in self._categorical_features
                and self._label_feature not in self._multivalent_features
            )
            for _ in label_list
        ]

        num_rows = len(next(iter(examples_dict.values())))
        if num_rows < k and self._allow_invalid_partitions:
            logging.getLogger(__name__).warning(
                "Partition had %s examples for k = %s. Skipping AMI computation.",
                num_rows,
                k,
            )
            return result

        for name, encoded in examples_dict.items():
            feature_array = np.array(encoded, dtype=object)
            if feature_array.size == 0:
                result[name] = {self._custom_stats_key: 0.0}
                continue
            if name in self._categorical_features and self._is_unique_array(
                feature_array
            ):
                result[name] = {self._custom_stats_key: 0.0}
                continue
            import pandas as pd

            if not np.sum(~pd.isnull(feature_array)):
                result[name] = {self._custom_stats_key: 0.0}
                continue

            feature_list = list(feature_array.T)
            feature_categorical_mask = [
                (
                    name in self._categorical_features
                    and name not in self._multivalent_features
                )
                for _ in feature_list
            ]
            ami = mi_mixed.adjusted_mutual_information(
                label_list,
                feature_list,
                label_categorical_mask,
                feature_categorical_mask,
                k=k,
                seed=seed,
            )
            result[name] = {self._custom_stats_key: ami}
        return result


# ------------------------------------------------------------ Spark side
def infer_feature_kinds(df, exclude: Optional[Set[str]] = None):
    """(categorical, multivalent) feature-name sets from the Spark schema:
    string/binary/bool columns are categorical; array columns are
    multivalent (their element type decides categorical)."""
    from pyspark.sql import types as T

    categorical: Set[str] = set()
    multivalent: Set[str] = set()
    for field in df.schema.fields:
        if exclude and field.name in exclude:
            continue
        dt = field.dataType
        if isinstance(dt, T.ArrayType):
            multivalent.add(field.name)
            if isinstance(dt.elementType, (T.StringType, T.BinaryType, T.BooleanType)):
                categorical.add(field.name)
        elif isinstance(dt, (T.StringType, T.BinaryType, T.BooleanType)):
            categorical.add(field.name)
    return categorical, multivalent


def adjusted_mutual_information_stats(
    df,
    label_feature: str,
    categorical_features: Optional[Set[str]] = None,
    multivalent_features: Optional[Set[str]] = None,
    features_to_ignore: Optional[Set[str]] = None,
    max_encoding_length: int = 512,
    seed: int = 12345,
    normalize_by_max: bool = False,
    allow_invalid_partitions: bool = False,
    custom_stats_key: str = ADJUSTED_MUTUAL_INFORMATION_KEY,
    row_partitions: int = 10,
    column_partitions: int = 1,
    max_rows_per_partition: int = 2000,
    min_partitions_stat_presence: int = 1,
) -> Dict[str, Dict[str, float]]:
    """Distributed AMI relevance: the Spark shape of wiring
    ``MutualInformation`` through ``NonStreamingCustomStatsGenerator``.

    Rows are assigned to ``row_partitions`` random partitions by the shared
    harness (``sparse.partitioned_stats``); with ``column_partitions > 1``
    features are split into groups and each group runs as its own
    column-pruned job with the label carried into every group (the
    reference's _PartitionFn column slicing, mutual_information.py:371-428,
    expressed as projections so Catalyst prunes the scan). Per-partition
    results are feature-count-sized; the driver summarizes with the
    reference analyzer's ``min_/max_/mean_/median_/std_dev_/
    num_partitions_`` naming (partitioned_stats_generator.py:36-50).

    Returns ``{feature: {"min_<key>": ..., ..., "num_partitions_<key>": n}}``.
    """
    from data_validation_spark.stats.sparse import partitioned_stats

    if categorical_features is None or multivalent_features is None:
        inferred_cat, inferred_multi = infer_feature_kinds(df)
        if categorical_features is None:
            categorical_features = inferred_cat
        if multivalent_features is None:
            multivalent_features = inferred_multi

    feature_cols = [c for c in df.columns if c != label_feature]
    if features_to_ignore:
        feature_cols = [c for c in feature_cols if c not in features_to_ignore]
    if not feature_cols:
        return {}

    column_partitions = max(1, min(column_partitions, len(feature_cols)))
    groups = [feature_cols[i::column_partitions] for i in range(column_partitions)]

    summaries = {}
    for group in groups:
        gen = AdjustedMutualInformation(
            label_feature,
            categorical_features,
            multivalent_features,
            None,  # ignores already projected out
            max_encoding_length,
            seed,
            normalize_by_max,
            allow_invalid_partitions,
            custom_stats_key,
        )

        def fn(pdf) -> dict:
            if len(pdf) > max_rows_per_partition:
                pdf = pdf.sample(n=max_rows_per_partition, random_state=0)
            return {
                (feature, custom_stats_key): float(d[custom_stats_key])
                for feature, d in gen.compute(pdf).items()
            }

        # get_valid_statistics parity: min_partitions_stat_presence tolerates
        # invalid partitions up to the configured presence floor.
        summaries.update(
            partitioned_stats(
                df.select(label_feature, *group), fn,
                num_partitions=row_partitions, seed=seed,
                min_partitions_stat_presence=min_partitions_stat_presence,
            )
        )
    return _analyzer_summary(summaries)


def _analyzer_summary(summaries: dict) -> Dict[str, Dict[str, float]]:
    """Harness summaries keyed ``(feature, stat)`` renamed to the
    PartitionedStatisticsAnalyzer's ``{feature: {"min_<stat>": ...,
    "std_dev_<stat>": ..., "num_partitions_<stat>": n}}``
    (partitioned_stats_generator.py:36-50)."""
    out: Dict[str, Dict[str, float]] = collections.defaultdict(dict)
    for (feature, stat), summary in summaries.items():
        for name, value in summary.items():
            out[feature][("std_dev" if name == "std" else name) + "_" + stat] = value
    return dict(out)
