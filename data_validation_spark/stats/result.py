"""Statistics artifact — field-level parity with TFDV's
``DatasetFeatureStatisticsList`` proto (built in
``tensorflow_data_validation/statistics/generators/basic_stats_generator.py:967-1094``),
as plain dataclasses + JSON, plus conversion to a Spark-friendly flat row form.
"""

from __future__ import annotations

import json
import math
from dataclasses import dataclass, field
from typing import Any, Optional


@dataclass
class HistogramBucket:
    low_value: float
    high_value: float
    sample_count: float


@dataclass
class Histogram:
    type: str  # "STANDARD" (equi-width) | "QUANTILES" (equi-mass)
    buckets: list[HistogramBucket] = field(default_factory=list)
    num_nan: int = 0

    def total_count(self) -> float:
        return sum(b.sample_count for b in self.buckets)


@dataclass
class RankBucket:
    low_rank: int
    high_rank: int
    label: str
    sample_count: float


@dataclass
class PresenceAndValency:
    """Per-nest-level presence/valency (reference
    ``GetMinMaxNumValues`` / ``presence_and_valency_stats``): level 1 is the
    outermost list, level N the innermost."""

    num_non_missing: int = 0
    min_num_values: int = 0
    max_num_values: int = 0
    tot_num_values: int = 0


@dataclass
class CommonStats:
    num_non_missing: int = 0
    num_missing: int = 0
    min_num_values: int = 0
    max_num_values: int = 0
    avg_num_values: float = 0.0
    tot_num_values: int = 0
    num_values_histogram: Optional[Histogram] = None
    weighted_num_non_missing: Optional[float] = None
    weighted_num_missing: Optional[float] = None
    # Set only for features with nestedness > 1 (list<list<...>>); None means
    # a single nest level (scalars and flat arrays).
    presence_and_valency: Optional[list[PresenceAndValency]] = None

    def nest_levels(self) -> int:
        return len(self.presence_and_valency) if self.presence_and_valency else 1

    def min_max_num_values(self) -> list[tuple[int, int]]:
        """Per-level (min, max) list lengths — ``GetMinMaxNumValues`` parity."""
        if self.presence_and_valency:
            return [
                (pv.min_num_values, pv.max_num_values)
                for pv in self.presence_and_valency
            ]
        return [(self.min_num_values, self.max_num_values)]

    @property
    def num_examples(self) -> int:
        return self.num_non_missing + self.num_missing

    @property
    def fraction_present(self) -> float:
        n = self.num_examples
        return (self.num_non_missing / n) if n else 0.0


@dataclass
class NumericStats:
    mean: float = 0.0
    std_dev: float = 0.0
    median: float = 0.0
    min: float = 0.0
    max: float = 0.0
    num_zeros: int = 0
    num_nan: int = 0
    num_pos_inf: int = 0
    num_neg_inf: int = 0
    finite_min: Optional[float] = None
    finite_max: Optional[float] = None
    histograms: list[Histogram] = field(default_factory=list)
    weighted_mean: Optional[float] = None
    weighted_std_dev: Optional[float] = None
    # Weighted quantile stats (the reference's WeightedNumericStatistics
    # median + histograms, basic_stats_generator.py:830-877): present only
    # when a weight column was configured and the feature has a finite value
    # (in both modes, from the long pass's weighted log buckets, refined
    # where one holds over 1% of the weight, in the role of the reference's
    # weighted QuantilesSketch).
    weighted_median: Optional[float] = None
    weighted_histograms: list[Histogram] = field(default_factory=list)

    def histogram(self, type_: str) -> Optional[Histogram]:
        for h in self.histograms:
            if h.type == type_:
                return h
        return None


@dataclass
class StringStats:
    unique: int = 0
    top_values: list[tuple[str, float]] = field(default_factory=list)
    avg_length: float = 0.0
    rank_histogram: list[RankBucket] = field(default_factory=list)
    invalid_utf8_count: int = 0
    unique_is_exact: bool = True
    # Weighted variants (the reference's weighted_string_stats): present only
    # when a weight column was configured; ranked by weighted frequency.
    weighted_top_values: Optional[list[tuple[str, float]]] = None
    weighted_rank_histogram: Optional[list[RankBucket]] = None

    def value_counts(self) -> dict[str, float]:
        """label → count map from the rank histogram (the reference's
        ``GetStringValuesWithCounts``, statistics_view.cc:476)."""
        return {b.label: b.sample_count for b in self.rank_histogram}


@dataclass
class BytesStats:
    unique: int = 0
    avg_num_bytes: float = 0.0
    min_num_bytes: float = 0.0
    max_num_bytes: float = 0.0


@dataclass
class FeatureStats:
    """Per-feature statistics (one per (slice, feature))."""

    name: str
    type: str  # INT | FLOAT | STRING | BYTES | STRUCT | UNKNOWN
    common: CommonStats = field(default_factory=CommonStats)
    numeric: Optional[NumericStats] = None
    string: Optional[StringStats] = None
    bytes: Optional[BytesStats] = None
    custom: dict[str, Any] = field(default_factory=dict)
    # Derived-feature provenance (reference FeatureNameStatistics.
    # validation_derived_source): {"deriver_name": str,
    # "source_paths": [dotted path, ...]} when this feature was derived
    # during validation; None for ordinary features.
    validation_derived_source: Optional[dict] = None


@dataclass
class CrossFeatureStats:
    """Pairwise numeric cross-feature statistics (reference
    CrossFeatureStatistics / NumericCrossStatistics, populated by
    ``cross_feature_stats_generator.py``)."""

    path_x: str
    path_y: str
    count: int = 0
    correlation: Optional[float] = None
    covariance: Optional[float] = None


@dataclass
class DatasetStats:
    """Per-slice dataset statistics."""

    slice_key: str = "All Examples"
    num_examples: int = 0
    weighted_num_examples: Optional[float] = None
    features: dict[str, FeatureStats] = field(default_factory=dict)
    cross_features: list[CrossFeatureStats] = field(default_factory=list)

    def feature(self, name: str) -> Optional[FeatureStats]:
        return self.features.get(name)


@dataclass
class DatasetStatsList:
    """Statistics for all slices — the full artifact."""

    slices: list[DatasetStats] = field(default_factory=list)

    def default_slice(self) -> Optional[DatasetStats]:
        """Pick the default slice, cf. reference validation_api.py:609-648."""
        if len(self.slices) == 1:
            return self.slices[0]
        for s in self.slices:
            if s.slice_key == "All Examples":
                return s
        return self.slices[0] if self.slices else None

    def get_slice(self, key: str) -> Optional[DatasetStats]:
        for s in self.slices:
            if s.slice_key == key:
                return s
        return None

    # ------------------------------------------------------------------ JSON
    def to_json(self, indent: int | None = 2) -> str:
        return json.dumps(_enc(self), indent=indent, allow_nan=True)

    @classmethod
    def from_json(cls, text: str) -> "DatasetStatsList":
        return _dec_list(json.loads(text))


def _enc(o: Any) -> Any:
    import dataclasses

    if dataclasses.is_dataclass(o) and not isinstance(o, type):
        out = {"__cls__": type(o).__name__}
        for f in dataclasses.fields(o):
            v = getattr(o, f.name)
            if v is None:
                continue
            out[f.name] = _enc(v)
        return out
    if isinstance(o, float) and (math.isnan(o) or math.isinf(o)):
        return {"__f__": repr(o)}
    if isinstance(o, tuple):
        return list(o)
    if isinstance(o, list):
        return [_enc(v) for v in o]
    if isinstance(o, dict):
        return {k: _enc(v) for k, v in o.items()}
    return o


_CLASSES = {
    c.__name__: c
    for c in (
        HistogramBucket,
        Histogram,
        RankBucket,
        PresenceAndValency,
        CommonStats,
        NumericStats,
        StringStats,
        BytesStats,
        FeatureStats,
        CrossFeatureStats,
        DatasetStats,
        DatasetStatsList,
    )
}


def _dec(o: Any) -> Any:
    if isinstance(o, dict) and "__f__" in o:
        return float(o["__f__"])
    if isinstance(o, dict) and "__cls__" in o:
        cls = _CLASSES[o["__cls__"]]
        kwargs = {k: _dec(v) for k, v in o.items() if k != "__cls__"}
        obj = cls(**kwargs)
        if isinstance(obj, StringStats):
            obj.top_values = [tuple(t) for t in obj.top_values]
            if obj.weighted_top_values is not None:
                obj.weighted_top_values = [tuple(t) for t in obj.weighted_top_values]
        return obj
    if isinstance(o, list):
        return [_dec(v) for v in o]
    if isinstance(o, dict):
        return {k: _dec(v) for k, v in o.items()}
    return o


def _dec_list(o: dict) -> DatasetStatsList:
    return _dec(o)


# --------------------------------------------------------------------- rows
STATS_ROW_SCHEMA = (
    "slice_key string, feature string, type string, "
    "num_non_missing bigint, num_missing bigint, tot_num_values bigint, "
    "min_v double, max_v double, mean_v double, std_dev double, median double, "
    "num_zeros bigint, num_nan bigint, unique_count bigint, avg_length double, "
    "top_value string, top_value_count double"
)


def stats_rows(stats: DatasetStatsList) -> list[tuple]:
    """Flatten to (slice, feature, …) rows for DataFrame output / parquet sink."""
    rows = []
    for sl in stats.slices:
        for name, fs in sorted(sl.features.items()):
            num = fs.numeric
            st = fs.string
            rows.append(
                (
                    sl.slice_key,
                    name,
                    fs.type,
                    fs.common.num_non_missing,
                    fs.common.num_missing,
                    fs.common.tot_num_values,
                    num.min if num else None,
                    num.max if num else None,
                    num.mean if num else None,
                    num.std_dev if num else None,
                    num.median if num else None,
                    num.num_zeros if num else None,
                    num.num_nan if num else None,
                    st.unique if st else None,
                    st.avg_length if st else None,
                    st.top_values[0][0] if st and st.top_values else None,
                    float(st.top_values[0][1]) if st and st.top_values else None,
                )
            )
    return rows
