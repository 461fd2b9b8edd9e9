"""Statistics-run options — analogue of the reference's ``StatsOptions``
(``tensorflow_data_validation/statistics/stats_options.py:56-63`` defaults).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional


@dataclass
class StatsOptions:
    # Output-size knobs (reference defaults: top 20 values, 1000-bucket rank
    # histogram, 10 buckets for standard/quantiles histograms).
    num_top_values: int = 20
    num_rank_histogram_buckets: int = 1000
    # drop top-k/rank-histogram entries below these counts (reference
    # TopKUniquesStatsGenerator frequency_threshold / weighted_frequency_
    # threshold; unique counts are NOT thresholded)
    frequency_threshold: int = 1
    weighted_frequency_threshold: float = 1.0
    num_histogram_buckets: int = 10
    num_quantiles_histogram_buckets: int = 10
    num_values_histogram_buckets: int = 10

    # Approximation knobs (reference: eps=0.01 quantiles; MG 1024; KMV 16384).
    # 1/eps for percentile_approx; reference eps=0.01 ⇒ 100 — default 2× that
    quantiles_accuracy: int = 200
    # weighted t-digest (weighted quantiles)
    tdigest_compression: int = 200
    # top-k sketches track topk_sketch_size × 4 items
    topk_sketch_size: int = 1024

    # Strategy: exact top-k/uniques (salted windows) vs sketches (theta
    # uniques + approx_top_k; a weighted top-k keeps the exact windows).
    use_sketches: bool = False

    # Which columns get string-stats (top-k/uniques) even though numeric.
    categorical_features: set[str] = field(default_factory=set)

    # Column allowlist (None = all); pushed down via df.select → Catalyst prune.
    feature_allowlist: Optional[list[str]] = None

    # Example-weight column: weighted variants of count/mean/std/topk.
    weight_column: Optional[str] = None
    # Per-feature weight overrides (reference ExampleWeightMap /
    # StatsOptions.per_feature_weight_override): {feature_path: weight_col}.
    # Requires weight_column (the global weight) to be set.
    per_feature_weight_override: Optional[dict] = None

    # Slicing: group stats by this column's value; None = single default slice.
    slice_column: Optional[str] = None
    default_slice_key: str = "All Examples"
    # Multi-slicer / value-set slicing (slicing_util.py:48-300 parity): a list
    # of SliceSpec objects run simultaneously; rows explode into every slice
    # they belong to, plus the default slice. Mutually exclusive with
    # slice_column (setting both raises at construction).
    slice_specs: list = field(default_factory=list)

    # Binary columns whose magic-byte format histogram is fused into the wide
    # aggregation pass (no separate scan of the binary column).
    image_columns: set[str] = field(default_factory=set)

    # Semantic-domain stats (image format sniffing, NL heuristics, time).
    enable_semantic_domain_stats: bool = False
    semantic_domain_sample_rate: Optional[float] = None

    # Vocabulary files for NL stats: {vocabulary_name: path}, resolving the
    # schema's NaturalLanguageDomain.vocabulary (reference
    # StatsOptions.vocab_paths; loaded via io/vocab.load_vocab — text or
    # GZIP TFRecord files).
    vocab_paths: Optional[dict] = None

    # Label column: when set, lift of every categorical feature against this
    # label is computed in one extra concurrent job and lands in each
    # feature's custom stats under "lift" (reference StatsOptions.
    # label_feature → LiftStatsGenerator, stats_impl.py:386-396). A numeric
    # label needs lift_y_boundaries (the reference generator's y_boundaries).
    label_feature: Optional[str] = None
    lift_y_boundaries: Optional[list] = None

    # Dataset-level sampling before any stats.
    sample_rate: Optional[float] = None

    # Cardinality guard: skip exact top-k for columns whose approx distinct
    # count exceeds this (rank histogram would be meaningless + shuffle-heavy).
    max_topk_cardinality: int = 1_000_000

    @property
    def example_weight_map(self):
        """ExampleWeightMap when per-feature overrides are configured, else
        None (the plain weight_column path covers the no-override case)."""
        if not self.per_feature_weight_override:
            return None
        if not self.weight_column:
            raise ValueError(
                "per_feature_weight_override requires weight_column (the "
                "global weight feature) to be set."
            )
        from data_validation_spark.weights import ExampleWeightMap

        return ExampleWeightMap(self.weight_column, self.per_feature_weight_override)

    # User-defined statistics generators (reference StatsOptions.generators,
    # stats_options.py:66-70): CombinerStatsGenerator /
    # CombinerFeatureStatsGenerator / TransformStatsGenerator instances run
    # alongside the built-in passes; their output merges into the artifact
    # per slice (see data_validation_spark.generators).
    generators: list = field(default_factory=list)

    def __post_init__(self):
        """Constructor-time validation with the reference's messages
        (stats_options.py property setters; goldens in
        stats_options_test.py INVALID_STATS_OPTIONS)."""
        if self.sample_rate is not None and not (0 < self.sample_rate <= 1):
            raise ValueError(f"Invalid sample_rate {self.sample_rate}")
        if self.semantic_domain_sample_rate is not None and not (
            0 < self.semantic_domain_sample_rate <= 1
        ):
            raise ValueError(
                "Invalid semantic_domain_stats_sample_rate "
                f"{self.semantic_domain_sample_rate}"
            )
        if self.num_values_histogram_buckets <= 1:
            raise ValueError(
                f"Invalid num_values_histogram_buckets {self.num_values_histogram_buckets}"
            )
        if self.num_histogram_buckets < 1:
            raise ValueError(f"Invalid num_histogram_buckets {self.num_histogram_buckets}")
        if self.num_quantiles_histogram_buckets < 1:
            raise ValueError(
                "Invalid num_quantiles_histogram_buckets "
                f"{self.num_quantiles_histogram_buckets}"
            )
        if self.feature_allowlist is not None and not isinstance(
            self.feature_allowlist, (list, tuple, set)
        ):
            raise TypeError("feature_allowlist must be a list, tuple, or set")
        if self.slice_column and self.slice_specs:
            raise ValueError(
                "Specify only one of slice_column or slice_specs."
            )
