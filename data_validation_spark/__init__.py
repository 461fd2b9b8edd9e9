"""data_validation_spark — a PySpark-native statistics + schema-validation engine.

A from-scratch reimplementation of the capabilities of tensorflow/data-validation
(TFDV), re-architected for Apache Spark:

* **Statistics phase** (distributed): one fused pass over a DataFrame computes
  per-column statistics — counts, presence/valency, min/max/mean/stddev,
  approximate quantiles (``percentile_approx`` grids), top-k / unique counts
  (exact, or in sketch mode Spark's ``approx_top_k`` frequent-items and
  ``theta_sketch_agg`` KMV aggregates), weighted quantiles (weight summed
  per log-spaced value bucket, buckets over 1% of the weight split
  further: at most 1% value and 1%-of-weight rank error, exact on
  values more than 1% apart), string/bytes stats, and semantic-domain
  stats (image format histograms, natural-language heuristics, time formats).
  The built-in passes of ``compute_statistics`` are Catalyst aggregates
  (JVM-side, whole-stage codegen where the aggregate allows it); Python
  runs only in decode-bearing stats (image dimensions, NL tokens), the
  partitioned MI estimators and user combiner generators.

* **Validation phase** (driver-side): a declarative :class:`Schema` constraint
  spec is evaluated against the statistics artifact, emitting anomaly rows with
  TFDV-parity reason codes, plus drift/skew comparisons (Jensen-Shannon
  divergence, L-infinity) between statistics artifacts.

* **Row-level checks** (distributed): exact uniqueness via salted groupBy,
  referential integrity via broadcast/shuffle anti-joins, per-row value
  constraints emitting violation rows — the Spark-native analogue of TFDV's
  ``validate_examples_in_tfrecord`` / feature-skew paths.

Reference behavior studied from tensorflow/data-validation (see SURVEY.md);
all code here is original and Spark-first.
"""

__version__ = "0.1.0"

from data_validation_spark.schema import (  # noqa: F401
    Schema,
    FeatureSpec,
    IntDomain,
    FloatDomain,
    StringDomain,
    BoolDomain,
    ImageDomain,
    NaturalLanguageDomain,
    Presence,
    ValueCount,
    UniqueConstraints,
    DatasetConstraints,
    DriftComparator,
)
from data_validation_spark.anomalies import Anomaly, AnomalyType, Severity  # noqa: F401
from data_validation_spark.paths import FeaturePath  # noqa: F401
from data_validation_spark.stats.result import (  # noqa: F401
    CrossFeatureStats,
    DatasetStats,
    FeatureStats,
    Histogram,
    HistogramBucket,
    RankBucket,
)
from data_validation_spark.stats.options import StatsOptions  # noqa: F401

# ---------------------------------------------------------------------------
# Function-level API, lazily resolved (PEP 562) so `import
# data_validation_spark` stays light — these modules import pyspark.
# Mirrors the reference's top-level exports (tfdv/__init__.py): statistics
# entry points, validation entry points, schema/anomalies text IO, display.
_LAZY_EXPORTS = {
    # statistics (stats_api / stats_gen_lib)
    "compute_statistics": ("data_validation_spark.stats.engine", "compute_statistics"),
    "generate_statistics_from_tfrecord": ("data_validation_spark.api", None),
    "generate_statistics_from_parquet": ("data_validation_spark.api", None),
    "read_tfrecord": ("data_validation_spark.io.tfrecord", None),
    "generate_statistics_from_csv": ("data_validation_spark.api", None),
    "generate_statistics_from_dataframe": ("data_validation_spark.api", None),
    "merge_statistics": ("data_validation_spark.io.artifacts", "merge_stats"),
    "load_statistics": ("data_validation_spark.stats_view", None),
    "write_statistics": ("data_validation_spark.io.artifacts", "save_stats"),
    # validation (validation_api / validation_lib)
    "validate_statistics": ("data_validation_spark.validate.rules", None),
    "validate_corresponding_slices": ("data_validation_spark.validate.rules", None),
    "infer_schema": ("data_validation_spark.validate.infer", None),
    "update_schema": ("data_validation_spark.validate.infer", None),
    "validate_instance": ("data_validation_spark.validate.instance", None),
    "validate_examples_in_dataframe": ("data_validation_spark.api", None),
    "validate_examples_in_tfrecord": ("data_validation_spark.api", None),
    "validate_examples_in_csv": ("data_validation_spark.api", None),
    "detect_feature_skew": ("data_validation_spark.validate.skew", None),
    # schema / anomalies text IO (schema_util / anomalies_util)
    "write_schema_text": ("data_validation_spark.api", None),
    "load_schema_text": ("data_validation_spark.api", None),
    "write_anomalies_text": ("data_validation_spark.api", None),
    "load_anomalies_text": ("data_validation_spark.api", None),
    # schema accessors (schema_util)
    "get_feature": ("data_validation_spark.schema_util", None),
    "get_domain": ("data_validation_spark.schema_util", None),
    "set_domain": ("data_validation_spark.schema_util", None),
    "generate_dummy_schema_with_paths": ("data_validation_spark.schema_util", None),
    # stats views + accessors + sharded/text/binary IO (stats_util)
    "DatasetListView": ("data_validation_spark.stats_view", None),
    "DatasetView": ("data_validation_spark.stats_view", None),
    "FeatureView": ("data_validation_spark.stats_view", None),
    "CrossFeatureView": ("data_validation_spark.stats_view", None),
    "get_feature_stats": ("data_validation_spark.stats_view", None),
    "get_custom_stats": ("data_validation_spark.stats_view", None),
    "get_slice_stats": ("data_validation_spark.stats_view", None),
    "write_stats_text": ("data_validation_spark.stats_view", None),
    "load_stats_text": ("data_validation_spark.stats_view", None),
    "write_stats_binary": ("data_validation_spark.stats_view", None),
    "load_stats_binary": ("data_validation_spark.stats_view", None),
    "load_sharded_statistics": ("data_validation_spark.stats_view", None),
    "write_sharded_statistics": ("data_validation_spark.stats_view", None),
    "default_sharded_output_suffix": ("data_validation_spark.stats_view", None),
    "default_sharded_output_supported": ("data_validation_spark.stats_view", None),
    "attach_cross_feature_stats": ("data_validation_spark.stats_view", None),
    # display (display_util)
    "display_schema": ("data_validation_spark.display", None),
    "display_anomalies": ("data_validation_spark.display", None),
    "display_statistics": ("data_validation_spark.display", None),
    "get_schema_dataframe": ("data_validation_spark.display", None),
    "get_anomalies_dataframe": ("data_validation_spark.display", None),
    "get_drift_skew_dataframe": ("data_validation_spark.display", None),
    "get_statistics_dataframe": ("data_validation_spark.display", None),
    "get_skew_result_dataframe": ("data_validation_spark.display", None),
    "get_match_stats_dataframe": ("data_validation_spark.display", None),
    "get_confusion_count_dataframes": ("data_validation_spark.display", None),
    "get_statistics_html": ("data_validation_spark.display", None),
    "get_natural_language_statistics_dataframes": ("data_validation_spark.display", None),
    "visualize_statistics": ("data_validation_spark.display", None),
    "compare_slices": ("data_validation_spark.display", None),
    # extensibility base classes (stats_generator analogues)
    "StatsGenerator": ("data_validation_spark.generators", None),
    "CombinerStatsGenerator": ("data_validation_spark.generators", None),
    "CombinerFeatureStatsGenerator": ("data_validation_spark.generators", None),
    "TransformStatsGenerator": ("data_validation_spark.generators", None),
    "run_combiner_generators": ("data_validation_spark.generators", None),
    "wrap_feature_stats_generator": ("data_validation_spark.generators", None),
    # PTransform-style reference names → Spark-first callables
    "GenerateStatistics": ("data_validation_spark.stats.engine", "compute_statistics"),
    "MergeDatasetFeatureStatisticsList": ("data_validation_spark.io.artifacts", "merge_stats"),
    "DetectFeatureSkew": ("data_validation_spark.validate.skew", "detect_feature_skew"),
    "WriteStatisticsToBinaryFile": ("data_validation_spark.stats_view", None),
    "WriteStatisticsToTFRecord": ("data_validation_spark.stats_view", None),
    "WriteStatisticsToRecordsAndBinaryFile": ("data_validation_spark.stats_view", None),
    "write_stats_tfrecord": ("data_validation_spark.stats_view", None),
    "load_stats_tfrecord": ("data_validation_spark.stats_view", None),
    "write_statistics_to_records_and_binary": ("data_validation_spark.stats_view", None),
    # per-feature example-weight resolution (example_weight_map.py)
    "ExampleWeightMap": ("data_validation_spark.weights", None),
    # slicing config builder (slicing_util.get_feature_value_slicer)
    "experimental_get_feature_value_slicer": (
        "data_validation_spark.stats.slicing",
        "get_feature_value_slicer",
    ),
    "get_feature_value_slicer": ("data_validation_spark.stats.slicing", None),
    # cross-feature stats generator (cross_feature_stats_generator analogue)
    "cross_feature_stats": ("data_validation_spark.stats.lift", None),
}


def __getattr__(name: str):
    target = _LAZY_EXPORTS.get(name)
    if target is None:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    import importlib

    module = importlib.import_module(target[0])
    return getattr(module, target[1] or name)


def __dir__():
    return sorted(set(globals()) | set(_LAZY_EXPORTS))
