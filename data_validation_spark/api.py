"""Top-level convenience API — the Spark counterparts of the reference's
public entry points (``tensorflow_data_validation/__init__.py`` exports:
stats_gen_lib.py:46-260, validation_lib.py:60-150, schema_util.py:193-230).
The stats_util load/write helpers are exported straight from
``stats_view`` and ``io.artifacts``.

Each function composes the engine's building blocks; nothing here adds new
semantics. Table-format note: the reference's TFRecord entry point maps to
parquet/Iceberg here (the engine is format-agnostic over ``spark.read``).
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Optional

if TYPE_CHECKING:
    from pyspark.sql import DataFrame, SparkSession

    from data_validation_spark.anomalies import Anomalies
    from data_validation_spark.schema import Schema
    from data_validation_spark.stats.options import StatsOptions
    from data_validation_spark.stats.result import DatasetStatsList


# ----------------------------------------------------- statistics entries ---
def generate_statistics_from_tfrecord(
    spark: "SparkSession",
    data_location: str,
    stats_options: Optional["StatsOptions"] = None,
    verify_crc: bool = False,
) -> "DatasetStatsList":
    """The reference's headline entry point (stats_gen_lib.py:46-106):
    statistics over TFRecord files of serialized tf.Example protos, read by
    the pure-Python TFRecord source (io/tfrecord.py, no TensorFlow)."""
    from data_validation_spark.io.tfrecord import read_tfrecord
    from data_validation_spark.stats.engine import compute_statistics
    from data_validation_spark.stats.options import StatsOptions

    df = read_tfrecord(spark, data_location, verify_crc=verify_crc)
    return compute_statistics(df, stats_options or StatsOptions())


def generate_statistics_from_parquet(
    spark: "SparkSession", path: str, stats_options: Optional["StatsOptions"] = None
) -> "DatasetStatsList":
    """Parquet/Iceberg-path analogue of generate_statistics_from_tfrecord
    (stats_gen_lib.py:46-106)."""
    from data_validation_spark.sources import read_parquet
    from data_validation_spark.stats.engine import compute_statistics
    from data_validation_spark.stats.options import StatsOptions

    return compute_statistics(
        read_parquet(spark, path), stats_options or StatsOptions()
    )


def generate_statistics_from_csv(
    spark: "SparkSession",
    pattern: str,
    stats_options: Optional["StatsOptions"] = None,
    delimiter: str = ",",
    header: bool = True,
) -> "DatasetStatsList":
    """generate_statistics_from_csv (stats_gen_lib.py:110-166) — Spark's
    type-inferring CSV reader replaces the reference's decoder."""
    from data_validation_spark.sources import read_csv
    from data_validation_spark.stats.engine import compute_statistics
    from data_validation_spark.stats.options import StatsOptions

    df = read_csv(spark, pattern, delimiter=delimiter, header=header)
    return compute_statistics(df, stats_options or StatsOptions())


def generate_statistics_from_dataframe(
    dataframe, stats_options: Optional["StatsOptions"] = None, spark=None
) -> "DatasetStatsList":
    """generate_statistics_from_dataframe (stats_gen_lib.py:197-260). Accepts
    a Spark DataFrame directly or a pandas DataFrame (converted via the given
    or active SparkSession)."""
    from data_validation_spark.stats.engine import compute_statistics
    from data_validation_spark.stats.options import StatsOptions

    if not hasattr(dataframe, "sparkSession"):  # pandas input
        from pyspark.sql import SparkSession

        spark = spark or SparkSession.getActiveSession()
        if spark is None:
            raise ValueError("pass spark= or create a SparkSession first")
        dataframe = spark.createDataFrame(dataframe)
    return compute_statistics(dataframe, stats_options or StatsOptions())


# ----------------------------------------------------- validation entries ---
def validate_examples_in_dataframe(
    df: "DataFrame",
    schema: "Schema",
    key_col: str,
) -> "DataFrame":
    """Per-example validation → violation rows DataFrame — the distributed
    shape of validate_examples_in_tfrecord / IdentifyAnomalousExamples
    (validation_lib.py:60-150, validation_api.py:664-705). Use
    ``summarize_violations`` for the per-reason roll-up slicing."""
    from data_validation_spark.validate.rowlevel import check_row_constraints

    return check_row_constraints(df, schema, key_col)


def validate_examples_in_tfrecord(
    spark: "SparkSession",
    data_location: str,
    schema: "Schema",
    key_col: str,
) -> "DataFrame":
    """validate_examples_in_tfrecord (validation_lib.py:60-122) over the
    native TFRecord source → violation rows."""
    from data_validation_spark.io.tfrecord import read_tfrecord

    return validate_examples_in_dataframe(
        read_tfrecord(spark, data_location), schema, key_col
    )


def validate_examples_in_csv(
    spark: "SparkSession",
    data_location: str,
    schema: "Schema",
    key_col: str,
    delimiter: str = ",",
) -> "DataFrame":
    """validate_examples_in_csv (validation_lib.py:125-150) → violation rows."""
    from data_validation_spark.sources import read_csv

    return validate_examples_in_dataframe(
        read_csv(spark, data_location, delimiter=delimiter), schema, key_col
    )


# ----------------------------------------------------------- schema text ----
def write_schema_text(schema: "Schema", output_path: str) -> None:
    """schema_util.write_schema_text:193-212 (JSON here, not text proto)."""
    with open(output_path, "w") as f:
        f.write(schema.to_json())


def load_schema_text(input_path: str) -> "Schema":
    """schema_util.load_schema_text:214-229."""
    from data_validation_spark.schema import Schema

    with open(input_path) as f:
        return Schema.from_json(f.read())


def write_anomalies_text(result: "Anomalies", output_path: str) -> None:
    """anomalies_util.write_anomalies_text:120-140."""
    with open(output_path, "w") as f:
        f.write(result.to_json())


def load_anomalies_text(input_path: str) -> "Anomalies":
    """anomalies_util.load_anomalies_text:142-157."""
    from data_validation_spark.anomalies import Anomalies

    with open(input_path) as f:
        return Anomalies.from_json(f.read())
