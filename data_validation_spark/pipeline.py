"""End-to-end validation pipeline over the image/caption input table —
the engine's flagship workload and the benchmark unit:

    stats pass (wide agg + top-k/uniques) → image semantic stats →
    schema validation (driver) → row-level checks (uniqueness, row
    constraints, optional pixel integrity) → verdict + violation counts.

This is TFDV's generate_statistics → validate_statistics →
validate_examples flow as one Spark job graph.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import DataFrame, functions as F

from data_validation_spark.anomalies import Anomalies
from data_validation_spark.jobs import run_parallel
from data_validation_spark.schema import (
    DriftComparator,
    FeatureSpec,
    FeatureType,
    ImageDomain,
    IntDomain,
    Presence,
    Schema,
    StringDomain,
    UniqueConstraints,
)
from data_validation_spark.stats.engine import compute_statistics
from data_validation_spark.stats.options import StatsOptions
from data_validation_spark.stats.result import DatasetStatsList
from data_validation_spark.validate.rowlevel import (
    check_pixel_integrity,
    check_row_constraints,
    check_uniqueness,
    summarize_violations,
)
from data_validation_spark.validate.rules import validate_statistics


def default_image_schema() -> Schema:
    """Constraint schema for the input_hint table
    (image_id, bytes, w, h, fmt, caption, phash)."""
    return Schema(
        feature=[
            FeatureSpec(
                name="image_id",
                type=FeatureType.BYTES,
                presence=Presence(min_count=1, min_fraction=1.0),
            ),
            FeatureSpec(
                name="bytes",
                type=FeatureType.BYTES,
                presence=Presence(min_count=1, min_fraction=1.0),
                image_domain=ImageDomain(
                    minimum_supported_image_fraction=0.995,
                    max_image_byte_size=64 * 1024 * 1024,
                ),
            ),
            FeatureSpec(
                name="w",
                type=FeatureType.INT,
                presence=Presence(min_count=1, min_fraction=1.0),
                int_domain=IntDomain(min=1, max=65535),
            ),
            FeatureSpec(
                name="h",
                type=FeatureType.INT,
                presence=Presence(min_count=1, min_fraction=1.0),
                int_domain=IntDomain(min=1, max=65535),
            ),
            FeatureSpec(
                name="fmt",
                type=FeatureType.BYTES,
                presence=Presence(min_count=1, min_fraction=1.0),
                string_domain=StringDomain(
                    value=["png", "jpeg", "gif", "bmp"], min_domain_mass=0.999
                ),
                drift_comparator=DriftComparator(
                    infinity_norm_threshold=0.2,
                    jensen_shannon_divergence_threshold=0.2,
                ),
            ),
            FeatureSpec(
                name="caption",
                type=FeatureType.BYTES,
                presence=Presence(min_count=1, min_fraction=1.0),
            ),
            FeatureSpec(
                name="phash",
                type=FeatureType.INT,
                presence=Presence(min_count=1, min_fraction=1.0),
            ),
        ]
    )


@dataclass
class ValidationRunResult:
    stats: DatasetStatsList
    anomalies: Anomalies
    violation_counts: dict = field(default_factory=dict)
    num_examples: int = 0

    @property
    def passed(self) -> bool:
        return self.anomalies.passed and not self.violation_counts


def validate_images(
    spark,
    df: DataFrame,
    schema: Optional[Schema] = None,
    prev_df: Optional[DataFrame] = None,
    prev_stats: Optional[DatasetStatsList] = None,
    options: Optional[StatsOptions] = None,
    check_pixels: bool = False,
    pixel_sample_rate: Optional[float] = None,
    environment: Optional[str] = None,
) -> ValidationRunResult:
    """Full stats + validation + row-level pass over an images DataFrame."""
    schema = schema or default_image_schema()
    options = options or StatsOptions(categorical_features={"fmt"})
    if "bytes" in df.columns:
        options.image_columns = set(options.image_columns) | {"bytes"}

    from functools import reduce

    def stats_job():
        # format histogram is fused into the wide agg (options.image_columns);
        # the bytes column is scanned once for all its stats.
        s = compute_statistics(df, options)
        # Schema-driven NL stats (caption columns): computed only when the
        # schema declares NL-domain constraints, so the NL rule never hits
        # STATS_NOT_AVAILABLE for a column we could have profiled.
        from data_validation_spark.stats.text import attach_nl_token_stats

        for spec in schema.feature:
            d = spec.natural_language_domain
            if d is None or spec.name not in df.columns:
                continue
            has_constraints = (
                d.effective_min_coverage() is not None
                or d.min_avg_token_length is not None
                or bool(d.token_constraints)
            )
            if has_constraints:
                tokens = [tc.value for tc in d.token_constraints if tc.value]
                attach_nl_token_stats(
                    s, df, spec.name, constrained_tokens=tokens or None
                )
        p = prev_stats
        if p is None and prev_df is not None:
            p = compute_statistics(prev_df, options)
        return s, p

    def violations_job():
        violations = []
        if "image_id" in df.columns:
            violations.append(check_uniqueness(df, "image_id"))
        violations.append(check_row_constraints(df, schema, _key_col(df)))
        if check_pixels and "bytes" in df.columns:
            violations.append(check_pixel_integrity(df, sample_rate=pixel_sample_rate))
        out: dict = {}
        if violations:
            allv = reduce(lambda a, b: a.unionByName(b), violations)
            for r in summarize_violations(allv).collect():
                out[(r["feature"], r["anomaly_type"])] = r["violation_count"]
        return out

    out = run_parallel(spark, {"pipeline.stats": stats_job, "pipeline.rowlevel": violations_job})
    (stats, prev_stats), vc = out["pipeline.stats"], out["pipeline.rowlevel"]

    anomalies = validate_statistics(
        stats, schema, environment=environment, previous_statistics=prev_stats
    )

    ds = stats.default_slice()
    return ValidationRunResult(
        stats=stats,
        anomalies=anomalies,
        violation_counts=vc,
        num_examples=ds.num_examples if ds else 0,
    )


def _key_col(df: DataFrame) -> str:
    return "image_id" if "image_id" in df.columns else df.columns[0]
