"""End-to-end pipeline tests: clean passes, dirty fails with exactly the
injected violations, drift vs prev variant fires."""

import pytest

from data_validation_spark.anomalies import AnomalyType as AT
from data_validation_spark.datagen import images_df
from data_validation_spark.pipeline import default_image_schema, validate_images
from data_validation_spark.stats.options import StatsOptions


def test_clean_pipeline_passes(spark):
    df = images_df(spark, 1000, "clean", partitions=4)
    r = validate_images(
        spark, df, default_image_schema(),
        options=StatsOptions(categorical_features={"fmt"}),
        check_pixels=True,
    )
    assert r.passed, r.anomalies.to_json()
    assert r.num_examples == 1000
    assert r.violation_counts == {}
    # image stats landed via the fused wide pass
    fs = r.stats.default_slice().feature("bytes")
    assert sum(fs.custom["image_format_histogram"].values()) == 1000
    assert fs.custom.get("domain_info") == "image_domain {}"


def test_dirty_pipeline_fails_with_expected_violations(spark):
    n = 2000
    df = images_df(spark, n, "dirty", partitions=4)
    r = validate_images(
        spark, df, default_image_schema(),
        options=StatsOptions(categorical_features={"fmt"}),
        check_pixels=False,
    )
    assert not r.passed
    types = {a.type for a in r.anomalies.anomalies}
    # fmt NULLs (i%500==11 → 4 rows) → presence violation at min_fraction=1
    assert AT.FEATURE_TYPE_LOW_FRACTION_PRESENT in types
    # off-domain "tiff" (4 rows = 0.2% > 0.1% allowed)
    assert AT.ENUM_TYPE_UNEXPECTED_STRING_VALUES in types
    # zero/negative w (i%200==3 → 10 rows)
    assert AT.INT_TYPE_SMALL_INT in types
    # corrupt payloads 1% > 0.5% allowed unknown → low supported image fraction
    assert AT.LOW_SUPPORTED_IMAGE_FRACTION in types
    vc = r.violation_counts
    assert vc[("image_id", "DUPLICATE_KEY")] == 2  # ids 6 and 1006
    assert vc[("w", "ROW_CONSTRAINT_VIOLATION")] == 10
    assert vc[("fmt", "ROW_CONSTRAINT_VIOLATION")] == 8  # 4 nulls + 4 tiff


def test_drift_vs_prev_variant(spark):
    cur = images_df(spark, 1500, "clean", partitions=4)
    prev = images_df(spark, 1500, "prev", partitions=4)
    r = validate_images(
        spark, cur, default_image_schema(), prev_df=prev,
        options=StatsOptions(categorical_features={"fmt"}),
    )
    # fmt mix 80% vs 50% jpeg → L∞ ≈ 0.3 > 0.2 threshold
    types = {a.type for a in r.anomalies.anomalies}
    assert AT.COMPARATOR_L_INFTY_HIGH in types
    m = {x.metric: x.value for x in r.anomalies.drift_skew_info}
    assert m["L_INFTY"] == pytest.approx(0.3, abs=0.08)
    assert "JENSEN_SHANNON_DIVERGENCE" in m


def test_pipeline_nl_constraints_on_caption(spark):
    from data_validation_spark.datagen import images_df
    from data_validation_spark.pipeline import default_image_schema, validate_images
    from data_validation_spark.schema import NaturalLanguageDomain, TokenConstraint

    df = images_df(spark, 300, "clean")
    schema = default_image_schema()
    cap = schema.get_feature("caption")
    assert cap is not None
    # synthetic captions are random wNNNN tokens: cap a never-appearing token
    # at ≤10% of sequences (passes, fraction is 0) — exercising the wiring.
    cap.natural_language_domain = NaturalLanguageDomain(
        min_coverage=None,
        token_constraints=[
            TokenConstraint(value="zzz_never", max_fraction_of_sequences=0.1),
        ],
    )
    r = validate_images(spark, df, schema)
    nl = r.stats.default_slice().feature("caption").custom.get("nl_statistics")
    assert nl is not None and "zzz_never" in nl["token_statistics"]
    assert nl["token_statistics"]["zzz_never"]["fraction_of_sequences"] == 0.0
    assert r.anomalies.passed
    # now an impossible constraint → SEQUENCE_VALUE_TOO_SMALL_FRACTION
    cap.natural_language_domain.token_constraints = [
        TokenConstraint(value="zzz_never", min_fraction_of_sequences=0.5)
    ]
    r2 = validate_images(spark, df, schema)
    types = {a.type.value for a in r2.anomalies.anomalies}
    assert "SEQUENCE_VALUE_TOO_SMALL_FRACTION" in types


def test_pipeline_nl_coverage_uses_schema_vocabulary(spark, tmp_path):
    """The caption domain's vocabulary resolves through
    StatsOptions.vocab_paths, so a vocabulary that covers about half of the
    caption tokens (wNNNN, N < 10,000) trips the coverage floor; a named
    vocabulary without a path is an error, not coverage 1.0."""
    from data_validation_spark.schema import NaturalLanguageDomain

    df = images_df(spark, 300, "clean")
    vpath = tmp_path / "half.txt"
    vpath.write_text("".join(f"w{i:04d}\n" for i in range(5000)))
    schema = default_image_schema()
    schema.get_feature("caption").natural_language_domain = NaturalLanguageDomain(
        min_coverage=0.9, vocabulary="half"
    )
    options = StatsOptions(categorical_features={"fmt"}, vocab_paths={"half": str(vpath)})
    r = validate_images(spark, df, schema, options=options)
    nl = r.stats.default_slice().feature("caption").custom["nl_statistics"]
    assert 0.4 < nl["feature_coverage"] < 0.6
    assert "FEATURE_COVERAGE_TOO_LOW" in {a.type.value for a in r.anomalies.anomalies}

    with pytest.raises(ValueError, match="vocab_paths"):
        validate_images(spark, df, schema)


def test_validate_images_leaves_options_unchanged(spark):
    options = StatsOptions(categorical_features={"fmt"})
    before = repr(options)
    validate_images(spark, images_df(spark, 50, "clean"), options=options)
    assert repr(options) == before and not options.image_columns


def test_warm_session_memo_keys_on_application_id(monkeypatch):
    """A new session can reuse a collected session's id(); the warm-up memo
    keys on the application id, so a new application still warms up."""
    from data_validation_spark import datagen

    monkeypatch.setattr(datagen, "_WARMED", set())
    warmed = []

    class _Context:
        def __init__(self, app_id):
            self.applicationId = app_id

        @property
        def defaultParallelism(self):
            # first thing the warm-up reads; failing here ends it early
            warmed.append(self.applicationId)
            raise RuntimeError("no cluster")

    class _Session:
        sparkContext = _Context("app-1")

    session = _Session()
    datagen.warm_session(session)
    datagen.warm_session(session)
    # same object, new application: what an id() reuse looks like
    session.sparkContext = _Context("app-2")
    datagen.warm_session(session)
    assert warmed == ["app-1", "app-2"]


def test_warm_session_releases_its_persists(spark, monkeypatch):
    """The warm-up runs the dedup operators, verify_jaccard included; it must
    hand the session back with no persisted RDD of its own."""
    from data_validation_spark import datagen

    key = spark.sparkContext.applicationId
    monkeypatch.setattr(datagen, "_WARMED", datagen._WARMED - {key})
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    before = set(persisted().keys())
    datagen.warm_session(spark)
    assert key in datagen._WARMED
    assert set(persisted().keys()) == before
