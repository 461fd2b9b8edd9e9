"""Top-level API facade — reference tfdv/__init__.py export-surface parity
(stats_gen_lib, validation_lib, schema_util/anomalies_util text IO)."""

import numpy as np
import pytest

import data_validation_spark as dvs


def test_every_reference_export_resolves():
    # the reference's public names (module-for-module mapping documented in
    # api.py) must all resolve lazily
    for name in [
        "compute_statistics", "generate_statistics_from_parquet",
        "generate_statistics_from_csv", "generate_statistics_from_dataframe",
        "merge_statistics", "load_statistics", "write_statistics",
        "validate_statistics", "validate_corresponding_slices",
        "infer_schema", "update_schema", "validate_instance",
        "validate_examples_in_dataframe", "detect_feature_skew",
        "write_schema_text", "load_schema_text",
        "write_anomalies_text", "load_anomalies_text",
        "display_schema", "display_anomalies", "get_schema_dataframe",
        "get_anomalies_dataframe", "get_drift_skew_dataframe",
    ]:
        assert callable(getattr(dvs, name)), name
    with pytest.raises(AttributeError):
        dvs.not_a_real_export


def test_csv_and_dataframe_entries_end_to_end(spark, tmp_path):
    import pandas as pd

    pdf = pd.DataFrame({"x": [1.0, 2.0, 3.0, 4.0], "s": ["a", "a", "b", "b"]})
    csv_path = str(tmp_path / "in.csv")
    pdf.to_csv(csv_path, index=False)

    s1 = dvs.generate_statistics_from_csv(spark, csv_path)
    s2 = dvs.generate_statistics_from_dataframe(pdf, spark=spark)
    s3 = dvs.generate_statistics_from_dataframe(spark.createDataFrame(pdf))
    for stats in (s1, s2, s3):
        n = stats.default_slice().feature("x").numeric
        assert n.mean == pytest.approx(2.5)
        assert stats.default_slice().feature("s").string.unique == 2

    # infer → validate → text IO roundtrip
    schema = dvs.infer_schema(s2)
    sp = str(tmp_path / "schema.json")
    dvs.write_schema_text(schema, sp)
    schema_back = dvs.load_schema_text(sp)
    assert schema_back.get_feature("x") is not None
    result = dvs.validate_statistics(s2, schema_back)
    assert result.passed
    ap = str(tmp_path / "anomalies.json")
    dvs.write_anomalies_text(result, ap)
    assert dvs.load_anomalies_text(ap).passed

    # stats artifact roundtrip + merge
    stp = str(tmp_path / "stats.json")
    dvs.write_statistics(s2, stp)
    merged = dvs.merge_statistics([dvs.load_statistics(stp), s3])
    assert merged.default_slice().num_examples == 8


def test_validate_examples_in_dataframe(spark):
    from data_validation_spark.schema import FeatureSpec, FeatureType, IntDomain, Schema

    schema = Schema(feature=[FeatureSpec(
        name="v", type=FeatureType.INT, int_domain=IntDomain(min=0, max=5))])
    df = spark.createDataFrame([("r1", 3), ("r2", 99)], "id string, v bigint")
    v = dvs.validate_examples_in_dataframe(df, schema, key_col="id").collect()
    assert [r["row_key"] for r in v] == ["r2"]


def test_pyfiles_archive_importable(tmp_path):
    # spark-submit --py-files posture: the built zip alone must satisfy all
    # package imports (no missing module, no filesystem dependence).
    import subprocess
    import sys

    from tools.make_pyfiles import main as build_zip

    out = build_zip()
    code = (
        "import sys; sys.path.insert(0, %r); "
        "import data_validation_spark as d; "
        "from data_validation_spark.stats import engine, exprs, quantiles; "
        "from data_validation_spark import generators; "
        "from data_validation_spark.validate import rules, infer, rowlevel, skew; "
        "from data_validation_spark.io import artifacts, checkpoint, tfrecord; "
        "from data_validation_spark.dedup import minhash, simhash, embedding; "
        "from data_validation_spark import api, display, streaming, pipeline; "
        "print('ZIPOK', d.__version__)" % out
    )
    r = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True,
        text=True,
        cwd=str(tmp_path),  # away from the repo so the zip is the only source
        timeout=120,
    )
    assert "ZIPOK" in r.stdout, r.stdout + r.stderr
