"""Tests for feature-skew detection, text/time stats, lift, artifact merge,
and checkpoint/resume."""

import pytest
from pyspark.sql import functions as F

from data_validation_spark.stats.engine import compute_statistics
from data_validation_spark.stats.lift import cross_feature_stats, lift_stats
from data_validation_spark.stats.options import StatsOptions
from data_validation_spark.stats.text import (
    attach_nl_stats,
    language_id,
    quality_features,
)
from data_validation_spark.stats.time_stats import attach_time_stats, time_match_stats
from data_validation_spark.validate.skew import detect_feature_skew


# ------------------------------------------------------------------- skew
def test_detect_feature_skew_reference_golden(spark):
    """Direct port of validation_api_test.py:3234-3350 (test_detect_feature_skew):
    two training and two serving examples keyed by ``id`` with multivalent
    ``feature_a`` — expected per-feature FeatureSkew counters match the
    reference proto exactly."""
    training = spark.createDataFrame(
        [
            ("first_feature", [12, 24], [10.0]),
            ("second_feature", [5], [15.0]),
        ],
        "id string, feature_a array<bigint>, feature_b array<double>",
    )
    serving = spark.createDataFrame(
        [
            ("first_feature", None, [10.0]),
            ("second_feature", [5], [20.0]),
        ],
        "id string, feature_a array<bigint>, feature_b array<double>",
    )
    r = detect_feature_skew(training, serving, ["id"], sample_size=1)
    a = r.feature_skew["feature_a"]
    assert a.base_count == 2 and a.test_count == 1
    assert a.match_count == 1 and a.base_only == 1
    assert a.mismatch_count == 0 and a.diff_count == 1
    b = r.feature_skew["feature_b"]
    assert b.base_count == 2 and b.test_count == 2
    assert b.match_count == 1 and b.mismatch_count == 1
    assert b.base_only == 0 and b.diff_count == 1
    # CheckSkewSample: the mismatching pair is sampled (util.is_not_empty)
    assert len(r.sample_pairs.collect()) >= 1


def test_detect_feature_skew(spark):
    base = spark.createDataFrame(
        [(1, "a", 1.0), (2, "b", 2.0), (3, "c", 3.0), (4, "d", 4.0)],
        "id long, s string, x double",
    )
    test = spark.createDataFrame(
        [(1, "a", 1.0), (2, "B", 2.0), (3, "c", 3.0001), (5, "e", 5.0)],
        "id long, s string, x double",
    )
    r = detect_feature_skew(base, test, ["id"], float_round_ndigits=2)
    ms = r.match_stats
    assert ms.base_with_id_count == 4
    assert ms.test_with_id_count == 4
    assert ms.matching_pairs_count == 3
    assert ms.ids_missing_in_base_count == 1  # id 5
    assert ms.ids_missing_in_test_count == 1  # id 4
    s = r.feature_skew["s"]
    assert s.match_count == 2 and s.mismatch_count == 1  # b vs B
    x = r.feature_skew["x"]
    # 3.0001 rounds to 3.0 at 2 digits → all three pairs match on x
    assert x.match_count == 3 and x.mismatch_count == 0


def test_skew_rounding_and_sample(spark):
    base = spark.createDataFrame([(1, 1.234567), (2, 2.0)], "id long, x double")
    test = spark.createDataFrame([(1, 1.234568), (2, 9.0)], "id long, x double")
    r = detect_feature_skew(base, test, ["id"], float_round_ndigits=4, sample_size=5)
    x = r.feature_skew["x"]
    assert x.match_count == 1  # 1.2346 == 1.2346
    assert x.mismatch_count == 1  # 2 vs 9
    sample = r.sample_pairs.collect()
    assert len(sample) == 1
    assert sample[0]["base_x"] == 2.0 and sample[0]["test_x"] == 9.0


def test_skew_duplicate_ids_skipped(spark):
    base = spark.createDataFrame([(1, "a"), (1, "a2"), (2, "b")], "id long, s string")
    test = spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string")
    r = detect_feature_skew(base, test, ["id"])
    assert r.match_stats.duplicate_id_count_base == 2
    assert r.match_stats.matching_pairs_count == 1  # only id 2


# ------------------------------------------------------------------- text
def test_quality_features(spark):
    df = spark.createDataFrame(
        [(1, "The quick brown fox jumps over the lazy dog."), (2, ""), (3, "123 456 789")],
        "id long, text string",
    )
    rows = {r["id"]: r for r in quality_features(df, "text").collect()}
    assert rows[1]["n_tokens"] == 9
    assert rows[1]["quality_score"] > 0.6
    assert rows[2]["n_tokens"] == 0 and rows[2]["quality_score"] == 0.0
    assert rows[3]["alpha_ratio"] == 0.0
    assert rows[3]["digit_ratio"] > 0.7


def test_language_id(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat and the dog sat in the garden of the house"),
            (2, "der Hund und die Katze sind nicht in der Küche mit dem Ball"),
            (3, "le chat est dans la maison et les oiseaux sont pour le jardin"),
            (4, "xyzzy qwerty"),
        ],
        "id long, text string",
    )
    rows = {r["id"]: r["lang_pred"] for r in language_id(df, "text").collect()}
    assert rows[1] == "en" and rows[2] == "de" and rows[3] == "fr" and rows[4] == "und"


def test_nl_domain_inference(spark):
    texts = [(i, "this is a perfectly normal english sentence with words") for i in range(120)]
    df = spark.createDataFrame(texts, "id long, caption string")
    stats = compute_statistics(df, StatsOptions(feature_allowlist=["caption"]))
    attach_nl_stats(stats, df, "caption")
    fs = stats.default_slice().feature("caption")
    assert fs.custom["nl_match_fraction"] == 1.0
    assert fs.custom["domain_info"] == "natural_language_domain {}"


# ------------------------------------------------------------------- time
def test_time_match_stats_strings(spark):
    df = spark.createDataFrame(
        [("2024-01-01",), ("2024-02-03",), ("not a date",)], "d string"
    )
    info = time_match_stats(df, "d")
    assert info["formats"]["%Y-%m-%d"] == 2
    assert info["considered"] == 3


def test_time_valid_formats_goldens(spark):
    """time_stats_generator_test.py:25-77 (VALID_FORMATS_TESTS): every listed
    value must match its expected formats — time-only, date-only (incl. the
    ambiguous two-format cases), and combined."""
    from data_validation_spark.stats.time_stats import time_match_stats

    cases = [
        (["23:59", "23:59:58", "23:59:58.123456"],
         {"%H:%M": 1, "%H:%M:%S": 1, "%H:%M:%S.%f": 1}),
        (["2018-11-30", "2018/11/30", "20181130", "18-11-30", "18/11/30",
          "30-November-2018"],
         {"%Y-%m-%d": 1, "%Y/%m/%d": 1, "%Y%m%d": 1, "%y-%m-%d": 1,
          "%d-%m-%y": 1, "%y/%m/%d": 1, "%d/%m/%y": 1, "%d-%B-%Y": 1}),
        (["2018-11-30T23:59", "2018/11/30 23:59", "Fri Nov 30 10:47:02 2018"],
         {"%Y-%m-%dT%H:%M": 1, "%Y/%m/%d %H:%M": 1, "%a %b %d %H:%M:%S %Y": 1}),
    ]
    for values, expected in cases:
        df = spark.createDataFrame([(v,) for v in values], "d string")
        got = time_match_stats(df, "d")["formats"]
        assert got == expected, (values, got)


def test_time_match_ratio_goldens(spark):
    """time_stats_generator_test.py:224-299: most-common-format selection and
    the exact match ratio (0.5 same-format; 0.2 across competing formats —
    '11/30/18' twice → %m/%d/%y wins)."""
    from data_validation_spark.stats.time_stats import attach_time_stats

    rows = [("2018-11-30",)] * 5 + [("not-valid",)] * 5
    df = spark.createDataFrame(rows, "d string")
    info = time_match_stats(df, "d")
    best = max(info["formats"].items(), key=lambda kv: kv[1])
    assert best == ("%Y-%m-%d", 5)
    assert best[1] / info["considered"] == pytest.approx(0.5)

    vals = ["2018-11-30", "2018/11/30", "20181130", "18-11-30", "18/11/30",
            "11-30-2018", "11/30/2018", "11302018", "11/30/18", "11/30/18"]
    df2 = spark.createDataFrame([(v,) for v in vals], "d string")
    info2 = time_match_stats(df2, "d")
    best2 = max(info2["formats"].items(), key=lambda kv: (kv[1], kv[0]))
    assert best2[0] == "%m/%d/%y" and best2[1] == 2
    assert best2[1] / info2["considered"] == pytest.approx(0.2)


def test_time_domain_info_rendering(spark):
    """time_stats_generator.py:415-426: domain_info renders string_format
    quoted and integer_format bare; the inferred schema picks it up."""
    from data_validation_spark.stats.engine import compute_statistics as _cs
    from data_validation_spark.stats.time_stats import attach_time_stats
    from data_validation_spark.validate.infer import infer_schema

    rows = [(f"2024-01-{(i % 28) + 1:02d}",) for i in range(150)]
    df = spark.createDataFrame(rows, "d string")
    stats = _cs(df)
    attach_time_stats(stats, df, "d")
    fs = stats.default_slice().feature("d")
    assert fs.custom["domain_info"] == "time_domain {string_format: '%Y-%m-%d'}"
    assert fs.custom["time_match_ratio"] == pytest.approx(1.0)
    schema = infer_schema(stats)
    td = schema.get_feature("d").time_domain
    assert td is not None and td.string_format == "%Y-%m-%d"


def test_time_domain_inference_ints(spark):
    rows = [(1700000000 + i,) for i in range(150)]
    df = spark.createDataFrame(rows, "t long")
    stats = compute_statistics(df)
    attach_time_stats(stats, df, "t")
    fs = stats.default_slice().feature("t")
    assert fs.custom["time_format"] == "UNIX_SECONDS"
    assert "time_domain" in fs.custom["domain_info"]


# ------------------------------------------------------------------- lift
def test_lift_stats(spark):
    # y=1 overall rate 0.5; x='a' → always y=1 (lift 2); x='b' → never (lift 0)
    rows = [("a", 1)] * 5 + [("b", 0)] * 5
    df = spark.createDataFrame(rows, "x string, y int")
    out = {(r["x"], r["y"]): r["lift"] for r in lift_stats(df, "x", "y").collect()}
    assert out[("a", "1")] == pytest.approx(2.0)
    assert out[("b", "0")] == pytest.approx(2.0)


def test_lift_float_y_with_boundaries_golden(spark):
    """lift_stats_generator_test.py:911-1064 (test_lift_float_y): x=[a,a,b,a],
    float_y=[1.1,2.2,3.3,4.4], y_boundaries=[2,4] → three y_bucket series
    [-inf,2) / [2,4) / [4,inf) with the reference's exact lifts, including
    the zero-co-occurrence rows (lift 0.0)."""
    df = spark.createDataFrame(
        [("a", 1.1), ("a", 2.2), ("b", 3.3), ("a", 4.4)], "x string, y double"
    )
    rows = lift_stats(
        df, "x", "y", y_boundaries=[2, 4], include_zero_counts=True
    ).collect()
    out = {(r["x"], r["y"]): r for r in rows}
    assert set(out) == {
        ("a", "[-inf,2)"), ("b", "[-inf,2)"),
        ("a", "[2,4)"), ("b", "[2,4)"),
        ("a", "[4,inf)"), ("b", "[4,inf)"),
    }
    assert out[("a", "[-inf,2)")]["lift"] == pytest.approx(4 / 3)
    assert out[("b", "[-inf,2)")]["lift"] == 0.0
    assert out[("b", "[-inf,2)")]["xy_count"] == 0
    assert out[("b", "[2,4)")]["lift"] == pytest.approx(2.0)
    assert out[("a", "[2,4)")]["lift"] == pytest.approx(2 / 3)
    assert out[("a", "[4,inf)")]["lift"] == pytest.approx(4 / 3)
    assert out[("b", "[4,inf)")]["lift"] == 0.0
    assert out[("a", "[2,4)")]["x_count"] == 3  # x totals unchanged by series


def test_cross_feature_stats(spark):
    df = spark.createDataFrame(
        [(1.0, 2.0), (2.0, 4.0), (3.0, 6.0)], "a double, b double"
    )
    r = cross_feature_stats(df, [("a", "b")]).collect()[0]
    assert r["correlation"] == pytest.approx(1.0)
    assert r["covariance"] == pytest.approx(4.0 / 3)


# --------------------------------------------------------------- merge/ckpt
def test_merge_stats(spark):
    from data_validation_spark.io.artifacts import merge_stats

    df1 = spark.createDataFrame([(1.0, "a"), (2.0, "b")], "x double, s string")
    df2 = spark.createDataFrame([(3.0, "a"), (None, "c")], "x double, s string")
    s1 = compute_statistics(df1)
    s2 = compute_statistics(df2)
    merged = merge_stats([s1, s2])
    ds = merged.default_slice()
    assert ds.num_examples == 4
    fx = ds.feature("x")
    assert fx.common.num_non_missing == 3 and fx.common.num_missing == 1
    assert fx.numeric.min == 1.0 and fx.numeric.max == 3.0
    assert fx.numeric.mean == pytest.approx(2.0)
    fs = ds.feature("s")
    assert fs.string.value_counts() == {"a": 2.0, "b": 1.0, "c": 1.0}
    assert fs.string.top_values[0] == ("a", 2.0)
    assert not fs.string.unique_is_exact

    # merged whole must match a single-pass over the union (moments)
    s_all = compute_statistics(df1.unionByName(df2))
    assert merged.default_slice().feature("x").numeric.std_dev == pytest.approx(
        s_all.default_slice().feature("x").numeric.std_dev
    )


def test_checkpoint_resume(spark, tmp_path):
    from data_validation_spark.datagen import images_df
    from data_validation_spark.io.checkpoint import CheckpointLedger, run_partitioned
    from data_validation_spark.pipeline import default_image_schema

    calls = []

    def read_partition(p):
        calls.append(p)
        n = {"p0": 300, "p1": 300}[p]
        return images_df(spark, n, "clean", partitions=2)

    ledger_dir = str(tmp_path / "ledger")
    schema = default_image_schema()
    r1 = run_partitioned(
        spark, ["p0", "p1"], read_partition, schema, ledger_dir
    )
    assert set(r1) == {"p0", "p1"}
    assert all(rec.status == "ok" for rec in r1.values())
    assert calls == ["p0", "p1"]

    # resume: nothing re-runs
    r2 = run_partitioned(spark, ["p0", "p1"], read_partition, schema, ledger_dir)
    assert r2 == {} and calls == ["p0", "p1"]

    # new partition: only it runs
    def read_p2(p):
        calls.append(p)
        return images_df(spark, 200, "dirty", partitions=2)

    r3 = run_partitioned(spark, ["p0", "p1", "p2"], read_p2, schema, ledger_dir)
    assert set(r3) == {"p2"}
    assert r3["p2"].status == "failed_validation"
    assert r3["p2"].metrics["violation_counts"]

    ledger = CheckpointLedger(ledger_dir)
    assert set(ledger.completed()) == {"p0", "p1", "p2"}
    st = ledger.load_stats("p0")
    assert st.default_slice().num_examples == 300


def test_invalid_utf8_count(spark):
    from data_validation_spark.stats.text import attach_invalid_utf8, invalid_utf8_count

    rows = [
        (bytearray("héllo".encode()),),
        (bytearray(b"\xff\xfe\x00bad"),),
        (bytearray(b"ok"),),
        (None,),
    ]
    df = spark.createDataFrame(rows, "b binary")
    assert invalid_utf8_count(df, "b") == 1
    stats = compute_statistics(df)
    attach_invalid_utf8(stats, df, "b")
    assert stats.default_slice().feature("b").string.invalid_utf8_count == 1


def test_kraskov_knn_mi(spark):
    import math

    import numpy as np

    from data_validation_spark.stats.mi import estimated_knn_mutual_information, kraskov_mi

    rng = np.random.RandomState(0)
    n = 1200
    x = rng.normal(size=n)
    rho = 0.8
    y = rho * x + math.sqrt(1 - rho * rho) * rng.normal(size=n)
    # analytic MI of bivariate gaussian: −½ ln(1−ρ²) ≈ 0.511 nats
    assert kraskov_mi(x, y) == pytest.approx(0.511, abs=0.09)
    assert kraskov_mi(x, rng.normal(size=n)) < 0.05

    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(x, y)], "x double, y double"
    )
    summary = estimated_knn_mutual_information(df, "x", "y", num_partitions=4)
    assert summary["num_partitions"] == 4
    assert summary["mean"] == pytest.approx(0.511, abs=0.15)


def test_adjusted_knn_mi(spark):
    # Reference AMI semantics (mutual_information.py:455-460,711):
    # AMI = MI(x, y) − MI(x, shuffle(y)), clamped at 0. For a dependent
    # gaussian pair AMI ≈ MI (shuffle baseline ≈ 0); for an independent pair
    # AMI ≈ 0.
    import math

    import numpy as np

    from data_validation_spark.stats.mi import estimated_knn_mutual_information

    rng = np.random.RandomState(7)
    n = 2400
    x = rng.normal(size=n)
    rho = 0.8
    y = rho * x + math.sqrt(1 - rho * rho) * rng.normal(size=n)
    dep = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(x, y)], "x double, y double"
    )
    r = estimated_knn_mutual_information(dep, "x", "y", num_partitions=4, adjusted=True)
    assert r["ami"]["mean"] == pytest.approx(0.511, abs=0.17)
    assert r["ami"]["mean"] <= r["mi"]["mean"] + 1e-12

    ind = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(x, rng.normal(size=n))],
        "x double, y double",
    )
    r0 = estimated_knn_mutual_information(ind, "x", "y", num_partitions=4, adjusted=True)
    assert r0["ami"]["mean"] < 0.06


def test_knn_mi_pinned_outputs(spark):
    # Pinned outputs. KSG's marginal count (strict `<` with the point
    # excluded, i.e. a nextafter radius with it included) and the fixed
    # jitter and shuffle seeds make them exact up to summation order.
    import math

    import numpy as np

    from data_validation_spark.stats.mi import estimated_knn_mutual_information, kraskov_mi

    rng = np.random.RandomState(0)
    n = 1200
    x = rng.normal(size=n)
    y = 0.8 * x + math.sqrt(1 - 0.64) * rng.normal(size=n)
    assert kraskov_mi(x, y) == pytest.approx(0.5267558395032008, abs=1e-12)

    rng = np.random.RandomState(7)
    x = rng.normal(size=2400)
    y = 0.8 * x + 0.6 * rng.normal(size=2400)
    dep = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(x, y)], "x double, y double"
    )
    r = estimated_knn_mutual_information(dep, "x", "y", num_partitions=4, adjusted=True)
    expected = {
        "mi": (0.44849714510229344, 0.6304513801830822, 0.5202606188864449,
               0.501046975130202, 0.06713941058023962),
        "ami": (0.44849714510229344, 0.6240655606283854, 0.51498624337709,
                0.49369113388884056, 0.06585793178628631),
    }
    for which, (lo, hi, mean, median, std) in expected.items():
        s = r[which]
        assert s["num_partitions"] == 4
        assert [s["min"], s["max"], s["mean"], s["median"], s["std"]] == pytest.approx(
            [lo, hi, mean, median, std], abs=1e-12
        )


def test_estimated_mutual_information_matches_crosstab(spark):
    import numpy as np
    import pandas as pd

    from data_validation_spark.stats.mi import estimated_mutual_information

    rng = np.random.RandomState(5)
    n = 300
    xs = rng.normal(size=n)
    ys = np.where(xs + 0.7 * rng.normal(size=n) > 0, "hi", "lo").astype(object)
    xs[::17] = np.nan
    ys[::23] = None
    pdf = pd.DataFrame({"x": xs, "y": ys})
    df = spark.createDataFrame(
        [(None if np.isnan(a) else float(a), b) for a, b in zip(xs, ys)],
        "x double, y string",
    )

    # one partition: the estimate is the plug-in MI of the whole frame
    joint = pd.crosstab(pd.cut(pdf["x"], bins=4, labels=False), pdf["y"])
    p = joint.to_numpy(dtype=float) / joint.to_numpy().sum()
    outer = p.sum(axis=1, keepdims=True) @ p.sum(axis=0, keepdims=True)
    expected = float(np.sum(p[p > 0] * np.log2(p[p > 0] / outer[p > 0])))
    assert expected > 0.1
    out = estimated_mutual_information(df, "x", "y", num_partitions=1, num_bins=4)
    assert out["num_partitions"] == 1
    assert out["min"] == out["max"] == pytest.approx(expected, abs=1e-12)

    out = estimated_mutual_information(df, "x", "y", num_partitions=3, num_bins=4)
    assert out["num_partitions"] == 3
    assert 0.0 <= out["min"] <= out["median"] <= out["max"] <= 1.0


def test_nl_statistics_failure_releases_cache(spark):
    # An error after `seqs` is cached (here: an unknown vocabulary column)
    # must not leave the cache behind.
    from pyspark.errors import AnalysisException

    from data_validation_spark.stats.text import compute_nl_statistics

    def persisted_ids():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    df = spark.createDataFrame([("a b c",), ("b c",)], "t string")
    vocab = spark.createDataFrame([("a",)], "token string")
    before = persisted_ids()
    with pytest.raises(AnalysisException):
        compute_nl_statistics(df, "t", vocab=vocab, vocab_col="nope")
    assert persisted_ids() == before


def test_nl_token_stats_and_constraints(spark):
    from data_validation_spark.anomalies import AnomalyType as AT
    from data_validation_spark.schema import (
        FeatureSpec,
        NaturalLanguageDomain,
        Schema,
        TokenConstraint,
    )
    from data_validation_spark.stats.text import attach_nl_token_stats
    from data_validation_spark.validate.rules import validate_statistics

    rows = [("the cat sat on the mat",), ("the dog ran",), ("xyzzy qwerty",)]
    df = spark.createDataFrame(rows, "text string")
    vocab = spark.createDataFrame(
        [("the",), ("cat",), ("sat",), ("on",), ("mat",), ("dog",), ("ran",)],
        "token string",
    )
    stats = compute_statistics(df)
    nl = attach_nl_token_stats(
        stats, df, "text", vocab=vocab, constrained_tokens=["the", "xyzzy"]
    )
    assert nl["feature_coverage"] == pytest.approx(9 / 11)
    ts = nl["token_statistics"]["the"]
    assert ts["frequency"] == 3
    assert ts["fraction_of_sequences"] == pytest.approx(2 / 3)
    assert ts["per_sequence_max_frequency"] == 2
    assert nl["min_sequence_length"] == 2 and nl["max_sequence_length"] == 6
    assert nl["rank_histogram"][0]["label"] == "the"

    schema = Schema(
        feature=[
            FeatureSpec(
                name="text",
                natural_language_domain=NaturalLanguageDomain(
                    min_coverage=0.9,
                    min_avg_token_length=3.0,
                    token_constraints=[
                        TokenConstraint(value="the", min_fraction_of_sequences=0.9),
                        TokenConstraint(value="xyzzy", max_fraction_of_sequences=0.1),
                        TokenConstraint(value="the", max_per_sequence=1),
                        TokenConstraint(value="the", min_per_sequence=2),
                    ],
                ),
            )
        ]
    )
    r = validate_statistics(stats, schema)
    got = {a.type for a in r.anomalies}
    assert got == {
        AT.FEATURE_COVERAGE_TOO_LOW,
        AT.FEATURE_COVERAGE_TOO_SHORT_AVG_TOKEN_LENGTH,
        AT.SEQUENCE_VALUE_TOO_SMALL_FRACTION,
        AT.SEQUENCE_VALUE_TOO_LARGE_FRACTION,
        AT.SEQUENCE_VALUE_TOO_MANY_OCCURRENCES,
        AT.SEQUENCE_VALUE_TOO_FEW_OCCURRENCES,
    }


def test_nl_constraints_stats_not_available(spark):
    from data_validation_spark.anomalies import AnomalyType as AT
    from data_validation_spark.schema import (
        FeatureSpec,
        NaturalLanguageDomain,
        Schema,
        TokenConstraint,
    )
    from data_validation_spark.validate.rules import validate_statistics

    df = spark.createDataFrame([("hello world",)], "text string")
    stats = compute_statistics(df)  # no NL stats attached
    schema = Schema(
        feature=[
            FeatureSpec(
                name="text",
                natural_language_domain=NaturalLanguageDomain(
                    token_constraints=[TokenConstraint(value="hello", min_per_sequence=1)]
                ),
            )
        ]
    )
    r = validate_statistics(stats, schema)
    assert {a.type for a in r.anomalies} == {AT.STATS_NOT_AVAILABLE}


def test_merge_stats_one_sided_weighted(spark):
    # A weighted shard merged with an unweighted shard must keep the weighted
    # top-k/rank-histogram from the side that has it (not silently drop it).
    from data_validation_spark.io.artifacts import merge_stats

    dfw = spark.createDataFrame(
        [("a", 10.0), ("b", 1.0)], "s string, w double"
    )
    dfu = spark.createDataFrame([("a",), ("c",)], "s string")
    sw = compute_statistics(dfw, StatsOptions(weight_column="w"))
    su = compute_statistics(dfu)
    merged = merge_stats([sw, su])
    st = merged.default_slice().feature("s").string
    assert st.weighted_top_values and st.weighted_top_values[0] == ("a", 10.0)
    assert [b.label for b in st.weighted_rank_histogram] == ["a", "b"]


def test_median_from_boundaries_even_count():
    from data_validation_spark.stats.quantiles import median_from_boundaries

    assert median_from_boundaries([1.0, 2.0, 3.0]) == 2.0
    assert median_from_boundaries([1.0, 2.0, 3.0, 4.0]) == 2.5
    assert median_from_boundaries([5.0]) == 5.0


def test_merge_stats_random_shards_fuzz(spark):
    """variance_util_test.py merge-property port: K random shards merged must
    equal the single-pass mean/std (the artifacts merge reconstructs E[x²]
    from per-shard moments — exact, not approximate)."""
    import numpy as np

    from data_validation_spark.io.artifacts import merge_stats

    rng = np.random.RandomState(3)
    vals = rng.randn(400) * 10 + 3
    splits = np.array_split(vals, 5)
    shards = [
        compute_statistics(
            spark.createDataFrame([(float(v),) for v in s], "x double")
        )
        for s in splits
    ]
    merged = merge_stats(shards).default_slice().feature("x").numeric
    assert merged.mean == pytest.approx(vals.mean(), rel=1e-9)
    assert merged.std_dev == pytest.approx(vals.std(), rel=1e-9)
    assert merged.min == pytest.approx(vals.min())
    assert merged.max == pytest.approx(vals.max())


def test_checkpoint_crash_mid_run_resumes_without_recompute(spark, tmp_path):
    # Interrupted-job semantics (north-rule resume): a crash while processing
    # partition b leaves the ledger with only a's record (atomic artifacts),
    # and the resume run recomputes ONLY b and c.
    from data_validation_spark.datagen import images_df
    from data_validation_spark.io.checkpoint import CheckpointLedger, run_partitioned
    from data_validation_spark.pipeline import default_image_schema, validate_images

    schema = default_image_schema()
    ledger_dir = str(tmp_path / "ledger")
    processed = []

    def read_partition(p):
        return images_df(spark, 200, "clean", partitions=2)

    def crashing_validate(spark_, df, schema_, prev_stats=None, **kw):
        part = processed and processed[-1]
        processed.append("call")
        if len(processed) == 2:  # second partition this run
            raise RuntimeError("executor lost (simulated)")
        return validate_images(spark_, df, schema_, prev_stats=prev_stats, **kw)

    with pytest.raises(RuntimeError, match="executor lost"):
        run_partitioned(
            spark, ["a", "b", "c"], read_partition, schema, ledger_dir,
            validate_fn=crashing_validate,
        )
    ledger = CheckpointLedger(ledger_dir)
    assert set(ledger.completed()) == {"a"}  # b crashed before recording

    resumed = []

    def counting_validate(spark_, df, schema_, prev_stats=None, **kw):
        resumed.append(1)
        return validate_images(spark_, df, schema_, prev_stats=prev_stats, **kw)

    r = run_partitioned(
        spark, ["a", "b", "c"], read_partition, schema, ledger_dir,
        validate_fn=counting_validate,
    )
    assert set(r) == {"b", "c"} and len(resumed) == 2  # a NOT recomputed
    assert set(CheckpointLedger(ledger_dir).completed()) == {"a", "b", "c"}


def test_lift_string_y_reference_golden(spark):
    """lift_stats_generator_test.py:416 test_lift_string_y — exact lift
    values, x/y counts, and (lift desc, x desc) ordering per y series."""
    df = spark.createDataFrame(
        [("a", "cat"), ("a", "dog"), ("b", "cat"), ("a", "dog")],
        "categorical_x string, string_y string",
    )
    rows = lift_stats(
        df, "categorical_x", "string_y", include_zero_counts=True
    ).collect()
    got = {(r["y"], r["x"]): r for r in rows}
    assert got[("cat", "b")]["lift"] == pytest.approx(2.0)
    assert got[("cat", "b")]["xy_count"] == 1 and got[("cat", "b")]["x_count"] == 1
    assert got[("cat", "a")]["lift"] == pytest.approx(2 / 3)
    assert got[("cat", "a")]["x_count"] == 3
    assert got[("dog", "a")]["lift"] == pytest.approx(4 / 3)
    assert got[("dog", "a")]["xy_count"] == 2
    assert got[("dog", "b")]["lift"] == 0.0  # zero co-occurrence row present
    assert got[("dog", "b")]["xy_count"] == 0


def test_lift_weighted_reference_golden(spark):
    """lift_stats_generator_test.py:1066 test_lift_weighted (categorical_x1
    with the example weight): weighted counts replace counts everywhere —
    lift(b,cat)=1.6, lift(a,cat)=0.4, lift(a,dog)=2.0."""
    df = spark.createDataFrame(
        [("a", "cat", 0.5), ("a", "dog", 0.5), ("b", "cat", 2.0), ("a", "dog", 1.0)],
        "x string, y string, w double",
    )
    rows = lift_stats(df, "x", "y", weight_col="w").collect()
    got = {(r["y"], r["x"]): r for r in rows}
    assert got[("cat", "b")]["lift"] == pytest.approx(1.6)
    assert got[("cat", "b")]["xy_count"] == pytest.approx(2.0)
    assert got[("cat", "b")]["x_count"] == pytest.approx(2.0)
    assert got[("cat", "a")]["lift"] == pytest.approx(0.4)
    assert got[("cat", "a")]["xy_count"] == pytest.approx(0.5)
    assert got[("dog", "a")]["lift"] == pytest.approx(2.0)
    # weighted y rates: cat 2.5/4, dog 1.5/4
    assert got[("cat", "b")]["y_rate"] == pytest.approx(2.5 / 4)
    assert got[("dog", "a")]["y_rate"] == pytest.approx(1.5 / 4)


def test_lift_min_x_count_reference(spark):
    """lift_stats_generator_test.py:1756 test_lift_min_x_count — x values
    below the support threshold are dropped from every series; :1829
    filters-all → empty output."""
    df = spark.createDataFrame(
        [("a", "cat"), ("a", "dog"), ("b", "cat"), ("a", "dog")],
        "x string, y string",
    )
    rows = lift_stats(df, "x", "y", min_x_count=2).collect()
    assert {r["x"] for r in rows} == {"a"}
    assert lift_stats(df, "x", "y", min_x_count=5).collect() == []


def test_confusion_analysis_reference_golden(spark):
    """feature_skew_detector_test.py:807 test_confusion_analysis — exact
    (base, test, feature, count) confusion rows over matched pairs, with the
    __MISSING_VALUE__ placeholder for an absent side."""
    base = spark.createDataFrame(
        [("id0", "foo", "foo"), ("id1", "foo", "foo"), ("id2", "foo", "foo"),
         ("id3", "foo", "foo"), ("id4", "bar", "bar"), ("id5", "bar", "bar"),
         ("id6", "baz", "baz"), ("id7", "zip", "zap")],
        "id string, value_skew string, value_noskew string",
    )
    test = spark.createDataFrame(
        [("id0", "foo", "foo"), ("id1", "zim", "foo"), ("id2", "foo", "foo"),
         ("id3", "bar", "foo"), ("id4", "bar", "bar"), ("id5", "foo", "bar"),
         ("id6", "baz", "baz"), ("id7", None, "zap")],
        "id string, value_skew string, value_noskew string",
    )
    r = detect_feature_skew(
        base, test, ["id"], confusion_features=["value_skew", "value_noskew"]
    )
    got = {
        (row["feature_name"], row["base_value"], row["test_value"]): row["count"]
        for row in r.confusion_counts.collect()
    }
    expected = {
        ("value_noskew", "foo", "foo"): 4,
        ("value_noskew", "bar", "bar"): 2,
        ("value_noskew", "baz", "baz"): 1,
        ("value_noskew", "zap", "zap"): 1,
        ("value_skew", "foo", "foo"): 2,
        ("value_skew", "foo", "zim"): 1,
        ("value_skew", "foo", "bar"): 1,
        ("value_skew", "bar", "bar"): 1,
        ("value_skew", "bar", "foo"): 1,
        ("value_skew", "baz", "baz"): 1,
        ("value_skew", "zip", "__MISSING_VALUE__"): 1,
    }
    assert got == expected

    with pytest.raises(ValueError, match="unsupported for confusion analysis"):
        df_int = spark.createDataFrame([("a", 1)], "id string, val bigint")
        detect_feature_skew(df_int, df_int, ["id"], confusion_features=["val"])


def test_nl_heuristic_reference_boundaries(spark):
    """AverageWordHeuristicNLClassifier goldens
    (natural_language_domain_inferring_stats_generator_test.py:41-76 +
    constants :40-50): 'Hello this is some text' has avg word length 3.8 →
    inside the [2.5, 8] band; empty / spaces-only / <3-word values never
    match; the 80%-of-≥100-values rule gates domain inference."""
    from data_validation_spark.stats.text import attach_nl_stats

    five_words = "Hello this is some text"  # avg word length 19/5 = 3.8
    rows = (
        [(five_words,)] * 90           # matches
        + [("ab xy " + "q" * 40,)] * 5  # avg word len (2+2+40)/3 ≈ 14.7 → no
        + [("",)] * 3                   # empty → no
        + [("   ",)] * 1                # spaces only → no
        + [("two words",)] * 1          # < 3 words → no (min_words_per_value)
    )
    df = spark.createDataFrame(rows, "caption string")
    stats = compute_statistics(df, StatsOptions(feature_allowlist=["caption"]))
    attach_nl_stats(stats, df, "caption")
    fs = stats.default_slice().feature("caption")
    assert fs.custom["nl_match_fraction"] == pytest.approx(0.9)
    assert fs.custom["domain_info"] == "natural_language_domain {}"

    # below the 80% match ratio: no domain inferred
    rows2 = [(five_words,)] * 70 + [("xx",)] * 30
    df2 = spark.createDataFrame(rows2, "caption string")
    s2 = compute_statistics(df2, StatsOptions(feature_allowlist=["caption"]))
    attach_nl_stats(s2, df2, "caption")
    f2 = s2.default_slice().feature("caption")
    assert f2.custom["nl_match_fraction"] == pytest.approx(0.7)
    assert "domain_info" not in f2.custom

    # below the 100-value threshold: no domain even at 100% match
    rows3 = [(five_words,)] * 50
    df3 = spark.createDataFrame(rows3, "caption string")
    s3 = compute_statistics(df3, StatsOptions(feature_allowlist=["caption"]))
    attach_nl_stats(s3, df3, "caption")
    assert "domain_info" not in s3.default_slice().feature("caption").custom


def test_confusion_feature_outside_compared_set(spark):
    """ConfusionConfig is independent of features_to_compare
    (feature_skew_detector.py:350-404): a confusion feature excluded from the
    compared set must still produce confusion rows, not an analysis error."""
    base = spark.createDataFrame(
        [("id0", "a", "x"), ("id1", "b", "y")],
        "id string, cmp string, conf string",
    )
    test = spark.createDataFrame(
        [("id0", "a", "x"), ("id1", "b", "z")],
        "id string, cmp string, conf string",
    )
    r = detect_feature_skew(
        base, test, ["id"],
        features_to_compare=["cmp"],          # excludes 'conf'
        confusion_features=["conf"],
    )
    got = {
        (row["base_value"], row["test_value"]): row["count"]
        for row in r.confusion_counts.collect()
    }
    assert got == {("x", "x"): 1, ("y", "z"): 1}
    assert set(r.feature_skew) <= {"cmp"}  # conf not silently compared

    with pytest.raises(ValueError, match="must exist in both"):
        detect_feature_skew(
            base, test, ["id"], features_to_compare=["cmp"],
            confusion_features=["nope"],
        )


def test_lift_weighted_empty_input_schema(spark):
    """Weighted lift's empty-input early return must carry the same schema
    (double counts) as the non-empty weighted path."""
    df = spark.createDataFrame([], "x string, y string, w double")
    empty = lift_stats(df, "x", "y", weight_col="w")
    assert dict(empty.dtypes)["xy_count"] == "double"
    assert dict(empty.dtypes)["x_count"] == "double"
    nonempty = lift_stats(
        spark.createDataFrame([("a", "p", 2.0)], "x string, y string, w double"),
        "x", "y", weight_col="w",
    )
    assert dict(nonempty.dtypes) == dict(empty.dtypes)
    # unweighted empty stays bigint
    empty_u = lift_stats(spark.createDataFrame([], "x string, y string"), "x", "y")
    assert dict(empty_u.dtypes)["xy_count"] == "bigint"


def test_nl_stats_schema_resolved_vocab(spark, tmp_path):
    """StatsOptions.vocab_paths resolves the schema NL domain's vocabulary
    name to a file (stats_impl.py:370-379 wiring)."""
    from data_validation_spark.schema import NaturalLanguageDomain, TokenConstraint
    from data_validation_spark.stats.options import StatsOptions
    from data_validation_spark.stats.text import compute_nl_statistics_for_feature

    vpath = str(tmp_path / "v.txt")
    with open(vpath, "w") as f:
        f.write("the\nfox\njumps\n")
    df = spark.createDataFrame(
        [("the fox jumps",), ("the dog sleeps",)], "txt string"
    )
    domain = NaturalLanguageDomain(
        vocabulary="v",
        token_constraints=[TokenConstraint(value="the")],
    )
    options = StatsOptions(vocab_paths={"v": vpath})
    out = compute_nl_statistics_for_feature(spark, df, "txt", domain, options)
    # 4 of 6 tokens are in-vocab.
    assert out["feature_coverage"] == pytest.approx(4 / 6)
    # Domain token_constraints flow through as constrained_tokens.
    assert out["token_statistics"]["the"]["frequency"] == 2
    assert out["token_statistics"]["the"]["fraction_of_sequences"] == 1.0
    # Missing path mapping is an explicit error.
    with pytest.raises(ValueError, match="vocab_paths"):
        compute_nl_statistics_for_feature(
            spark, df, "txt", domain, StatsOptions()
        )
    # GZIP TFRecord vocabularies resolve too.
    from data_validation_spark.io import tfrecord as tfr

    gzpath = str(tmp_path / "v.tfrecord.gz")
    tfr.write_frames(gzpath, [b"the", b"fox", b"jumps"], compression="gzip")
    out2 = compute_nl_statistics_for_feature(
        spark, df, "txt", NaturalLanguageDomain(vocabulary="g"),
        StatsOptions(vocab_paths={"g": gzpath}),
    )
    assert out2["feature_coverage"] == pytest.approx(4 / 6)


def test_label_feature_lift_in_artifact(spark):
    """StatsOptions.label_feature wires lift custom stats into the artifact
    (stats_impl.py:386-396 LiftStatsGenerator wiring)."""
    rows = [("a", "y1"), ("a", "y1"), ("a", "y2"), ("b", "y1"), ("b", "y2"), ("b", "y2")]
    df = spark.createDataFrame(rows, "x string, label string")
    stats = compute_statistics(df, StatsOptions(label_feature="label"))
    fs = stats.default_slice().feature("x")
    lift = fs.custom["lift"]
    d = {(r["x"], r["y"]): r for r in lift}
    # P(y1)=0.5; P(y1|a)=2/3 → lift 4/3. P(y2|a)=1/3 → 2/3. Symmetric for b.
    assert d[("a", "y1")]["lift"] == pytest.approx(4 / 3)
    assert d[("a", "y2")]["lift"] == pytest.approx(2 / 3)
    assert d[("b", "y2")]["lift"] == pytest.approx(4 / 3)
    assert d[("a", "y1")]["xy_count"] == 2 and d[("a", "y1")]["x_count"] == 3
    # the label feature itself gets no lift entry
    assert "lift" not in stats.default_slice().feature("label").custom
    # ordering: y asc, lift desc within y
    assert [r["y"] for r in lift] == sorted(r["y"] for r in lift)

    # numeric label without boundaries is an explicit error
    dfn = spark.createDataFrame([("a", 1.0)], "x string, label double")
    with pytest.raises(ValueError, match="lift_y_boundaries"):
        compute_statistics(dfn, StatsOptions(label_feature="label"))
    # ...and works with boundaries
    dfn2 = spark.createDataFrame(
        [("a", 1.0), ("a", 3.0), ("b", 3.0), ("b", 5.0)], "x string, label double"
    )
    stats2 = compute_statistics(
        dfn2, StatsOptions(label_feature="label", lift_y_boundaries=[2.0, 4.0])
    )
    lifts2 = stats2.default_slice().feature("x").custom["lift"]
    ys = {r["y"] for r in lifts2}
    assert ys == {"[-inf,2)", "[2,4)", "[4,inf)"}

    # weighted path: doubling one row's weight shifts the lift
    dfw = spark.createDataFrame(
        [("a", "y1", 2.0), ("a", "y2", 1.0), ("b", "y1", 1.0), ("b", "y2", 1.0)],
        "x string, label string, w double",
    )
    sw = compute_statistics(
        dfw, StatsOptions(label_feature="label", weight_column="w")
    )
    dw = {(r["x"], r["y"]): r for r in sw.default_slice().feature("x").custom["lift"]}
    # W=5, w(y1)=3 → rate 0.6; P_w(y1|a)=2/3 → lift 10/9
    assert dw[("a", "y1")]["lift"] == pytest.approx((2 / 3) / (3 / 5))


@pytest.mark.parametrize(
    "label, match", [("nope", "not found"), ("y", "lift_y_boundaries")]
)
def test_bad_lift_options_fail_before_any_job(spark, label, match):
    """A missing label column and a numeric label without boundaries are
    rejected before the stats fan-out submits any Spark job."""
    df = spark.range(200_000).select(
        (F.col("id") % 7).cast("string").alias("x"),
        F.col("id").cast("double").alias("y"),
    )
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    with pytest.raises(ValueError, match=match):
        compute_statistics(df, StatsOptions(label_feature=label))
    assert set(tracker.getJobIdsForGroup(None)) - before == set()


def test_label_feature_lift_sliced(spark):
    rows = [
        ("s1", "a", "y1"), ("s1", "a", "y2"), ("s1", "b", "y1"),
        ("s2", "a", "y2"), ("s2", "b", "y2"),
    ]
    df = spark.createDataFrame(rows, "region string, x string, label string")
    stats = compute_statistics(
        df, StatsOptions(label_feature="label", slice_column="region")
    )
    by_key = {s.slice_key: s for s in stats.slices}
    assert "lift" in by_key["s1"].feature("x").custom
    # slice s2 only has y2 → every x lift is 1.0 there
    for r in by_key["s2"].feature("x").custom["lift"]:
        assert r["lift"] == pytest.approx(1.0)
