"""SkLearnMutualInformation parity — ports of the reference's
``sklearn_mutual_information_test.py`` (statistics/generators).

The repo's estimator reimplements sklearn's ``mutual_info_regression`` /
``mutual_info_classif`` (KSG / Ross / contingency plug-in, sklearn's
scale-and-noise pipeline with a seeded RandomState), so the reference's
sklearn-derived goldens reproduce bit-for-bit; asserted at 1e-6.
"""

import numpy as np
import pandas as pd
import pytest

from data_validation_spark.stats.mi_sklearn import (
    ADJUSTED_MUTUAL_INFORMATION_KEY as AMI,
)
from data_validation_spark.stats.mi_sklearn import (
    MUTUAL_INFORMATION_KEY as MI,
)
from data_validation_spark.stats.mi_sklearn import (
    NORMALIZED_ADJUSTED_MUTUAL_INFORMATION_KEY as NAMI,
)
from data_validation_spark.stats.mi_sklearn import (
    SkLearnMutualInformationStats,
    sklearn_mutual_information_stats,
)

TEST_SEED = 10


def _compute(pdf, categorical=frozenset(), multivalent=frozenset(), label="label_key"):
    gen = SkLearnMutualInformationStats(
        label,
        set(categorical),
        schema_features=set(pdf.columns),
        multivalent_features=set(multivalent),
        seed=TEST_SEED,
    )
    return gen.compute(pdf)


def _assert_stats(actual, feature, mi, ami, nami):
    assert actual[feature][MI] == pytest.approx(mi, abs=1e-6)
    assert actual[feature][AMI] == pytest.approx(ami, abs=1e-6)
    assert actual[feature][NAMI] == pytest.approx(nami, abs=1e-6)


def test_mi_regression_with_float_label_and_numeric_features():
    label = [0.1, 0.2, 0.8, 0.7, 0.2, 0.3, 0.9, 0.4, 0.1, 0.0, 0.4, 0.6, 0.4, 0.8]
    terrible = [0.4, 0.1, 0.4, 0.4, 0.8, 0.7, 0.2, 0.1, 0.0, 0.4, 0.8, 0.2, 0.5, 0.1]
    pdf = pd.DataFrame(
        {"label_key": label, "perfect_feature": label, "terrible_feature": terrible}
    )
    out = _compute(pdf)
    _assert_stats(out, "perfect_feature", 1.1622766, 1.0096965, 0.9496162)
    _assert_stats(out, "terrible_feature", 0.0211485, 0.0211485, 0.0161305)


def test_mi_regression_with_null_array():
    label = [0.1, 0.2, 0.8, 0.7, 0.2, 0.3, 0.9, 0.4, 0.1, 0.0, 0.4, 0.6, 0.4, 0.8]
    terrible = [0.4, 0.1, 0.4, 0.4, 0.8, 0.7, 0.2, 0.1, 0.0, 0.4, 0.8, 0.2, 0.5, 0.1]
    pdf = pd.DataFrame(
        {
            "label_key": label,
            "perfect_feature": label,
            "terrible_feature": terrible,
            "values_empty_feature": [None] * 14,
        }
    )
    out = _compute(pdf)
    _assert_stats(out, "perfect_feature", 1.2277528, 1.0742656, 1.0)
    _assert_stats(out, "terrible_feature", 0.0392891, 0.0392891, 0.0299668)
    _assert_stats(out, "values_empty_feature", 0.0, 0.0, 0.0)


def test_mi_regression_with_int_label_and_categorical_feature():
    n = 100
    np.random.seed(0)
    label = (
        [np.random.rand() for _ in range(n)]
        + [np.random.rand() + 1 for _ in range(n)]
        + [np.random.rand() + 2 for _ in range(n)]
    )
    feat = ["Red"] * n + ["Blue"] * n + ["Green"] * n
    zipped = list(zip(feat, label))
    np.random.shuffle(zipped)
    feat_array, label_array = zip(*zipped)
    pdf = pd.DataFrame(
        {"label_key": list(label_array), "color_feature": list(feat_array)}
    )
    out = _compute(pdf, categorical={"color_feature"})
    _assert_stats(out, "color_feature", 1.0983102, 1.0798653, 0.2438967)


def test_mi_classif_with_int_label_and_categorical_feature():
    pdf = pd.DataFrame(
        {
            "label_key": [0, 2, 0, 1, 2, 1, 1, 0, 2, 1, 0],
            "perfect_feature": [
                "Red", "Blue", "Red", "Green", "Blue", "Green",
                "Green", "Red", "Blue", "Green", "Red",
            ],
        }
    )
    out = _compute(pdf, categorical={"label_key", "perfect_feature"})
    _assert_stats(out, "perfect_feature", 1.0900597, 0.9297553, 1.0)


def test_mi_classif_with_categorical_all_unique_labels():
    pdf = pd.DataFrame(
        {
            "label_key": [0, 2, 0, 1, 2, 1, 1, 0, 2, 1, 0],
            "perfect_feature": [
                "Red", "Blue", "Red", "Green", "Blue", "Green",
                "Green", "Red", "Blue", "Green", "Red",
            ],
            "unique_feat_array": [f"Red{i}" for i in range(1, 12)],
        }
    )
    out = _compute(
        pdf, categorical={"label_key", "perfect_feature", "unique_feat_array"}
    )
    _assert_stats(out, "perfect_feature", 1.0900597, 0.9297553, 1.0)
    # A fully-unique categorical memorizes shuffled labels equally well, so
    # AMI cancels to exactly 0 while raw MI reads the full label entropy.
    _assert_stats(out, "unique_feat_array", 1.0900597, 0.0, 0.0)


def test_mi_classif_categorical_label_small_sample():
    pdf = pd.DataFrame({"label_key": [0], "feature": ["Red"]})
    out = _compute(pdf, categorical={"label_key", "feature"})
    _assert_stats(out, "feature", 0.0, 0.0, 0.0)


def test_mi_regression_numeric_label_small_sample():
    pdf = pd.DataFrame({"label_key": [0, 0], "feature": ["Red", "Red"]})
    out = _compute(pdf, categorical={"feature"})
    assert out == {}


def test_mi_with_imputed_categorical_feature():
    pdf = pd.DataFrame(
        {
            "label_key": [0, 2, 0, 1, 2, 1, 1],
            "fa": ["Red", "Blue", None, None, "Blue", "Green", "Green"],
        }
    )
    out = _compute(pdf, categorical={"label_key", "fa"})
    _assert_stats(out, "fa", 0.8809502, 0.3960841, 0.4568877)


def test_mi_with_imputed_numerical_feature():
    pdf = pd.DataFrame(
        {
            "label_key": [0.1, 0.2, 0.8, 0.7, 0.2, 0.2, 0.3,
                          0.1, 0.2, 0.8, 0.7, 0.2, 0.2, 0.3],
            "fa": [0.1, 0.2, 0.8, 0.7, 0.2, np.nan, None,
                   0.1, 0.2, 0.8, 0.7, 0.2, 0.2, 0.3],
        }
    )
    out = _compute(pdf)
    _assert_stats(out, "fa", 0.4063665, 0.3849224, 0.3268321)


def test_mi_with_imputed_categorical_label():
    pdf = pd.DataFrame(
        {
            "label_key": ["Red", "Blue", "Red", None, None, "Green", "Green"],
            "fa": ["Red", "Blue", "Red", "Green", "Blue", "Green", "Green"],
        }
    )
    out = _compute(pdf, categorical={"label_key", "fa"})
    _assert_stats(out, "fa", 0.8809502, 0.1980421, 0.2960819)


def test_mi_with_imputed_numerical_label():
    pdf = pd.DataFrame(
        {
            "label_key": [0.1, 0.2, 0.8, 0.7, 0.2, np.nan, None,
                          0.1, 0.2, 0.8, 0.7, 0.2, 0.2, 0.3],
            "fa": [0.1, 0.2, 0.8, 0.7, 0.2, 0.2, 0.3,
                   0.1, 0.2, 0.8, 0.7, 0.2, 0.2, 0.3],
        }
    )
    out = _compute(pdf)
    _assert_stats(out, "fa", 0.3825569, 0.2640041, 0.244306)


def test_mi_with_invalid_features():
    pdf = pd.DataFrame({"label_key": [1], "multivalent_feature": [[1, 2]]})
    out = _compute(pdf, multivalent={"multivalent_feature"})
    assert out == {}


def test_mi_with_multivalent_label():
    pdf = pd.DataFrame({"label_key": [[1, 2]], "fa": [1]})
    with pytest.raises(ValueError, match="Label column contains unsupported data"):
        _compute(pdf, multivalent={"label_key"})


def test_mi_with_out_of_schema_feature_dropped():
    label = [0.1, 0.2, 0.8, 0.7, 0.2, 0.3, 0.9, 0.4]
    pdf = pd.DataFrame({"label_key": label, "perfect_feature": label})
    gen = SkLearnMutualInformationStats(
        "label_key", set(), schema_features={"label_key"}, seed=TEST_SEED
    )
    assert gen.compute(pdf) == {}


def test_sklearn_estimator_paths_pinned():
    # Pinned outputs, in nats, of each estimator path: KSG (cc), Ross (cd,
    # dc) and the contingency plug-in (dd); exact up to summation order.
    from data_validation_spark.stats.mi_sklearn import (
        mutual_info_classif,
        mutual_info_regression,
        mutual_info_score,
    )

    rng = np.random.RandomState(3)
    m = 400
    c = rng.normal(size=(m, 2))
    d = rng.randint(0, 4, size=(m, 2))
    yc = c[:, 0] + d[:, 1] + 0.5 * rng.normal(size=m)
    yd = (c[:, 1] > 0).astype(int) + d[:, 0] % 2
    cases = [
        (mutual_info_regression(c, yc, random_state=5), [0.28161954737865713, 0.0]),
        (mutual_info_classif(c, yd, random_state=5), [0.0, 0.33666059000845094]),
        (
            mutual_info_regression(d, yc, discrete_features=True, random_state=5),
            [0.055789766011195674, 0.3414720348698894],
        ),
        (
            mutual_info_classif(d, yd, discrete_features=True, random_state=5),
            [0.33829254135627457, 0.0036902098076769217],
        ),
    ]
    for got, expected in cases:
        assert got.tolist() == pytest.approx(expected, abs=1e-12)
    assert mutual_info_score(d[:, 0], yd) == pytest.approx(0.33829254135627457, abs=1e-12)
    # every label a singleton: sklearn's Ross estimate is 0, not an error
    assert mutual_info_classif(c[:5], np.arange(5), random_state=5).tolist() == [0.0, 0.0]


# ------------------------------------------------------------ Spark side
def test_sklearn_mutual_information_stats_spark(spark):
    rng = np.random.RandomState(3)
    n = 3000
    label = rng.rand(n)
    pdf = pd.DataFrame(
        {"label": label, "perfect": label, "noise": rng.rand(n)}
    )
    df = spark.createDataFrame(pdf)
    out = sklearn_mutual_information_stats(df, "label", row_partitions=3, seed=7)
    assert set(out) == {"perfect", "noise"}
    for feature in out:
        assert out[feature]["num_partitions_" + MI] == 3
    assert out["perfect"]["mean_" + AMI] > 1.0
    assert out["noise"]["mean_" + AMI] < 0.1
    assert 0.9 < out["perfect"]["mean_" + NAMI] <= 1.0


def test_sklearn_mutual_information_stats_reproducible(spark):
    """The shuffled-label AMI/NAMI terms draw from a RandomState seeded per
    partition call, so Python workers reused from one call to the next give
    the same summaries every time."""
    rng = np.random.RandomState(5)
    n = 600
    label = rng.randint(0, 3, n)
    pdf = pd.DataFrame(
        {
            "label": label,
            "near": label + rng.rand(n),
            "noise": rng.rand(n),
            "cat": rng.choice(["a", "b", "c"], n),
        }
    )
    df = spark.createDataFrame(pdf)
    runs = [
        sklearn_mutual_information_stats(
            df, "label", categorical_features={"label", "cat"}, row_partitions=3, seed=7
        )
        for _ in range(2)
    ]
    assert runs[0] == runs[1]
    assert all(out["near"]["num_partitions_" + AMI] == 3 for out in runs)
