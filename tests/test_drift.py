"""Drift metric tests — cases modeled on the reference's metrics_test.cc."""

import math

import pytest

from data_validation_spark.stats.result import Histogram, HistogramBucket
from data_validation_spark.validate.drift import (
    align_histograms,
    jensen_shannon_divergence_counts,
    jensen_shannon_divergence_histograms,
    linfty_distance,
    normalized_absolute_difference,
)


def H(buckets, num_nan=0, type_="STANDARD"):
    return Histogram(type_, [HistogramBucket(*b) for b in buckets], num_nan=num_nan)


def test_linfty():
    a = {"x": 3.0, "y": 1.0}  # normalized: .75/.25
    b = {"x": 1.0, "y": 1.0}  # normalized: .5/.5
    key, val = linfty_distance(a, b)
    assert val == pytest.approx(0.25)
    assert key in ("x", "y")


def test_linfty_disjoint_keys():
    _, val = linfty_distance({"x": 1.0}, {"y": 1.0})
    assert val == pytest.approx(1.0)


def test_normalized_absolute_difference():
    a = {"x": 3.0, "y": 1.0}
    b = {"x": 1.0, "y": 1.0}
    # combined total = 6; diffs: x: |3-1|/6=1/3, y: 0
    key, val = normalized_absolute_difference(a, b)
    assert key == "x"
    assert val == pytest.approx(1 / 3)


def test_jsd_counts_identical_zero():
    m = {"a": 5.0, "b": 5.0}
    assert jensen_shannon_divergence_counts(m, dict(m)) == pytest.approx(0.0)


def test_jsd_counts_disjoint_one():
    assert jensen_shannon_divergence_counts({"a": 3.0}, {"b": 7.0}) == pytest.approx(1.0)


def test_jsd_counts_hand_computed():
    m1 = {"a": 2.0, "b": 1.0}
    m2 = {"a": 1.0, "b": 1.0}
    pa, pb = 2 / 3, 1 / 3
    qa, qb = 1 / 2, 1 / 2
    ma, mb = (pa + qa) / 2, (pb + qb) / 2
    expected = (
        pa * math.log2(pa / ma)
        + pb * math.log2(pb / mb)
        + qa * math.log2(qa / ma)
        + qb * math.log2(qb / mb)
    ) / 2
    assert jensen_shannon_divergence_counts(m1, m2) == pytest.approx(expected)


def test_jsd_counts_independent_of_string_hashing():
    """The sum runs over the keys in sorted order, so two processes with
    different string-hash seeds get bit-equal values (regression: set order
    changed the last bit from one process to the next)."""
    import os
    import subprocess
    import sys

    code = (
        "from data_validation_spark.validate.drift import "
        "jensen_shannon_divergence_counts as jsd\n"
        "a = {f'v{i}': float(i % 7 + 1) for i in range(300)}\n"
        "b = {f'v{i}': float(i % 11 + 1) for i in range(50, 350)}\n"
        "print(repr(jsd(a, b)))\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = {
        subprocess.run(
            [sys.executable, "-c", code], cwd=root, check=True, capture_output=True,
            text=True, env={**os.environ, "PYTHONHASHSEED": seed},
        ).stdout
        for seed in ("1", "2", "3")
    }
    assert len(out) == 1, out


def test_jsd_histograms_identical_zero():
    h = H([(0, 1, 10), (1, 2, 20)])
    assert jensen_shannon_divergence_histograms(h, H([(0, 1, 10), (1, 2, 20)])) == pytest.approx(
        0.0
    )


def test_jsd_histograms_disjoint_one():
    h1 = H([(0, 1, 10)])
    h2 = H([(5, 6, 10)])
    assert jensen_shannon_divergence_histograms(h1, h2) == pytest.approx(1.0)


def test_jsd_histograms_rebucketing():
    # h1 uniform on [0,2); h2 uniform on [1,3) — overlap [1,2) is half of each.
    h1 = H([(0, 2, 10)])
    h2 = H([(1, 3, 10)])
    # After alignment: bounds {0,1,2,3}; p=(.5,.5,0), q=(0,.5,.5)
    p, q = align_histograms(h1, h2)
    assert p == pytest.approx([5.0, 5.0, 0.0])
    assert q == pytest.approx([0.0, 5.0, 5.0])
    jsd = jensen_shannon_divergence_histograms(h1, h2)
    expected = 0.5  # half mass disjoint, half identical: .5*1 + .5*0
    assert jsd == pytest.approx(expected)


def test_align_point_mass_and_nan_and_inf():
    h1 = H([(float("-inf"), 0, 2), (1, 1, 3), (1, 2, 5)], num_nan=1)
    h2 = H([(1, 2, 5)])
    p, q = align_histograms(h1, h2)
    # finite buckets [1,2): p=5,q=5; point mass 1→(3,0); inf→(2,0); nan pair
    assert sum(p) == pytest.approx(2 + 3 + 5 + 1)
    assert sum(q) == pytest.approx(5)
    assert len(p) == len(q)


def test_jsd_mismatched_total_ranges():
    h1 = H([(0, 10, 100)])
    h2 = H([(0, 5, 50), (5, 10, 50)])
    assert jensen_shannon_divergence_histograms(h1, h2) == pytest.approx(0.0, abs=1e-12)


def test_linf_uses_weighted_counts_when_present():
    from data_validation_spark.stats.result import RankBucket, StringStats
    from data_validation_spark.validate.rules import _linf
    from tests.test_validate import make_feature

    def sf(counts, wcounts=None):
        st = StringStats(
            rank_histogram=[RankBucket(i + 1, i + 1, k, v) for i, (k, v) in enumerate(counts.items())]
        )
        if wcounts is not None:
            st.weighted_rank_histogram = [
                RankBucket(i + 1, i + 1, k, v) for i, (k, v) in enumerate(wcounts.items())
            ]
        return make_feature("f", type_="STRING", string=st)

    # unweighted counts identical, weighted differ → weighted drives the metric
    a = sf({"x": 5.0, "y": 5.0}, {"x": 9.0, "y": 1.0})
    b = sf({"x": 5.0, "y": 5.0}, {"x": 1.0, "y": 9.0})
    assert _linf(a, b)[0] == pytest.approx(0.8)
    # one side unweighted → falls back to unweighted maps
    c = sf({"x": 5.0, "y": 5.0})
    assert _linf(a, c)[0] == pytest.approx(0.0)


# ---------------------------------------------------------------------------
# Table-driven numeric goldens ported verbatim from the reference's
# anomalies/metrics_test.cc (LInftyDistanceTest:86-113,
# NormalizedAbsoluteDifferenceTest:115-141, JensenShannonDivergence:142-676).
# Every expected value is the reference's EXPECT_NEAR constant.
# ---------------------------------------------------------------------------

_INF = float("inf")

_LINF_GOLDENS = [
    # (name, training counts, serving counts, expected)  metrics_test.cc:86-101
    ("two_empty_maps", {}, {}, 0.0),
    ("normal_distribution", {"hello": 0.1, "world": 0.9}, {"hello": 0.3, "world": 0.7}, 0.2),
    ("missing_value_in_both", {"b": 0.9, "c": 0.1}, {"a": 0.3, "b": 0.7}, 0.3),
    ("missing_value_flipped", {"a": 0.3, "b": 0.7}, {"b": 0.9, "c": 0.1}, 0.3),
]

_NAD_GOLDENS = [
    # metrics_test.cc:115-127
    ("two_empty_maps", {}, {}, 0.0),
    ("normal_distribution", {"hello": 0.1, "world": 0.9}, {"hello": 0.3, "world": 0.7}, 0.1),
    ("different_scales_same_distribution",
     {"hello": 1.0, "world": 5.0}, {"hello": 10.0, "world": 50.0}, 0.68181818),
]


@pytest.mark.parametrize("name,a,b,expected", _LINF_GOLDENS, ids=[c[0] for c in _LINF_GOLDENS])
def test_linfty_reference_goldens(name, a, b, expected):
    assert linfty_distance(a, b)[1] == pytest.approx(expected, abs=1e-5)


@pytest.mark.parametrize("name,a,b,expected", _NAD_GOLDENS, ids=[c[0] for c in _NAD_GOLDENS])
def test_nad_reference_goldens(name, a, b, expected):
    assert normalized_absolute_difference(a, b)[1] == pytest.approx(expected, abs=1e-5)


_JSD_HIST_GOLDENS = [
    # (name, (buckets1, num_nan1), (buckets2, num_nan2), expected)
    # DifferentBucketBoundaries metrics_test.cc:212 — rebucketed overlap math
    ("different_bucket_boundaries",
     ([(1, 2, 2), (2, 3, 2)], 0), ([(2, 4, 2), (4, 6, 2)], 0), 0.65563906222),
    # NoOverlap metrics_test.cc:261
    ("no_overlap", ([(0, 1, 2), (1, 2, 2)], 0), ([(3, 4, 2), (4, 6, 2)], 0), 1.0),
    # OneHasAllValuesInOneBucket metrics_test.cc:293 (point mass vs ranges)
    ("one_has_all_values_in_one_bucket",
     ([(1, 1, 4)], 0), ([(2, 4, 2), (4, 6, 2)], 0), 1.0),
    # BothHaveAllValuesInOneBucket metrics_test.cc:324
    ("both_have_all_values_in_one_bucket",
     ([(1, 1, 4)], 0), ([(2.33, 2.33, 4)], 0), 1.0),
    # OneHasOneBucketTheOtherHasMany metrics_test.cc:354
    ("one_bucket_vs_many",
     ([(10, 10, 21)], 0), ([(0, 4, 150), (4, 12, 200), (12, 20, 20)], 0), 1.0),
    # NaNNotEqualToSelf metrics_test.cc:430
    ("nan_not_equal_to_self", ([], 1), ([], 1), 1.0),
    # WithNaNs metrics_test.cc:450 — JSD worked out in the reference comment
    ("with_nans", ([(1, 2, 3)], 1), ([(1, 2, 4)], 0), 0.13792538096),
    # MultiplePointBinsPartialOverlap metrics_test.cc:581
    ("multiple_point_bins_partial_overlap",
     ([(0, 0, 1), (1, 1, 1)], 0), ([(0, 0, 1), (2, 2, 1)], 0), 0.5),
    # MixOfPointAndNonPointBoundaries metrics_test.cc:613
    ("mix_of_point_and_non_point",
     ([(0, 0, 1), (1, 2, 1)], 0), ([(1, 1, 1), (2, 2, 1)], 0), 1.0),
    # InfiniteBinBoundaries metrics_test.cc:645 — identical histograms but the
    # ±inf buckets never match (same NaN-like semantics), so JSD is 1.
    ("infinite_bin_boundaries",
     ([(-_INF, 0, 1), (_INF, _INF, 1)], 0), ([(-_INF, 0, 1), (_INF, _INF, 1)], 0), 1.0),
]


@pytest.mark.parametrize(
    "name,h1,h2,expected", _JSD_HIST_GOLDENS, ids=[c[0] for c in _JSD_HIST_GOLDENS]
)
def test_jsd_histogram_reference_goldens(name, h1, h2, expected):
    got = jensen_shannon_divergence_histograms(H(h1[0], num_nan=h1[1]), H(h2[0], num_nan=h2[1]))
    assert got == pytest.approx(expected, abs=1e-5)


def test_jsd_rank_histogram_reference_golden():
    """metrics_test.cc:492 RankHistogram — categorical JSD over count maps."""
    got = jensen_shannon_divergence_counts(
        {"b": 2.0, "a": 2.0, "c": 1.0}, {"a": 2.0, "Z": 1.0, "Y": 1.0, "X": 1.0}
    )
    assert got == pytest.approx(0.6, abs=1e-5)


def test_drift_skew_metrics_integration(spark):
    """Port of integration_tests/drift_skew_metrics_test.py (both cases;
    shift grid reduced from 10 to 3 points for runtime): the STANDARD and
    QUANTILES JSD sources agree on clean normal-vs-shifted-normal data, and
    a single huge outlier saturates STANDARD JSD (>0.99, more bins do not
    help) while QUANTILES stays robust (<0.15 at 10 buckets, <0.02 at
    100)."""
    import numpy as np
    import pandas as pd

    from data_validation_spark.schema import DriftComparator
    from data_validation_spark.sources import from_pandas
    from data_validation_spark.stats.engine import compute_statistics
    from data_validation_spark.stats.options import StatsOptions
    from data_validation_spark.validate.infer import infer_schema
    from data_validation_spark.validate.rules import validate_statistics

    def stats_of(arr, qbuckets=10):
        df = from_pandas(spark, pd.DataFrame({"foo": arr}))
        return compute_statistics(
            df, StatsOptions(num_quantiles_histogram_buckets=qbuckets)
        )

    def js(stats1, stats2, source):
        schema = infer_schema(stats1)
        schema.get_feature("foo").drift_comparator = DriftComparator(
            jensen_shannon_divergence_threshold=0.0,
            jensen_shannon_source=source,
        )
        r = validate_statistics(stats1, schema, previous_statistics=stats2)
        m = r.drift_skew_info[0]
        assert m.metric == "JENSEN_SHANNON_DIVERGENCE"
        return m.value

    gen = np.random.default_rng(44)
    for shift in (0.0, 1.0, 2.0):
        s1 = stats_of(gen.standard_normal(1000))
        s2 = stats_of(shift + gen.standard_normal(1000))
        assert abs(js(s1, s2, "STANDARD") - js(s1, s2, "QUANTILES")) < 0.1

    arr1 = gen.standard_normal(10000)
    arr2 = np.concatenate([arr1, np.array([1e8])])
    for qbuckets, q_limit in ((10, 0.15), (100, 0.02)):
        s1 = stats_of(arr1, qbuckets)
        s2 = stats_of(arr2, qbuckets)
        assert js(s1, s2, "QUANTILES") < q_limit
        # STANDARD is saturated by the outlier regardless of bucket count
        assert js(s1, s2, "STANDARD") > 0.99
