"""Golden clusters ported from the reference's basic-stats generator suite
(``tensorflow_data_validation/statistics/generators/basic_stats_generator_test.py``)
— the exactly-matchable semantics cases: infinity handling in the mean/std
accumulator, all-NaN features, pure-null columns, categorical numeric
avg_length over stringified values, and weighted accumulators with infs.

Histogram bucket weights are NOT asserted here: the reference derives them
from its streaming quantiles sketch's internal CDF while this engine uses a
percentile grid + interpolation (both are approximations; the oracle-checked
``histogram_quantity`` query pins our variant's correctness).
"""

import math

import pytest

from data_validation_spark.stats.engine import compute_statistics
from data_validation_spark.stats.options import StatsOptions

NAN = float("nan")
INF = float("inf")


def test_infinity_golden(spark):
    """basic_stats_generator_test.py:471-591 (test_infinity): 12 values with
    3×+inf / 3×-inf across 3 rows → mean nan, std_dev 0.0, min -inf, max inf."""
    rows = [
        ([1.0, 2.0, INF, INF, -INF],),
        ([3.0, 4.0, 5.0, -INF],),
        ([1.0, INF, -INF],),
    ]
    df = spark.createDataFrame(rows, "a array<double>")
    fs = compute_statistics(df, StatsOptions()).default_slice().feature("a")
    c, n = fs.common, fs.numeric
    assert c.num_non_missing == 3 and c.num_missing == 0
    assert c.min_num_values == 3 and c.max_num_values == 5
    assert c.avg_num_values == 4.0 and c.tot_num_values == 12
    assert math.isnan(n.mean)  # inf + -inf in the accumulator
    assert n.std_dev == 0.0  # sqrt(max(0, nan)) → 0
    assert n.min == -INF and n.max == INF
    assert n.finite_min == 1.0 and n.finite_max == 5.0
    assert n.num_pos_inf == 3 and n.num_neg_inf == 3
    assert n.num_nan == 0 and n.num_zeros == 0
    # reference median is 3.0 (its quantile sketch ingests ±inf; rank-based
    # lookup over all 12 values); this engine's quantile grid covers the
    # finite values {1,1,2,3,4,5} with ±inf as side masses, and
    # percentile_approx's rank semantics pick the lower middle → 2.0.
    # Bounded, documented divergence — only when the queried quantile's rank
    # falls next to the inf mass.
    assert n.median == pytest.approx(2.0)


def test_single_signed_infinity_scalar(spark):
    """Same accumulator rule, one-signed: mean +inf, std_dev 0.0
    (basic_stats_generator.py:434-444, 787)."""
    df = spark.createDataFrame([(INF,), (4.0,), (2.0,)], "a double")
    n = compute_statistics(df, StatsOptions()).default_slice().feature("a").numeric
    assert n.mean == INF
    assert n.std_dev == 0.0
    assert n.num_pos_inf == 1
    assert n.finite_min == 2.0 and n.finite_max == 4.0


def test_only_nan_golden(spark):
    """basic_stats_generator_test.py:2412-2463 (test_only_nan): a single
    [[nan]] row still emits num_stats carrying the NaN count."""
    df = spark.createDataFrame([([NAN],)], "a array<double>")
    fs = compute_statistics(df, StatsOptions()).default_slice().feature("a")
    c = fs.common
    assert c.num_non_missing == 1 and c.num_missing == 0
    assert c.min_num_values == 1 and c.max_num_values == 1
    assert c.avg_num_values == 1.0 and c.tot_num_values == 1
    assert fs.numeric is not None
    assert fs.numeric.num_nan == 1
    assert fs.numeric.mean == 0.0  # proto default: no non-NaN values seen
    assert fs.numeric.num_pos_inf == 0 and fs.numeric.num_neg_inf == 0


def test_pure_null_column_golden(spark):
    """basic_stats_generator_test.py:808-853 (test_pure_null_column): a
    null-typed column under a weight feature → only missing counts, weighted
    num_missing carries the weight sum."""
    rows = [(None, 1.0), (None, 1.0), (None, 1.0)]
    df = spark.createDataFrame(rows, "a void, w double")
    stats = compute_statistics(df, StatsOptions(weight_column="w"))
    fs = stats.default_slice().feature("a")
    assert fs.common.num_non_missing == 0
    assert fs.common.num_missing == 3
    assert fs.common.weighted_num_missing == pytest.approx(3.0)
    assert fs.numeric is None and fs.string is None


def test_categorical_int_avg_length_golden(spark):
    """basic_stats_generator_test.py:2196-2260 (test_categorical_int_feature):
    avg_length 1.3 over the stringified ints ("10" → 2 chars)."""
    rows = [([1, 5, 10],), ([0],), ([1, 1, 1, 5, 15],), ([-1],), (None,), (None,)]
    df = spark.createDataFrame(rows, "c array<bigint>")
    stats = compute_statistics(df, StatsOptions(categorical_features={"c"}))
    fs = stats.default_slice().feature("c")
    c = fs.common
    assert c.num_non_missing == 4 and c.num_missing == 2
    assert c.min_num_values == 1 and c.max_num_values == 5
    assert c.avg_num_values == 2.5 and c.tot_num_values == 10
    assert fs.string is not None
    assert fs.string.avg_length == pytest.approx(1.3)
    assert fs.string.top_values[0] == ("1", 4.0)


def test_categorical_float_avg_length_golden(spark):
    """basic_stats_generator_test.py:2262-2329 (test_categorical_float_feature):
    avg_length 3.3 — float stringification keeps the ".0"."""
    rows = [
        ([1.0, 5.0, 10.0],),
        ([0.0],),
        ([1.0, 1.0, 1.0, 5.0, 15.0],),
        ([-1.0],),
        (None,),
        (None,),
    ]
    df = spark.createDataFrame(rows, "c array<double>")
    stats = compute_statistics(df, StatsOptions(categorical_features={"c"}))
    fs = stats.default_slice().feature("c")
    assert fs.common.num_non_missing == 4 and fs.common.tot_num_values == 10
    assert fs.string is not None
    assert fs.string.avg_length == pytest.approx(3.3)


def test_scalar_categorical_int_avg_length(spark):
    """Scalar declared-categorical int: avg_length over stringified values
    (same rule, valency-0 path)."""
    df = spark.createDataFrame([(1,), (10,), (100,), (None,)], "c bigint")
    stats = compute_statistics(df, StatsOptions(categorical_features={"c"}))
    fs = stats.default_slice().feature("c")
    assert fs.string is not None
    assert fs.string.avg_length == pytest.approx((1 + 2 + 3) / 3)


def test_nested_string_avg_length(spark):
    """Multivalent string features carry avg_length over elements
    (basic_stats_generator.py:518: total_bytes_length over flattened values)."""
    df = spark.createDataFrame([(["ab", "cde"],), (["f"],), (None,)], "s array<string>")
    fs = compute_statistics(df, StatsOptions()).default_slice().feature("s")
    assert fs.common.num_non_missing == 2 and fs.common.tot_num_values == 3
    assert fs.string is not None
    assert fs.string.avg_length == pytest.approx(2.0)


def test_weighted_accumulator_with_inf(spark):
    """Weighted mean/std see all non-NaN values incl. ±inf
    (basic_stats_generator.py:466-469): one-signed inf → weighted_mean inf,
    nan variance → weighted_std_dev 0.0."""
    df = spark.createDataFrame([(INF, 2.0), (4.0, 1.0)], "a double, w double")
    stats = compute_statistics(df, StatsOptions(weight_column="w"))
    n = stats.default_slice().feature("a").numeric
    assert n.mean == INF and n.std_dev == 0.0
    assert n.weighted_mean == INF
    assert n.weighted_std_dev == 0.0


@pytest.mark.parametrize("parts", [1, 8])
@pytest.mark.parametrize("use_sketches", [False, True])
def test_nested_weighted_moments_golden(spark, use_sketches, parts):
    """Weighted mean/std and weighted histogram mass of array<double>
    features: NaNs drop out, a +inf makes the weighted mean inf and a mix
    of both infinities makes it nan (std_dev 0.0 either way). The STANDARD
    histogram carries the finite weight plus the ±inf weights as end
    buckets; the QUANTILES histogram carries the finite weight only."""
    rows = [
        ([1.0, 2.0], [1.0, INF], [1.0, INF], 1.0),
        ([3.0, NAN], [3.0, NAN], [-INF, 2.0], 2.0),
        ([4.0], [5.0], [NAN], 0.5),
        ([], None, [], 1.0),
        (None, [], None, 3.0),
        ([2.0, 2.0, NAN], [2.0], [4.0], 1.5),
    ]
    df = spark.createDataFrame(
        rows, "a array<double>, p array<double>, b array<double>, w double"
    ).repartition(parts)
    ds = compute_statistics(
        df, StatsOptions(weight_column="w", use_sketches=use_sketches)
    ).default_slice()

    def masses(n):
        return {h.type: (h.total_count(), h.num_nan) for h in n.weighted_histograms}

    # a: finite (value, weight) pairs 1:1, 2:1, 3:2, 4:.5, 2:1.5, 2:1.5
    a = ds.feature("a").numeric
    mean = 17.0 / 7.5
    assert a.weighted_mean == pytest.approx(mean, rel=1e-9)
    assert a.weighted_std_dev == pytest.approx(math.sqrt(43.0 / 7.5 - mean**2), rel=1e-9)
    assert a.weighted_median == 2.0
    assert masses(a) == {"STANDARD": (pytest.approx(7.5, rel=1e-9), 2),
                         "QUANTILES": (pytest.approx(7.5, rel=1e-9), 2)}

    # p: finite weight 5, +inf weight 1
    p = ds.feature("p").numeric
    assert p.weighted_mean == INF and p.weighted_std_dev == 0.0
    assert masses(p) == {"STANDARD": (pytest.approx(6.0, rel=1e-9), 1),
                         "QUANTILES": (pytest.approx(5.0, rel=1e-9), 1)}

    # b: finite weight 4.5, +inf weight 1, -inf weight 2
    b = ds.feature("b").numeric
    assert math.isnan(b.weighted_mean) and b.weighted_std_dev == 0.0
    std_b = next(h for h in b.weighted_histograms if h.type == "STANDARD")
    assert (std_b.buckets[0].low_value, std_b.buckets[0].sample_count) == (-INF, 2.0)
    assert (std_b.buckets[-1].high_value, std_b.buckets[-1].sample_count) == (INF, 1.0)
    assert masses(b) == {"STANDARD": (pytest.approx(7.5, rel=1e-9), 1),
                         "QUANTILES": (pytest.approx(4.5, rel=1e-9), 1)}


# --------------------------------------------------------------------------
# quantiles_util goldens (utils/quantiles_util_test.py) — exact ports against
# get_bin_weights with the reference's own (quantiles, cumulative_counts).
# --------------------------------------------------------------------------
def _qh(quantiles, cum):
    from data_validation_spark.stats.quantiles import get_bin_weights

    low, high, w = get_bin_weights(quantiles, cum)
    return [(float(a), float(b), float(c)) for a, b, c in zip(low, high, w)]


def test_quantiles_histogram_golden_basic():
    """quantiles_util_test.py:42-80: uniform grid → equal buckets of 60."""
    got = _qh([1.0, 60.0, 120.0, 180.0, 240.0, 300.0], [1, 60, 120, 180, 240, 300])
    assert got[1:] == [
        (60.0, 120.0, 60.0),
        (120.0, 180.0, 60.0),
        (180.0, 240.0, 60.0),
        (240.0, 300.0, 60.0),
    ]
    assert got[0] == (1.0, 60.0, 60.0)  # min's own count folds into bucket 0


def test_quantiles_histogram_golden_all_duplicates():
    """quantiles_util_test.py:82-103: [1,1,1]/[2,2,2] → TWO point-mass
    buckets of 1.0 each (duplicates kept and evenly spread, not coalesced)."""
    assert _qh([1.0, 1.0, 1.0], [2, 2, 2]) == [(1.0, 1.0, 1.0), (1.0, 1.0, 1.0)]


def test_quantiles_histogram_golden_low_bucket_partial_duplicate():
    """quantiles_util_test.py:105-131: [1,2,2]/[1,2,2] → (1,2,1.5), (2,2,0.5)."""
    assert _qh([1.0, 2.0, 2.0], [1, 2, 2]) == [(1.0, 2.0, 1.5), (2.0, 2.0, 0.5)]


def test_quantiles_histogram_golden_duplicate_buckets():
    """quantiles_util_test.py:133-174: the six-bucket duplicate-spreading
    case — [12, 11, 11, 8.5, 8.5, 9]."""
    got = _qh(
        [1.0, 2.0, 2.0, 2.0, 3.0, 3.0, 4.0], [1, 34, 34, 34, 51, 51, 60]
    )
    assert got == [
        (1.0, 2.0, 12.0),
        (2.0, 2.0, 11.0),
        (2.0, 2.0, 11.0),
        (2.0, 3.0, 8.5),
        (3.0, 3.0, 8.5),
        (3.0, 4.0, 9.0),
    ]


def test_find_median_golden():
    """quantiles_util_test.py:203-207 (test_find_median)."""
    from data_validation_spark.stats.quantiles import median_from_boundaries

    assert median_from_boundaries([5.0]) == 5.0
    assert median_from_boundaries([3.0, 5.0]) == 4.0
    assert median_from_boundaries([3.0, 4.0, 5.0]) == 4.0
    assert median_from_boundaries([3.0, 4.0, 5.0, 6.0]) == 4.5


def test_quantiles_histogram_uniform_grid_duplicates():
    """Engine path (no cumulative counts): duplicates spread evenly across
    the num_buckets buckets — bucket COUNT matches the reference shape."""
    from data_validation_spark.stats.quantiles import quantiles_histogram

    h = quantiles_histogram([1.0, 1.0, 1.0], 2.0, 2)
    assert [(b.low_value, b.high_value, b.sample_count) for b in h.buckets] == [
        (1.0, 1.0, 1.0),
        (1.0, 1.0, 1.0),
    ]
    assert h.total_count() == pytest.approx(2.0)


# --------------------------------------------------------------------------
# generate_equi_width_histogram goldens (quantiles_util_test.py:215-404)
# --------------------------------------------------------------------------
INF_ = float("inf")

_EQUI_WIDTH_GOLDENS = [
    # (name, quantiles, cumulative, fmin, fmax, nb, npos, expected[(lo,hi,n)])
    ("finite_integer_boundaries", [1, 2, 3, 4, 5, 7], [2, 5, 7, 10, 12, 15], 1, 7, 2, 0,
     [(1, 4, 10), (4, 7, 5)]),
    ("finite_fractional_boundaries", [1, 2, 3, 4, 5, 7], [2, 5, 7, 10, 12, 15], 1, 7, 4, 0,
     [(1.0, 2.5, 6.0), (2.5, 4.0, 4.0), (4.0, 5.5, 2.75), (5.5, 7.0, 2.25)]),
    ("finite_one_bucket", [1, 2, 3, 4, 5, 7], [2, 5, 7, 10, 12, 15], 1, 7, 1, 0,
     [(1.0, 7.0, 15.0)]),
    ("single_finite_value", [5, 5, 5, 5, 5], [3, 3, 3, 3, 3], 5, 5, 1, 0,
     [(5.0, 5.0, 3.0)]),
    ("leading_negative_inf", [-INF_, -INF_, 1, 2, 3], [5, 7, 10, 12, 15], 1, 3, 4, 0,
     [(-INF_, -INF_, 7), (1, 1.5, 2.5), (1.5, 2, 2.5), (2, 2.5, 1.5), (2.5, 3, 1.5)]),
    ("trailing_inf", [1, 2, 3, INF_, INF_], [3, 5, 6, 7, 8], 1, 4, 2, 0.5,
     [(1, 2.5, 5.5), (2.5, 4, 2), (INF_, INF_, 0.5)]),
    ("single_finite_between_inf", [-INF_, 1, INF_], [3, 5, 9], 1, 1, 99, 4,
     [(-INF_, -INF_, 3), (1, 1, 2), (INF_, INF_, 4)]),
    ("leading_and_trailing_inf", [-INF_, 1, 2, 3, INF_], [3, 5, 6, 7, 8], 1, 4, 2, 0.5,
     [(-INF_, -INF_, 3), (1, 2.5, 3.5), (2.5, 4, 1), (INF_, INF_, 0.5)]),
    ("all_inf", [-INF_, INF_], [1, 5], -INF_, INF_, 99, 0.5,
     [(-INF_, INF_, 5)]),
    ("float32_overflow", [-3.4e38, 1, 3.4e38], [1, 3, 5], -3.4e38, 3.4e38, 3, 0,
     [(-3.4e38, -1.1333333333333332e38, 2),
      (-1.1333333333333332e38, 1.1333333333333336e38, 1.666666666666667),
      (1.1333333333333336e38, 3.4e38, 1.3333333333333333)]),
    ("float64_overflow",
     [-1.7976931348623157e308, 0, 1.7976931348623157e308], [1, 3, 5],
     -1.7976931348623157e308, 1.7976931348623157e308, 3, 0, []),
]


@pytest.mark.parametrize(
    "name,q,cum,fmin,fmax,nb,npos,expected",
    _EQUI_WIDTH_GOLDENS,
    ids=[t[0] for t in _EQUI_WIDTH_GOLDENS],
)
def test_generate_equi_width_histogram_golden(name, q, cum, fmin, fmax, nb, npos, expected):
    """quantiles_util_test.py:215-404 (GenerateEquiWidthBucketsTest): the full
    parametrized matrix, exact against the reference's expected protos —
    including ±inf point buckets and the overflow fallbacks."""
    from data_validation_spark.stats.quantiles import generate_equi_width_histogram

    h = generate_equi_width_histogram(
        [float(x) for x in q], [float(x) for x in cum], fmin, fmax, nb, npos
    )
    got = [(b.low_value, b.high_value, b.sample_count) for b in h.buckets]
    assert len(got) == len(expected), got
    for (gl, gh, gn), (el, eh, en) in zip(got, expected):
        assert gl == pytest.approx(el, rel=1e-9, abs=0.0) or (gl == el)
        assert gh == pytest.approx(eh, rel=1e-9, abs=0.0) or (gh == eh)
        assert gn == pytest.approx(en, rel=1e-9)


def test_generate_equi_width_unsorted_raises():
    """quantiles_util_test.py:404-409: unsorted quantiles must assert."""
    from data_validation_spark.stats.quantiles import generate_equi_width_histogram

    with pytest.raises(AssertionError):
        generate_equi_width_histogram([5.0, 1.0], [1.0, 2.0], 1, 5, 10, 0)


def test_equi_width_total_weight_preserved_fuzz():
    """quantiles_util_test.py:410-422: total mass is preserved through the
    equi-width merge for random CDFs (no infs)."""
    import numpy as np

    from data_validation_spark.stats.quantiles import generate_equi_width_histogram

    rng = np.random.RandomState(7)
    for _ in range(20):
        size = int(rng.randint(2, 30))
        boundaries = np.cumsum(rng.randint(0, 2, size=size + 1)).astype(float)
        counts = np.cumsum(rng.random_sample(size=size + 1))
        if boundaries[0] == boundaries[-1]:
            continue
        h = generate_equi_width_histogram(
            boundaries, counts, boundaries[0], boundaries[-1],
            int(rng.randint(1, 10)), 0,
        )
        total = sum(b.sample_count for b in h.buckets)
        assert total == pytest.approx(counts[-1], rel=1e-6)


# --------------------------------------------------------------------------
# top-k / uniques goldens (top_k_uniques_stats_generator_test.py)
# --------------------------------------------------------------------------
def test_topk_single_string_feature_golden(spark):
    """top_k_uniques_stats_generator_test.py:35-126: fa = 4a 2b 3c 2d 1e,
    num_top_values=4, num_rank_histogram_buckets=3; equal frequencies rank
    the lexicographically larger value first."""
    rows = [(["a", "b", "c", "e"],), (["a", "c", "d", "a"],), (["a", "b", "c", "d"],)]
    df = spark.createDataFrame(rows, "fa array<string>")
    stats = compute_statistics(
        df, StatsOptions(num_top_values=4, num_rank_histogram_buckets=3)
    )
    st = stats.default_slice().feature("fa").string
    assert st.top_values == [("a", 4.0), ("c", 3.0), ("d", 2.0), ("b", 2.0)]
    assert [(b.label, b.sample_count) for b in st.rank_histogram] == [
        ("a", 4.0), ("c", 3.0), ("d", 2.0)
    ]
    assert st.unique == 5


def test_topk_with_weights_golden(spark):
    """top_k_uniques_stats_generator_test.py:129-384 (test_topk_uniques_with
    _weights), fa side: unweighted [a3, e2, d2, c2] but weighted
    [e20, d20, a15, c10] — the weighted ranking must NOT inherit the
    unweighted order."""
    rows = [
        (["a", "b", "c", "e"], 5.0),
        (["a", "c", "d", "a"], 5.0),
        (["d", "e"], 15.0),
    ]
    df = spark.createDataFrame(rows, "fa array<string>, w double")
    stats = compute_statistics(
        df,
        StatsOptions(num_top_values=4, num_rank_histogram_buckets=3, weight_column="w"),
    )
    st = stats.default_slice().feature("fa").string
    assert st.top_values == [("a", 3.0), ("e", 2.0), ("d", 2.0), ("c", 2.0)]
    assert [(v, c) for v, c in st.weighted_top_values] == [
        ("e", 20.0), ("d", 20.0), ("a", 15.0), ("c", 10.0)
    ]
    assert [(b.label, b.sample_count) for b in st.weighted_rank_histogram] == [
        ("e", 20.0), ("d", 20.0), ("a", 15.0)
    ]


def test_topk_frequency_threshold_golden(spark):
    """top_k_uniques_stats_generator_test.py:1084-1202: frequency_threshold=2
    keeps only [a3, b2] unweighted; weighted_frequency_threshold=15 keeps
    [a35, z15, x15]; unique count is unaffected."""
    rows = [(["a", "b", "y", "b"], 5.0), (["a", "x", "a", "z"], 15.0)]
    df = spark.createDataFrame(rows, "fa array<string>, w double")
    stats = compute_statistics(
        df,
        StatsOptions(
            num_top_values=5,
            num_rank_histogram_buckets=5,
            weight_column="w",
            frequency_threshold=2,
            weighted_frequency_threshold=15.0,
        ),
    )
    st = stats.default_slice().feature("fa").string
    assert st.top_values == [("a", 3.0), ("b", 2.0)]
    assert [(b.label, b.sample_count) for b in st.rank_histogram] == [
        ("a", 3.0), ("b", 2.0)
    ]
    assert [(v, c) for v, c in st.weighted_top_values] == [
        ("a", 35.0), ("z", 15.0), ("x", 15.0)
    ]
    assert st.unique == 5  # thresholds never reduce the unique count


# --------------------------------------------------------------------------
# cross-feature stats goldens (cross_feature_stats_generator_test.py:46-141)
# --------------------------------------------------------------------------
def test_cross_feature_stats_golden(spark):
    """cross_feature_stats_generator_test.py (with_crosses_specified): the
    reference's exact count/covariance/correlation for (a,c) and (b,c) over
    a=[1,3,5,6,10], b=[2,4,6,14,16], c=[5,3,7,-1,0] — null rows excluded."""
    from data_validation_spark.stats.lift import cross_feature_stats

    rows = [
        (1.0, 2.0, 5.0), (3.0, 4.0, 3.0), (5.0, 6.0, 7.0),
        (6.0, 14.0, -1.0), (10.0, 16.0, 0.0), (None, None, None),
    ]
    df = spark.createDataFrame(rows, "a double, b double, c double")
    out = {
        (r["feature_x"], r["feature_y"]): r
        for r in cross_feature_stats(df, [("a", "b"), ("a", "c"), ("b", "c")]).collect()
    }
    ab = out[("a", "b")]
    assert ab["count"] == 5
    assert ab["covariance"] == pytest.approx(15.6, rel=1e-6)
    assert ab["correlation"] == pytest.approx(0.923145, rel=1e-5)
    ac = out[("a", "c")]
    assert ac["count"] == 5
    assert ac["covariance"] == pytest.approx(-5.4, rel=1e-6)
    assert ac["correlation"] == pytest.approx(-0.59476602, rel=1e-5)
    bc = out[("b", "c")]
    assert bc["covariance"] == pytest.approx(-13.52, rel=1e-6)
    assert bc["correlation"] == pytest.approx(-0.81070298, rel=1e-5)


def test_empty_value_counter_goldens(spark):
    """empty_value_counter_generator_test.py: '' strings → 3, -1 ints → 4,
    [] lists → 4 (null rows never count)."""
    from data_validation_spark.stats.sparse import empty_value_counts

    sdf = spark.createDataFrame(
        [("abc",), ("",), ("",), ("def",), ("",), (None,)], "s string"
    )
    assert empty_value_counts(sdf)["s"] == 3

    idf = spark.createDataFrame(
        [(0,), (-1,), (10,), (0,), (-1,), (None,), (2,), (-1,), (-1,), (100,)],
        "i bigint",
    )
    assert empty_value_counts(idf)["i"] == 4

    ldf = spark.createDataFrame(
        [([],), (None,), (["abc", "foo"],), (["foo"],), (None,), ([],), ([],),
         ([],), (["", "jk", "tst"],)],
        "l array<string>",
    )
    assert empty_value_counts(ldf)["l"] == 4
