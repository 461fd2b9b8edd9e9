"""Sketch-mode and weighted-quantile tests through ``compute_statistics``:
sketch mode against exact mode, the weighted quantile estimator against
exact weighted quantiles, and the top-k / uniques sketches' bounds.
"""

import numpy as np
import pytest
from conftest import weighted_quantile
from pyspark.sql import functions as F


# ----------------------------------------------------------- engine parity
def test_sketch_mode_vs_exact(spark):
    rows = [(float(i % 100), f"k{i % 7}") for i in range(10_000)]
    df = spark.createDataFrame(rows, "x double, s string")
    from data_validation_spark.stats.engine import compute_statistics
    from data_validation_spark.stats.options import StatsOptions

    exact = compute_statistics(df, StatsOptions(use_sketches=False))
    sketch = compute_statistics(df, StatsOptions(use_sketches=True))

    ex = exact.default_slice().feature("x").numeric
    sx = sketch.default_slice().feature("x").numeric
    assert sx.median == pytest.approx(ex.median, abs=2.0)
    assert sx.mean == pytest.approx(ex.mean, rel=1e-6)
    assert sx.min == ex.min and sx.max == ex.max

    es = exact.default_slice().feature("s").string
    ss = sketch.default_slice().feature("s").string
    assert ss.unique == es.unique == 7
    assert dict(ss.top_values) == pytest.approx(dict(es.top_values), rel=0.01)
    # histograms exist in sketch mode too
    assert sx.histogram("STANDARD") is not None
    assert sx.histogram("STANDARD").total_count() == pytest.approx(10_000, rel=0.01)


# ------------------------------------------------- weighted quantile sketch
def test_weighted_sketch_quantiles_engine(spark):
    # End-to-end: weighted median / mean / histograms in sketch mode
    # (WeightedNumericStatistics parity, basic_stats_generator.py:830-877).
    from data_validation_spark.stats.engine import compute_statistics
    from data_validation_spark.stats.options import StatsOptions

    rng = np.random.RandomState(5)
    x = rng.normal(50, 10, 8000)
    w = rng.uniform(0.1, 5.0, 8000)
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(x, w)], "x double, w double"
    )
    stats = compute_statistics(df, StatsOptions(weight_column="w", use_sketches=True))
    n = stats.default_slice().feature("x").numeric

    assert n.weighted_median == pytest.approx(
        weighted_quantile(x, w, 0.5), abs=0.5
    )
    assert n.weighted_mean == pytest.approx(float((x * w).sum() / w.sum()), rel=1e-9)
    # histogram pair [STANDARD, QUANTILES], masses sum to total weight
    types = [h.type for h in n.weighted_histograms]
    assert types == ["STANDARD", "QUANTILES"]
    for h in n.weighted_histograms:
        assert h.total_count() == pytest.approx(float(w.sum()), rel=0.01)
    # weighted median of a skewed weighting differs from unweighted median
    # when weights correlate with value
    w2 = (x > 50).astype(float) * 4 + 1.0
    df2 = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(x, w2)], "x double, w double"
    )
    s2 = compute_statistics(df2, StatsOptions(weight_column="w", use_sketches=True))
    n2 = s2.default_slice().feature("x").numeric
    assert n2.weighted_median > n2.median + 2.0


def test_weighted_quantiles_exact_mode_matches_sketch_mode(spark):
    # Exact mode with a weight column must ALSO emit WeightedNumericStatistics
    # median/histograms (reference emits them whenever weights are configured,
    # regardless of generator flavor) — from the same weighted-quantile
    # branch as sketch mode.
    from data_validation_spark.stats.engine import compute_statistics
    from data_validation_spark.stats.options import StatsOptions

    rng = np.random.RandomState(11)
    x = rng.normal(100, 20, 6000)
    w = rng.uniform(0.5, 3.0, 6000)
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(x, w)], "x double, w double"
    )
    exact = compute_statistics(df, StatsOptions(weight_column="w", use_sketches=False))
    sketch = compute_statistics(df, StatsOptions(weight_column="w", use_sketches=True))
    ne = exact.default_slice().feature("x").numeric
    ns = sketch.default_slice().feature("x").numeric
    truth = weighted_quantile(x, w, 0.5)
    assert ne.weighted_median == pytest.approx(truth, abs=1.0)
    assert ne.weighted_median == pytest.approx(ns.weighted_median, abs=1.0)
    assert [h.type for h in ne.weighted_histograms] == ["STANDARD", "QUANTILES"]
    for h in ne.weighted_histograms:
        assert h.total_count() == pytest.approx(float(w.sum()), rel=0.01)
    # unweighted quantities unaffected
    assert ne.median == pytest.approx(ns.median, abs=1.0)

    # no weight column → no weighted quantile job, no weighted stats
    plain = compute_statistics(df.select("x"), StatsOptions())
    assert plain.default_slice().feature("x").numeric.weighted_median is None


def test_weighted_quantiles_do_not_depend_on_partitioning(spark):
    """60k weighted normal(0, 10) values: the same weighted median and
    weighted QUANTILES boundaries at 1, 7 and 32 input partitions, in both
    modes (the weight sums may differ only in their rounding order)."""
    from data_validation_spark.stats.engine import compute_statistics
    from data_validation_spark.stats.options import StatsOptions

    rng = np.random.RandomState(17)
    x = rng.normal(0, 10, 60_000)
    w = rng.uniform(0.1, 5.0, 60_000)
    df = spark.createDataFrame(
        [(float(a), float(b)) for a, b in zip(x, w)], "x double, w double"
    ).cache()
    try:
        for use_sketches in (False, True):
            got = []
            for parts in (1, 7, 32):
                n = compute_statistics(
                    df.repartition(parts),
                    StatsOptions(weight_column="w", use_sketches=use_sketches),
                ).default_slice().feature("x").numeric
                qh = next(h for h in n.weighted_histograms if h.type == "QUANTILES")
                got.append([n.weighted_median]
                           + [b.high_value for b in qh.buckets])
            for other in got[1:]:
                assert other == pytest.approx(got[0], rel=1e-12), use_sketches
            assert got[0][0] == pytest.approx(weighted_quantile(x, w, 0.5), abs=0.1)
    finally:
        df.unpersist()


@pytest.mark.parametrize("parts", [1, 4])
@pytest.mark.parametrize("use_sketches", [False, True])
def test_weighted_quantiles_rank_bounded_on_offset_data(spark, use_sketches, parts):
    """Values crowded within 1% of one another share a log bucket; the
    weighted quantiles must still be right in rank, not just within 1% of
    the value. A point mass at 1000 (weight 100) under 1001..1009 (weight
    1) has the weighted median 1000 exactly; years and 4,000 values in
    [1000, 1005) get every weighted QUANTILES boundary with at most one grid
    step (1% of W) of extra weight strictly below or above it."""
    from data_validation_spark.stats.engine import compute_statistics
    from data_validation_spark.stats.options import StatsOptions

    rng = np.random.default_rng(5)
    cases = {
        "mass": ([1000.0] + [1000.0 + i for i in range(1, 10)], [100.0] + [1.0] * 9),
        "year": (rng.integers(2000, 2025, 4000).astype(float), rng.uniform(0.1, 3.0, 4000)),
        "near": (1000.0 + rng.uniform(0.0, 5.0, 4000), rng.uniform(0.1, 3.0, 4000)),
    }
    for name, (x, w) in cases.items():
        x, w = np.asarray(x), np.asarray(w)
        df = spark.createDataFrame(
            [(float(a), float(b)) for a, b in zip(x, w)], "x double, w double"
        ).repartition(parts)
        n = compute_statistics(
            df, StatsOptions(weight_column="w", use_sketches=use_sketches)
        ).default_slice().feature("x").numeric
        total = w.sum()
        below, above = w[x < n.weighted_median].sum(), w[x > n.weighted_median].sum()
        assert below <= 0.51 * total and above <= 0.51 * total, (name, n.weighted_median)
        qh = next(h for h in n.weighted_histograms if h.type == "QUANTILES")
        bounds = [qh.buckets[0].low_value] + [b.high_value for b in qh.buckets]
        for i, b in enumerate(bounds):
            q = i / 10
            assert w[x < b].sum() <= (q + 0.01) * total, (name, q, b)
            assert w[x > b].sum() <= (1 - q + 0.01) * total, (name, q, b)
        if name == "mass":
            assert n.weighted_median == 1000.0
            assert n.weighted_median == weighted_quantile(x, w, 0.5)


def test_weighted_quantiles_refine_per_slice_and_feature(spark):
    """The refinement keys on (slice, feature): in each of two slices a
    scalar and a nested feature crowded near one level get the exact
    weighted median, and a wide-range feature next to them is unaffected."""
    from data_validation_spark.stats.engine import compute_statistics
    from data_validation_spark.stats.options import StatsOptions

    rows = []
    for sl, base in (("p", 1000.0), ("q", 2000.0)):
        rows.append((sl, base, [base], 1.0, 100.0))
        rows += [(sl, base + i, [base + i], 10.0 ** i, 1.0) for i in range(1, 10)]
    df = spark.createDataFrame(rows, "sl string, x double, a array<double>, b double, w double")
    stats = compute_statistics(df, StatsOptions(weight_column="w", slice_column="sl"))
    for sl, base in (("p", 1000.0), ("q", 2000.0)):
        ds = stats.get_slice(sl)
        assert ds.feature("x").numeric.weighted_median == base
        assert ds.feature("a").numeric.weighted_median == base
        assert ds.feature("b").numeric.weighted_median == 1.0


# ------------------------------------------- sketch-mode top-k and uniques
def _sketch_string(df, **opts):
    from data_validation_spark.stats.engine import compute_statistics
    from data_validation_spark.stats.options import StatsOptions

    stats = compute_statistics(df, StatsOptions(use_sketches=True, **opts))
    return stats.default_slice().feature("s").string


@pytest.fixture(scope="module")
def skewed(spark):
    """60k rows: 5 heavy values x 2,000 plus 50k rows over ~18k distinct
    noise values (more distinct values than the top-k sketch tracks)."""
    rng = np.random.RandomState(21)
    vals = [f"heavy{h}" for h in range(5) for _ in range(2000)]
    vals += [f"n{i}" for i in rng.randint(0, 18_000, 50_000)]
    rng.shuffle(vals)
    df = spark.createDataFrame([(v,) for v in vals], "s string").repartition(8)
    from collections import Counter

    return df, Counter(vals)


def test_sketch_topk_matches_exact_on_skewed_high_cardinality(skewed):
    # Count-min overcounted these heavy hitters (2013-2020 for a true 2000)
    # and ranked them out of tie order; the frequent-items sketch is exact.
    from data_validation_spark.stats.engine import compute_statistics
    from data_validation_spark.stats.options import StatsOptions

    df, _ = skewed
    exact = compute_statistics(df, StatsOptions(num_top_values=5))
    es = exact.default_slice().feature("s").string
    ss = _sketch_string(df, num_top_values=5)
    assert es.top_values == [(f"heavy{h}", 2000.0) for h in (4, 3, 2, 1, 0)]
    assert ss.top_values == es.top_values


def test_sketch_topk_counts_within_error_bound(skewed):
    from data_validation_spark.stats.options import StatsOptions

    df, truth = skewed
    cap = StatsOptions().topk_sketch_size * 4
    # DataSketches frequent items: a priori error 3.5·n / M, where Spark
    # sizes the map M as the power of two at or above cap / 0.75.
    map_size = 1 << int(np.ceil(np.log2(np.ceil(cap / 0.75))))
    bound = 3.5 * sum(truth.values()) / map_size
    st = _sketch_string(df)
    assert st.rank_histogram  # the heavy hitters at least
    for b in st.rank_histogram:
        assert truth[b.label] > 0  # no false positives
        assert abs(b.sample_count - truth[b.label]) <= bound, b
    assert [v for v, _ in st.top_values] == [
        b.label for b in st.rank_histogram[: len(st.top_values)]
    ]


def test_sketch_topk_ties_rank_larger_value_first(spark):
    rows = [(v,) for v, n in (("a", 5), ("b", 5), ("c", 9), ("d", 5)) for _ in range(n)]
    df = spark.createDataFrame(rows, "s string").repartition(3)
    st = _sketch_string(df)
    assert st.top_values == [("c", 9.0), ("d", 5.0), ("b", 5.0), ("a", 5.0)]


def test_sketch_topk_never_reports_null(spark):
    rows = [(None, None)] * 10 + [("a", 1)] * 3 + [("b", 2)] * 2
    df = spark.createDataFrame(rows, "s string, n long")
    from data_validation_spark.stats.engine import compute_statistics
    from data_validation_spark.stats.options import StatsOptions

    stats = compute_statistics(
        df, StatsOptions(use_sketches=True, categorical_features={"n"})
    ).default_slice()
    s, n = stats.feature("s").string, stats.feature("n").string
    assert s.top_values == [("a", 3.0), ("b", 2.0)] and s.unique == 2
    assert n.top_values == [("1", 3.0), ("2", 2.0)] and n.unique == 2


@pytest.mark.parametrize("distinct", [16_000, 30_000])
def test_sketch_uniques_exact_and_partition_independent(spark, distinct):
    # theta (KMV) keeps every hash up to 16,384 distinct values; above that
    # its estimate still does not depend on how the input is split.
    df = spark.range(distinct + 2_000).select(
        F.concat(F.lit("u"), (F.col("id") % distinct).cast("string")).alias("s")
    )
    got = {n: _sketch_string(df.repartition(n)).unique for n in (1, 7, 32)}
    assert len(set(got.values())) == 1, got
    if distinct < 16_384:
        assert got[1] == distinct
    else:
        assert abs(got[1] - distinct) <= 3 * distinct / np.sqrt(16_384)
