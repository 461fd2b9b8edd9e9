"""Sketch-layer tests — three-way accumulate/merge/compact parity per the
reference's harness pattern (tdv/utils/test_util.py:276-389): (a) one
accumulator per batch then merge, (b) merge then compact, (c) sequential adds
into one accumulator must all agree within tolerance.
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from data_validation_spark.stats.sketches.tdigest import TDigest


# ------------------------------------------------------------------ t-digest
def test_tdigest_quantiles_uniform():
    rng = np.random.RandomState(0)
    data = rng.uniform(0, 100, 50_000)
    td = TDigest()
    td.add(data)
    for q in (0.01, 0.25, 0.5, 0.75, 0.99):
        assert td.quantile(q) == pytest.approx(np.quantile(data, q), abs=1.0)
    assert td.min == data.min() and td.max == data.max()


def test_tdigest_three_way_parity():
    rng = np.random.RandomState(1)
    batches = [rng.normal(50, 10, 5000) for _ in range(4)]
    all_data = np.concatenate(batches)

    # (a) one accumulator per batch, merged
    accs = []
    for b in batches:
        t = TDigest()
        t.add(b)
        accs.append(t)
    merged = accs[0]
    for t in accs[1:]:
        merged = merged.merge(t)
    # (b) merged + compacted again
    compacted = merged.merge(TDigest())
    # (c) sequential
    seq = TDigest()
    for b in batches:
        seq.add(b)

    for q in (0.1, 0.5, 0.9):
        truth = np.quantile(all_data, q)
        for sk in (merged, compacted, seq):
            assert sk.quantile(q) == pytest.approx(truth, abs=0.5)
    assert merged.count == pytest.approx(len(all_data))


def test_tdigest_skewed_and_point_mass():
    td = TDigest()
    td.add(np.array([5.0] * 10_000))  # pure point mass
    assert td.quantile(0.5) == pytest.approx(5.0)
    td2 = TDigest()
    td2.add(np.concatenate([np.zeros(9000), np.full(1000, 1000.0)]))
    assert td2.quantile(0.5) == pytest.approx(0.0, abs=1e-6)
    assert td2.quantile(0.95) == pytest.approx(1000.0, abs=5.0)


def test_tdigest_ignores_nonfinite():
    td = TDigest()
    td.add(np.array([1.0, np.nan, np.inf, -np.inf, 3.0]))
    assert td.count == 2
    assert td.quantile(0.5) == pytest.approx(2.0, abs=1.0)


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
def _np_weighted_quantile(x, w, q):
    order = np.argsort(x)
    xs, ws = x[order], w[order]
    cw = np.cumsum(ws)
    return float(xs[np.searchsorted(cw, q * cw[-1])])


def test_tdigest_weighted_three_way_parity():
    # Reference weighted_quantiles_summary parity
    # (basic_stats_generator.py:350,387,470-472): the weighted digest must be
    # order-insensitive under add/merge/compact, and track the exact weighted
    # quantiles of the stream.
    rng = np.random.RandomState(3)
    batches = [
        (rng.normal(50, 10, 4000), rng.uniform(0.1, 5.0, 4000)) for _ in range(4)
    ]
    all_x = np.concatenate([b[0] for b in batches])
    all_w = np.concatenate([b[1] for b in batches])

    accs = []
    for x, w in batches:
        t = TDigest()
        t.add(x, w)
        accs.append(t)
    merged = accs[0]
    for t in accs[1:]:
        merged = merged.merge(t)
    compacted = merged.merge(TDigest())
    seq = TDigest()
    for x, w in batches:
        seq.add(x, w)

    for q in (0.1, 0.5, 0.9):
        truth = _np_weighted_quantile(all_x, all_w, q)
        for sk in (merged, compacted, seq):
            assert sk.quantile(q) == pytest.approx(truth, abs=0.6)
    assert merged.count == pytest.approx(all_w.sum(), rel=1e-9)


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
        _np_weighted_quantile(x, w, 0.5), abs=0.5
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


def _merge_groups(frame) -> int:
    """FlatMapGroupsInPandas nodes in ``frame``'s physical plan: one per
    merge tier of combine_per_key."""
    return frame._jdf.queryExecution().sparkPlan().toString().count(
        "FlatMapGroupsInPandas"
    )


@pytest.mark.parametrize(
    "use_sketches", [True, False], ids=["weighted_sketch", "weighted_exact"]
)
def test_fanout_merge_tier_activates_and_preserves_results(
    spark, monkeypatch, use_sketches
):
    # Two-tier salted merge (the explicit hot-key fanout,
    # stats_impl.py:296-303 CombinePerKey-with-fanout analogue): force the
    # tier on by lowering the threshold below the input's partition count and
    # assert (a) it activated — two merge nodes in the combine frame's plan
    # instead of one — and (b) results are unchanged vs the single-tier path:
    # merge must be associative across the salt split. Only weighted runs
    # reach this path: unweighted sketch stats are Spark aggregates.
    from data_validation_spark.stats.engine import compute_statistics
    from data_validation_spark.stats.options import StatsOptions
    from data_validation_spark.stats.sketches import combine, runner

    frames = []

    def recording(*args):
        frame = combine.combine_per_key(*args)
        frames.append(frame)
        return frame

    monkeypatch.setattr(runner, "combine_per_key", recording)
    rows = [(float(i % 100), f"k{i % 11}", 1.0 + i % 3) for i in range(8000)]
    df = spark.createDataFrame(rows, "x double, s string, w double").repartition(8)
    options = StatsOptions(use_sketches=use_sketches, weight_column="w")

    base = compute_statistics(df, options)
    monkeypatch.setattr(combine, "FANOUT_THRESHOLD", 2)
    fanned = compute_statistics(df, options)
    assert [_merge_groups(f) for f in frames] == [1, 2]

    for stats in (base, fanned):
        n = stats.default_slice().feature("x").numeric
        s = stats.default_slice().feature("s").string
        assert n.min == 0.0 and n.max == 99.0
        assert n.mean == pytest.approx(49.5, abs=0.5)
        assert s.unique == 11
    bn = base.default_slice().feature("x").numeric
    fn = fanned.default_slice().feature("x").numeric
    assert fn.median == pytest.approx(bn.median, abs=1.0)
    assert bn.weighted_median is not None
    assert fn.weighted_median == pytest.approx(bn.weighted_median, abs=1.0)
    assert fn.weighted_mean == pytest.approx(bn.weighted_mean, rel=1e-9)
    fs = fanned.default_slice().feature("s").string
    bs = base.default_slice().feature("s").string
    assert dict(fs.top_values) == dict(bs.top_values)
    assert fs.weighted_top_values and fs.weighted_top_values == bs.weighted_top_values


def test_weighted_quantiles_exact_mode_matches_sketch_mode(spark):
    # Exact mode with a weight column must ALSO emit WeightedNumericStatistics
    # median/histograms (reference emits them whenever weights are configured,
    # regardless of generator flavor) — via the dedicated weighted-quantile
    # job, agreeing with sketch mode within digest tolerance.
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
    truth = _np_weighted_quantile(x, w, 0.5)
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
