"""Basic-stats engine golden tests — modeled on the reference's per-generator
golden strategy (tdv/utils/test_util.py:276-389) with hand-computable inputs.
"""

import math

import pytest

from data_validation_spark.stats.engine import compute_statistics
from data_validation_spark.stats.options import StatsOptions

NAN = float("nan")
INF = float("inf")


@pytest.fixture(scope="module")
def simple_stats(spark):
    rows = [
        (1, 1.0, "a", [1.0, 2.0], None),
        (2, 2.0, "b", [3.0], 1.5),
        (3, NAN, "a", None, 2.5),
        (4, INF, "a", [0.0, -1.0, 5.0], 3.5),
        (None, -INF, None, [], 4.5),
        (0, 0.0, "c", [NAN, 1.0], 5.5),
    ]
    df = spark.createDataFrame(rows, "i long, f double, s string, arr array<double>, w double")
    return compute_statistics(df, StatsOptions())


def test_num_examples(simple_stats):
    ds = simple_stats.default_slice()
    assert ds.num_examples == 6
    assert ds.slice_key == "All Examples"


def test_int_stats(simple_stats):
    fs = simple_stats.default_slice().feature("i")
    assert fs.type == "INT"
    assert fs.common.num_non_missing == 5
    assert fs.common.num_missing == 1
    assert fs.common.tot_num_values == 5
    n = fs.numeric
    assert n.min == 0 and n.max == 4
    assert n.mean == pytest.approx(2.0)
    assert n.num_zeros == 1
    assert n.num_nan == 0
    assert n.std_dev == pytest.approx(math.sqrt(2.0))


def test_float_nan_inf_semantics(simple_stats):
    n = simple_stats.default_slice().feature("f").numeric
    # NaN excluded everywhere but num_nan; infinities reach min/max AND the
    # mean/std accumulator (basic_stats_generator.py:434-444): both-signed
    # infs → mean nan, and the nan variance collapses to std_dev 0.0
    # (sqrt(max(0, var)), basic_stats_generator.py:787).
    assert n.num_nan == 1
    assert n.num_pos_inf == 1
    assert n.num_neg_inf == 1
    assert n.min == -INF and n.max == INF
    assert n.finite_min == 0.0 and n.finite_max == 2.0
    assert math.isnan(n.mean)
    assert n.std_dev == 0.0
    assert n.num_zeros == 1


def test_string_stats(simple_stats):
    fs = simple_stats.default_slice().feature("s")
    st = fs.string
    assert fs.common.num_missing == 1
    assert st.unique == 3
    assert st.top_values[0] == ("a", 3.0)
    # tie between b and c (count 1): larger value first (reference tie-break)
    assert st.top_values[1][0] == "c"
    assert st.top_values[2][0] == "b"
    assert st.avg_length == pytest.approx(1.0)
    assert [b.label for b in st.rank_histogram] == ["a", "c", "b"]
    assert [b.low_rank for b in st.rank_histogram] == [1, 2, 3]


def test_array_valency_and_elements(simple_stats):
    fs = simple_stats.default_slice().feature("arr")
    c = fs.common
    assert c.num_non_missing == 5 and c.num_missing == 1
    assert c.min_num_values == 0 and c.max_num_values == 3
    assert c.tot_num_values == 8
    assert c.avg_num_values == pytest.approx(8 / 5)
    n = fs.numeric
    assert n.min == -1.0 and n.max == 5.0
    assert n.num_zeros == 1
    assert n.num_nan == 1  # the NaN inside [NaN, 1.0]
    # mean over finite non-NaN: (1+2+3+0-1+5+1)/7
    assert n.mean == pytest.approx(11 / 7)


def test_histograms(spark):
    df = spark.createDataFrame([(float(i),) for i in range(1, 101)], "x double")
    stats = compute_statistics(df, StatsOptions())
    n = stats.default_slice().feature("x").numeric
    assert n.median == pytest.approx(50.0, abs=1.0)
    std = n.histogram("STANDARD")
    qh = n.histogram("QUANTILES")
    assert std is not None and qh is not None
    assert len(std.buckets) == 10
    assert std.total_count() == pytest.approx(100.0, rel=1e-6)
    assert std.buckets[0].low_value == 1.0
    assert std.buckets[-1].high_value == 100.0
    # uniform data → ~10 per equi-width bucket
    for b in std.buckets:
        assert b.sample_count == pytest.approx(10.0, abs=2.5)
    assert len(qh.buckets) == 10
    assert qh.total_count() == pytest.approx(100.0, rel=1e-6)


def test_weighted_stats(spark):
    rows = [(1.0, 2.0), (2.0, 1.0), (None, 3.0)]
    df = spark.createDataFrame(rows, "x double, w double")
    stats = compute_statistics(df, StatsOptions(weight_column="w"))
    ds = stats.default_slice()
    assert ds.weighted_num_examples == pytest.approx(6.0)
    fs = ds.feature("x")
    assert fs.common.weighted_num_non_missing == pytest.approx(3.0)
    assert fs.common.weighted_num_missing == pytest.approx(3.0)
    assert fs.numeric.weighted_mean == pytest.approx((2.0 + 2.0) / 3.0)
    assert "w" not in ds.features


def test_slicing(spark):
    rows = [("a", 1.0), ("a", 2.0), ("b", 10.0)]
    df = spark.createDataFrame(rows, "k string, x double")
    stats = compute_statistics(df, StatsOptions(slice_column="k"))
    assert sorted(s.slice_key for s in stats.slices) == ["a", "b"]
    a = stats.get_slice("a")
    assert a.num_examples == 2
    assert a.feature("x").numeric.mean == pytest.approx(1.5)
    assert stats.get_slice("b").feature("x").numeric.mean == pytest.approx(10.0)


def test_bytes_stats(spark):
    rows = [(bytearray(b"abc"),), (bytearray(b"defgh"),), (None,)]
    df = spark.createDataFrame(rows, "b binary")
    fs = compute_statistics(df).default_slice().feature("b")
    assert fs.type == "BYTES"
    assert fs.bytes.min_num_bytes == 3 and fs.bytes.max_num_bytes == 5
    assert fs.bytes.avg_num_bytes == pytest.approx(4.0)
    assert fs.bytes.unique == 2


def _payloads(spark, n_distinct, n_null=0, partitions=4, start=0):
    """One binary column: distinct payloads ``start .. start+n_distinct-1``,
    then ``n_null`` nulls, spread over ``partitions`` input partitions."""
    from pyspark.sql import functions as F

    idx = F.col("id")
    payload = F.concat(F.lit(b"img-"), idx.cast("string").cast("binary"))
    end = start + n_distinct
    return spark.range(start, end + n_null, 1, partitions).select(
        F.when(idx < end, payload).alias("b")
    )


def _bytes_unique(df):
    return compute_statistics(df).default_slice().feature("b").bytes.unique


def test_bytes_unique_exact_up_to_sketch_size(spark):
    # The theta sketch keeps every hash up to its 16,384 nominal entries, so
    # 16,000 distinct payloads count exactly.
    assert _bytes_unique(_payloads(spark, 16000, n_null=300)) == 16000


def test_bytes_unique_estimate_within_sketch_error(spark):
    n = 40000
    assert abs(_bytes_unique(_payloads(spark, n)) - n) <= 3 / math.sqrt(16384) * n


def test_bytes_unique_independent_of_partitioning(spark):
    # above the sketch size the count is an estimate; it must still be the
    # same estimate however the rows are split into tasks
    got = {_bytes_unique(_payloads(spark, 40000, partitions=k)) for k in (1, 7, 32)}
    assert len(got) == 1, got


def test_bytes_unique_all_null(spark):
    assert _bytes_unique(_payloads(spark, 0, n_null=50)) == 0


def test_bytes_unique_per_slice(spark):
    # slice "a" holds payloads 0..11999, slice "b" 6000..13999: each slice
    # counts its own payloads, exactly
    from pyspark.sql import functions as F

    a = _payloads(spark, 12000).withColumn("k", F.lit("a"))
    b = _payloads(spark, 8000, start=6000).withColumn("k", F.lit("b"))
    stats = compute_statistics(a.unionByName(b), StatsOptions(slice_column="k"))
    assert stats.get_slice("a").feature("b").bytes.unique == 12000
    assert stats.get_slice("b").feature("b").bytes.unique == 8000


def test_empty_input(spark):
    df = spark.createDataFrame([], "x double, s string")
    stats = compute_statistics(df)
    ds = stats.default_slice()
    assert ds.num_examples == 0


def test_categorical_int(spark):
    rows = [(1,), (1,), (2,), (None,)]
    df = spark.createDataFrame(rows, "v long")
    stats = compute_statistics(df, StatsOptions(categorical_features={"v"}))
    fs = stats.default_slice().feature("v")
    assert fs.string is not None
    assert fs.string.top_values[0] == ("1", 2.0)
    assert fs.string.unique == 2
    assert fs.numeric is not None  # numeric stats still computed


def test_json_roundtrip(simple_stats):
    from data_validation_spark.stats.result import DatasetStatsList

    text = simple_stats.to_json()
    back = DatasetStatsList.from_json(text)
    f1 = simple_stats.default_slice().feature("f").numeric
    f2 = back.default_slice().feature("f").numeric
    assert f2.min == -INF and f2.max == INF
    # mean is nan here (±inf in the accumulator) — nan must survive the trip
    assert math.isnan(f1.mean) and math.isnan(f2.mean)
    assert back.default_slice().feature("s").string.top_values[0] == ("a", 3.0)


def test_nested_valency_per_level(spark):
    # depth-2 array: per-level valency (GetMinMaxNumValues parity).
    rows = [
        ([[1, 2], [3]],),        # level1 len 2; level2 lens 2,1
        ([[4, 5, 6]],),          # level1 len 1; level2 len 3
        (None,),                 # missing at level 1
    ]
    df = spark.createDataFrame(rows, "a array<array<long>>")
    stats = compute_statistics(df)
    c = stats.default_slice().feature("a").common
    assert c.nest_levels() == 2
    assert c.min_max_num_values() == [(1, 2), (1, 3)]
    pv1, pv2 = c.presence_and_valency
    assert pv1.num_non_missing == 2 and pv1.tot_num_values == 3
    assert pv2.num_non_missing == 3 and pv2.tot_num_values == 6
    # JSON round trip keeps per-level valency
    from data_validation_spark.stats.result import DatasetStatsList

    back = DatasetStatsList.from_json(stats.to_json())
    assert back.default_slice().feature("a").common.min_max_num_values() == [(1, 2), (1, 3)]


def test_multi_slicer_value_sets(spark):
    from data_validation_spark.stats.slicing import SliceSpec

    rows = [
        ("click", 1, ["a", "b"]),
        ("view", 1, ["a"]),
        ("click", 2, ["b", "b"]),   # duplicate element → one slice key
        (None, 2, []),              # null slice feature → only default slice
    ]
    df = spark.createDataFrame(rows, "et string, bucket long, tags array<string>")
    stats = compute_statistics(
        df,
        StatsOptions(
            slice_specs=[
                SliceSpec({"et": None}),                      # every value
                SliceSpec({"et": ["click"], "bucket": None}), # value-set × all
                SliceSpec({"tags": None}),                    # multivalent
            ]
        ),
    )
    keys = {s.slice_key for s in stats.slices}
    assert keys == {
        "All Examples",
        "et_click",
        "et_view",
        "bucket_1_et_click",
        "bucket_2_et_click",
        "tags_a",
        "tags_b",
    }
    by = {s.slice_key: s for s in stats.slices}
    assert by["All Examples"].num_examples == 4
    assert by["et_click"].num_examples == 2
    assert by["bucket_1_et_click"].num_examples == 1
    assert by["tags_b"].num_examples == 2  # dedup within row


def test_weighted_and_unweighted_topk(spark):
    # 'b' wins unweighted (3 rows vs 2) but 'a' wins weighted (20 vs 3).
    rows = [("a", 10.0), ("a", 10.0), ("b", 1.0), ("b", 1.0), ("b", 1.0)]
    df = spark.createDataFrame(rows, "s string, w double")
    stats = compute_statistics(df, StatsOptions(weight_column="w"))
    st = stats.default_slice().feature("s").string
    assert st.top_values[0] == ("b", 3.0)           # unweighted ranking/counts
    assert st.weighted_top_values[0] == ("a", 20.0)  # weighted ranking/counts
    assert [b.label for b in st.rank_histogram] == ["b", "a"]
    assert [b.label for b in st.weighted_rank_histogram] == ["a", "b"]


def test_topk_large_bytes_placeholder_sketch_only(spark):
    # Reference parity (top_k_uniques_sketch_stats_generator.py:49-50,211-222):
    # the >1024-byte placeholder lives ONLY in the sketch top-k, weighted or
    # not. The exact generator and the uniques sketch see raw values.
    big1, big2 = "x" * 2000, "y" * 2000
    rows = [(big1, 2.0), (big1, 2.0), (big2, 2.0), ("small", 2.0)]
    df = spark.createDataFrame(rows, "s string, w double")

    def string_stats(**opts):
        return compute_statistics(df, StatsOptions(**opts)).default_slice().feature("s").string

    for w in (None, "w"):
        # Exact mode: raw values — two distinct large values stay distinct.
        st = string_stats(weight_column=w)
        assert st.unique == 3
        assert st.top_values[0][0] in (big1,)  # count 2 wins
        assert ("small", 1.0) in st.top_values
        if w:
            assert st.weighted_top_values[0] == (big1, 4.0)

        # Sketch mode: top-k collapses large values; uniques does NOT.
        sk = string_stats(weight_column=w, use_sketches=True)
        assert sk.top_values[0] == ("__LARGE_BYTES__", 3.0)
        assert sk.unique == 3  # the theta sketch saw raw values
        if w:
            assert sk.weighted_top_values == [("__LARGE_BYTES__", 6.0), ("small", 2.0)]

        # Schema-declared categorical features are exempt from the placeholder.
        cat = string_stats(weight_column=w, use_sketches=True, categorical_features={"s"})
        assert cat.top_values[0] == (big1, 2.0)
        if w:
            assert cat.weighted_top_values[0] == (big1, 4.0)


def test_sketch_weighted_topk_ranked_by_weight(spark):
    # 'b' wins unweighted (3 vs 2) but 'a' wins weighted (20 vs 3) — the
    # sketch path must re-rank by weighted count, not reuse unweighted order.
    rows = [("a", 10.0), ("a", 10.0), ("b", 1.0), ("b", 1.0), ("b", 1.0)]
    df = spark.createDataFrame(rows, "s string, w double")
    st = (
        compute_statistics(df, StatsOptions(weight_column="w", use_sketches=True))
        .default_slice()
        .feature("s")
        .string
    )
    assert st.top_values[0] == ("b", 3.0)
    assert st.weighted_top_values[0] == ("a", 20.0)
    assert [b.label for b in st.weighted_rank_histogram] == ["a", "b"]


def test_sketch_weighted_topk_is_exact(spark):
    # One heavy value among 20,000 distinct light ones: sketch mode ranks the
    # weighted top-k in the exact window, so no light value is overcounted
    # and the heavy one carries exactly its weight.
    rows = [(f"v{i}", 1.0) for i in range(20_000)] + [("z", 100.0)]
    df = spark.createDataFrame(rows, "s string, w double")
    st = (
        compute_statistics(df, StatsOptions(weight_column="w", use_sketches=True))
        .default_slice()
        .feature("s")
        .string
    )
    assert st.weighted_top_values[0] == ("z", 100.0)
    assert len(st.weighted_top_values) == 20
    assert all(wc == 1.0 for _, wc in st.weighted_top_values[1:])
    assert all(b.sample_count == 1.0 for b in st.weighted_rank_histogram[1:])


def test_struct_domain_validates_children(spark):
    from data_validation_spark.schema import (
        FeatureSpec,
        FeatureType,
        IntDomain,
        Presence,
        Schema,
        StructDomain,
    )
    from data_validation_spark.validate.rules import validate_statistics
    from data_validation_spark.anomalies import AnomalyType as AT

    rows = [((1, "a"),), ((2, "b"),), ((99, "c"),)]
    df = spark.createDataFrame(rows, "s struct<x: long, label: string>")
    stats = compute_statistics(df)
    assert stats.default_slice().feature("s.x") is not None  # engine emits dotted paths
    schema = Schema(
        feature=[
            FeatureSpec(
                name="s",
                type=FeatureType.STRUCT,
                struct_domain=StructDomain(
                    feature=[
                        FeatureSpec(
                            name="x",
                            type=FeatureType.INT,
                            presence=Presence(min_count=1),
                            int_domain=IntDomain(min=0, max=10),
                        ),
                        FeatureSpec(name="label", type=FeatureType.BYTES),
                        FeatureSpec(name="gone", presence=Presence(min_count=1)),
                    ]
                ),
            )
        ]
    )
    r = validate_statistics(stats, schema)
    got = {(a.feature, a.type) for a in r.anomalies}
    assert ("s.x", AT.INT_TYPE_BIG_INT) in got       # 99 > 10 via dotted path
    assert ("s.gone", AT.SCHEMA_MISSING_COLUMN) in got
    assert not any(f == "s.label" for f, _ in got)


def test_feature_value_slicer_reference_goldens(spark):
    """Reference slicing_util_test.py:36-158 goldens: exact slice keys and
    per-slice row membership for the {'a': None, 'b': None} cross-product
    slicer, the value-restricted {'a': [2]} slicer, and the
    one-feature-not-in-batch skip."""
    from data_validation_spark.stats.slicing import get_feature_value_slicer

    rows = [
        ([1], ["dog"]),
        ([2, 1], ["cat"]),
        ([3], ["wolf"]),
        ([2, 1, 1], ["dog", "wolf"]),
        ([3], ["wolf"]),
    ]
    df = spark.createDataFrame(rows, "a array<long>, b array<string>")

    stats = compute_statistics(
        df, StatsOptions(slice_specs=[get_feature_value_slicer({"a": None, "b": None})])
    )
    by = {s.slice_key: s.num_examples for s in stats.slices}
    assert by == {
        "All Examples": 5,
        "a_1_b_dog": 2,
        "a_1_b_cat": 1,
        "a_2_b_cat": 1,
        "a_2_b_dog": 1,
        "a_1_b_wolf": 1,
        "a_2_b_wolf": 1,
        "a_3_b_wolf": 2,
    }

    # value-restricted slicer (test_get_feature_value_slicer_single_feature)
    stats2 = compute_statistics(
        df, StatsOptions(slice_specs=[get_feature_value_slicer({"a": [2]})])
    )
    by2 = {s.slice_key: s.num_examples for s in stats2.slices}
    assert by2 == {"All Examples": 5, "a_2": 2}

    # a spec feature absent from the data is skipped, not an error
    # (test_get_feature_value_slicer_one_feature_not_in_batch)
    stats3 = compute_statistics(
        df,
        StatsOptions(
            slice_specs=[
                get_feature_value_slicer({"not_an_actual_feature": None, "a": [2]})
            ]
        ),
    )
    by3 = {s.slice_key: s.num_examples for s in stats3.slices}
    assert by3 == {"All Examples": 5, "a_2": 2}


def test_stats_options_validation_goldens():
    """Constructor validation with the reference's messages
    (stats_options_test.py INVALID_STATS_OPTIONS ports that map onto this
    engine's fields)."""
    import pytest as _pytest

    from data_validation_spark.stats.options import StatsOptions

    for kwargs, msg in [
        ({"sample_rate": 0}, "Invalid sample_rate 0"),
        ({"sample_rate": -1}, "Invalid sample_rate -1"),
        ({"sample_rate": 2}, "Invalid sample_rate 2"),
        ({"num_values_histogram_buckets": 1}, "Invalid num_values_histogram_buckets 1"),
        ({"num_values_histogram_buckets": 0}, "Invalid num_values_histogram_buckets 0"),
        ({"num_values_histogram_buckets": -1}, "Invalid num_values_histogram_buckets -1"),
        ({"num_histogram_buckets": -1}, "Invalid num_histogram_buckets -1"),
        ({"num_quantiles_histogram_buckets": -1}, "Invalid num_quantiles_histogram_buckets -1"),
        (
            {"slice_column": "a", "slice_specs": [object()]},
            "Specify only one of",
        ),
    ]:
        with _pytest.raises(ValueError, match=msg.replace("(", "\\(")):
            StatsOptions(**kwargs)
    with _pytest.raises(TypeError, match="feature_allowlist"):
        StatsOptions(feature_allowlist=42)
    # valid edges accepted
    StatsOptions(sample_rate=1.0, num_values_histogram_buckets=2, num_histogram_buckets=1)
