"""User-defined statistics generators — parity with the reference's
extensibility surface (statistics/generators/stats_generator.py base classes
plugged in via StatsOptions.generators, stats_impl.py): the distributed
combiner fold must equal a single-threaded fold regardless of partitioning,
and outputs must merge into the engine artifact per slice."""

import sys

import numpy as np
import pandas as pd
import pytest
from pyspark import cloudpickle

import data_validation_spark as dvs

# Test-module classes aren't importable on Spark workers; ship them by value
# (same remedy a user applies for driver-only modules — __main__ classes need
# nothing).
cloudpickle.register_pickle_by_value(sys.modules[__name__])
from data_validation_spark.generators import (
    CombinerFeatureStatsGenerator,
    CombinerStatsGenerator,
    TransformStatsGenerator,
    merge_generator_output,
    run_combiner_generators,
    wrap_feature_stats_generator,
)
from data_validation_spark.stats.options import StatsOptions
from data_validation_spark.stats.result import DatasetStats, FeatureStats


class SumSquares(CombinerStatsGenerator):
    """Dataset-level combiner: per numeric column, count + sum of squares."""

    def __init__(self):
        super().__init__("sum_squares")
        self.setup_ran = False

    def setup(self):
        self.setup_ran = True

    def create_accumulator(self):
        return {}

    def add_input(self, acc, batch: pd.DataFrame):
        assert self.setup_ran, "setup() must run before add_input on workers"
        for col in batch.columns:
            s = pd.to_numeric(batch[col], errors="coerce").dropna()
            if not len(s):
                continue
            n, ssq = acc.get(col, (0, 0.0))
            acc[col] = (n + len(s), ssq + float((s.astype(float) ** 2).sum()))
        return acc

    def merge_accumulators(self, accs):
        accs = list(accs)
        out = accs[0] if accs else {}
        for a in accs[1:]:
            for col, (n, ssq) in a.items():
                n0, s0 = out.get(col, (0, 0.0))
                out[col] = (n0 + n, s0 + ssq)
        return out

    def extract_output(self, acc):
        return DatasetStats(
            slice_key="",
            features={
                col: FeatureStats(
                    name=col,
                    type="FLOAT",
                    custom={"count_nonnull": n, "sum_squares": ssq},
                )
                for col, (n, ssq) in acc.items()
            },
        )


class MaxLen(CombinerFeatureStatsGenerator):
    """Per-feature combiner: max string length of a feature's values."""

    def __init__(self):
        super().__init__("max_len")

    def create_accumulator(self):
        return 0

    def add_input(self, acc, feature_path, values: pd.Series):
        lens = values.astype(str).str.len()
        return max(acc, int(lens.max())) if len(lens) else acc

    def merge_accumulators(self, accs):
        return max(accs, default=0)

    def extract_output(self, acc):
        return FeatureStats(name="", type="STRING", custom={"max_len": acc})


@pytest.fixture(scope="module")
def pdf():
    rng = np.random.default_rng(7)
    return pd.DataFrame(
        {
            "flag": np.where(rng.random(400) < 0.5, "A", "B"),
            "x": rng.normal(size=400).round(3),
            "y": rng.integers(0, 100, size=400),
            "s": ["v%d" % (i % 17) for i in range(400)],
        }
    )


def test_combiner_matches_local_fold_and_is_partition_invariant(spark, pdf):
    truth_gen = SumSquares(); truth_gen.setup()
    truth = truth_gen.add_input({}, pdf[["x", "y", "s"]])
    for nparts in (1, 7):
        df = spark.createDataFrame(pdf).repartition(nparts)
        out = run_combiner_generators(df, [SumSquares()], stat_cols=["x", "y", "s"])
        (name, ds), = out["All Examples"]
        assert name == "sum_squares"
        assert set(ds.features) == {"x", "y"}
        for col in ("x", "y"):
            assert ds.features[col].custom["count_nonnull"] == truth[col][0]
            assert ds.features[col].custom["sum_squares"] == pytest.approx(
                truth[col][1], rel=1e-9
            )


def test_feature_combiner_wrapper_per_slice(spark, pdf):
    from pyspark.sql import functions as F

    df = spark.createDataFrame(pdf)
    out = run_combiner_generators(
        df, [MaxLen()], slice_col=F.col("flag"), stat_cols=["s", "x"]
    )
    assert set(out) == {"A", "B"}
    for sk in ("A", "B"):
        (name, ds), = out[sk]
        sub = pdf[pdf.flag == sk]
        assert ds.features["s"].custom["max_len"] == sub.s.str.len().max()
        # numeric column folded through str() — still deterministic truth
        expect_x = sub.x.astype(str).str.len().max()
        assert ds.features["x"].custom["max_len"] == expect_x


def test_wrapper_merge_handles_disjoint_feature_sets():
    g = wrap_feature_stats_generator(MaxLen())
    a = g.add_input(g.create_accumulator(), pd.DataFrame({"a": ["xx"]}))
    b = g.add_input(g.create_accumulator(), pd.DataFrame({"b": ["yyyy"]}))
    merged = g.merge_accumulators([a, b])
    ds = g.extract_output(merged)
    assert ds.features["a"].custom["max_len"] == 2
    assert ds.features["b"].custom["max_len"] == 4


def test_stats_options_generators_merge_into_artifact(spark, pdf):
    df = spark.createDataFrame(pdf)
    opts = StatsOptions(generators=[SumSquares(), MaxLen()])
    stats = dvs.compute_statistics(df, opts)
    sl = stats.slices[0]
    # engine stats still present
    assert sl.num_examples == 400
    assert sl.features["x"].numeric is not None
    # custom generator stats merged into the same feature rows
    assert sl.features["x"].custom["count_nonnull"] == 400
    assert sl.features["s"].custom["max_len"] == pdf.s.str.len().max()
    # accessor parity: get_custom_stats resolves the merged entry
    assert dvs.get_custom_stats(sl.features["x"], "count_nonnull") == 400


def test_transform_generator(spark, pdf):
    def xform(df):
        n_distinct = df.select("s").distinct().count()
        return DatasetStats(
            slice_key="All Examples",
            features={
                "s": FeatureStats(
                    name="s", type="STRING", custom={"distinct_via_transform": n_distinct}
                )
            },
        )

    df = spark.createDataFrame(pdf)
    opts = StatsOptions(generators=[TransformStatsGenerator("xf", xform)])
    stats = dvs.compute_statistics(df, opts)
    assert (
        stats.slices[0].features["s"].custom["distinct_via_transform"]
        == pdf.s.nunique()
    )


def test_fanout_merge_tier(spark, pdf, monkeypatch):
    # Force the salted pre-merge tier and confirm identical results.
    from data_validation_spark import generators

    frames = []
    original = generators.combine_per_key

    def recording(*args):
        frame = original(*args)
        frames.append(frame)
        return frame

    monkeypatch.setattr(generators, "combine_per_key", recording)
    monkeypatch.setattr(generators, "FANOUT_THRESHOLD", 2)
    df = spark.createDataFrame(pdf).repartition(5)
    out = run_combiner_generators(df, [SumSquares()], stat_cols=["x", "y"])
    # salted pre-merge + final merge
    (frame,) = frames
    assert frame._jdf.queryExecution().sparkPlan().toString().count(
        "FlatMapGroupsInPandas"
    ) == 2
    truth_gen = SumSquares(); truth_gen.setup()
    truth = truth_gen.add_input({}, pdf[["x", "y"]])
    (name, ds), = out["All Examples"]
    for col in ("x", "y"):
        assert ds.features[col].custom["sum_squares"] == pytest.approx(
            truth[col][1], rel=1e-9
        )


def test_merge_generator_output_new_slice_and_feature():
    from data_validation_spark.stats.result import DatasetStatsList

    base = DatasetStatsList(
        [DatasetStats(slice_key="All Examples", num_examples=3, features={})]
    )
    per_slice = {
        "All Examples": [
            ("g", DatasetStats("", features={"f": FeatureStats("f", "INT", custom={"k": 1})}))
        ],
        "other": [
            ("g", DatasetStats("", features={"h": FeatureStats("h", "INT", custom={"k": 2})}))
        ],
    }
    merged = merge_generator_output(base, per_slice)
    keys = [sl.slice_key for sl in merged.slices]
    assert keys == ["All Examples", "other"]
    assert merged.slices[0].features["f"].custom["k"] == 1
    assert merged.slices[0].num_examples == 3
    assert merged.slices[1].features["h"].custom["k"] == 2
