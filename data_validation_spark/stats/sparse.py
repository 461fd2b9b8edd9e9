"""Sparse- and weighted-feature statistics + empty-value counts + the
partitioned-stats harness (SURVEY.md §2.3 tail).

* Sparse feature (index column + value column, both arrays): per-feature
  ``missing_value`` / ``missing_index`` counts and min/max length diff —
  one multi-column aggregation (``sparse_feature_stats_generator`` /
  ``count_missing_generator`` / ``length_diff_generator`` parity).
* Weighted feature (value column + weight column, arrays): same pattern.
* Empty-value counter: counts of -1 ints, '' strings, empty lists.
* Partitioned stats harness: assign rows to random partitions, run a
  pandas function per partition, summarize min/max/mean/median/std across
  partitions (``partitioned_stats_generator`` shape — used for
  sample-estimated stats like kNN mutual information).
"""

from __future__ import annotations

from typing import Callable

import pandas as pd
from pyspark.sql import DataFrame, functions as F


def sparse_feature_stats(
    df: DataFrame, index_cols: "str | list[str]", value_col: str
) -> dict:
    """missing_value / per-index missing_index / per-index min,max_length_diff
    for one sparse feature — single aggregation pass.

    Reference semantics (``sparse_feature_stats_generator.py`` +
    ``constituents/count_missing_generator.py`` /
    ``length_diff_generator.py``): rows where EVERY component is null are
    ignored entirely; a null component list counts as length 0 in the
    index-vs-value diffs. Returns flat aggregate keys (back-compat: sum of
    per-index missing, min/max over indexes) plus ``*_by_index`` dicts.
    """
    from functools import reduce
    from operator import or_

    idx = [index_cols] if isinstance(index_cols, str) else list(index_cols)
    comps = idx + [value_col]
    cols = set(df.columns)
    if any(c not in cols for c in comps):
        # a component entirely absent from the frame is an always-null column
        # (sparse_feature_stats_generator_test value/index_feature_not_in_batch)
        for c in comps:
            if c not in cols:
                df = df.withColumn(c, F.lit(None).cast("array<int>"))

    def _c(name):
        return F.col(name)

    present = reduce(or_, [_c(c).isNotNull() for c in comps])
    v = F.col(value_col)
    vlen = F.when(v.isNull(), F.lit(0)).otherwise(F.size(v))
    aggs = [
        F.sum(F.when(present & v.isNull(), 1).otherwise(0)).alias("missing_value")
    ]
    for c in idx:
        i = F.col(c)
        ilen = F.when(i.isNull(), F.lit(0)).otherwise(F.size(i))
        diff = F.when(present, ilen - vlen)
        aggs += [
            F.sum(F.when(present & i.isNull(), 1).otherwise(0)).alias(f"mi::{c}"),
            F.min(diff).alias(f"mind::{c}"),
            F.max(diff).alias(f"maxd::{c}"),
        ]
    row = df.agg(*aggs).collect()[0].asDict()
    mi_by = {c: int(row[f"mi::{c}"] or 0) for c in idx}
    mind_by = {c: row[f"mind::{c}"] for c in idx}
    maxd_by = {c: row[f"maxd::{c}"] for c in idx}
    mins = [x for x in mind_by.values() if x is not None]
    maxs = [x for x in maxd_by.values() if x is not None]
    return {
        "missing_value": int(row["missing_value"] or 0),
        "missing_index": sum(mi_by.values()),
        "min_length_diff": min(mins) if mins else None,
        "max_length_diff": max(maxs) if maxs else None,
        "missing_index_by_index": mi_by,
        "min_length_diff_by_index": mind_by,
        "max_length_diff_by_index": maxd_by,
    }


def weighted_feature_stats(df: DataFrame, value_col: str, weight_col: str) -> dict:
    """missing_value / missing_weight / min,max_weight_length_diff."""
    v, w = F.col(value_col), F.col(weight_col)
    diff = F.size(w) - F.size(v)
    row = df.agg(
        F.sum(F.when(w.isNotNull() & v.isNull(), 1).otherwise(0)).alias("missing_value"),
        F.sum(F.when(v.isNotNull() & w.isNull(), 1).otherwise(0)).alias("missing_weight"),
        F.min(F.when(v.isNotNull() & w.isNotNull(), diff)).alias("min_weight_length_diff"),
        F.max(F.when(v.isNotNull() & w.isNotNull(), diff)).alias("max_weight_length_diff"),
    ).collect()[0]
    return {
        "missing_value": int(row["missing_value"] or 0),
        "missing_weight": int(row["missing_weight"] or 0),
        "min_weight_length_diff": row["min_weight_length_diff"],
        "max_weight_length_diff": row["max_weight_length_diff"],
    }


def attach_sparse_weighted_stats(stats, df: DataFrame, schema) -> None:
    """Compute custom stats for every schema-declared sparse / weighted
    feature and attach them to the artifact (one aggregation per feature;
    the rule layer in validate/rules.py consumes them)."""
    from data_validation_spark.stats.result import FeatureStats

    ds = stats.default_slice()
    if ds is None:
        return
    cols = set(df.columns)
    for sf in getattr(schema, "sparse_feature", []):
        idx = sf.all_index_features
        # at least ONE component must exist in the frame; absent components
        # are treated as always-null (generator *_not_in_batch cases) — a
        # fully absent sparse feature contributes nothing
        if idx and any(c in cols for c in idx + [sf.value_feature]):
            s = sparse_feature_stats(df, idx, sf.value_feature)
            fs = ds.features.setdefault(sf.name, FeatureStats(name=sf.name, type="STRUCT"))
            fs.custom["sparse_feature_stats"] = s
    for wf in getattr(schema, "weighted_feature", []):
        if wf.feature in cols and wf.weight_feature in cols:
            s = weighted_feature_stats(df, wf.feature, wf.weight_feature)
            fs = ds.features.setdefault(wf.name, FeatureStats(name=wf.name, type="STRUCT"))
            fs.custom["weighted_feature_stats"] = s


def empty_value_counts(df: DataFrame, columns: list[str] | None = None) -> dict[str, int]:
    """Counts of 'empty' sentinels per column: -1 for ints, '' for strings,
    [] for arrays (``empty_value_counter_generator`` parity)."""
    from pyspark.sql import types as T

    columns = columns or df.columns
    aggs = []
    for c in columns:
        dt = df.schema[c].dataType
        col = F.col(c)
        if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
            cond = col == -1
        elif isinstance(dt, T.StringType):
            cond = col == ""
        elif isinstance(dt, T.ArrayType):
            cond = F.size(col) == 0
        else:
            continue
        aggs.append(F.sum(F.when(cond, 1).otherwise(0)).alias(c))
    if not aggs:
        return {}
    row = df.agg(*aggs).collect()[0]
    return {c: int(row[c] or 0) for c in row.asDict()}


def partitioned_stats(
    df: DataFrame,
    fn: Callable[[pd.DataFrame], dict],
    num_partitions: int = 10,
    seed: int = 42,
    min_partitions_stat_presence: int = 1,
) -> dict:
    """Run ``fn(pdf) → {key: value}`` on each of ``num_partitions`` random
    row partitions; summarize each key with min/max/mean/median/std across
    partitions. A key is a stat name or a ``(feature, stat)`` pair, and the
    result is keyed the same way. The Spark shape of the reference's
    PartitionedStatsFn and the one partition harness of every MI estimator;
    ``min_partitions_stat_presence`` drops keys reported by fewer
    partitions (partitioned_stats_generator.py:52-63 get_valid_statistics —
    the knob that tolerates allow-invalid partitions returning nothing)."""
    import numpy as np

    tagged = df.withColumn("__part", (F.rand(seed) * num_partitions).cast("int"))

    def runner(pdf: pd.DataFrame) -> pd.DataFrame:
        stats = fn(pdf.drop(columns="__part"))
        keys = [k if isinstance(k, tuple) else (None, k) for k in stats]
        return pd.DataFrame(
            {
                "feature": [k[0] for k in keys],
                "stat": [k[1] for k in keys],
                "value": list(stats.values()),
            }
        )

    rows = (
        tagged.groupBy("__part")
        .applyInPandas(runner, "feature string, stat string, value double")
        .collect()
    )
    by_key: dict = {}
    for r in rows:
        key = r["stat"] if r["feature"] is None else (r["feature"], r["stat"])
        by_key.setdefault(key, []).append(r["value"])
    out = {}
    for key, vals in by_key.items():
        if len(vals) < min_partitions_stat_presence:
            continue
        a = np.asarray(vals, dtype=float)
        out[key] = {
            "min": float(a.min()),
            "max": float(a.max()),
            "mean": float(a.mean()),
            "median": float(np.median(a)),
            "std": float(a.std()),
            "num_partitions": len(a),
        }
    return out
