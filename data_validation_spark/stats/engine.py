"""The statistics engine — TFDV's ``GenerateStatistics`` re-architected for Spark.

Execution shape (cf. SURVEY.md §3.1 "Spark shape"):

1. **Wide pass** — one ``df.groupBy(slice_key).agg(*exprs)`` computing every
   built-in-expressible statistic for every column in a single scan: counts,
   presence, valency, min/max/mean/stddev (NaN-excluded), zero/NaN/±inf
   counts, approximate quantile grids, string/bytes lengths. Entirely JVM-side
   (whole-stage codegen, partial+final hash agg — the reference's combiner
   fusion and hot-key fanout are what Spark's partial aggregation already does).

2. **Long pass** — a stacked ``(slice, feature, value)`` projection feeding one
   groupBy shuffle for exact top-k / unique counts (the reference's
   ``top_k_uniques_stats_generator``) and numeric stats of array elements.

3. **Assembly** — driver-side transform of the tiny aggregate output into the
   ``DatasetStatsList`` artifact (histogram math in ``quantiles.py``).

With ``options.use_sketches=True`` only the long pass's top-k/uniques branch
changes: one ``groupBy(slice, feature)`` of Spark's own sketch aggregates —
``theta_sketch_agg`` (KMV, 16,384 entries) for uniques and
``approx_top_k_accumulate`` (frequent items, no false positives) for top-k.
A weighted top-k ranks by weight in the exact mode's window in both modes.
Quantiles are the same ``percentile_approx`` grids in both modes (KLL was
rejected: its estimate moves with the partitioning). Only the weighted
quantiles, which no Spark aggregate computes, run in Python — see
``sketches/runner.py``.
"""

from __future__ import annotations

import math
from typing import Optional

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from data_validation_spark.jobs import run_parallel
from data_validation_spark.stats import exprs as E
from data_validation_spark.stats.options import StatsOptions
from data_validation_spark.stats.quantiles import (
    equi_width_histogram,
    median_from_boundaries,
    quantiles_histogram,
)
from data_validation_spark.stats.sketches.runner import (
    build_weighted_digest_frame,
    decode_weighted_digest,
)
from data_validation_spark.stats.result import (
    BytesStats,
    CommonStats,
    DatasetStats,
    DatasetStatsList,
    FeatureStats,
    NumericStats,
    PresenceAndValency,
    RankBucket,
    StringStats,
)

_QUANTILE_CUTS = 100  # fine grid size; 10× the default 10 histogram buckets

# Sketch-mode top-k counts values over LARGE_STRING_THRESHOLD bytes as one
# placeholder (see _sketch_topk_value).
LARGE_STRING_THRESHOLD = 1024
LARGE_BYTES_PLACEHOLDER = "__LARGE_BYTES__"

# Test hook: when True, _run_long_pass records its fused union frame in
# _last_union_frame for plan assertions. Off by default — retaining the
# frame would pin its lineage (and the source DataFrame) in module state
# for the life of a long-running driver.
CAPTURE_UNION_FRAME = False
_last_union_frame = None


def compute_statistics(df: DataFrame, options: Optional[StatsOptions] = None) -> DatasetStatsList:
    """Compute the full statistics artifact for ``df``."""
    options = options or StatsOptions()
    # Per-feature weight overrides (ExampleWeightMap): weight_arg carries the
    # map into the expression builders; plain weight_column otherwise.
    weight_map = options.example_weight_map
    weight_arg = weight_map if weight_map is not None else options.weight_column
    weight_cols = (
        sorted(weight_map.all_weight_features())
        if weight_map is not None
        else ([options.weight_column] if options.weight_column else [])
    )

    if options.feature_allowlist:
        keep = list(options.feature_allowlist)
        extra = [c for c in (*weight_cols, options.slice_column) if c and c not in keep]
        df = df.select(*(keep + extra))
    if options.sample_rate is not None and options.sample_rate < 1.0:
        df = df.sample(fraction=options.sample_rate, seed=42)

    if options.slice_specs:
        # Multi-slicer / value-set slicing: explode rows into every slice they
        # belong to (one expression + one explode; slicing_util.py parity).
        from data_validation_spark.stats.slicing import apply_slicing

        df = apply_slicing(df, options.slice_specs, options.default_slice_key)
        slice_col = F.col("__slice_key__")
    else:
        slice_col = (
            F.col(options.slice_column).cast("string")
            if options.slice_column
            else F.lit(options.default_slice_key)
        )
    stat_cols = [
        f.name
        for f in df.schema.fields
        if f.name not in (*weight_cols, options.slice_column, "__slice_key__")
    ]
    plans = E.classify_columns(
        df.select(*stat_cols).schema, options.categorical_features
    )
    for p in plans:
        if p.categorical:
            p.categorical = _want_topk(p, options)
        if p.name in options.image_columns and p.stats_type == E.BYTES:
            p.image_stats = True

    _check_label(df, options)

    # ---- wide, bytes, long, generator and lift jobs, run concurrently -------
    agg_exprs, quant_exprs, bytes_exprs = E.build_agg_exprs(
        plans,
        weight_arg,
        _QUANTILE_CUTS,
        options.quantiles_accuracy,
        options.num_values_histogram_buckets,
    )

    def wide_job():
        return df.groupBy(slice_col.alias("slice_key")).agg(*agg_exprs).collect()

    def bytes_job():
        # ALL binary-column stats (presence, lengths, theta-sketch unique,
        # format sniff) run as their own concurrent job over a codegen'd
        # projection of the payload (see exprs.build_agg_exprs docstring):
        # the sketch aggregate would disable codegen in the wide agg, and
        # with the binary stats isolated the wide agg's scan skips the binary
        # column entirely — each column is still read exactly once.
        if not bytes_exprs:
            return []
        projs = [pe for proj, _ in bytes_exprs for pe in proj]
        aggs = [ae for _, agg in bytes_exprs for ae in agg]
        src = df.select(slice_col.alias("slice_key"), *projs)
        return src.groupBy("slice_key").agg(*aggs).collect()

    def long_job():
        # Top-k/uniques + array-element stats + percentile grids (which
        # can't share the wide agg: they'd force it into ObjectHashAggregate,
        # no codegen) + (when a weight column is set) weighted sketches, all
        # in ONE action — see _run_long_pass.
        return _run_long_pass(df, plans, slice_col, options, quant_exprs,
                              weight_arg=weight_arg)

    def custom_gen_job():
        # User-defined generators (StatsOptions.generators) — their combiner
        # pass and any transform generators run as additional concurrent
        # jobs; outputs merge into the artifact per slice after assembly.
        if not options.generators:
            return {}
        from data_validation_spark.generators import (
            CombinerFeatureStatsGenerator,
            CombinerStatsGenerator,
            TransformStatsGenerator,
            run_combiner_generators,
        )

        combiners = [
            g
            for g in options.generators
            if isinstance(g, (CombinerStatsGenerator, CombinerFeatureStatsGenerator))
        ]
        per_slice = run_combiner_generators(
            df,
            combiners,
            slice_col=slice_col,
            stat_cols=stat_cols,
            default_slice_key=options.default_slice_key,
        ) if combiners else {}
        for g in options.generators:
            if isinstance(g, TransformStatsGenerator):
                for sk, ds in g.apply(df).items():
                    per_slice.setdefault(sk, []).append((g.name, ds))
        return per_slice

    def lift_job():
        # Label-driven lift (StatsOptions.label_feature → per-feature "lift"
        # custom stats; stats_impl.py:386-396). All categorical x melt into
        # one stack so the table is scanned once.
        label = options.label_feature
        if not label:
            return []
        x_cols = [
            p.name
            for p in plans
            if p.categorical
            and p.name != label
            and not isinstance(df.schema[p.name].dataType, T.ArrayType)
        ]
        if not x_cols:
            return []
        from data_validation_spark.stats.lift import lift_stats_multi

        return lift_stats_multi(
            df,
            x_cols,
            label,
            slice_col=slice_col,
            weight_col=options.weight_column,
            y_boundaries=options.lift_y_boundaries,
        ).collect()

    out = run_parallel(df.sparkSession, {
        "stats.wide": wide_job,
        "stats.bytes": bytes_job,
        "stats.long": long_job,
        "stats.generators": custom_gen_job,
        "stats.lift": lift_job,
    })
    wide_rows, bytes_rows = out["stats.wide"], out["stats.bytes"]
    (topk_data, uniq_data, arr_data, wtopk_data, wq_data, quant_long) = out["stats.long"]
    custom_gen_out, lift_rows = out["stats.generators"], out["stats.lift"]

    if not wide_rows:
        # Placeholder-for-empty-input parity (stats_impl.py:141-158).
        return DatasetStatsList([DatasetStats(options.default_slice_key, 0, features={})])

    quant_by_slice: dict = {}
    for r in bytes_rows:  # binary-column stats, keyed by the same aliases
        quant_by_slice.setdefault(r["slice_key"], {}).update(r.asDict())
    for sk, grids in quant_long.items():  # percentile grids from the union
        quant_by_slice.setdefault(sk, {}).update(grids)

    # ---- assembly ----------------------------------------------------------
    slices = []
    for row in wide_rows:
        rd = row.asDict()
        rd.update(quant_by_slice.get(rd["slice_key"], {}))
        slices.append(
            _assemble_slice(
                rd, plans, options, topk_data, uniq_data, arr_data, wtopk_data, wq_data
            )
        )
    slices.sort(key=lambda s: s.slice_key)
    artifact = DatasetStatsList(slices)
    if custom_gen_out:
        from data_validation_spark.generators import merge_generator_output

        artifact = merge_generator_output(artifact, custom_gen_out)
    if lift_rows:
        by_slice_feature: dict = {}
        for r in lift_rows:
            by_slice_feature.setdefault((r["slice_key"], r["x_feature"]), []).append(
                {
                    "y": r["y"],
                    "x": r["x"],
                    "lift": float(r["lift"]),
                    "xy_count": r["xy_count"],
                    "x_count": r["x_count"],
                    "y_rate": float(r["y_rate"]),
                }
            )
        for s in artifact.slices:
            for name, fs in s.features.items():
                series = by_slice_feature.get((s.slice_key, name))
                if series:
                    # reference LiftSeries ordering: per y, lift desc then x
                    # desc (two stable sorts — x is a string, can't negate)
                    series.sort(key=lambda d: d["x"], reverse=True)
                    series.sort(key=lambda d: (d["y"], -d["lift"]))
                    fs.custom["lift"] = series
    return artifact


def _check_label(df: DataFrame, options: StatsOptions) -> None:
    """Reject unusable lift options before any Spark job is submitted."""
    label = options.label_feature
    if not label:
        return
    if label not in df.columns:
        raise ValueError(f"label_feature {label!r} not found in the data.")
    label_is_categorical = label in options.categorical_features or isinstance(
        df.schema[label].dataType, (T.StringType, T.BooleanType, T.BinaryType)
    )
    if not label_is_categorical and not options.lift_y_boundaries:
        raise ValueError(
            f"label_feature {label!r} is numeric; lift needs "
            "lift_y_boundaries (the reference LiftStatsGenerator's "
            "y_boundaries requirement)."
        )


def _want_topk(p: E.ColumnPlan, options: StatsOptions) -> bool:
    return p.stats_type == E.STRING or p.name in options.categorical_features


def _run_long_pass(df, plans, slice_col, options: StatsOptions, quant_exprs=None,
                   weight_arg=None):
    """Top-k/uniques (exact, or sketched with ``use_sketches``) +
    array-element numeric stats + percentile grids + (when a weight column
    is configured) weighted top-k, weighted array moments and the weighted
    t-digests — ONE Spark action.

    Each concern builds a small (KB-scale) lazy result frame; their union is
    collected once. Catalyst compiles the union into column-disjoint
    parquet scans — categorical (+ weight) columns for top-k, nested numeric
    (+ weight) columns for array stats, scalar numeric columns for the
    percentile grids, numeric + weight columns for the weighted t-digest
    (plan-asserted in tests/test_plans.py) — so the long pass reads each
    table column at most once per concern and either mode submits exactly
    TWO jobs (wide agg + this union) besides the bytes job. Round 4 ran the
    weighted digest and the percentile grids as separate concurrent jobs;
    at 100 TB each was an extra scan wave. In exact mode the grid branch is
    the only ObjectHashAggregate (percentile_approx) and it is isolated in
    its own union branch, so the other branches keep WholeStageCodegen.

    Top-k ranks values in one salted window (``_salted_topk``): by count
    and, weighted, by weight in exact mode; by weight only in weighted
    sketch mode, whose count top-k and uniques are Spark's sketch
    aggregates. The weighted t-digest is the only Python node
    (``sketches/runner.py``)."""
    long_df = E.long_format(
        df, plans, slice_col,
        weight_arg if weight_arg is not None else options.weight_column,
    )
    topk_data: dict = {}
    uniq_data: dict = {}
    arr_data: dict = {}
    wtopk_data: dict = {}
    wq_data: dict = {}
    quant_long: dict = {}
    finals = []

    any_topk = long_df is not None and any(p.categorical for p in plans)
    any_arr = long_df is not None and any(
        p.numeric and p.nest_depth > 0 for p in plans
    )
    weighted = bool(options.weight_column)
    k = max(options.num_top_values, options.num_rank_histogram_buckets)

    if any_topk and options.use_sketches:
        finals.append(_sketch_topk_frame(long_df, options))
        if weighted:
            # Weighted top-k: no Spark sketch takes a weight, so rank the
            # (placeholder-collapsed) values by weight in the exact window.
            # Uniques stay the theta sketch's: these rows carry none.
            wcounts = (
                long_df.where(F.col("str_value").isNotNull())
                .groupBy("slice_key", "feature",
                         _sketch_topk_value(options).alias("str_value"))
                .agg(F.sum("weight").alias("wcnt"))
            )
            finals.append(_salted_topk(wcounts, k, {"wrank": "wcnt"}))
    elif any_topk:
        counts = (
            long_df.where(F.col("str_value").isNotNull())
            .groupBy("slice_key", "feature", "str_value")
            .agg(F.count(F.lit(1)).alias("cnt"), F.sum("weight").alias("wcnt"))
        )
        # With a weight column the reference emits BOTH an unweighted top-k
        # (string_stats.top_values) and a weighted one ranked by weighted
        # frequency (weighted_string_stats) — so rank by both orderings in
        # the same pass (same shuffle partitioning, two sorts).
        ranks = {"rank": "cnt", "wrank": "wcnt"} if weighted else {"rank": "cnt"}
        finals.append(_salted_topk(counts, k, ranks, unique=True))

    if any_arr:
        qs = [i / _QUANTILE_CUTS for i in range(_QUANTILE_CUTS + 1)]
        nv = F.col("num_value")
        finite = F.when(~nv.isin(float("inf"), float("-inf")), nv)
        wsums = []
        if weighted:
            # weighted moments over the finite values plus the ±inf
            # weights; assembly rebuilds the ±inf semantics from them
            w = F.col("weight")
            wsums = [
                F.sum(F.when(finite.isNotNull(), w)).alias("w_cnt"),
                F.sum(finite * w).alias("w_sum"),
                F.sum(finite * finite * w).alias("w_sumsq"),
                F.sum(F.when(nv == float("inf"), w)).alias("w_posinf"),
                F.sum(F.when(nv == float("-inf"), w)).alias("w_neginf"),
            ]
        finals.append(
            long_df.where(nv.isNotNull())
            .groupBy("slice_key", "feature")
            .agg(
                *wsums,
                F.min(nv).alias("min"),
                F.max(nv).alias("max"),
                # non-NaN values including ±inf — reference accumulator
                # semantics (basic_stats_generator.py:434-444); NaNs never
                # reach the long frame (stripped in long_format)
                F.avg(nv).alias("mean"),
                F.stddev_pop(nv).alias("std"),
                F.sum(F.when(nv == 0.0, 1).otherwise(0)).alias("zeros"),
                F.sum(F.when(nv == float("inf"), 1).otherwise(0)).alias("posinf"),
                F.sum(F.when(nv == float("-inf"), 1).otherwise(0)).alias("neginf"),
                F.min(finite).alias("finmin"),
                F.max(finite).alias("finmax"),
                F.count(finite).alias("fincnt"),
                F.percentile_approx(finite, qs, options.quantiles_accuracy).alias("quants"),
            )
            .select(F.lit("arr").alias("kind"), "*")
        )

    if weighted:
        wq_frame = build_weighted_digest_frame(df, plans, slice_col, options,
                                               weight_arg=weight_arg)
        if wq_frame is not None:
            finals.append(
                wq_frame.select(
                    F.lit("wacc").alias("kind"), "slice_key", "feature", "acc"
                )
            )

    if quant_exprs:
        # percentile-grid branch: per-slice wide agg exploded to long
        # (slice_key, feature=alias__stat, quants=grid) so it unions with
        # the other result frames; scan pruned to the scalar numeric columns.
        qagg = df.groupBy(slice_col.alias("slice_key")).agg(*quant_exprs)
        qcols = [c for c in qagg.columns if c != "slice_key"]
        stacked = F.explode(
            F.array(
                *[
                    F.struct(F.lit(c).alias("feature"), F.col(c).alias("quants"))
                    for c in qcols
                ]
            )
        )
        finals.append(
            qagg.select(
                F.lit("qgrid").alias("kind"), "slice_key", stacked.alias("p")
            ).select("kind", "slice_key", "p.feature", "p.quants")
        )

    if not finals:
        return topk_data, uniq_data, arr_data, wtopk_data, wq_data, quant_long

    out = finals[0]
    for f in finals[1:]:
        out = out.unionByName(f, allowMissingColumns=True)
    if CAPTURE_UNION_FRAME:
        global _last_union_frame
        _last_union_frame = out
    for row in out.collect():
        r = row.asDict()
        key = (r["slice_key"], r["feature"])
        if r["kind"] == "topk":
            for rank, ranked in ((r.get("rank"), topk_data), (r.get("wrank"), wtopk_data)):
                if rank is not None and rank <= k:
                    ranked.setdefault(key, []).append(
                        (rank, r["str_value"], r.get("cnt"), r["wcnt"])
                    )
            if r.get("unique") is not None:
                uniq_data[key] = r["unique"]
        elif r["kind"] == "sktopk":
            # ties come back in arbitrary order: rank by (count desc, value
            # desc) here, the exact branch's order
            top = sorted(((t["count"], t["item"]) for t in r["top"]), reverse=True)
            topk_data[key] = [
                (rank, v, c, None) for rank, (c, v) in enumerate(top[:k], start=1)
            ]
            uniq_data[key] = r["unique"]
        elif r["kind"] == "arr":
            arr_data[key] = r
        elif r["kind"] == "qgrid":
            # feature holds the wide-agg alias (e.g. "c3__quants")
            quant_long.setdefault(r["slice_key"], {})[r["feature"]] = r["quants"]
        else:  # wacc
            wq_data[key] = decode_weighted_digest(r["acc"])

    return topk_data, uniq_data, arr_data, wtopk_data, wq_data, quant_long


def _salted_topk(counts, k: int, ranks: dict, unique: bool = False):
    """Exact top-k of ``counts`` rows ``(slice_key, feature, str_value,
    <count columns>)``: the ``topk`` union rows, each value in the top ``k``
    of (slice, feature) under at least one of ``ranks`` (output rank column
    → count column it orders by, descending; ties rank the larger value
    first), with every rank column filled in. ``unique`` adds the number of
    distinct values of (slice, feature).

    Two phases: a single window over (slice, feature) sorts every distinct
    value in ONE task per feature — a straggler at high cardinality. Phase A
    ranks within (slice, feature, salt) so the heavy sort spreads over
    ``salts`` tasks per feature and also carries each salt bucket's
    distinct-count; phase B ranks the ≤ salts×k survivors. Exact: the
    global top-k of a salt bucket's values is in that bucket's local top-k,
    and salt buckets partition the distinct values so their sizes sum to
    the exact unique count."""
    salts = 16
    bucket = ("slice_key", "feature", "salt")
    local = counts.withColumn("salt", F.pmod(F.xxhash64("str_value"), F.lit(salts)))
    keep = F.lit(False)
    for i, cnt in enumerate(ranks.values()):
        w = Window.partitionBy(*bucket).orderBy(F.desc(cnt), F.desc("str_value"))
        local = local.withColumn(f"r{i}", F.row_number().over(w))
        keep = keep | (F.col(f"r{i}") <= k)
    if unique:
        local = local.withColumn("u", F.count(F.lit(1)).over(Window.partitionBy(*bucket)))
    final = local.where(keep)
    keep = F.lit(False)
    for rank, cnt in ranks.items():
        w = Window.partitionBy("slice_key", "feature").orderBy(
            F.desc(cnt), F.desc("str_value")
        )
        final = final.withColumn(rank, F.row_number().over(w))
        keep = keep | (F.col(rank) <= k)
    if unique:
        # one row per salt bucket carries that bucket's distinct-count
        final = final.withColumn("unique", F.sum(
            F.when(F.col("r0") == 1, F.col("u")).otherwise(0)
        ).over(Window.partitionBy("slice_key", "feature")))
    return final.where(keep).select(
        F.lit("topk").alias("kind"), "slice_key", "feature", "str_value",
        *counts.columns[3:], *ranks, *(["unique"] if unique else []),
    )


def _sketch_topk_value(options: StatsOptions):
    """``str_value`` as sketch mode's top-k counts it: a value over 1024
    bytes becomes one placeholder unless its feature is schema-declared
    categorical (reference parity:
    top_k_uniques_sketch_stats_generator.py:49-50,211-222). The exact
    generator and the uniques sketches see raw values."""
    sv = F.col("str_value")
    large = F.octet_length(sv) > LARGE_STRING_THRESHOLD
    if options.categorical_features:
        large = large & ~F.col("feature").isin(*sorted(options.categorical_features))
    return F.when(large, F.lit(LARGE_BYTES_PLACEHOLDER)).otherwise(sv)


def _sketch_topk_frame(long_df, options: StatsOptions):
    """Sketch-mode top-k and uniques: one ``groupBy(slice, feature)`` of
    Spark's frequent-items and theta (KMV) aggregates over the long frame.

    ``approx_top_k`` reports only values it can guarantee are frequent (no
    false positives). Its counts are exact while a feature has at most
    ``cap`` distinct values; above that they overcount by at most 3.5·n / M
    (DataSketches' bound; M is the power of two at or above cap / 0.75,
    8,192 for the default cap), and a feature without heavy hitters may
    report no top values at all. NULL is an item to it, so NULLs are
    filtered first. The top-k counts ``_sketch_topk_value``; uniques see
    raw values."""
    sv = F.col("str_value")
    topv = _sketch_topk_value(options)
    cap = F.lit(options.topk_sketch_size * 4)
    top = F.call_function(
        "approx_top_k_estimate",
        F.call_function("approx_top_k_accumulate", topv, cap),
        cap,
    )
    unique = F.theta_sketch_estimate(F.theta_sketch_agg(sv, E.THETA_LG_NOM_ENTRIES))
    return (
        long_df.where(sv.isNotNull())
        .groupBy("slice_key", "feature")
        .agg(top.alias("top"), unique.alias("unique"))
        .select(F.lit("sktopk").alias("kind"), "slice_key", "feature", "top", "unique")
    )


def _assemble_slice(
    rd, plans, options: StatsOptions, topk_data, uniq_data, arr_data, wtopk_data,
    wq_data,
):
    slice_key = rd["slice_key"]
    num_examples = rd["num_examples"]
    ds = DatasetStats(
        slice_key=slice_key,
        num_examples=num_examples,
        weighted_num_examples=rd.get("weighted_num_examples"),
    )
    for p in plans:
        ds.features[p.name] = _assemble_feature(
            p, rd, num_examples, slice_key, options, topk_data, uniq_data, arr_data,
            wtopk_data, wq_data,
        )
    return ds


def _g(rd, p, stat, default=None):
    v = rd.get(f"{p.alias}__{stat}")
    return default if v is None else v


def _assemble_feature(
    p, rd, num_examples, slice_key, options, topk_data, uniq_data, arr_data,
    wtopk_data, wq_data,
):
    fs = FeatureStats(name=p.name, type=p.stats_type)
    if p.source_type and p.source_type not in ("LONG", "DOUBLE", "STRING", "BINARY"):
        fs.custom["source_type"] = p.source_type

    nonmissing = int(_g(rd, p, "nonmissing", 0))
    common = CommonStats(
        num_non_missing=nonmissing,
        num_missing=num_examples - nonmissing,
    )
    fs.common = common
    if options.weight_column:
        common.weighted_num_non_missing = _g(rd, p, "w_nonmissing", 0.0) or 0.0
        # overridden features (ExampleWeightMap) carry their own weight
        # total; others subtract from the dataset-level global-weight total
        total_w = _g(rd, p, "w_total")
        if total_w is None:
            total_w = rd.get("weighted_num_examples") or 0.0
        common.weighted_num_missing = total_w - common.weighted_num_non_missing

    if p.stats_type in (E.STRUCT, E.UNKNOWN):
        if p.stats_type == E.STRUCT and p.nest_depth == 0 and nonmissing > 0:
            # A present scalar struct counts as one value (reference TFXIO
            # StructuredTensor semantics; the sequence-e2e golden's
            # ##SEQUENCE## feature carries value_count {min:1 max:1}).
            common.min_num_values = 1
            common.max_num_values = 1
            common.avg_num_values = 1.0
            common.tot_num_values = nonmissing
        return fs

    if p.nest_depth == 0:
        if nonmissing > 0:
            common.min_num_values = 1
            common.max_num_values = 1
            common.avg_num_values = 1.0
            common.tot_num_values = nonmissing
    else:
        common.min_num_values = int(_g(rd, p, "minvals", 0) or 0)
        common.max_num_values = int(_g(rd, p, "maxvals", 0) or 0)
        common.tot_num_values = int(_g(rd, p, "totvals", 0) or 0)
        common.avg_num_values = common.tot_num_values / nonmissing if nonmissing else 0.0
        if p.nest_depth >= 2:
            common.presence_and_valency = [
                PresenceAndValency(
                    num_non_missing=int(_g(rd, p, f"l{lvl}_nlists", 0) or 0),
                    min_num_values=int(_g(rd, p, f"l{lvl}_minvals", 0) or 0),
                    max_num_values=int(_g(rd, p, f"l{lvl}_maxvals", 0) or 0),
                    tot_num_values=int(_g(rd, p, f"l{lvl}_totvals", 0) or 0),
                )
                for lvl in range(1, p.nest_depth + 1)
            ]
        vh = _g(rd, p, "valshist")
        if vh is not None:
            common.num_values_histogram = quantiles_histogram(
                vh, nonmissing, options.num_values_histogram_buckets
            )

    key = (slice_key, p.name)

    if p.numeric:
        if p.nest_depth == 0:
            num = NumericStats(
                mean=_g(rd, p, "mean", 0.0) or 0.0,
                std_dev=_std0(_g(rd, p, "std", 0.0)),
                min=_nn(_g(rd, p, "min")),
                max=_nn(_g(rd, p, "max")),
                num_zeros=int(_g(rd, p, "zeros", 0) or 0),
                num_nan=int(_g(rd, p, "nan", 0) or 0),
                num_pos_inf=int(_g(rd, p, "posinf", 0) or 0),
                num_neg_inf=int(_g(rd, p, "neginf", 0) or 0),
            )
            num.finite_min = _g(rd, p, "finmin", num.min if math.isfinite(num.min) else None)
            num.finite_max = _g(rd, p, "finmax", num.max if math.isfinite(num.max) else None)
            quants = _g(rd, p, "quants")
            finite_count = nonmissing - num.num_nan - num.num_pos_inf - num.num_neg_inf
            if options.weight_column:
                w_cnt = _g(rd, p, "w_cnt", 0.0) or 0.0
                w_sum = _g(rd, p, "w_sum", 0.0) or 0.0
                w_sumsq = _g(rd, p, "w_sumsq", 0.0) or 0.0
                if w_cnt > 0:
                    num.weighted_mean = w_sum / w_cnt
                    # max(0, var) with 0 FIRST: max(0.0, nan) is 0.0, so a
                    # nan variance (infinities present) collapses to std 0.0
                    # — sqrt(max(0, variance)) reference semantics
                    # (basic_stats_generator.py:787).
                    var = max(0.0, w_sumsq / w_cnt - num.weighted_mean**2)
                    num.weighted_std_dev = math.sqrt(var)
            winf = (_g(rd, p, "w_posinf", 0.0), _g(rd, p, "w_neginf", 0.0))
        else:
            a = arr_data.get(key)
            exact_nan = _g(rd, p, "nan")  # wide-pass NaN counter (float nests)
            if a is None:
                if exact_nan:
                    # all values were NaN: no rows reached the long frame but
                    # the reference still emits num_stats carrying the NaN
                    # count (basic_stats_generator test_only_nan)
                    fs.numeric = NumericStats(num_nan=int(exact_nan))
                return fs
            num = NumericStats(
                mean=a["mean"] or 0.0,
                std_dev=_std0(a["std"]),
                min=_nn(a["min"]),
                max=_nn(a["max"]),
                num_zeros=int(a["zeros"] or 0),
                num_pos_inf=int(a["posinf"] or 0),
                num_neg_inf=int(a["neginf"] or 0),
            )
            num.finite_min = a["finmin"]
            num.finite_max = a["finmax"]
            if exact_nan is not None:
                num.num_nan = int(exact_nan)
            else:
                # NaNs never reach the long frame (stripped in long_format);
                # count = tot - finite - infs.
                num.num_nan = max(
                    common.tot_num_values - int(a["fincnt"]) - num.num_pos_inf - num.num_neg_inf, 0
                )
            quants = a["quants"]
            finite_count = int(a["fincnt"])
            winf = (a.get("w_posinf") or 0.0, a.get("w_neginf") or 0.0)
            if options.weight_column and finite_count:
                num.weighted_mean, num.weighted_std_dev = _nested_weighted_moments(
                    a, *winf
                )
        if quants is not None:
            num.median = median_from_boundaries(quants)
            qh = quantiles_histogram(
                quants, finite_count, options.num_quantiles_histogram_buckets, num.num_nan
            )
            eh = equi_width_histogram(
                quants,
                finite_count,
                options.num_histogram_buckets,
                num.num_nan,
                num.num_pos_inf,
                num.num_neg_inf,
            )
            num.histograms = [h for h in (eh, qh) if h is not None]
        # Weighted quantile stats (reference WeightedNumericStatistics median +
        # [weighted equi-width, weighted quantiles] histograms,
        # basic_stats_generator.py:838-876) — emitted when a weight column is
        # configured and the feature has a finite value: the weighted
        # t-digest grid and its finite weight, plus the ±inf weights.
        wdig = wq_data.get(key)
        if wdig is not None:
            wq, wfin = wdig
            num.weighted_median = median_from_boundaries(wq)
            wqh = quantiles_histogram(
                wq, wfin, options.num_quantiles_histogram_buckets, num.num_nan
            )
            weh = equi_width_histogram(
                wq, wfin, options.num_histogram_buckets, num.num_nan, *winf
            )
            num.weighted_histograms = [h for h in (weh, wqh) if h is not None]
        fs.numeric = num
        if not p.categorical:
            return fs

    if p.categorical or p.stats_type == E.STRING:
        avglen = _g(rd, p, "avglen")
        if avglen is None:
            # multivalent string/categorical features: avg element length
            # from the wide pass's (lensum, lencnt) pair
            lensum, lencnt = _g(rd, p, "lensum", 0) or 0, _g(rd, p, "lencnt", 0) or 0
            avglen = lensum / lencnt if lencnt else 0.0
        st = StringStats(avg_length=avglen)
        st.unique = int(uniq_data.get(key, 0))  # unique is NOT thresholded
        entries = sorted(topk_data.get(key, []))
        if options.frequency_threshold > 1:
            entries = [e for e in entries if e[2] >= options.frequency_threshold]
        st.top_values = [
            (v, float(c)) for (_, v, c, _wc) in entries[: options.num_top_values]
        ]
        st.rank_histogram = [
            RankBucket(r, r, v, float(c))
            for (r, v, c, _wc) in entries[: options.num_rank_histogram_buckets]
        ]
        if options.weight_column:
            # weighted_string_stats parity: a second top-k ranked by weighted
            # frequency, reporting weighted counts.
            wentries = sorted(wtopk_data.get(key, []))
            if options.weighted_frequency_threshold > 1.0:
                wentries = [
                    e
                    for e in wentries
                    if e[3] is not None
                    and e[3] >= options.weighted_frequency_threshold
                ]
            st.weighted_top_values = [
                (v, float(wc)) for (_, v, _c, wc) in wentries[: options.num_top_values]
            ]
            st.weighted_rank_histogram = [
                RankBucket(r, r, v, float(wc))
                for (r, v, _c, wc) in wentries[: options.num_rank_histogram_buckets]
            ]
        fs.string = st
        return fs

    if p.stats_type == E.BYTES:
        fs.bytes = BytesStats(
            unique=int(_g(rd, p, "unique", 0) or 0),
            avg_num_bytes=_g(rd, p, "avglen", 0.0) or 0.0,
            min_num_bytes=float(_g(rd, p, "minbytes", 0) or 0),
            max_num_bytes=float(_g(rd, p, "maxbytes", 0) or 0),
        )
        if p.image_stats:
            hist = {
                label: int(_g(rd, p, f"imgfmt_{label}", 0) or 0)
                for label in ("png", "jpeg", "gif", "bmp", "UNKNOWN")
            }
            hist = {k: v for k, v in hist.items() if v > 0}
            fs.custom["image_format_histogram"] = hist
            total = sum(hist.values())
            supported = total - hist.get("UNKNOWN", 0)
            # domain inference thresholds: ≥80% supported over ≥100 values
            if total >= 100 and supported / total >= 0.8:
                fs.custom["domain_info"] = "image_domain {}"
    return fs


def _nested_weighted_moments(a, wposinf: float, wneginf: float):
    """Weighted (mean, std_dev) of a nested feature from the long pass's
    finite-value sums and ±inf weights (the wide pass only covers
    scalars). Same ±inf semantics as the unweighted path: one-signed
    infinities give a ±inf mean, both give nan, and either gives std 0."""
    if wposinf and wneginf:
        return float("nan"), 0.0
    if wposinf or wneginf:
        return float("inf") if wposinf else float("-inf"), 0.0
    wn = a["w_cnt"] or 0.0
    if wn <= 0:
        return None, None
    mean = a["w_sum"] / wn
    return mean, math.sqrt(max(0.0, a["w_sumsq"] / wn - mean**2))


def _nn(v, default=0.0):
    return default if v is None else float(v)


def _std0(v):
    """std_dev = sqrt(max(0, variance)) reference semantics
    (basic_stats_generator.py:787): with infinities in the accumulator the
    variance is nan and max(0, nan) is 0 — so a nan stddev collapses to 0.0."""
    if v is None:
        return 0.0
    v = float(v)
    return 0.0 if math.isnan(v) else v
