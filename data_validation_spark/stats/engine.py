"""The statistics engine — TFDV's ``GenerateStatistics`` re-architected for Spark.

Execution shape (cf. SURVEY.md §3.1 "Spark shape"):

1. **Wide pass** — one ``df.groupBy(slice_key).agg(*exprs)`` computing every
   codegen-able statistic for every non-binary column in a single scan:
   counts, presence, valency, the numeric stats of scalar features,
   NaN counts, string lengths. Entirely JVM-side (whole-stage
   codegen, partial+final hash agg — the reference's combiner fusion and
   hot-key fanout are what Spark's partial aggregation already does).

2. **Long pass** — one action over a union of small result frames: a
   stacked ``(slice, feature, value)`` projection feeding one groupBy
   shuffle for exact top-k / unique counts (the reference's
   ``top_k_uniques_stats_generator``) and the numeric stats of nested
   features' values, plus a per-slice object aggregate holding what would
   cost the wide pass its codegen: the percentile grids and the
   binary-column stats.

   Scalar and nested numeric features get the same aggregates, from
   ``exprs.numeric_aggs``: the wide pass computes them per scalar column
   (its percentile grid in the object aggregate), the long pass per nested
   feature over its values.

3. **Assembly** — driver-side transform of the tiny aggregate output into the
   ``DatasetStatsList`` artifact (histogram math in ``quantiles.py``). Every
   aggregate reaches it under the wide agg's ``{alias}__{stat}`` names, so
   one branch builds ``NumericStats`` for scalar and nested features alike;
   ``num_nan`` is the wide pass's exact NaN count of a float feature, and 0
   for any other.

With ``options.use_sketches=True`` only the long pass's top-k/uniques branch
changes: one ``groupBy(slice, feature)`` of Spark's own sketch aggregates —
``theta_sketch_agg`` (KMV, 16,384 entries) for uniques and
``approx_top_k_accumulate`` (frequent items, no false positives) for top-k.
A weighted top-k ranks by weight in the exact mode's window in both modes.
Quantiles are the same ``percentile_approx`` grids in both modes. KLL
(``kll_sketch_agg_double``) was rejected: it gave a median of 26 against the
exact 25 in 3 of 16 partition layouts, it raises on an empty sketch, and it
takes no weight. Weighted quantiles, which no Spark aggregate computes, come
from one more long-pass branch that sums the weights per log-spaced value
bucket (``_weighted_quantile_frame``), with buckets over 1% of the weight
split into sub-buckets by one more action when there are any
(``_refine_heavy_buckets``): at most 1% value error and 1% of the weight in
rank, exact on values more than 1% apart. No built-in statistic runs in
Python.
"""

from __future__ import annotations

import math
from dataclasses import replace
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
    weighted_quantile_grid,
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
_QS = [i / _QUANTILE_CUTS for i in range(_QUANTILE_CUTS + 1)]
# Ratio between the edges of one weighted-quantile bucket: a bucket holds
# the values v with ceil(log_γ |v|) equal, so its lo and hi differ by at
# most 1% of either (DDSketch's rule, which takes weights as they come).
_WQ_GAMMA = 1.01
# Sub-buckets per refinement round of a bucket that holds over 1% of the
# weight (_refine_heavy_buckets).
_WQ_SPLIT = 1024

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
    # The weight column with its per-feature overrides, or None.
    weights = options.example_weight_map
    weight_cols = sorted(weights.all_weight_features()) if weights else []

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
        if p.name in options.image_columns and p.stats_type == E.BYTES:
            p.image_stats = True

    _check_label(df, options)

    # ---- wide, long, generator and lift jobs, run concurrently --------------
    wide_exprs, obj_projs, obj_aggs = E.build_agg_exprs(
        plans,
        weights,
        _QUANTILE_CUTS,
        options.quantiles_accuracy,
        options.num_values_histogram_buckets,
    )

    def wide_job():
        return df.groupBy(slice_col.alias("slice_key")).agg(*wide_exprs).collect()

    def long_job():
        # Top-k/uniques + nested numeric stats + the object aggregate
        # (percentile grids and binary-column stats, which would force the
        # wide agg out of codegen) + (when a weight column is set) weighted
        # quantile buckets, all in ONE action — see _run_long_pass.
        return _run_long_pass(df, plans, slice_col, options, weights,
                              obj_projs, obj_aggs)

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
        # one stack, so the kernel scans the table twice whatever the
        # number of x (once for the y totals, once for the (x, y) counts).
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
        "stats.long": long_job,
        "stats.generators": custom_gen_job,
        "stats.lift": lift_job,
    })
    wide_rows = out["stats.wide"]
    (topk_data, uniq_data, wtopk_data, wq_data, slice_data) = out["stats.long"]
    custom_gen_out, lift_rows = out["stats.generators"], out["stats.lift"]

    if not wide_rows:
        # Placeholder-for-empty-input parity (stats_impl.py:141-158).
        return DatasetStatsList([DatasetStats(options.default_slice_key, 0, features={})])

    # ---- assembly ----------------------------------------------------------
    slices = []
    for row in wide_rows:
        # the long pass's per-slice values carry the wide agg's aliases
        rd = {**row.asDict(), **slice_data.get(row["slice_key"], {})}
        slices.append(
            _assemble_slice(rd, plans, options, topk_data, uniq_data, wtopk_data, wq_data)
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


def _run_long_pass(df, plans, slice_col, options: StatsOptions, weights,
                   obj_projs, obj_aggs):
    """Top-k/uniques (exact, or sketched with ``use_sketches``) + the
    numeric stats of nested features + the object aggregate + (with
    ``weights``, the ``ExampleWeightMap`` of a weight column) weighted top-k
    and the weighted quantile buckets — ONE Spark action.

    Each concern builds a small (KB-scale) lazy result frame; their union is
    collected once. Catalyst compiles the union into column-disjoint
    parquet scans — categorical (+ weight) columns for top-k, nested numeric
    (+ weight) columns for array stats, numeric + weight columns for the
    weighted quantile buckets, and the scalar numeric, nested and binary
    columns the object aggregate projects (plan-asserted in
    tests/test_plans.py) — so the long pass reads each table column at most
    once per concern and either mode submits exactly TWO jobs (wide agg +
    this union). The object aggregate (``obj_projs`` projected per row,
    ``obj_aggs`` grouped by slice; see ``exprs.build_agg_exprs``) holds every
    aggregate that would force the wide agg into ObjectHashAggregate, which
    has no codegen: the ``percentile_approx`` grids and the binary-column
    stats with their theta sketch. It is its own union branch, so the other
    branches keep WholeStageCodegen; its row carries the aggregates as one
    ``obj`` struct under the wide agg's aliases. The nested numeric branch
    groups the long frame's values by (slice, feature) into the
    ``exprs.numeric_aggs`` the wide agg computes for scalar features; its
    rows are filed under the same aliases, so each slice's values come back
    as one ``{alias}__{stat}`` dict.

    Top-k ranks values in one salted window (``_salted_topk``): by count
    and, weighted, by weight in exact mode; by weight only in weighted
    sketch mode, whose count top-k and uniques are Spark's sketch
    aggregates. No branch has a Python node."""
    long_df = E.long_format(df, plans, slice_col, weights)
    topk_data: dict = {}
    uniq_data: dict = {}
    wtopk_data: dict = {}
    wq_data: dict = {}
    slice_data: dict = {}
    finals = []

    any_topk = long_df is not None and any(p.categorical for p in plans)
    any_arr = long_df is not None and any(
        p.numeric and p.nest_depth > 0 for p in plans
    )
    weighted = weights is not None
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
        wcnt = [F.sum("weight").alias("wcnt")] if weighted else []
        counts = (
            long_df.where(F.col("str_value").isNotNull())
            .groupBy("slice_key", "feature", "str_value")
            .agg(F.count(F.lit(1)).alias("cnt"), *wcnt)
        )
        # With a weight column the reference emits BOTH an unweighted top-k
        # (string_stats.top_values) and a weighted one ranked by weighted
        # frequency (weighted_string_stats) — so rank by both orderings in
        # the same pass (same shuffle partitioning, two sorts).
        ranks = {"rank": "cnt", "wrank": "wcnt"} if weighted else {"rank": "cnt"}
        finals.append(_salted_topk(counts, k, ranks, unique=True))

    if any_arr:
        nv = F.col("num_value")
        aggs = E.numeric_aggs(nv, _QS, options.quantiles_accuracy,
                              F.col("weight") if weighted else None)
        finals.append(
            long_df.where(nv.isNotNull())
            .groupBy("slice_key", "feature")
            .agg(F.struct(*[agg.alias(stat) for stat, agg in aggs.items()]).alias("num"))
            .select(F.lit("arr").alias("kind"), "*")
        )

    wq_values = _weighted_values(df, plans, slice_col, weights) if weighted else None
    if wq_values is not None:
        finals.append(_weighted_quantile_frame(wq_values))

    if obj_aggs:
        finals.append(
            df.select(slice_col.alias("slice_key"), *obj_projs)
            .groupBy("slice_key")
            .agg(F.struct(*obj_aggs).alias("obj"))
            .select(F.lit("obj").alias("kind"), "*")
        )

    if not finals:
        return topk_data, uniq_data, wtopk_data, wq_data, slice_data

    out = finals[0]
    for f in finals[1:]:
        out = out.unionByName(f, allowMissingColumns=True)
    if CAPTURE_UNION_FRAME:
        global _last_union_frame
        _last_union_frame = out
    alias = {p.name: p.alias for p in plans}
    for row in out.collect():
        r = row.asDict()
        if r["kind"] == "obj":  # one per slice, no feature
            slice_data.setdefault(r["slice_key"], {}).update(r["obj"].asDict())
            continue
        key = (r["slice_key"], r["feature"])
        if r["kind"] == "topk":
            for rank, ranked in ((r.get("rank"), topk_data), (r.get("wrank"), wtopk_data)):
                if rank is not None and rank <= k:
                    ranked.setdefault(key, []).append(
                        (rank, r["str_value"], r.get("cnt"), r.get("wcnt"))
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
            slice_data.setdefault(r["slice_key"], {}).update(
                (f"{alias[r['feature']]}__{stat}", v) for stat, v in r["num"].asDict().items()
            )
        else:  # wq
            wq_data[key] = [tuple(piece) for piece in r["pieces"]]

    if wq_values is not None:
        _refine_heavy_buckets(df, plans, slice_col, weights, wq_data)
    for key, pieces in wq_data.items():
        wq_data[key] = weighted_quantile_grid(pieces, _QS)
    return topk_data, uniq_data, wtopk_data, wq_data, slice_data


def _weighted_values(df, plans, slice_col, weights):
    """The finite values of every numeric (slice, feature) with their
    weight ``w`` and log bucket (``sign``, ``exp`` = ⌈log_γ |v|⌉, zero its
    own), or None without numeric features."""
    wplans = [replace(p, categorical=False) for p in plans if p.numeric]
    long_df = E.long_format(df, wplans, slice_col, weights,
                            include_scalar_numeric=True)
    if long_df is None:
        return None
    v = F.col("num_value")
    return long_df.where(v.isNotNull() & ~v.isin(float("inf"), float("-inf"))).select(
        "slice_key", "feature", F.signum(v).alias("sign"),
        F.coalesce(F.ceil(F.log(_WQ_GAMMA, F.abs(v))), F.lit(0)).alias("exp"),
        v.alias("v"), F.col("weight").alias("w"),
    )


def _ordered(frame, by, order_col, offset=None):
    """``frame`` with, in ``order_col`` order within ``by``: ``before``, the
    weight of the rows before each row plus ``offset``, and whether the row
    is the first or the last."""
    order = Window.partitionBy(*by).orderBy(order_col)
    before = F.coalesce(
        F.sum("w").over(order.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0.0))
    return frame.select(
        *frame.columns, (before if offset is None else offset + before).alias("before"),
        (F.row_number().over(order) == 1).alias("first"),
        F.lead(order_col).over(order).isNull().alias("last"),
    )


def _holds_target():
    """Some grid point j·W/100 lies in the row's (before, before + w], give
    or take 1e-6 of a grid step for the order of the weight sums; the first
    and last rows hold the min and max."""
    rank = lambda x: F.try_divide(x * _QUANTILE_CUTS, F.col("total"))
    end = F.col("before") + F.col("w")
    return F.col("first") | F.col("last") | (
        (F.col("w") > 0)
        & (F.floor(rank(end) + 1e-6) > F.floor(rank(F.col("before")) - 1e-6))
    )


_PIECE = ["lo", "hi", "before", "w"]


def _weighted_quantile_frame(values):
    """The ``wq`` union rows: per numeric (slice, feature), the log buckets
    of ``values`` that hold a point of the quantile grid, and the first and
    last, as one ``array<struct<lo, hi, before, w>>`` sorted by ``lo``:
    each bucket's min, max, the weight of all smaller values and its own
    weight. A window over each feature's buckets (their number is bounded
    in docs/SCALE.md) gives ``before``, so only about 101 buckets per
    feature come back."""
    key = ["slice_key", "feature"]
    buckets = (
        values.groupBy(*key, "sign", "exp")
        .agg(F.min("v").alias("lo"), F.max("v").alias("hi"), F.sum("w").alias("w"))
        .withColumn("total", F.sum("w").over(Window.partitionBy(*key)))
    )
    return (
        _ordered(buckets, key, "lo").where(_holds_target())
        .groupBy(*key)
        .agg(F.array_sort(F.collect_list(F.struct(*_PIECE))).alias("pieces"))
        .select(F.lit("wq").alias("kind"), *key, "pieces")
    )


def _refine_heavy_buckets(df, plans, slice_col, weights, pieces_by_key):
    """Split, in place, each collected piece that holds more than one grid
    step of weight (W / 100) and more than one value into ``_WQ_SPLIT``
    equal-width sub-buckets of its [lo, hi], of which again only those that
    hold a grid point come back, with the piece's first and last. Repeat
    while such a piece remains. Afterwards the grid interpolates only inside
    a piece with at most 1% of the weight, so its rank error is under one
    grid step, or reads a single value exactly.

    One more action per round, run only when some piece is that heavy (a
    feature whose values crowd within 1% of one another, such as years or
    prices near one level). It reads the heavy features' columns again,
    keeps the values of the heavy pieces (a broadcast join on slice, feature
    and [lo, hi]) and aggregates them by sub-bucket, so nothing is sorted
    but the sub-buckets. Each round narrows a piece ``_WQ_SPLIT``-fold, and
    after four a 1%-wide bucket is under 10⁻¹⁴ of its value wide: a piece
    still heavy then is interpolated within that."""
    key = ["slice_key", "feature"]
    totals = {k: ps[-1][2] + ps[-1][3] for k, ps in pieces_by_key.items()}
    for _ in range(4):
        heavy = {(k, p) for k, ps in pieces_by_key.items() for p in ps
                 if p[0] < p[1] and p[3] > totals[k] / _QUANTILE_CUTS}
        if not heavy:
            return
        features = {k[1] for k, _ in heavy}
        values = _weighted_values(df, [p for p in plans if p.name in features],
                                  slice_col, weights)
        ranges = df.sparkSession.createDataFrame(
            [(*k, lo, hi, before, totals[k]) for k, (lo, hi, before, _) in heavy],
            "rslice string, rfeature string, plo double, phi double, "
            "offset double, total double")
        v = F.col("v")
        sub = F.least(
            F.floor((v - F.col("plo")) / (F.col("phi") - F.col("plo")) * _WQ_SPLIT),
            F.lit(_WQ_SPLIT - 1))
        subs = (
            values.join(F.broadcast(ranges),
                        F.col("slice_key").eqNullSafe(F.col("rslice"))
                        & (F.col("feature") == F.col("rfeature"))
                        & v.between(F.col("plo"), F.col("phi")))
            .groupBy(*key, "plo", "offset", "total", sub.alias("sub"))
            .agg(F.min(v).alias("lo"), F.max(v).alias("hi"), F.sum("w").alias("w"))
        )
        rows = (
            _ordered(subs, key + ["plo"], "lo", F.col("offset"))
            .where(_holds_target())
            .select(*key, *_PIECE)
            .collect()
        )
        split = {k for k, _ in heavy}
        for k in split:
            pieces_by_key[k] = [p for p in pieces_by_key[k] if (k, p) not in heavy]
        for r in rows:
            pieces_by_key[(r["slice_key"], r["feature"])].append(
                tuple(r[c] for c in _PIECE))
        for k in split:
            pieces_by_key[k].sort()


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
    rd, plans, options: StatsOptions, topk_data, uniq_data, wtopk_data, wq_data,
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
            p, rd, num_examples, slice_key, options, topk_data, uniq_data,
            wtopk_data, wq_data,
        )
    return ds


def _g(rd, p, stat, default=None):
    v = rd.get(f"{p.alias}__{stat}")
    return default if v is None else v


def _assemble_feature(
    p, rd, num_examples, slice_key, options, topk_data, uniq_data,
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
        num_nan = int(_g(rd, p, "nan", 0))
        # a scalar int's finite values are its present ones
        scalar_int = p.nest_depth == 0 and not p.is_float
        finite_count = _g(rd, p, "fincnt", nonmissing if scalar_int else None)
        if finite_count is None and not num_nan:
            # a nested feature with no non-NaN value has no aggregate row
            return fs
        num = NumericStats(
            mean=_g(rd, p, "mean", 0.0),
            std_dev=_std0(_g(rd, p, "std")),
            min=_nn(_g(rd, p, "min")),
            max=_nn(_g(rd, p, "max")),
            num_zeros=int(_g(rd, p, "zeros", 0)),
            num_nan=num_nan,
            num_pos_inf=int(_g(rd, p, "posinf", 0)),
            num_neg_inf=int(_g(rd, p, "neginf", 0)),
            finite_min=_g(rd, p, "finmin"),
            finite_max=_g(rd, p, "finmax"),
        )
        quants = _g(rd, p, "quants")
        finite_count = int(finite_count or 0)
        winf = (_g(rd, p, "w_posinf", 0.0), _g(rd, p, "w_neginf", 0.0))
        w_cnt = _g(rd, p, "w_cnt", 0.0)
        if any(winf):
            # ±inf in the weighted accumulator: a ±inf mean, nan with both
            # signs, and std 0.0 (sqrt(max(0, nan)), as unweighted)
            num.weighted_mean = (
                math.nan if all(winf) else math.inf if winf[0] else -math.inf
            )
            num.weighted_std_dev = 0.0
        elif w_cnt > 0:
            num.weighted_mean = _g(rd, p, "w_sum") / w_cnt
            num.weighted_std_dev = math.sqrt(
                max(0.0, _g(rd, p, "w_sumsq") / w_cnt - num.weighted_mean**2)
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
        # bucket grid and its finite weight, plus the ±inf weights.
        wgrid = wq_data.get(key)
        if wgrid is not None:
            wq, wfin = wgrid
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
