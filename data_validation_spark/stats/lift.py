"""Lift statistics — P(Y=y | X=x) / P(Y=y) per (slice, x feature, x value,
label value), behavioral port of the reference's lift generator
(``lift_stats_generator.py``, formula at :521-523). One kernel,
``lift_stats_multi``, melts every x column via ``stack`` so the scans do
not multiply with the x columns, then joins three aggregates from two scans
of the input:

    xy_count = groupBy(slice, x_feature, x, y).count()   # scan 1
    x_count  = sum of xy_count over y
    y_rate   = groupBy(slice, y).count() / its sum over the slice  # scan 2
    lift     = (xy_count / x_count) / y_rate

``lift_stats`` is its one-column call on the default slice. Top-k lifts
per y via a window.

The y-rate rule: P(Y=y) is taken over every labelled row of the slice; a
row whose x is NULL still counts. Three reasons:

- it does not depend on which x is asked about, so one melted frame serves
  every x (y totals come from the unmelted rows: melting multiplies rows);
- the y rates of a slice sum to 1;
- the ``compute_statistics`` artifact (the ``label_feature`` path) keeps
  the values it always had.

Where x is never NULL it equals the rate over the rows with x present.
Rows with a NULL label or a NULL or non-positive weight carry no labelled
mass and are dropped before any total is taken, so every divisor is
positive: a slice whose labelled weight is 0 gives no rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from data_validation_spark.util import local_frame


def _fmt_bound(v: float) -> str:
    if v == float("-inf"):
        return "-inf"
    if v == float("inf"):
        return "inf"
    return "%g" % v


def lift_stats(
    df: DataFrame,
    x_col: str,
    y_col: str,
    top_k_per_y: int | None = None,
    min_x_count: int = 1,
    y_boundaries: list[float] | None = None,
    include_zero_counts: bool = False,
    weight_col: str | None = None,
) -> DataFrame:
    """Returns (x, y, lift, xy_count, x_count, y_rate) rows: the kernel
    ``lift_stats_multi`` for one x column over the whole table. Lazy — no
    Spark job runs before the caller's action."""
    return lift_stats_multi(
        df,
        [x_col],
        y_col,
        min_x_count=min_x_count,
        y_boundaries=y_boundaries,
        weight_col=weight_col,
        top_k_per_y=top_k_per_y,
        include_zero_counts=include_zero_counts,
    ).drop("slice_key", "x_feature")


def cross_feature_stats(df: DataFrame, pairs: list[tuple[str, str]]) -> DataFrame:
    """Covariance + Pearson correlation for numeric column pairs (the
    reference's cross_feature_stats_generator) — one aggregation."""
    aggs = []
    for a, b in pairs:
        aggs += [
            F.covar_pop(a, b).alias(f"{a}|{b}|cov"),
            F.corr(a, b).alias(f"{a}|{b}|corr"),
            F.count(F.when(F.col(a).isNotNull() & F.col(b).isNotNull(), 1)).alias(
                f"{a}|{b}|n"
            ),
        ]
    row = df.agg(*aggs).collect()[0].asDict()
    rows = []
    for a, b in pairs:
        rows.append(
            (a, b, int(row[f"{a}|{b}|n"] or 0), row[f"{a}|{b}|cov"], row[f"{a}|{b}|corr"])
        )
    return local_frame(df.sparkSession, rows, "feature_x string, feature_y string, "
                       "count bigint, covariance double, correlation double")


def lift_stats_multi(
    df: DataFrame,
    x_cols: list[str],
    y_col: str,
    slice_col=None,
    min_x_count: int = 1,
    y_boundaries: list[float] | None = None,
    weight_col: str | None = None,
    top_k_per_y: int | None = None,
    include_zero_counts: bool = False,
) -> DataFrame:
    """Lift of EVERY categorical x against the label from two scans of
    ``df`` — the engine-wired shape of the reference's LiftStatsGenerator
    (stats_impl.py 386-396: ``options.label_feature`` → lift custom stats
    for all categorical features).

    ``y_boundaries``: numeric labels are binned like the reference's
    ``bin_util.bin_array`` — bin j iff boundaries[j-1] ≤ y < boundaries[j]
    with implicit ∓inf end bounds (``lift_stats_generator.py:202``); the y
    label is the interval ``[low,high)``, matching the reference's
    ``y_bucket`` / "Lift (Y=[2,4))" rendering.

    ``include_zero_counts``: emit a row for every (x, y-series) pair of a
    slice even when x never co-occurs with y (lift 0.0) — the reference
    lists every x in each lift_series.

    ``weight_col``: weighted lift (reference ExampleWeightMap path,
    lift_stats_generator_test.py:1066 test_lift_weighted): every count
    becomes a weight sum — lift = (w(x∧y)/w(x)) / (w(y)/W).

    Returns (slice_key, x_feature, x, y, lift, xy_count, x_count, y_rate).
    """
    sc = slice_col if slice_col is not None else F.lit("All Examples")
    wcol = F.col(weight_col).cast("double") if weight_col else F.lit(1.0)
    if y_boundaries:
        b = sorted(float(v) for v in y_boundaries)
        lows, highs = [float("-inf")] + b, b + [float("inf")]
        labels = [f"[{_fmt_bound(lo)},{_fmt_bound(hi)})" for lo, hi in zip(lows, highs)]
        yd = F.col(y_col).cast("double")
        idx = sum(((yd >= F.lit(v)).cast("int") for v in b), F.lit(0))
        y_expr = F.element_at(F.array(*[F.lit(s) for s in labels]), idx + 1)
    else:
        y_expr = F.col(y_col).cast("string")

    # x columns go in under positional names, so a feature called y, w or
    # slice_key cannot collide with the kernel's own columns
    xs = [f"__x{i}" for i in range(len(x_cols))]
    base = df.select(
        sc.alias("slice_key"),
        y_expr.alias("y"),
        wcol.alias("w"),
        *[F.col(c).cast("string").alias(a) for c, a in zip(x_cols, xs)],
    ).where(F.col("y").isNotNull() & (F.col("w") > 0))

    cnt = F.sum("w") if weight_col else F.count(F.lit(1))
    y_tot = (
        base.groupBy("slice_key", "y")
        .agg(F.sum("w").alias("yw"))
        .select("slice_key", "y", (
            F.col("yw") / F.sum("yw").over(Window.partitionBy("slice_key"))
        ).alias("y_rate"))
    )

    stack = [F.lit(len(x_cols))]
    for c, a in zip(x_cols, xs):
        stack += [F.lit(c), F.col(a)]
    # x_feature is never NULL; saying so gives both reads of the (x, y)
    # counts the same plan, so the zero-fill grid's join reuses its scan
    melted = base.select(
        "slice_key", "y", "w", F.stack(*stack).alias("x_feature", "x")
    ).where(F.col("x").isNotNull() & F.col("x_feature").isNotNull())

    keys = ["slice_key", "x_feature", "x"]
    xy = melted.groupBy(*keys, "y").agg(cnt.alias("xy_count"))
    x_tot = xy.groupBy(*keys).agg(F.sum("xy_count").alias("x_count"))
    if include_zero_counts:
        # every x of a slice in every y series of that slice: the grid joins
        # the x totals to the slice's y rates (both small aggregates)
        joined = (
            x_tot.join(F.broadcast(y_tot), "slice_key")
            .join(xy, [*keys, "y"], "left")
            .na.fill({"xy_count": 0})
        )
    else:
        joined = xy.join(x_tot, keys).join(F.broadcast(y_tot), ["slice_key", "y"])
    out = (
        joined.where(F.col("x_count") >= min_x_count)
        .select(
            *keys,
            "y",
            ((F.col("xy_count") / F.col("x_count")) / F.col("y_rate")).alias("lift"),
            "xy_count",
            "x_count",
            "y_rate",
        )
    )
    if top_k_per_y:
        w = Window.partitionBy("slice_key", "x_feature", "y").orderBy(
            F.desc("lift"), F.desc("x")
        )
        out = (
            out.withColumn("__r", F.row_number().over(w))
            .where(F.col("__r") <= top_k_per_y)
            .drop("__r")
        )
    return out
