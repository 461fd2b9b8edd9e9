"""Lift statistics — P(y | x) / P(y) per (x-feature value, label value),
behavioral port of the reference's lift generator
(``lift_stats_generator.py``, formula at :521-523), re-expressed as two
aggregations and one broadcast join:

    xy_counts = groupBy(x, y).count()        # one shuffle
    y_rates   = groupBy(y).count() / total   # tiny, broadcast
    lift(x,y) = (xy/x_total) / y_rate

Top-k positive/negative lifts per y via a window.
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
    """Returns (x, y, lift, xy_count, x_count, y_rate) rows.

    ``y_boundaries``: numeric labels are binned like the reference's
    ``bin_util.bin_array`` — bin j iff boundaries[j-1] ≤ y < boundaries[j]
    with implicit ∓inf end bounds (``lift_stats_generator.py:202``); the y
    label is the interval ``[low,high)``, matching the reference's
    ``y_bucket`` / "Lift (Y=[2,4))" rendering.

    ``include_zero_counts``: emit a row for every (x, y-series) pair even
    when x never co-occurs with y (lift 0.0) — the reference lists every x
    in each lift_series.

    ``weight_col``: weighted lift (reference ExampleWeightMap path,
    lift_stats_generator_test.py:1066 test_lift_weighted): every count
    becomes a weight sum — lift = (w(x∧y)/w(x)) / (w(y)/W).
    """
    wcol = (
        F.col(weight_col).cast("double") if weight_col else F.lit(1.0)
    )
    total_row = (
        df.where(F.col(y_col).isNotNull()).agg(F.sum(wcol).alias("t")).collect()[0]
    )
    total = float(total_row["t"] or 0.0)
    if total == 0:
        # weighted counts are weight sums (double); keep the empty-result
        # schema identical to the non-empty path so unions don't break
        cnt_t = "double" if weight_col else "bigint"
        return local_frame(
            df.sparkSession, [],
            f"x string, y string, lift double, xy_count {cnt_t}, "
            f"x_count {cnt_t}, y_rate double",
        )
    if y_boundaries:
        b = sorted(float(v) for v in y_boundaries)
        lows, highs = [float("-inf")] + b, b + [float("inf")]
        labels = [f"[{_fmt_bound(lo)},{_fmt_bound(hi)})" for lo, hi in zip(lows, highs)]
        yd = F.col(y_col).cast("double")
        idx = sum(((yd >= F.lit(v)).cast("int") for v in b), F.lit(0))
        y_expr = F.element_at(F.array(*[F.lit(s) for s in labels]), idx + 1)
    else:
        y_expr = F.col(y_col).cast("string")
    pairs = df.select(
        F.col(x_col).cast("string").alias("x"), y_expr.alias("y"), wcol.alias("w")
    ).where(F.col("x").isNotNull() & F.col("y").isNotNull())
    cnt = F.sum("w") if weight_col else F.count(F.lit(1))
    xy = pairs.groupBy("x", "y").agg(cnt.alias("xy_count"))
    x_tot = pairs.groupBy("x").agg(cnt.alias("x_count"))
    y_tot = pairs.groupBy("y").agg((cnt / total).alias("y_rate"))
    if include_zero_counts:
        # every x appears in every y series (zero-co-occurrence → lift 0.0):
        # the x-totals × y-series grid is tiny (two small aggregates).
        xy = (
            x_tot.select("x")
            .crossJoin(F.broadcast(y_tot.select("y")))
            .join(xy, ["x", "y"], "left")
            .na.fill({"xy_count": 0})
        )
    out = (
        xy.join(x_tot, "x")
        .join(F.broadcast(y_tot), "y")
        .where(F.col("x_count") >= min_x_count)
        .select(
            "x",
            "y",
            ((F.col("xy_count") / F.col("x_count")) / F.col("y_rate")).alias("lift"),
            "xy_count",
            "x_count",
            "y_rate",
        )
    )
    if top_k_per_y:
        w = Window.partitionBy("y").orderBy(F.desc("lift"), F.desc("x"))
        out = out.withColumn("__r", F.row_number().over(w)).where(
            F.col("__r") <= top_k_per_y
        ).drop("__r")
    return out


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
) -> DataFrame:
    """Lift of EVERY categorical x against the label in ONE job — the
    engine-wired shape of the reference's LiftStatsGenerator (stats_impl.py
    386-396: ``options.label_feature`` → lift custom stats for all
    categorical features). The x columns melt via ``stack`` so the table is
    scanned once; per-slice y rates come from the unmelted rows (melting
    multiplies rows, so y totals must not be counted off the melted frame).

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

    base = df.select(
        sc.alias("slice_key"), y_expr.alias("y"), wcol.alias("w"), *x_cols
    ).where(F.col("y").isNotNull())

    cnt = F.sum("w") if weight_col else F.count(F.lit(1))
    totals = base.groupBy("slice_key").agg(F.sum("w").alias("t"))
    y_tot = (
        base.groupBy("slice_key", "y")
        .agg(F.sum("w").alias("yw"))
        .join(totals, "slice_key")
        .select("slice_key", "y", (F.col("yw") / F.col("t")).alias("y_rate"))
    )

    stack_args = ", ".join(
        f"'{c}', CAST(`{c}` AS STRING)" for c in x_cols
    )
    melted = base.select(
        "slice_key",
        "y",
        "w",
        F.expr(f"stack({len(x_cols)}, {stack_args})").alias("x_feature", "x"),
    ).where(F.col("x").isNotNull())

    xy = melted.groupBy("slice_key", "x_feature", "x", "y").agg(cnt.alias("xy_count"))
    x_tot = melted.groupBy("slice_key", "x_feature", "x").agg(cnt.alias("x_count"))
    out = (
        xy.join(x_tot, ["slice_key", "x_feature", "x"])
        .join(F.broadcast(y_tot), ["slice_key", "y"])
        .where(F.col("x_count") >= min_x_count)
        .select(
            "slice_key",
            "x_feature",
            "x",
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
