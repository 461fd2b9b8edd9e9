"""Per-column Catalyst aggregate-expression builders for the single fused
statistics pass.

This is the Spark-native replacement for the reference's fused combiner
(``tensorflow_data_validation/statistics/stats_impl.py:276-303`` fuses all
per-feature combiners into one Beam CombinePerKey): here every
built-in-expressible statistic for every column becomes one aggregate
expression, either in a single ``df.groupBy(slice).agg(*exprs)`` — one scan,
one partial+final hash aggregation, fully whole-stage-codegen'd — or, for the
aggregates that would cost it its codegen, in one per-slice object
aggregate; no Python in the hot path.

NaN/Inf semantics follow the reference
(``basic_stats_generator.py:336-476``): NaN is excluded from every numeric
statistic but counted in ``num_nan``; ±inf participate in min/max but finite
extrema are tracked separately; quantiles are computed over finite values only.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import functions as F
from pyspark.sql import types as T

# Statistics-type lattice, cf. reference stats_util.py:80-120 (Arrow types
# collapse to INT / FLOAT / STRING / STRUCT; BYTES only ever asserted).
INT = "INT"
FLOAT = "FLOAT"
STRING = "STRING"
BYTES = "BYTES"
STRUCT = "STRUCT"
UNKNOWN = "UNKNOWN"

_INTEGRAL = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
_FRACTIONAL = (T.FloatType, T.DoubleType, T.DecimalType)
# log2 of the theta sketch's nominal entries for bytes and sketch-mode
# uniques: 2^14 = 16,384, the reference's KMV size (stats_impl.py:64-65).
THETA_LG_NOM_ENTRIES = 14


@dataclass
class ColumnPlan:
    """How one DataFrame column participates in the stats pass."""

    name: str  # possibly dotted path for struct fields
    alias: str  # unique safe alias prefix (c{i})
    stats_type: str  # INT/FLOAT/STRING/BYTES/STRUCT/UNKNOWN
    spark_type: T.DataType
    nest_depth: int = 0  # 0 = scalar, 1 = array<prim>, 2 = array<array<prim>>
    is_float: bool = False  # element type can hold NaN
    categorical: bool = False  # include in top-k/uniques long job
    numeric: bool = False  # gets numeric stats
    image_stats: bool = False  # add magic-byte format counters to its bytes stats
    source_type: str = ""  # original Spark type name (e.g. TIMESTAMP)
    exprs: list = field(default_factory=list)


def classify_columns(schema: T.StructType, categorical_features: set[str],
                     prefix: str = "") -> list[ColumnPlan]:
    """Map DataFrame schema → per-column plans. Structs flatten to dotted paths."""
    plans: list[ColumnPlan] = []
    for f_ in schema.fields:
        name = prefix + f_.name
        plans.extend(_classify_one(name, f_.dataType, categorical_features))
    for i, p in enumerate(plans):
        p.alias = f"c{i}"
    return plans


def _classify_one(name: str, dt: T.DataType, cats: set[str]) -> list[ColumnPlan]:
    depth = 0
    while isinstance(dt, T.ArrayType):
        depth += 1
        dt = dt.elementType
    if isinstance(dt, T.StructType):
        # One STRUCT plan for presence of the struct itself + children.
        out = [ColumnPlan(name, "", STRUCT, dt, nest_depth=depth)]
        if depth == 0:
            out.extend(classify_columns(dt, cats, prefix=name + "."))
        return out
    if isinstance(dt, T.BooleanType):
        st, numeric, isf = INT, True, False
    elif isinstance(dt, _INTEGRAL):
        st, numeric, isf = INT, True, False
    elif isinstance(dt, _FRACTIONAL):
        st, numeric, isf = FLOAT, True, True
    elif isinstance(dt, (T.TimestampType, T.DateType, T.TimestampNTZType)):
        st, numeric, isf = INT, True, False
    elif isinstance(dt, T.StringType):
        st, numeric, isf = STRING, False, False
    elif isinstance(dt, T.BinaryType):
        st, numeric, isf = BYTES, False, False
    elif isinstance(dt, T.NullType):
        st, numeric, isf = UNKNOWN, False, False
    else:
        st, numeric, isf = UNKNOWN, False, False
    p = ColumnPlan(name, "", st, dt, nest_depth=depth, is_float=isf, numeric=numeric)
    p.source_type = type(dt).__name__.replace("Type", "").upper()
    p.categorical = st == STRING or name in cats
    return [p]


def _value_col(p: ColumnPlan):
    """Column expression yielding the scalar value (numeric cast applied)."""
    c = F.col(p.name)
    dt = p.spark_type
    if isinstance(dt, T.BooleanType):
        return c.cast("long")
    if isinstance(dt, T.TimestampNTZType):
        # NTZ → LTZ is identity under the pinned UTC session timezone
        return c.cast("timestamp_ltz").cast("double").cast("long")
    if isinstance(dt, T.TimestampType):
        return c.cast("double").cast("long")  # epoch seconds
    if isinstance(dt, T.DateType):
        return F.unix_date(c).cast("long")
    if isinstance(dt, T.DecimalType):
        return c.cast("double")
    return c


def numeric_aggs(x, quantiles: list, accuracy: int, weight=None,
                 is_float: bool = True) -> dict:
    """The numeric statistics of ``x``, a double value column with NaN and
    missing values as NULL, as named aggregates. Scalar and nested features
    share them: the reference feeds every value of a numeric feature to one
    accumulator, whatever its valency (``basic_stats_generator.py:434-476``).

    - ``min``, ``max``, ``mean``, ``std`` over every non-NaN value,
      INCLUDING ±inf (only the nan_mask is dropped before
      mean_var_accumulator.update), so mean is ±inf with one-signed
      infinities and nan with both; the nan variance collapses to std_dev
      0.0 in assembly (sqrt(max(0, var)) reference semantics); ``zeros``;
    - ``posinf``/``neginf`` counts and the finite ``finmin``, ``finmax``
      and ``fincnt``;
    - ``quants``: the ``percentile_approx`` grid at ``quantiles`` of the
      finite values;
    - with a ``weight`` column: ``w_cnt``, ``w_sum`` and ``w_sumsq`` of the
      finite values and the ±inf weights ``w_posinf``/``w_neginf``, from
      which assembly rebuilds the ±inf semantics of the weighted moments.

    A column that holds no ±inf (``is_float`` False) gets no ±inf
    aggregates and no ``fincnt``, which would equal its present count; its
    finite extrema are its ``min`` and ``max``, which Spark plans once."""
    inf = (float("inf"), float("-inf"))
    xf = F.when(~x.isin(*inf), x) if is_float else x
    aggs = {
        "min": F.min(x),
        "max": F.max(x),
        "mean": F.avg(x),
        "std": F.stddev_pop(x),
        "zeros": F.sum(F.when(x == 0.0, 1).otherwise(0)),
        "finmin": F.min(xf),
        "finmax": F.max(xf),
        "quants": F.percentile_approx(xf, quantiles, accuracy),
    }
    if is_float:
        aggs["fincnt"] = F.count(xf)
        aggs["posinf"] = F.sum(F.when(x == inf[0], 1).otherwise(0))
        aggs["neginf"] = F.sum(F.when(x == inf[1], 1).otherwise(0))
    if weight is not None:
        aggs["w_cnt"] = F.sum(F.when(xf.isNotNull(), weight))
        aggs["w_sum"] = F.sum(weight * xf)
        aggs["w_sumsq"] = F.sum(weight * xf * xf)
        if is_float:
            aggs["w_posinf"] = F.sum(F.when(x == inf[0], weight))
            aggs["w_neginf"] = F.sum(F.when(x == inf[1], weight))
    return aggs


def build_agg_exprs(
    plans: list[ColumnPlan],
    weights,
    num_quantile_cuts: int,
    quantiles_accuracy: int,
    count_values_hist_buckets: int,
) -> tuple[list, list, list]:
    """Aggregate expressions for the stats pass, as ``(wide, object_projections,
    object_aggregates)``.

    ``wide`` is the wide agg: every statistic whose aggregate Spark runs in
    ``HashAggregateExec``, fully whole-stage-codegen'd. The rest are
    TypedImperativeAggregates, and one of them in an aggregate forces the
    whole plan into ``ObjectHashAggregateExec``, which has NO whole-stage
    codegen: every other expression would be evaluated interpreted. They go
    to the object aggregate instead, which the caller runs as
    ``df.select(slice_key, *object_projections).groupBy("slice_key")
    .agg(*object_aggregates)``, one branch of the long pass. Its inputs are
    projected first, in codegen'd code, so the aggregates read only scalar
    columns:

    - the ``percentile_approx`` grids: the ``numeric_aggs`` grid of each
      scalar numeric over its projected NaN-excluded value
      (``{alias}__quants``) and the value counts of each nested feature
      (``{alias}__valshist``);
    - ALL the binary-column statistics: presence, byte-length stats,
      distinct-count estimate and magic-byte format counters. The distinct
      estimate is a theta (KMV) sketch, ``theta_sketch_agg`` with 2^14 =
      16,384 nominal entries, the reference's own uniques estimator. With
      the binary stats out of it, the wide agg's scan does not read the
      binary column at all. The projection (content hash, length, sniffed
      format) touches the multi-KB payload once in compiled code, so the
      binary column is read exactly ONCE across the whole stats pass.

    The theta sketch keeps every hash until it holds 16,384 distinct ones, so
    up to that many distinct payloads the count is exact; above it the
    relative standard error is about 1/sqrt(16384) ≈ 0.8%. Its estimate does
    not depend on how the input is partitioned or ordered (merging KMV
    sketches keeps the k smallest hashes of the union). Spark's HLL++ (rsd
    0.01, so p = 14) is not used: its 1,639-word aggregation buffer costs
    code generation in every task, so its cost follows the task count — over
    16k cached longs on ``local[4]`` (4-core host) it took 1.3 / 1.8 / 5.6 s
    at 1 / 6 / 32 partitions against 0.15 / 0.16 / 0.23 s for the theta
    sketch and 0.18-0.25 s for a plain ``max``.

    Returns aliased expressions; assembly decodes by alias convention
    ``{plan.alias}__{stat}``.

    ``weights`` is an ``ExampleWeightMap`` (reference
    example_weight_map.py) or None: each plan's weighted expressions use
    that feature's resolved weight column; ``weighted_num_examples`` always
    uses the global weight feature.
    """
    global_w = weights.weight_feature if weights else None

    def _w(p):
        return weights.get(p.name) if weights else None

    exprs = [F.count(F.lit(1)).alias("num_examples")]
    projs: list = []
    oaggs: list = []
    if global_w:
        exprs.append(F.sum(F.col(global_w).cast("double")).alias("weighted_num_examples"))

    qs = [i / num_quantile_cuts for i in range(num_quantile_cuts + 1)]

    for p in plans:
        a = p.alias
        if p.stats_type in (STRUCT, UNKNOWN):
            exprs.append(F.count(F.col(p.name)).alias(f"{a}__nonmissing"))
            continue

        if p.stats_type == BYTES and p.nest_depth == 0:
            # ALL binary-column stats go to the object aggregate (see
            # docstring): projections touch the payload once in codegen,
            # the aggregates are cheap scalar-input ones.
            c = F.col(p.name)
            blen_col, h_col = f"{a}__blen", f"{a}__h64"
            projs += [
                F.octet_length(c).alias(blen_col),
                F.when(c.isNotNull(), F.xxhash64(c)).alias(h_col),
            ]
            oaggs += [
                F.count(F.col(blen_col)).alias(f"{a}__nonmissing"),
                F.avg(F.col(blen_col)).alias(f"{a}__avglen"),
                F.min(F.col(blen_col)).alias(f"{a}__minbytes"),
                F.max(F.col(blen_col)).alias(f"{a}__maxbytes"),
                # KMV (theta) sketch of the 64-bit content hash, the
                # reference's own uniques estimator at its 16,384 entries.
                # xxhash64(NULL) is non-null → gated on presence in the
                # projection.
                F.theta_sketch_estimate(
                    F.theta_sketch_agg(F.col(h_col), THETA_LG_NOM_ENTRIES)
                ).alias(f"{a}__unique"),
            ]
            pw = _w(p)
            if pw:
                w = F.col(pw).cast("double")
                projs.append(F.when(c.isNotNull(), w).alias(f"{a}__wnn"))
                oaggs.append(F.sum(F.col(f"{a}__wnn")).alias(f"{a}__w_nonmissing"))
                if pw != global_w:
                    exprs.append(F.sum(w).alias(f"{a}__w_total"))
            if p.image_stats:
                # fused magic-byte format counters (image_stats_generator
                # parity) — sniffed once in the same codegen projection
                from data_validation_spark.stats.image import sniff_format_col

                fmt_col = f"{a}__fmt"
                projs.append(sniff_format_col(c).alias(fmt_col))
                for label in ("png", "jpeg", "gif", "bmp", "UNKNOWN"):
                    oaggs.append(
                        F.sum(F.when(F.col(fmt_col) == label, 1).otherwise(0)).alias(
                            f"{a}__imgfmt_{label}"
                        )
                    )
            continue

        if p.nest_depth == 0:
            v = _value_col(p)
            exprs.append(F.count(v).alias(f"{a}__nonmissing"))
            present = v  # non-null scalar ⇒ 1 value per present row
        else:
            arr = F.col(p.name)
            flat = arr
            for _ in range(p.nest_depth - 1):
                flat = F.flatten(flat)
            sz = F.size(flat)  # innermost value count (arrow_util parity)
            exprs += [
                F.count(arr).alias(f"{a}__nonmissing"),
                F.min(sz).alias(f"{a}__minvals"),
                F.max(sz).alias(f"{a}__maxvals"),
                F.sum(sz).alias(f"{a}__totvals"),
            ]
            projs.append(sz.cast("double").alias(f"{a}__sz"))
            oaggs.append(
                F.percentile_approx(
                    F.col(f"{a}__sz"),
                    [i / count_values_hist_buckets for i in range(count_values_hist_buckets + 1)],
                    quantiles_accuracy,
                ).alias(f"{a}__valshist")
            )
            pw = _w(p)
            if pw:
                w = F.col(pw).cast("double")
                exprs.append(
                    F.sum(F.when(arr.isNotNull(), w)).alias(f"{a}__w_nonmissing")
                )
                if pw != global_w:
                    # overridden feature: its weighted_num_missing must
                    # subtract from THIS weight's total, not the global one
                    exprs.append(F.sum(w).alias(f"{a}__w_total"))
            if p.nest_depth >= 2:
                # Per-nest-level valency (GetMinMaxNumValues parity,
                # feature_util.cc:136-215): level 1 = outer list lengths,
                # level ℓ = lengths of the lists found after flattening ℓ-2
                # times. All JVM expressions — one extra agg column per level.
                for lvl in range(1, p.nest_depth + 1):
                    if lvl == 1:
                        sz_min = sz_max = F.size(arr)
                        sz_tot = F.size(arr)
                        n_lists = F.count(arr)
                    else:
                        parent = F.col(p.name)
                        for _ in range(lvl - 2):
                            parent = F.flatten(parent)
                        inner = F.filter(parent, lambda x: x.isNotNull())
                        sizes = F.transform(inner, lambda x: F.size(x))
                        sz_min = F.array_min(sizes)
                        sz_max = F.array_max(sizes)
                        sz_tot = F.aggregate(
                            sizes, F.lit(0).cast("long"), lambda acc, s: acc + s
                        )
                        n_lists = F.sum(F.size(inner))
                    exprs += [
                        F.min(sz_min).alias(f"{a}__l{lvl}_minvals"),
                        F.max(sz_max).alias(f"{a}__l{lvl}_maxvals"),
                        F.sum(sz_tot).alias(f"{a}__l{lvl}_totvals"),
                        n_lists.alias(f"{a}__l{lvl}_nlists"),
                    ]
            if p.numeric and p.is_float:
                # exact NaN count for nested float features: NaNs never reach
                # the long (exploded) frame, so an all-NaN feature would
                # otherwise report num_nan 0 (cf. basic_stats_generator
                # test_only_nan)
                nan_sz = F.size(F.filter(flat, lambda e: e.isNotNull() & F.isnan(e)))
                exprs.append(
                    # size(null) is -1 — gate on presence so missing rows
                    # contribute null (ignored by sum), not -1
                    F.sum(F.when(arr.isNotNull(), nan_sz)).alias(f"{a}__nan")
                )
            if p.stats_type == STRING or p.categorical:
                # avg_length over the (stringified) elements of multivalent
                # string/categorical features (basic_stats_generator.py:518)
                elems = F.filter(flat, lambda e: e.isNotNull())
                lens = F.transform(elems, lambda e: F.length(e.cast("string")))
                exprs += [
                    F.sum(
                        F.aggregate(lens, F.lit(0).cast("long"), lambda acc, l: acc + l)
                    ).alias(f"{a}__lensum"),
                    # size(null) is -1 — gate on presence (sum ignores nulls)
                    F.sum(F.when(arr.isNotNull(), F.size(elems))).alias(f"{a}__lencnt"),
                ]
            # Numeric stats of array elements handled in the long (exploded) job.
            continue

        pw = _w(p)
        w = F.col(pw).cast("double") if pw else None
        if pw:
            exprs.append(F.sum(F.when(present.isNotNull(), w)).alias(f"{a}__w_nonmissing"))
            if pw != global_w:
                exprs.append(F.sum(w).alias(f"{a}__w_total"))

        if p.numeric:
            x = v.cast("double")
            xn = F.when(~F.isnan(x), x) if p.is_float else x  # NaN-excluded
            aggs = numeric_aggs(xn, qs, quantiles_accuracy, w, p.is_float)
            # The grid would cost the wide agg its codegen: the object
            # aggregate runs it over the value projected in codegen.
            del aggs["quants"]
            projs.append(xn.alias(f"{a}__x"))
            grid = numeric_aggs(F.col(f"{a}__x"), qs, quantiles_accuracy,
                                is_float=p.is_float)["quants"]
            oaggs.append(grid.alias(f"{a}__quants"))
            exprs += [agg.alias(f"{a}__{stat}") for stat, agg in aggs.items()]
            if p.is_float:
                exprs.append(F.sum(F.when(F.isnan(x), 1).otherwise(0)).alias(f"{a}__nan"))
            if p.categorical:
                # categorical numerics also carry STRING stats whose
                # avg_length is over the stringified values
                # (basic_stats_generator_test.py:2196-2329: "10" → 2 chars,
                # "1.0" → 3 chars)
                exprs.append(
                    F.avg(F.length(v.cast("string"))).alias(f"{a}__avglen")
                )
        elif p.stats_type == STRING:
            exprs.append(F.avg(F.length(F.col(p.name))).alias(f"{a}__avglen"))
    return exprs, projs, oaggs


def long_format(df, plans: list[ColumnPlan], slice_col, weights=None,
                include_scalar_numeric: bool = False):
    """Build the long-format frame ``(slice_key, feature, str_value,
    num_value[, weight])`` feeding top-k/uniques and array-element numeric
    stats. ``num_value`` is NULL for a NaN. With ``weights`` (an
    ``ExampleWeightMap``) each row carries its feature's resolved weight;
    without, the frame has no ``weight`` column.

    ONE scan: every participating column stacks into a per-row array of
    structs which a single ``explode`` flattens — the analogue of the
    reference's explode + CombinePerKey
    (``top_k_uniques_stats_generator.py:106-336``). A unionByName of
    per-column projections would read the same total column bytes (Catalyst
    prunes each branch) but pays scan setup (footers, row-group init, task
    scheduling) once PER FEATURE — at 100 TB that's N scan fan-outs instead
    of one. Downstream is a single groupBy shuffle keyed by
    (slice, feature, value).
    """
    fields_t = "feature:string,str_value:string,num_value:double"
    if weights is not None:
        fields_t += ",weight:double"
    arrays = []
    for p in plans:
        if p.stats_type in (STRUCT, UNKNOWN, BYTES):
            continue
        needs_topk = p.categorical
        needs_numeric = p.numeric and (p.nest_depth > 0 or include_scalar_numeric)
        if not (needs_topk or needs_numeric):
            continue

        def entry(v, p=p, needs_topk=needs_topk, needs_numeric=needs_numeric):
            if needs_topk:
                # Raw values here: the reference's >1024-byte
                # __LARGE_BYTES__ placeholder exists only in the SKETCH
                # generator's MisraGries top-k
                # (top_k_uniques_sketch_stats_generator.py:211-222); the
                # exact generator and the KMV uniques sketch see raw values,
                # so collapsing here would undercount exact uniques and
                # diverge exact top-k. Sketch mode applies it to its top-k
                # sketches only (engine._sketch_topk_frame).
                sv = v.cast("string")
            else:
                sv = F.lit(None).cast("string")
            if needs_numeric:
                nv = v.cast("double")
                if p.is_float:
                    nv = F.when(~F.isnan(nv), nv)
            else:
                nv = F.lit(None).cast("double")
            fields = [
                F.lit(p.name).alias("feature"),
                sv.alias("str_value"),
                nv.alias("num_value"),
            ]
            if weights is not None:
                fields.append(F.col(weights.get(p.name)).cast("double").alias("weight"))
            return F.struct(*fields)

        if p.nest_depth > 0:
            flat = F.col(p.name)
            for _ in range(p.nest_depth - 1):
                flat = F.flatten(flat)
            arr = F.when(flat.isNotNull(), F.transform(flat, lambda x: entry(x)))
        else:
            v = _value_col(p)
            arr = F.when(v.isNotNull(), F.array(entry(v)))
        arrays.append(F.coalesce(arr, F.array().cast(f"array<struct<{fields_t}>>")))
    if not arrays:
        return None
    stacked = F.concat(*arrays) if len(arrays) > 1 else arrays[0]
    return df.select(slice_col.alias("slice_key"), F.explode(stacked).alias("e")).select(
        "slice_key", "e.*"
    )
