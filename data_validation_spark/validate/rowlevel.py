"""Row-level (distributed) validation — violation-row emitters.

The Spark-native generalization of the reference's per-example validation and
feature-skew paths (``validation_api.py:549-606``,
``skew/feature_skew_detector.py:689-781``): instead of re-running a stats
pass per example, row predicates are evaluated as vectorized expressions /
Arrow UDFs and each failing row emits ``(row_key, feature, anomaly_type,
detail)``.

Scale notes (100 TB posture):
* Uniqueness: one count aggregation per key — map-side partial
  aggregation turns a hot key into one partial count per map task; AQE
  skew handling stays on for the shuffle.
* Referential: anti-joins; the parent side is broadcast when small enough,
  else a shuffled hash anti-join on the key (explicitly repartitioned).
* Pixel integrity: Arrow-batched decode, bytes column pruned to the scan,
  optional sampling — the decode path is the only Python in this module.
"""

from __future__ import annotations

import math
import os
import zlib
from typing import Callable, Iterator, Optional

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_validation_spark.schema import FeatureType, Schema
from data_validation_spark.util import local_frame

VIOLATION_DDL = "row_key string, feature string, anomaly_type string, detail string"


def _violations(df: DataFrame, key_col, feature: str, anomaly_type: str, detail) -> DataFrame:
    return df.select(
        key_col.cast("string").alias("row_key"),
        F.lit(feature).alias("feature"),
        F.lit(anomaly_type).alias("anomaly_type"),
        detail.cast("string").alias("detail"),
    )


# ------------------------------------------------------------- uniqueness ---
def check_uniqueness(df: DataFrame, key_cols: list[str] | str) -> DataFrame:
    """Exact duplicate detection via one count aggregation per key.

    One ``groupBy(keys).count()``: Spark's partial (map-side) hash aggregation
    already neutralizes heavy-hitter keys for *counting* — a key with a
    billion rows reaches its reducer as at most one partial count per map
    task, never as a billion shuffled rows — so the explicit salted two-stage
    variant round 4 used here bought nothing and cost a second full shuffle
    of every distinct key (for a mostly-unique key column, 2× the shuffle
    bytes of the whole pass). Returns violation rows
    ``(row_key=key, DUPLICATE_KEY, detail=count)``.
    """
    if isinstance(key_cols, str):
        key_cols = [key_cols]
    # Group on the raw key columns, NOT a string concat: a concat key skips
    # NULL parts (concat_ws semantics) and can collide when a value contains
    # the separator. The display key rendered afterwards uses a unit
    # separator + explicit NULL sentinel, so it is unambiguous for reporting.
    kcols = [F.col(c).alias(f"__k{i}") for i, c in enumerate(key_cols)]
    knames = [f"__k{i}" for i in range(len(key_cols))]
    dups = (
        df.select(*kcols)
        .groupBy(*knames)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") > 1)
    )
    display_key = F.concat_ws(
        "\x1f",
        *[F.coalesce(F.col(n).cast("string"), F.lit("<null>")) for n in knames],
    )
    return _violations(
        dups, display_key, ",".join(key_cols), "DUPLICATE_KEY", F.col("cnt")
    )


# ------------------------------------------------------------ referential ---
def check_referential(
    child: DataFrame,
    child_key: str,
    parent: DataFrame,
    parent_key: str,
    feature: Optional[str] = None,
    broadcast_threshold: Optional[int] = None,
) -> DataFrame:
    """Orphan detection: child keys with no parent — a left **anti** join
    (generalizing the reference's base_only/test_only skew semantics).

    The parent side is projected to its key column only (column pruning makes
    the build side as small as possible); Catalyst/AQE picks broadcast vs
    shuffled-hash automatically, or force broadcast via ``broadcast_threshold``.
    """
    parent_keys = parent.select(F.col(parent_key).alias("__pk")).dropDuplicates(["__pk"])
    if broadcast_threshold is not None:
        parent_keys = F.broadcast(parent_keys)
    orphans = child.join(
        parent_keys, on=child[child_key] == parent_keys["__pk"], how="left_anti"
    )
    return _violations(
        orphans,
        F.col(child_key),
        feature or child_key,
        "REFERENTIAL_ORPHAN",
        F.lit("no matching parent key"),
    )


# -------------------------------------------------------- value constraints --
def check_row_constraints(df: DataFrame, schema: Schema, key_col: str) -> DataFrame:
    """Evaluate per-row predicates derived from the schema's domains — the
    vectorized analogue of validate_instance (one violation row per failing
    (row, feature)). All predicates are JVM-side expressions.

    One fused scan: every constraint becomes a conditional struct in a
    per-row array that a single ``explode`` flattens — N constraints cost one
    pass over the (column-pruned) table instead of N filtered scans unioned
    (N scan setups / task waves at scale). Exception: presence checks on
    BINARY columns stay as separate pushed-filter branches — ``IsNull(col)``
    reaches the parquet row-group stats there (null_count 0 → whole row
    groups of image bytes skipped), whereas a fused projection would
    materialize every page of the binary column.
    """
    from functools import reduce

    from pyspark.sql import types as T

    parts: list[DataFrame] = []
    entries: list = []
    cols = set(df.columns)
    key = F.col(key_col)
    struct_t = "struct<feature:string,anomaly_type:string,detail:string>"

    def entry(cond, feat, detail):
        entries.append(
            F.when(
                cond,
                F.struct(
                    F.lit(feat).alias("feature"),
                    F.lit("ROW_CONSTRAINT_VIOLATION").alias("anomaly_type"),
                    detail.alias("detail"),
                ),
            ).otherwise(F.lit(None).cast(struct_t))
        )

    for spec in schema.feature:
        if spec.name not in cols:
            continue
        c = F.col(spec.name)
        if spec.is_required():
            if isinstance(df.schema[spec.name].dataType, T.BinaryType):
                parts.append(
                    _violations(
                        df.where(c.isNull()),
                        key,
                        spec.name,
                        "ROW_CONSTRAINT_VIOLATION",
                        F.lit("required value missing"),
                    )
                )
            else:
                entry(c.isNull(), spec.name, F.lit("required value missing"))
        if spec.int_domain is not None:
            d = spec.int_domain
            cond = F.lit(False)
            if d.min is not None:
                cond = cond | (c < d.min)
            if d.max is not None:
                cond = cond | (c > d.max)
            entry(
                c.isNotNull() & cond,
                spec.name,
                F.concat(F.lit("int out of domain: "), c.cast("string")),
            )
        if spec.float_domain is not None:
            d = spec.float_domain
            cond = F.lit(False)
            if d.min is not None:
                cond = cond | (c < d.min)
            if d.max is not None:
                cond = cond | (c > d.max)
            if d.disallow_nan:
                cond = cond | F.isnan(c.cast("double"))
            entry(
                c.isNotNull() & cond,
                spec.name,
                F.concat(F.lit("float out of domain: "), c.cast("string")),
            )
        dom = schema.resolve_string_domain(spec)
        if dom is not None:
            entry(
                c.isNotNull() & ~c.isin(dom.value),
                spec.name,
                F.concat(F.lit("value off domain: "), c),
            )

    if entries:
        fused = (
            df.select(
                key.cast("string").alias("row_key"),
                F.array(*entries).alias("__es"),
            )
            .select(
                "row_key",
                F.explode(F.filter("__es", lambda e: e.isNotNull())).alias("__e"),
            )
            .select(
                "row_key",
                F.col("__e.feature").alias("feature"),
                F.col("__e.anomaly_type").alias("anomaly_type"),
                F.col("__e.detail").alias("detail"),
            )
        )
        parts.append(fused)
    if not parts:
        return local_frame(df.sparkSession, [], VIOLATION_DDL)
    return reduce(lambda a, b: a.unionByName(b), parts)


# --------------------------------------------------------- caption equality --
def check_caption_equality(
    images: DataFrame,
    ref: DataFrame,
    key: str = "image_id",
    caption_col: str = "caption",
    ref_caption_col: str = "caption_ref",
) -> DataFrame:
    """Exact caption equality vs a reference table (join on key, compare)."""
    j = images.select(key, caption_col).join(ref.select(key, ref_caption_col), on=key)
    bad = j.where(~F.col(caption_col).eqNullSafe(F.col(ref_caption_col)))
    return _violations(
        bad,
        F.col(key),
        caption_col,
        "CAPTION_MISMATCH",
        F.lit("caption differs from reference"),
    )


# ----------------------------------------------------------- pixel integrity --
def check_pixel_integrity(
    df: DataFrame,
    id_col: str = "image_id",
    bytes_col: str = "bytes",
    expected_fn: Optional[Callable[[str, int, int], "np.ndarray"]] = None,
    min_psnr_db: float = 40.0,
    sample_rate: Optional[float] = None,
) -> DataFrame:
    """Decoded-pixel integrity: decode each image (Arrow-batched) and assert
    PSNR ≥ ``min_psnr_db`` against the reference pixels
    (``expected_fn(image_id, w, h) → array``; defaults to the datagen rule).
    Undecodable payloads emit PIXEL_INTEGRITY_VIOLATION too.

    ``sample_rate`` checks a fraction of the images. When ``df`` is a bare
    parquet scan with enough files for the rate, whole files are sampled
    (the Iceberg-file / partition granularity a real cluster would sample),
    which prunes the scan itself. Otherwise rows are sampled with
    ``df.sample``, which still READS every page of the binary column and
    drops rows after decode-side I/O; at 10¹² rows that is a full-table scan
    to check a fraction.
    """
    from data_validation_spark.stats import imagecodec as codec

    if expected_fn is None:
        from data_validation_spark.datagen import expected_pixels, row_index_of

        def expected_fn(image_id, w, h):  # noqa: F811
            return expected_pixels(row_index_of(image_id), w, h)

    src, _ = _pixel_source(df, id_col, bytes_col, sample_rate)

    def run(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in it:
            keys = batch.column("k").to_pylist()
            datas = batch.column("b").to_pylist()
            out_k, out_d = [], []
            for k, data in zip(keys, datas):
                decoded = codec.decode(data) if data is not None else None
                if decoded is None:
                    out_k.append(k)
                    out_d.append("undecodable payload")
                    continue
                h, w = decoded.shape[:2]
                expected = expected_fn(k, w, h)
                p = codec.psnr(decoded, expected)
                if p < min_psnr_db:
                    out_k.append(k)
                    out_d.append(f"psnr {p:.2f}dB < {min_psnr_db}dB")
            yield pa.RecordBatch.from_arrays(
                [pa.array(out_k, pa.string()), pa.array(out_d, pa.string())],
                names=["row_key", "detail"],
            )

    found = src.mapInArrow(run, "row_key string, detail string")
    return found.select(
        "row_key",
        F.lit(bytes_col).alias("feature"),
        F.lit("PIXEL_INTEGRITY_VIOLATION").alias("anomaly_type"),
        "detail",
    )


def _pixel_source(df, id_col, bytes_col, sample_rate, _sample_unit="auto"):
    """(sampled (k, b) frame, mode) for the pixel pass — see
    ``check_pixel_integrity``. File sampling keeps the ``ceil(rate · n)`` of
    the ``n`` files whose paths, relative to their common directory, have
    the lowest crc32: reruns, and copies of the table in another directory,
    check the same files.

    ``_sample_unit`` is ignored: ``perfbench/workloads.py`` still passes the
    removed ``sample_unit`` option's ``"auto"``."""
    cols = [F.col(id_col).alias("k"), F.col(bytes_col).alias("b")]
    if sample_rate is None or sample_rate >= 1.0:
        return df.select(*cols), "all"
    if _is_bare_scan(df):
        files = df.inputFiles()
        # need enough files that a file-grain sample approximates the rate
        if len(files) * sample_rate >= 4 and all(
            f.endswith(".parquet") for f in files
        ):
            from data_validation_spark.util import ensure_min_partitions

            root = len(os.path.commonprefix(files).rpartition("/")[0])
            ranked = sorted(files, key=lambda f: (zlib.crc32(f[root:].encode()), f[root:]))
            # round first: 0.1 · 30 is 3.0000000000000004 in floating point
            keep = ranked[: math.ceil(round(sample_rate * len(files), 9))]
            sampled = df.sparkSession.read.schema(df.schema).parquet(*keep)
            # a file-grain sample can leave fewer tasks than cores (one
            # scan task per kept file); re-split so the Python decode
            # uses the whole cluster — no-op when files ≫ cores
            return ensure_min_partitions(sampled.select(*cols)), "files"
    return df.select(*cols).sample(fraction=sample_rate, seed=42), "rows"


def _is_bare_scan(df) -> bool:
    """True iff ``df``'s logical plan is a bare file relation (no filters,
    projections, or samples on top) — the only shape where re-reading a
    subset of its files is equivalent to sampling the frame."""
    try:
        name = df._jdf.queryExecution().analyzed().getClass().getSimpleName()
        return name == "LogicalRelation"
    except Exception:
        return False


# ----------------------------------------------------------------- summary ---
def summarize_violations(violations: DataFrame) -> DataFrame:
    """Per-(feature, anomaly_type) counts — the per-reason roll-up the
    reference produces by re-slicing on anomaly reason."""
    return violations.groupBy("feature", "anomaly_type").agg(
        F.count(F.lit(1)).alias("violation_count")
    )
