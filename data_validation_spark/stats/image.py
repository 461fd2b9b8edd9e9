"""Image semantic statistics — the Spark-native analogue of the reference's
``image_stats_generator`` (magic-byte format sniffing, decoded max width /
height, ``image_format_histogram`` custom stat, image-domain inference
signal ≥80% recognized over ≥100 values).

Format sniffing runs fully JVM-side (substring comparisons on the binary
column — no Python in that path). Dimension extraction decodes headers in an
Arrow-vectorized ``mapInArrow`` pass, optionally sampled (its
``sample_rate``, mirroring the reference's semantic-domain sampling,
stats_impl.py:894-950).
"""

from __future__ import annotations

from typing import Iterator, Optional

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from data_validation_spark.stats import imagecodec as codec
from data_validation_spark.stats.result import DatasetStatsList

# Reference thresholds (image_stats_generator.py): domain inferred when ≥80%
# of ≥100 sampled values carry a supported format.
DOMAIN_MIN_FRACTION = 0.8
DOMAIN_MIN_EXAMPLES = 100


def sniff_format_col(col) -> "F.Column":
    """JVM-side magic-byte sniffing (no UDF): png/jpeg/gif/bmp/UNKNOWN."""
    b = F.col(col) if isinstance(col, str) else col
    first8 = F.substring(b, 1, 8)
    first6 = F.substring(b, 1, 6)
    first3 = F.substring(b, 1, 3)
    first2 = F.substring(b, 1, 2)
    return (
        F.when(b.isNull(), F.lit(None).cast("string"))
        .when(first8 == F.lit(codec.PNG_MAGIC), "png")
        .when(first3 == F.lit(codec.JPEG_MAGIC), "jpeg")
        .when(
            (first6 == F.lit(codec.GIF_MAGICS[0])) | (first6 == F.lit(codec.GIF_MAGICS[1])),
            "gif",
        )
        .when(first2 == F.lit(codec.BMP_MAGIC), "bmp")
        .otherwise("UNKNOWN")
    )


def image_format_histogram(
    df: DataFrame, bytes_col: str, slice_col=None
) -> dict[str, dict[str, int]]:
    """slice_key → {format → count} via one groupBy on the sniffed format."""
    sc = slice_col if slice_col is not None else F.lit("All Examples")
    rows = (
        df.where(F.col(bytes_col).isNotNull())
        .select(sc.alias("slice_key"), sniff_format_col(bytes_col).alias("fmt"))
        .groupBy("slice_key", "fmt")
        .count()
        .collect()
    )
    out: dict[str, dict[str, int]] = {}
    for r in rows:
        out.setdefault(r["slice_key"], {})[r["fmt"]] = r["count"]
    return out


_DIMS_DDL = "fmt string, w int, h int"


def _dims_batches(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    for batch in it:
        col = batch.column(0)
        fmts, ws, hs = [], [], []
        for v in col:
            data = v.as_py()
            fmt = codec.sniff_format(data)
            dims = codec.dimensions(data) if fmt != "UNKNOWN" else None
            fmts.append(fmt if data is not None else None)
            ws.append(dims[0] if dims else None)
            hs.append(dims[1] if dims else None)
        yield pa.RecordBatch.from_arrays(
            [pa.array(fmts, pa.string()), pa.array(ws, pa.int32()), pa.array(hs, pa.int32())],
            names=["fmt", "w", "h"],
        )


def image_dimension_stats(
    df: DataFrame, bytes_col: str, sample_rate: Optional[float] = None
) -> dict:
    """Decoded max width/height + per-format counts via Arrow-batched header
    parsing (only the bytes column is scanned — Catalyst prunes the rest)."""
    src = df.select(F.col(bytes_col).alias("b"))
    if sample_rate is not None and sample_rate < 1.0:
        src = src.sample(fraction=sample_rate, seed=42)
    dims = src.mapInArrow(_dims_batches, _DIMS_DDL)
    row = dims.agg(
        F.max("w").alias("max_width"),
        F.max("h").alias("max_height"),
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("fmt") != "UNKNOWN", 1).otherwise(0)).alias("supported"),
    ).collect()[0]
    return {
        "max_width": row["max_width"],
        "max_height": row["max_height"],
        "sampled": row["n"],
        "supported": row["supported"],
    }


def attach_image_stats(
    stats: DatasetStatsList,
    df: DataFrame,
    bytes_col: str,
    slice_col=None,
    sample_rate: Optional[float] = None,
    decode_dims: bool = True,
) -> DatasetStatsList:
    """Compute image semantic stats and attach them as custom stats on the
    ``bytes_col`` feature of each slice (mutates + returns ``stats``)."""
    hists = image_format_histogram(df, bytes_col, slice_col)
    dim_info = image_dimension_stats(df, bytes_col, sample_rate) if decode_dims else None
    for sl in stats.slices:
        fs = sl.features.get(bytes_col)
        if fs is None:
            continue
        hist = hists.get(sl.slice_key, {})
        fs.custom["image_format_histogram"] = hist
        total = sum(hist.values())
        supported = total - hist.get("UNKNOWN", 0)
        if total >= DOMAIN_MIN_EXAMPLES and supported / total >= DOMAIN_MIN_FRACTION:
            fs.custom["domain_info"] = "image_domain {}"
        if dim_info is not None and len(stats.slices) == 1:
            fs.custom["image_max_width"] = dim_info["max_width"]
            fs.custom["image_max_height"] = dim_info["max_height"]
    return stats
