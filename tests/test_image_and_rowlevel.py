"""Image codec, datagen, image stats, and row-level check tests."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from data_validation_spark.datagen import (
    expected_pixels,
    images_df,
    ref_captions_df,
)
from data_validation_spark.stats import imagecodec as codec
from data_validation_spark.stats.engine import compute_statistics
from data_validation_spark.stats.image import attach_image_stats, sniff_format_col
from data_validation_spark.stats.options import StatsOptions
from data_validation_spark.validate.rowlevel import (
    check_caption_equality,
    check_pixel_integrity,
    check_referential,
    check_row_constraints,
    check_uniqueness,
    summarize_violations,
)
from data_validation_spark.schema import FeatureSpec, IntDomain, Presence, Schema, StringDomain


# ------------------------------------------------------------------ codecs
@pytest.mark.parametrize("fmt", ["png", "bmp", "jpeg", "gif"])
def test_codec_roundtrip(fmt):
    rgb = np.random.RandomState(0).randint(0, 256, (17, 23, 3), dtype=np.uint8)
    data = codec.encode(fmt, rgb)
    assert codec.sniff_format(data) == fmt
    assert codec.dimensions(data) == (23, 17)
    decoded = codec.decode(data)
    assert decoded is not None
    assert decoded.shape == (17, 23, 3)
    np.testing.assert_array_equal(decoded, rgb)


def test_sniff_garbage():
    assert codec.sniff_format(b"garbage") == "UNKNOWN"
    assert codec.sniff_format(None) == "UNKNOWN"
    assert codec.sniff_format(b"") == "UNKNOWN"


def test_psnr():
    a = np.zeros((4, 4, 3), dtype=np.uint8)
    assert codec.psnr(a, a) == float("inf")
    b = a.copy()
    b[0, 0, 0] = 255
    assert 0 < codec.psnr(a, b) < 40


# ------------------------------------------------------------------ datagen
def test_datagen_deterministic(spark):
    df1 = images_df(spark, 50, "clean", partitions=2).collect()
    df2 = images_df(spark, 50, "clean", partitions=5).collect()
    d1 = {r["image_id"]: r for r in df1}
    d2 = {r["image_id"]: r for r in df2}
    assert d1.keys() == d2.keys()
    for k in d1:
        assert bytes(d1[k]["bytes"]) == bytes(d2[k]["bytes"])
        assert d1[k]["caption"] == d2[k]["caption"]


def test_datagen_pixels_reconstructible(spark):
    row = images_df(spark, 5, "clean", partitions=1).collect()[2]
    decoded = codec.decode(bytes(row["bytes"]))
    h, w = decoded.shape[:2]
    np.testing.assert_array_equal(decoded, expected_pixels(2, w, h))


# ------------------------------------------------------------- image stats
def test_sniff_format_col(spark):
    df = images_df(spark, 200, "clean", partitions=2)
    counts = dict(
        df.select(sniff_format_col("bytes").alias("f"))
        .groupBy("f")
        .count()
        .collect()
    )
    # sniffed format always equals declared fmt in the clean variant
    declared = dict(df.groupBy("fmt").count().collect())
    assert {k: v for k, v in counts.items()} == declared
    assert counts.get("jpeg", 0) > 100  # 80% skew


def test_attach_image_stats_and_domain_inference(spark):
    df = images_df(spark, 200, "clean", partitions=2)
    stats = compute_statistics(df, StatsOptions(feature_allowlist=["bytes"]))
    attach_image_stats(stats, df, "bytes")
    fs = stats.default_slice().feature("bytes")
    hist = fs.custom["image_format_histogram"]
    assert sum(hist.values()) == 200
    assert "UNKNOWN" not in hist
    assert fs.custom.get("domain_info") == "image_domain {}"
    assert fs.custom["image_max_width"] <= 64
    assert fs.custom["image_max_height"] >= 16


def test_dirty_format_histogram_has_unknown(spark):
    df = images_df(spark, 300, "dirty", partitions=2)
    stats = compute_statistics(df, StatsOptions(feature_allowlist=["bytes"]))
    attach_image_stats(stats, df, "bytes", decode_dims=False)
    hist = stats.default_slice().feature("bytes").custom["image_format_histogram"]
    assert hist.get("UNKNOWN", 0) == 3  # i%100==13 → 13, 113, 213


# ------------------------------------------------------------ row-level
def test_check_uniqueness(spark):
    df = images_df(spark, 3000, "dirty", partitions=4)
    v = check_uniqueness(df, "image_id").collect()
    # i%1000==7 → ids 6, 1006, 2006 duplicated
    assert sorted(r["row_key"] for r in v) == [
        "img_000000000006",
        "img_000000001006",
        "img_000000002006",
    ]
    assert all(r["detail"] == "2" for r in v)
    assert check_uniqueness(images_df(spark, 500, "clean"), "image_id").count() == 0


def test_check_uniqueness_multicol_no_concat_collision(spark):
    # ("ab","c") and ("a","bc") must NOT collide into one key; NULL parts must
    # not merge with empty strings either.
    df = spark.createDataFrame(
        [("ab", "c"), ("a", "bc"), ("x", None), ("x", ""), ("d", "e"), ("d", "e")],
        "k1 string, k2 string",
    )
    v = check_uniqueness(df, ["k1", "k2"]).collect()
    assert len(v) == 1
    assert v[0]["detail"] == "2" and v[0]["row_key"].startswith("d")


def test_check_referential(spark):
    images = images_df(spark, 1000, "clean", partitions=2)
    ref = ref_captions_df(spark, 1000, partitions=2)
    # ids 77, 277, 477, 677, 877 are missing from ref (i%200==77)
    v = check_referential(images, "image_id", ref, "image_id")
    keys = sorted(r["row_key"] for r in v.collect())
    assert keys == [f"img_{i:012d}" for i in (77, 277, 477, 677, 877)]


def test_check_caption_equality(spark):
    images = images_df(spark, 1000, "clean", partitions=2)
    ref = ref_captions_df(spark, 1000, partitions=2)
    v = check_caption_equality(images, ref).collect()
    assert [r["row_key"] for r in v] == ["img_000000000501"]  # i%1000==501


def test_check_row_constraints(spark):
    df = images_df(spark, 1000, "dirty", partitions=2)
    schema = Schema(
        feature=[
            FeatureSpec(name="w", int_domain=IntDomain(min=1, max=10000)),
            FeatureSpec(
                name="fmt",
                presence=Presence(min_count=1),
                string_domain=StringDomain(value=["png", "jpeg", "gif", "bmp"]),
            ),
        ]
    )
    v = check_row_constraints(df, schema, "image_id")
    s = {(r["feature"], r["anomaly_type"]): r["violation_count"]
         for r in summarize_violations(v).collect()}
    assert s[("w", "ROW_CONSTRAINT_VIOLATION")] == 5  # i%200==3 → 3,203,...,803
    assert s[("fmt", "ROW_CONSTRAINT_VIOLATION")] == 4  # null at 11,511; tiff at 211,711


def test_pixel_integrity_clean(spark):
    df = images_df(spark, 120, "clean", partitions=2)
    v = check_pixel_integrity(df)
    assert v.count() == 0


def test_pixel_source_file_sampling(spark, tmp_path):
    from data_validation_spark.validate.rowlevel import _pixel_source

    path = str(tmp_path / "imgs")
    images_df(spark, 200, "clean", partitions=40).write.parquet(path)
    df = spark.read.parquet(path)

    src, mode = _pixel_source(df, "image_id", "bytes", 0.25)
    assert mode == "files"  # bare parquet scan + 40 files → file-grain sample
    kept_rows = src.count()
    assert 0 < kept_rows < 200  # a strict subset of the table
    # deterministic: same files again on a rerun
    src2, _ = _pixel_source(df, "image_id", "bytes", 0.25)
    assert src2.count() == kept_rows
    # sampled frame is a genuine subset of the table's rows
    ids = {r["k"] for r in src.collect()}
    all_ids = {r["image_id"] for r in df.select("image_id").collect()}
    assert ids <= all_ids

    # any transformation on top (e.g. a row sample) must fall back to rows —
    # re-reading files would silently undo the caller's transform
    _, mode_t = _pixel_source(df.sample(0.5, seed=1), "image_id", "bytes", 0.25)
    assert mode_t == "rows"
    # too few files for the rate → rows
    few = spark.read.parquet(path).coalesce(1)
    _, mode_f = _pixel_source(few, "image_id", "bytes", 0.25)
    assert mode_f == "rows"


def test_pixel_file_sample_is_location_independent(spark, tmp_path):
    """Two copies of one table under different directory names keep the
    same files, relative to the table, and exactly ceil(rate · n) of them."""
    import math
    import shutil

    from data_validation_spark.validate.rowlevel import _pixel_source

    first = str(tmp_path / "imgs")
    images_df(spark, 100, "clean", partitions=25).write.parquet(first)
    second = str(tmp_path / "elsewhere" / "a_copy_with_another_name")
    shutil.copytree(first, second)

    def kept(path, rate):
        src, mode = _pixel_source(spark.read.parquet(path), "image_id", "bytes", rate)
        assert mode == "files"
        return sorted(f.rsplit("/", 1)[1] for f in src.inputFiles())

    for rate in (0.2, 0.25, 0.5):
        names = kept(first, rate)
        assert len(names) == math.ceil(rate * 25)
        assert names == kept(second, rate)
    # 0.28 · 25 is 7.000000000000001 in floating point: still 7 files
    assert len(kept(first, 0.28)) == 7


def test_pixel_integrity_corrupt(spark):
    df = images_df(spark, 120, "dirty", partitions=2)
    v = check_pixel_integrity(df).collect()
    # corrupt at i=13, 113 → undecodable; row i=7 claims id img_…006 (dup id)
    # so its pixels mismatch the id-derived reference → low PSNR.
    assert sorted(r["row_key"] for r in v) == [
        "img_000000000006",
        "img_000000000013",
        "img_000000000113",
    ]
    assert all(r["anomaly_type"] == "PIXEL_INTEGRITY_VIOLATION" for r in v)
    details = {r["row_key"]: r["detail"] for r in v}
    assert "psnr" in details["img_000000000006"]
    assert details["img_000000000013"] == "undecodable payload"


@pytest.mark.skipif(not codec._HAVE_PIL, reason="PIL not installed in this image")
def test_native_codec_decode_roundtrip():  # pragma: no cover - needs PIL
    # When the deploy image carries PIL, decode() must route through it and
    # reproduce the exact pixels for the real formats (PNG/BMP are lossless).
    rgb = np.arange(4 * 3 * 3, dtype=np.uint8).reshape(4, 3, 3)
    for fmt in ("png", "bmp"):
        out = codec.decode(codec.encode(fmt, rgb))
        assert out is not None and np.array_equal(out, rgb)


def test_decode_falls_back_to_pure_python_for_stub_jpeg():
    # Our stub-JPEG container (zlib payload in APP15) is not a valid JPEG for
    # native codecs — decode() must fall back to the pure-Python path and
    # recover the exact pixels regardless of PIL availability.
    rgb = np.arange(4 * 3 * 3, dtype=np.uint8).reshape(4, 3, 3)
    out = codec.decode(codec.encode("jpeg", rgb))
    assert out is not None and np.array_equal(out, rgb)
