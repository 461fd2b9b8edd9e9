"""Seeded benchmark inputs, cached under the work directory.

Every input is a pure function of (workload, seed, size); a cache entry is a
directory holding a ``_DONE`` marker, written last, so an interrupted build is
rebuilt on the next run. Building happens before set-up is timed.

Images reuse ``datagen.generate_row`` row by row, so a row depends only on its
index: the seed picks the index window, ``image_id`` still encodes the index,
the pixel check can regenerate expected pixels, and the dirty variant's
injection rules stay exact. Expected violation counts are derived here from
those rules by index arithmetic, never by running the engine.

Image inputs depend on the seed through ``seed % IMAGE_INSTANCES`` only:
building one (a separate Spark process, generation, an Iceberg write and a
delete snapshot) costs 10-20 s, more than a benchmark run may add when every
run brings a new seed. The docs corpus is cheap and follows the full seed.
"""

from __future__ import annotations

import json
import os
import shutil
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from data_validation_spark import datagen

# Window stride: a multiple of 1000, so every dirty-variant duplicate row
# (index % 1000 == 7) finds its partner (index - 1) inside the same window.
WINDOW = 1_000_000
IMAGE_INSTANCES = 2

IMAGE_FILES = 32  # enough files for the pixel check's file-grain sampling
PIXEL_SAMPLE_RATE = 0.25
PARTITIONS = 2  # Iceberg bucket count of the partitioned table
DELETE_PREDICATE = "image_id LIKE '%9'"  # merge-on-read delete: index % 10 == 9
PREV_FRACTION = 4  # the drift baseline is n // PREV_FRACTION prev-variant rows


def image_instance(seed: int) -> int:
    return seed % IMAGE_INSTANCES


def window(instance: int, n: int) -> range:
    start = (instance + 1) * WINDOW
    return range(start, start + n)


def images_frame(spark, rows: range, variant: str, files: int):
    """The datagen images table restricted to ``rows``, ``files`` partitions."""

    def gen(batches):
        for batch in batches:
            out = [datagen.generate_row(int(i), variant, 64)
                   for i in batch.column("id").to_numpy()]
            cols = list(zip(*out)) if out else [[]] * len(datagen.IMAGES_SCHEMA)
            yield pa.RecordBatch.from_arrays(
                [pa.array(list(c), type=f.type)
                 for c, f in zip(cols, datagen.IMAGES_SCHEMA)],
                schema=datagen.IMAGES_SCHEMA,
            )

    base = spark.range(rows.start, rows.stop, 1, files)
    return base.mapInArrow(gen, datagen.IMAGES_DDL)


def expected_partitioned(rows: range) -> dict:
    """Violation counts the dirty window must produce after the delete, keyed
    like ``ValidationRunResult.violation_counts`` and summed over partitions.

    Bucketing on ``image_id`` keeps each duplicate id in one partition, so
    per-partition uniqueness still sees every duplicate pair."""
    w = fmt = dup = kept = 0
    for i in rows:
        if i % 10 == 9:  # removed by DELETE_PREDICATE
            continue
        kept += 1
        w += i % 200 == 3
        fmt += i % 500 in (11, 211)  # NULL fmt, off-domain "tiff"
        dup += i % 1000 == 7 and i > 0  # partner i - 1 ends in 6: never deleted
    return {
        "rows": kept,
        "violations": {
            "image_id::DUPLICATE_KEY": dup,
            "w::ROW_CONSTRAINT_VIOLATION": w,
            "fmt::ROW_CONSTRAINT_VIOLATION": fmt,
        },
    }


def cache_dir(work: str, workload: str, tag: str, n: int) -> str:
    return os.path.join(work, f"{workload}-{tag}-n{n}")


def is_built(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_DONE"))


def _cached(path: str, build) -> str:
    if not is_built(path):
        shutil.rmtree(path, ignore_errors=True)
        os.makedirs(path)
        build(path)
        open(os.path.join(path, "_DONE"), "w").close()
    return path


def _pin_file_sample(spark, table: str, rate: float) -> None:
    """Rename the part files of ``table`` so the pixel check's file-grain
    sample keeps exactly every ``1/rate``-th file.

    The check keeps a file when the crc32 of its full URI falls below
    ``rate``; with Spark's random part names, how many of 32 files that keeps
    depends on the checkout's path and varies from about 3 to 13, so the
    pixel work would differ between two checkouts of the same code. A salt in
    each name fixes the kept set wherever the checkout lives."""
    uris = sorted(spark.read.parquet(table).inputFiles())
    prefix = uris[0].rsplit("/", 1)[0] + "/"
    bound = int(rate * (1 << 30))
    every = round(1 / rate)
    for idx, uri in enumerate(uris):
        want = idx % every == 0
        salt = 0
        while True:
            name = f"part-{idx:05d}-{salt}.parquet"
            if (zlib.crc32((prefix + name).encode()) % (1 << 30) < bound) == want:
                break
            salt += 1
        old = uri.rsplit("/", 1)[1]
        os.rename(os.path.join(table, old), os.path.join(table, name))
        os.remove(os.path.join(table, f".{old}.crc"))  # a checksum of the old name


def clean_images(spark, work: str, instance: int, n: int) -> str:
    """Parquet directory of ``n`` clean images in IMAGE_FILES files."""

    def build(path):
        table = os.path.join(path, "table")
        images_frame(spark, window(instance, n), "clean", IMAGE_FILES).write.mode(
            "overwrite"
        ).parquet(table)
        _pin_file_sample(spark, table, PIXEL_SAMPLE_RATE)

    return os.path.join(
        _cached(cache_dir(work, "images_validate", f"i{instance}", n), build), "table"
    )


def partitioned_table(spark, work: str, instance: int, n: int) -> str:
    """Iceberg table of the dirty window bucketed on ``image_id``, plus one
    positional-delete snapshot, plus the prev-variant drift baseline."""
    from data_validation_spark.io import iceberg_native
    from data_validation_spark.stats.engine import compute_statistics
    from data_validation_spark.stats.options import StatsOptions

    rows = window(instance, n)

    def build(path):
        staged = os.path.join(path, "staged")
        images_frame(spark, rows, "dirty", 8).write.parquet(staged)
        table = os.path.join(path, "iceberg")
        iceberg_native.write_table(
            spark, spark.read.parquet(staged), table,
            partition_by=[("image_id", f"bucket[{PARTITIONS}]")],
        )
        iceberg_native.delete_rows(spark, table, DELETE_PREDICATE)
        shutil.rmtree(staged)
        prev_rows = range(rows.start, rows.start + n // PREV_FRACTION)
        prev = compute_statistics(
            images_frame(spark, prev_rows, "prev", 8),
            StatsOptions(categorical_features={"fmt"}, use_sketches=True,
                         image_columns={"bytes"}),
        )
        with open(os.path.join(path, "prev_stats.json"), "w") as f:
            f.write(prev.to_json())
        with open(os.path.join(path, "expected.json"), "w") as f:
            json.dump(expected_partitioned(rows), f)

    return _cached(cache_dir(work, "images_partitioned", f"i{instance}", n), build)


def docs_corpus(work: str, seed: int, n: int) -> str:
    """Parquet corpus of ``n`` documents with planted near-duplicate clusters.

    Cluster sizes are skewed: a few clusters of 50+, some of 2-10, the rest
    singletons. A member is its cluster's base text plus one distinct
    appended token, or an exact copy (member 1 of each cluster), so every
    planted pair has 3-shingle Jaccard >= (L - 2) / L >= 0.93 for the
    30+ token bases, far above the 0.5 verify threshold, and the LSH banding
    misses such a pair with probability below 1e-9."""

    def build(path):
        rng = np.random.default_rng([seed, 11])
        sizes = [int(s) for s in rng.integers(50, 80, size=3)]
        while sum(sizes) < n // 8:
            sizes.append(int(rng.integers(2, 11)))
        sizes += [1] * (n - sum(sizes))
        ids = rng.permutation(n).astype(np.int64)
        texts = [""] * n
        clusters, pos = [], 0
        for size in sizes:
            length = int(rng.integers(30, 80))
            base = [f"w{t:05d}" for t in rng.integers(0, 50_000, size=length)]
            members = ids[pos:pos + size]
            for k, doc in enumerate(members):
                extra = [] if k < 2 else [f"x{seed % 1000:03d}{k:05d}"]
                texts[pos + k] = " ".join(base + extra)
            if size > 1:
                clusters.append([int(d) for d in members])
            pos += size
        table = pa.table({"doc_id": ids, "text": pa.array(texts, pa.string())})
        table = table.take(rng.permutation(n))  # spread clusters over files
        os.makedirs(os.path.join(path, "table"))
        step = -(-n // 8)
        for part in range(8):
            pq.write_table(table.slice(part * step, step),
                           os.path.join(path, "table", f"part-{part:02d}.parquet"))
        with open(os.path.join(path, "clusters.json"), "w") as f:
            json.dump(clusters, f)

    return _cached(cache_dir(work, "docs_dedup", f"s{seed}", n), build)
