"""Embedding-cosine near-duplicate detection.

Baseline: all-pairs cosine above threshold (self-join; only viable at modest
n). Scale path: random-hyperplane LSH — one vectorized Arrow pass signs the
vectors against ``bits`` random hyperplanes for each of ``num_tables``
independent tables (multi-probe); the pairs inside each (table, signature)
bucket come from the shared JVM generator ``buckets.bucket_pairs`` and are
verified with the exact cosine as a column expression.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from data_validation_spark.dedup.buckets import bucket_pairs


def _cosine_expr(a, b):
    """Cosine of two array columns; 0.0 when either vector has norm 0, NULL
    when either is NULL. ``try_divide`` gives NULL for a zero divisor, where
    a bare division raises ``DIVIDE_BY_ZERO`` under ANSI mode."""
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)
    na = F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))
    nb = F.sqrt(F.aggregate(b, F.lit(0.0), lambda acc, x: acc + x * x))
    return F.coalesce(F.try_divide(dot, na * nb), F.when(dot.isNotNull(), F.lit(0.0)))


def cosine_pairs_bruteforce(
    df: DataFrame, id_col: str, vec_col: str, threshold: float = 0.95
) -> DataFrame:
    a = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"))
    b = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"))
    return (
        a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", _cosine_expr(F.col("va"), F.col("vb")))
        .where(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def cosine_pairs_lsh(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    dim: int,
    threshold: float = 0.95,
    bits: int = 12,
    num_tables: int = 4,
    seed: int = 42,
    max_bucket_size: int = 2000,
) -> DataFrame:
    """Random-hyperplane LSH bucketing, then exact cosine verify per bucket."""
    rng = np.random.RandomState(seed)
    planes = rng.normal(size=(num_tables * bits, dim)).astype(np.float32)
    shifts = np.arange(bits, dtype=np.uint64)

    def signatures(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            n = len(pdf)
            vecs = np.array(pdf[vec_col].tolist(), dtype=np.float32).reshape(n, dim)
            above = (vecs @ planes.T > 0).reshape(n, num_tables, bits)
            sigs = (above.astype(np.uint64) << shifts).sum(axis=2).astype(np.int64)
            yield pd.DataFrame({"id": pdf[id_col], "vec": pdf[vec_col], "sigs": list(sigs)})

    types = [df.schema[c].dataType.simpleString() for c in (id_col, vec_col)]
    keyed = (
        df.select(id_col, vec_col)
        .mapInPandas(signatures, "id {}, vec {}, sigs array<long>".format(*types))
        .select("id", "vec", F.posexplode("sigs").alias("tbl", "sig"))
    )
    pairs = bucket_pairs(keyed, ["tbl", "sig"], max_bucket_size, payload=["vec"])
    return pairs.select(
        "id_a", "id_b", _cosine_expr(F.col("vec_a"), F.col("vec_b")).alias("cosine")
    ).where(F.col("cosine") >= threshold)
