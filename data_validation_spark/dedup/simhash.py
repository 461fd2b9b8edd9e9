"""SimHash near-duplicate detection: 64-bit locality-sensitive fingerprints
from token hashes; near-dups = fingerprints within a Hamming radius, found by
the standard block-permutation trick (split 64 bits into ``radius+1`` blocks —
any pair within the radius shares at least one exact block → pairs within
each (block index, block value) bucket, then exact Hamming verify).

The fingerprint pass is one vectorized Arrow pass over the words of
``util.words``, the rule the MinHash passes split with; the pairs come from
the shared JVM generator ``buckets.bucket_pairs`` and the verify is a
``bit_count(fingerprint_a ^ fingerprint_b)`` column expression.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
from pyspark.sql import DataFrame, functions as F

from data_validation_spark.dedup.buckets import bucket_pairs
from data_validation_spark.dedup.minhash import word_hashes
from data_validation_spark.util import ensure_min_partitions


def simhash_fingerprints(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, fingerprint) — one Arrow pass, batch-vectorized numpy.

    Per Arrow batch: ``pd.util.hash_array`` (SipHash, C) hashes of the
    words of ``util.words``' rule, the one every dedup pass uses
    (``word_hashes``) → per-bit ±1 votes via ``np.unpackbits`` +
    ``np.add.reduceat`` per row → fingerprint as the sum of the
    positive-vote powers of two. No per-row or
    per-token Python anywhere (a Catalyst higher-order-function formulation
    was measured slower — HOF lambdas are interpreted, not codegen'd).
    Empty/whitespace-only text fingerprints to 0.
    """
    import pyarrow as pa

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        pow2 = (np.uint64(1) << np.arange(64, dtype=np.uint64))
        for batch in batches:
            H, lens = word_hashes(batch.column(1))
            fps = np.zeros(len(lens), dtype=np.int64)
            if H.size:
                bits = np.unpackbits(H.view(np.uint8).reshape(-1, 8), axis=1)
                votes_pm = 2 * bits.astype(np.int32) - 1  # (S, 64) of ±1
                off = np.zeros(len(lens) + 1, dtype=np.int64)
                np.cumsum(lens, out=off[1:])
                nonempty = lens > 0
                votes = np.add.reduceat(votes_pm, off[:-1][nonempty], axis=0)
                fp_vals = ((votes > 0).astype(np.uint64) * pow2[None, :]).sum(axis=1)
                fps[nonempty] = fp_vals.view(np.int64)
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), pa.array(fps)], names=["id", "fingerprint"]
            )

    src = ensure_min_partitions(df.select(id_col, text_col))
    return src.mapInArrow(
        run, f"id {df.schema[id_col].dataType.simpleString()}, fingerprint long"
    )


def simhash_near_dups(
    df: DataFrame, id_col: str, text_col: str, radius: int = 3,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Pairs (id_a < id_b, hamming ≤ radius) via block-permutation buckets.

    Scale posture: instead of a block-equality **self-join** (quadratic blowup
    the moment one block value is hot — e.g. every empty/near-empty document
    fingerprints to 0), buckets are materialized with one groupBy shuffle and
    pairing happens inside buckets only, with a hard ``max_bucket_size`` cap
    (the same bound `minhash_lsh_candidates` uses). Degenerate fingerprint 0
    (empty text) is excluded up front — empty-vs-empty is exact-dedup
    territory, not near-dup.
    """
    fp = simhash_fingerprints(df, id_col, text_col).where(F.col("fingerprint") != 0)
    return simhash_near_dups_from_fingerprints(
        fp, radius=radius, max_bucket_size=max_bucket_size
    )


def simhash_near_dups_from_fingerprints(
    fp: DataFrame, radius: int = 3, max_bucket_size: int = 1000,
) -> DataFrame:
    """``simhash_near_dups`` over a precomputed ``(id, fingerprint)`` frame.

    Lets a caller that needs both the pairs *and* the raw fingerprints (e.g.
    a recall self-check against brute force) fingerprint the corpus once
    instead of running the Arrow pass per consumer. ``fp`` must already have
    degenerate fingerprints filtered if desired. The pairs keep ``fp``'s id
    type.
    """
    width = 64 // (radius + 1)
    blocks = [
        F.shiftrightunsigned(F.col("fingerprint"), b * width).bitwiseAND(
            F.lit((1 << width) - 1)
        )
        for b in range(radius + 1)
    ]
    keyed = fp.select("id", "fingerprint", F.posexplode(F.array(*blocks)).alias("blk", "bv"))
    pairs = bucket_pairs(keyed, ["blk", "bv"], max_bucket_size, payload=["fingerprint"])
    hamming = F.bit_count(F.col("fingerprint_a").bitwiseXOR(F.col("fingerprint_b")))
    return pairs.select("id_a", "id_b", hamming.alias("hamming")).where(
        F.col("hamming") <= radius
    )
