"""SimHash near-duplicate detection: 64-bit locality-sensitive fingerprints
from token hashes; near-dups = fingerprints within a Hamming radius, found by
the standard block-permutation trick (split 64 bits into ``radius+1`` blocks —
any pair within the radius shares at least one exact block → pairs within
each (block index, block value) bucket, then exact Hamming verify).

The fingerprint pass is one vectorized Arrow pass; the pairs come from the
shared JVM generator ``buckets.bucket_pairs`` and the verify is a
``bit_count(fingerprint_a ^ fingerprint_b)`` column expression.
"""

from __future__ import annotations

import zlib
from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from data_validation_spark.dedup.buckets import bucket_pairs


def simhash64(text: str) -> int:
    tokens = (text or "").split()
    if not tokens:
        return 0
    hs = np.array(
        [
            (zlib.crc32(t.encode("utf-8", "ignore")) << 32)
            | zlib.crc32(t.encode("utf-8", "ignore"), 0x9E3779B9)
            for t in tokens
        ],
        dtype=np.uint64,
    )
    bits = ((hs[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)).astype(np.int64)
    votes = (2 * bits - 1).sum(axis=0)
    fp = np.uint64(0)
    for b in range(64):
        if votes[b] > 0:
            fp |= np.uint64(1) << np.uint64(b)
    return int(fp.astype(np.int64))  # two's complement into long


def simhash_fingerprints(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, fingerprint) — one Arrow pass, batch-vectorized numpy.

    Per batch: pandas C string split → ``pd.util.hash_array`` (SipHash, C)
    word hashes → per-bit ±1 votes via ``np.unpackbits`` + ``np.add.reduceat``
    per row → fingerprint as the sum of the positive-vote powers of two. No
    per-row or per-token Python anywhere (a Catalyst higher-order-function
    formulation was measured slower — HOF lambdas are interpreted, not
    codegen'd). Empty/whitespace-only text fingerprints to 0.
    """
    from itertools import chain

    from data_validation_spark.util import ensure_min_partitions

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pow2 = (np.uint64(1) << np.arange(64, dtype=np.uint64))
        for pdf in batches:
            word_lists = pdf[text_col].fillna("").str.split()
            lens = word_lists.str.len().fillna(0).to_numpy(dtype=np.int64)
            n = len(lens)
            flat = list(chain.from_iterable(word_lists))
            fps = np.zeros(n, dtype=np.int64)
            if flat:
                H = pd.util.hash_array(np.asarray(flat, dtype=object))
                bits = np.unpackbits(H.view(np.uint8).reshape(-1, 8), axis=1)
                votes_pm = 2 * bits.astype(np.int32) - 1  # (S, 64) of ±1
                off = np.zeros(n + 1, dtype=np.int64)
                np.cumsum(lens, out=off[1:])
                nonempty = lens > 0
                votes = np.add.reduceat(votes_pm, off[:-1][nonempty], axis=0)
                fp_vals = ((votes > 0).astype(np.uint64) * pow2[None, :]).sum(axis=1)
                fps[nonempty] = fp_vals.view(np.int64)
            yield pd.DataFrame({"id": pdf[id_col], "fingerprint": fps})

    src = ensure_min_partitions(df.select(F.col(id_col).alias(id_col), text_col))
    return src.mapInPandas(
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
