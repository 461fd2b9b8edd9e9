"""Weighted count-min sketch + heavy-hitter candidate tracking for the
weighted top-k.

The reference keeps a second, weighted Misra-Gries sketch
(top_k_uniques_sketch_stats_generator ``topk_weighted``); Spark's
``approx_top_k`` aggregates, which serve the unweighted top-k, take no
weight. This accumulator keeps a CMS (d×w float64 counters, multiply-shift
hashing, numpy-vectorized) for weighted-frequency estimation plus a bounded
candidate dict (capacity ``max_candidates``, Misra-Gries-style trim) so
extraction never needs a second data pass. Estimates never undercount and
overcount by up to about total weight / width. Mergeable: CMS adds
element-wise; candidates union then re-estimate against the merged CMS.
"""

from __future__ import annotations

import numpy as np

_PRIME = (1 << 61) - 1
# fixed odd multipliers (deterministic across workers)
_SEEDS = np.array(
    [0x9E3779B97F4A7C15, 0xC2B2AE3D27D4EB4F, 0x165667B19E3779F9, 0x27D4EB2F165667C5],
    dtype=np.uint64,
)


class CountMinTopK:
    __slots__ = ("width", "depth", "table", "candidates", "max_candidates", "total")

    def __init__(self, width: int = 2048, depth: int = 4, max_candidates: int = 4096):
        self.width = width
        self.depth = depth
        self.table = np.zeros((depth, width), dtype=np.float64)
        self.candidates: dict[str, float] = {}
        self.max_candidates = max_candidates
        self.total = 0.0

    def _rows(self, hashes: np.ndarray) -> np.ndarray:
        """(depth, n) bucket indices from 64-bit value hashes."""
        out = np.empty((self.depth, hashes.size), dtype=np.int64)
        for d in range(self.depth):
            mixed = (hashes * _SEEDS[d]) >> np.uint64(16)
            out[d] = (mixed % np.uint64(self.width)).astype(np.int64)
        return out

    @staticmethod
    def _hash(values: list[str]) -> np.ndarray:
        # Batch SipHash via pandas' C hasher — deterministic (fixed default
        # key) and vectorized over the whole distinct-value list, replacing a
        # per-value Python crc32 loop.
        import pandas as pd

        return pd.util.hash_array(np.asarray(values, dtype=object))

    def add_counts(self, values: list[str], counts: np.ndarray) -> None:
        """Pre-aggregated insert (group duplicates before calling — the
        reference's value_counts-before-AddValues trick)."""
        if not values:
            return
        counts = np.asarray(counts, dtype=np.float64)
        h = self._hash(values)
        rows = self._rows(h)
        for d in range(self.depth):
            np.add.at(self.table[d], rows[d], counts)
        self.total += float(counts.sum())
        for v, c in zip(values, counts):
            self.candidates[v] = self.candidates.get(v, 0.0) + float(c)
        if len(self.candidates) > self.max_candidates:
            self._trim()

    def _trim(self) -> None:
        # keep the max_candidates largest (estimate from own counts)
        items = sorted(self.candidates.items(), key=lambda kv: -kv[1])
        self.candidates = dict(items[: self.max_candidates])

    def estimate(self, values: list[str]) -> np.ndarray:
        if not values:
            return np.empty(0, dtype=np.float64)
        h = self._hash(values)
        rows = self._rows(h)
        est = np.full(h.size, np.inf)
        for d in range(self.depth):
            est = np.minimum(est, self.table[d][rows[d]])
        return est

    def merge(self, other: "CountMinTopK") -> "CountMinTopK":
        assert self.width == other.width and self.depth == other.depth
        out = CountMinTopK(self.width, self.depth, self.max_candidates)
        out.table = self.table + other.table
        out.total = self.total + other.total
        cands = set(self.candidates) | set(other.candidates)
        cand_list = list(cands)
        est = out.estimate(cand_list)
        out.candidates = dict(zip(cand_list, est))
        if len(out.candidates) > out.max_candidates:
            out._trim()
        return out

    def top_k(self, k: int) -> list[tuple[str, float]]:
        """(value, estimated count) sorted by (count desc, value desc) —
        reference tie-break parity."""
        cand_list = list(self.candidates)
        est = self.estimate(cand_list).tolist()
        return sorted(zip(cand_list, est), key=lambda kv: (kv[1], kv[0]), reverse=True)[:k]
