"""Weighted sketch pass: the only statistics still computed in Python.

Unweighted sketch-mode statistics are Spark aggregates inside the long
pass's single union action (``engine._run_long_pass``):

* uniques: ``theta_sketch_estimate(theta_sketch_agg(value, 14))``, a KMV
  sketch with 16,384 nominal entries, the reference's own uniques estimator.
  It is exact up to 16,384 distinct values and does not depend on how the
  input is partitioned.
* top-k: ``approx_top_k_accumulate``/``approx_top_k_estimate``, a
  frequent-items sketch of the Misra-Gries family the reference uses. It
  reports only values it can guarantee are frequent (no false positives):
  exact while a feature has at most ``topk_sketch_size × 4`` distinct
  values; above that a feature without heavy hitters may report no top
  values at all, where a count-min sketch would report inflated counts.
* quantiles: exact mode's own ``percentile_approx`` grids. KLL
  (``kll_sketch_agg_double``) was rejected: its randomized compaction moves
  the median with the partitioning, and it raises on an empty sketch.

None of those aggregates takes a weight, so the weighted top-k (a weighted
count-min sketch) and the weighted quantiles (a weighted t-digest) stay
here. Execution shape — the Spark translation of the reference's
CombinePerKey-with-hot-key-fanout over mergeable sketches
(``stats_impl.py:296-303``, ``basic_stats_generator.py:1417-1430``):

1. ``mapInPandas`` over the stacked long frame: each input partition builds
   one accumulator per (slice, feature) — values pre-grouped before sketch
   insert — and emits it pickled.
2. :func:`~.combine.combine_per_key` merges the partials per
   (slice, feature): one ``groupBy.applyInPandas``, preceded by a salted
   pre-merge tier when the input has more than its single
   ``FANOUT_THRESHOLD`` partitions (hot-key fanout for the single-slice
   skew case). User combiner generators share the same path.
3. The merged rows — one per key, KBs — ride the long pass's union action
   and are decoded on the driver by :func:`decode_weighted_digest`.
"""

from __future__ import annotations

import pickle
from dataclasses import replace
from typing import Iterator

import numpy as np
import pandas as pd

from data_validation_spark.stats import exprs as E
from data_validation_spark.stats.sketches.combine import combine_per_key
from data_validation_spark.stats.sketches.countmin import CountMinTopK
from data_validation_spark.stats.sketches.tdigest import TDigest

_QUANTILE_CUTS = 100

# Reference parity (top_k_uniques_sketch_stats_generator.py:49-50,211-222,
# constants.py): values >1024 bytes collapse to one placeholder token in the
# TOP-K sketches only — the KMV uniques sketch and the exact generator
# always see raw values, and schema-declared CATEGORICAL_YES features are
# exempt entirely. The unweighted top-k applies it as a CASE on
# octet_length (engine._sketch_topk_frame).
LARGE_STRING_THRESHOLD = 1024
LARGE_BYTES_PLACEHOLDER = "__LARGE_BYTES__"


def _collapse_large(vals: list[str]) -> list[str]:
    out = []
    for v in vals:
        n = len(v)
        if n > LARGE_STRING_THRESHOLD or (
            # ≤256 chars can't exceed 1024 bytes in UTF-8 (≤4 B/char); only
            # longer values need the exact byte check.
            n > LARGE_STRING_THRESHOLD // 4
            and len(v.encode("utf-8", "surrogatepass")) > LARGE_STRING_THRESHOLD
        ):
            out.append(LARGE_BYTES_PLACEHOLDER)
        else:
            out.append(v)
    return out


class FeatureAccumulator:
    """Weighted sketch state for one (slice, feature): the reference's
    ``topk_weighted`` ranking and ``weighted_quantiles_summary``
    (basic_stats_generator.py:350,387,470-472)."""

    __slots__ = ("wtopk", "wtd", "fincnt", "wfcnt", "wfsum", "wfsumsq",
                 "wposinf", "wneginf", "use_placeholder")

    def __init__(self, options, categorical: bool = False):
        self.wtopk = CountMinTopK(max_candidates=options.topk_sketch_size * 4)
        self.wtd = TDigest(options.tdigest_compression)
        self.fincnt = 0
        # Weighted numeric accumulators: total weight / weighted sum /
        # weighted sum-of-squares over finite values, weighted ±inf masses.
        self.wfcnt = 0.0
        self.wfsum = 0.0
        self.wfsumsq = 0.0
        self.wposinf = 0.0
        self.wneginf = 0.0
        self.use_placeholder = not categorical

    def add_strings(self, values: pd.Series, weights: pd.Series) -> None:
        wsums = weights.groupby(values.to_numpy()).sum()
        wvals = [str(v) for v in wsums.index]
        self.wtopk.add_counts(
            _collapse_large(wvals) if self.use_placeholder else wvals,
            wsums.to_numpy(),
        )

    def add_numbers(self, values: np.ndarray, weights: np.ndarray) -> None:
        nn = ~np.isnan(values)
        v, w = values[nn], weights[nn]
        finmask = np.isfinite(v)
        fin, fw = v[finmask], w[finmask]
        self.fincnt += fin.size
        if fin.size:
            self.wfcnt += float(fw.sum())
            self.wfsum += float((fin * fw).sum())
            self.wfsumsq += float((fin * fin * fw).sum())
            self.wtd.add(fin, fw)
        self.wposinf += float(w[v == np.inf].sum())
        self.wneginf += float(w[v == -np.inf].sum())

    def merge(self, other: "FeatureAccumulator") -> "FeatureAccumulator":
        self.wtopk = self.wtopk.merge(other.wtopk)
        self.wtd = self.wtd.merge(other.wtd)
        self.fincnt += other.fincnt
        self.wfcnt += other.wfcnt
        self.wfsum += other.wfsum
        self.wfsumsq += other.wfsumsq
        self.wposinf += other.wposinf
        self.wneginf += other.wneginf
        return self

    def compact(self) -> None:
        self.wtd.compact()


_PARTIAL_DDL = "slice_key string, feature string, acc binary"
_QS = [i / _QUANTILE_CUTS for i in range(_QUANTILE_CUTS + 1)]


def _merged_sketches(long_df, options):
    """Fold ``long_df`` into one FeatureAccumulator per (slice, feature) per
    input partition and return the lazily merged ``(slice_key, feature,
    acc)`` frame."""
    cats = set(options.categorical_features or ())

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        accs: dict[tuple[str, str], FeatureAccumulator] = {}
        for pdf in batches:
            for (sk, feat), g in pdf.groupby(["slice_key", "feature"], sort=False):
                acc = accs.get((sk, feat))
                if acc is None:
                    acc = accs[(sk, feat)] = FeatureAccumulator(options, feat in cats)
                sv = g["str_value"].dropna()
                if len(sv):
                    acc.add_strings(sv, g["weight"][sv.index])
                nvs = g["num_value"].dropna()
                if len(nvs):
                    acc.add_numbers(
                        nvs.to_numpy(dtype=np.float64),
                        g["weight"][nvs.index].to_numpy(dtype=np.float64),
                    )
        rows = []
        for (sk, feat), acc in accs.items():
            acc.compact()
            rows.append((sk, feat, pickle.dumps(acc, protocol=4)))
        yield pd.DataFrame(rows, columns=["slice_key", "feature", "acc"])

    return combine_per_key(
        long_df.mapInPandas(partial, _PARTIAL_DDL), ["slice_key", "feature"],
        _merge_accumulators,
    )


def _merge_accumulators(key, accs: list[FeatureAccumulator]) -> FeatureAccumulator:
    merged = accs[0]
    for a in accs[1:]:
        merged = merged.merge(a)
    merged.compact()
    return merged


def build_weighted_digest_frame(df, plans, slice_col, options, weight_arg=None):
    """Lazy merged weighted-sketch frame ``(slice_key, feature, acc)`` for a
    run with a weight column: weighted top-k and weighted QUANTILES
    (reference WeightedNumericStatistics histograms) have no JVM builtin.
    Exact mode folds only the numeric features (plans lose their
    categorical flag, so the weighted top-k stays empty: the exact long
    pass ranks it); sketch mode folds the numeric and categorical ones.
    The caller unions this KB-scale frame into the long pass's single
    action (engine._run_long_pass), so Catalyst executes it as a
    column-disjoint branch (plan-asserted in tests/test_plans.py) of ONE
    job instead of an extra full read. Decode rows with
    ``decode_weighted_digest``."""
    if options.use_sketches:
        wplans = [p for p in plans if p.numeric or p.categorical]
    else:
        wplans = [replace(p, categorical=False) for p in plans if p.numeric]
    if not wplans:
        return None
    long_df = E.long_format(
        df, wplans, slice_col,
        weight_arg if weight_arg is not None else options.weight_column,
        include_scalar_numeric=True,
    )
    return None if long_df is None else _merged_sketches(long_df, options)


def decode_weighted_digest(acc_bytes, k: int) -> tuple[dict, list]:
    """Driver-side decode of one merged weighted-sketch row into the
    ``{wquants, wfcnt, wfsum, wfsumsq, wposinf, wneginf}`` dict and the
    weighted top-k entries ``(rank, value, None, weighted count)`` consumed
    by engine._assemble_feature. The weighted count-min sketch overcounts
    by up to about total weight / width."""
    acc: FeatureAccumulator = pickle.loads(bytes(acc_bytes))
    numeric = {
        "wquants": acc.wtd.quantiles(_QS) if acc.fincnt else None,
        "wfcnt": acc.wfcnt,
        "wfsum": acc.wfsum,
        "wfsumsq": acc.wfsumsq,
        "wposinf": acc.wposinf,
        "wneginf": acc.wneginf,
    }
    top = [
        (rank, v, None, float(wc))
        for rank, (v, wc) in enumerate(acc.wtopk.top_k(k), start=1)
    ]
    return numeric, top
