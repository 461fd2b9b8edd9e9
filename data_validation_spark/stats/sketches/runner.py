"""Distributed sketch pass: per-partition Arrow-vectorized partial
accumulators (t-digest + count-min top-k + HLL), merged per key.

Execution shape — the Spark translation of the reference's
CombinePerKey-with-hot-key-fanout over mergeable sketches
(``stats_impl.py:296-303``, ``basic_stats_generator.py:1417-1430``):

1. ``mapInPandas`` over the stacked long frame: each input partition builds
   one accumulator per (slice, feature) — values pre-grouped with
   ``value_counts`` before sketch insert — and emits it pickled.
2. :func:`~.combine.combine_per_key` merges the partials per
   (slice, feature): one ``groupBy.applyInPandas``, preceded by a salted
   pre-merge tier when the input has more than its single
   ``FANOUT_THRESHOLD`` partitions (hot-key fanout for the single-slice
   skew case). User combiner generators share the same path.
3. The merged rows — one per key, KBs — are collected and extracted on the
   driver.

The exact mode's weighted quantiles (``build_weighted_digest_frame``) run
the same fold and merge over the numeric features only.
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
from data_validation_spark.stats.sketches.hll import HyperLogLog
from data_validation_spark.stats.sketches.tdigest import TDigest

_QUANTILE_CUTS = 100

# Reference parity (top_k_uniques_sketch_stats_generator.py:49-50,211-222,
# constants.py): values >1024 bytes collapse to one placeholder token in the
# TOP-K sketches only — the KMV/HLL uniques sketch and the exact generator
# always see raw values, and schema-declared CATEGORICAL_YES features are
# exempt entirely.
_LARGE_STRING_THRESHOLD = 1024
_LARGE_BYTES_PLACEHOLDER = "__LARGE_BYTES__"


def _collapse_large(vals: list[str]) -> list[str]:
    out = []
    for v in vals:
        n = len(v)
        if n > _LARGE_STRING_THRESHOLD or (
            # ≤256 chars can't exceed 1024 bytes in UTF-8 (≤4 B/char); only
            # longer values need the exact byte check.
            n > _LARGE_STRING_THRESHOLD // 4
            and len(v.encode("utf-8", "surrogatepass")) > _LARGE_STRING_THRESHOLD
        ):
            out.append(_LARGE_BYTES_PLACEHOLDER)
        else:
            out.append(v)
    return out


class FeatureAccumulator:
    """All sketch state for one (slice, feature)."""

    __slots__ = ("topk", "wtopk", "hll", "td", "wtd", "zeros", "posinf",
                 "neginf", "fincnt", "fsum", "fsumsq", "wsum", "wfcnt",
                 "wfsum", "wfsumsq", "wposinf", "wneginf", "use_placeholder")

    def __init__(self, options, categorical: bool = False):
        self.topk = CountMinTopK(max_candidates=options.topk_sketch_size * 4)
        # Second, weighted top-k ranking (reference `topk_weighted` MG sketch)
        # — only materialized when a weight column is in play.
        self.wtopk = (
            CountMinTopK(max_candidates=options.topk_sketch_size * 4, weighted=True)
            if options.weight_column
            else None
        )
        self.hll = HyperLogLog(options.hll_precision)
        self.td = TDigest(options.tdigest_compression)
        # Weighted quantiles sketch (reference weighted_quantiles_summary,
        # basic_stats_generator.py:350,387,470-472) — only with a weight col.
        self.wtd = (
            TDigest(options.tdigest_compression) if options.weight_column else None
        )
        self.zeros = 0
        self.posinf = 0
        self.neginf = 0
        self.fincnt = 0
        self.fsum = 0.0
        self.fsumsq = 0.0
        self.wsum = 0.0
        # Weighted numeric accumulators: total weight / weighted sum /
        # weighted sum-of-squares over finite values, weighted ±inf masses.
        self.wfcnt = 0.0
        self.wfsum = 0.0
        self.wfsumsq = 0.0
        self.wposinf = 0.0
        self.wneginf = 0.0
        self.use_placeholder = not categorical

    def add_strings(self, values: pd.Series, weights: pd.Series | None = None) -> None:
        counts = values.value_counts()
        vals = [str(v) for v in counts.index]
        # uniques sketch sees RAW values (KMV parity — no placeholder).
        self.hll.add(vals)
        tvals = _collapse_large(vals) if self.use_placeholder else vals
        self.topk.add_counts(tvals, counts.to_numpy())
        if self.wtopk is not None:
            if weights is None:
                self.wtopk.add_counts(tvals, counts.to_numpy())
            else:
                wsums = weights.groupby(values.to_numpy()).sum()
                wvals = [str(v) for v in wsums.index]
                self.wtopk.add_counts(
                    _collapse_large(wvals) if self.use_placeholder else wvals,
                    wsums.to_numpy(),
                )

    def add_numbers(self, values: np.ndarray, weights: np.ndarray | None = None) -> None:
        nn = ~np.isnan(values)
        v = values[nn]
        w = weights[nn] if weights is not None else None
        posmask = v == np.inf
        negmask = v == -np.inf
        self.posinf += int(np.count_nonzero(posmask))
        self.neginf += int(np.count_nonzero(negmask))
        finmask = np.isfinite(v)
        fin = v[finmask]
        self.fincnt += fin.size
        if fin.size:
            self.zeros += int(np.count_nonzero(fin == 0.0))
            self.fsum += float(fin.sum())
            self.fsumsq += float((fin * fin).sum())
            self.td.add(fin)
        if self.wtd is not None:
            fw = w[finmask] if w is not None else np.ones(fin.size)
            if fin.size:
                self.wfcnt += float(fw.sum())
                self.wfsum += float((fin * fw).sum())
                self.wfsumsq += float((fin * fin * fw).sum())
                self.wtd.add(fin, fw)
            if w is not None:
                self.wposinf += float(w[posmask].sum())
                self.wneginf += float(w[negmask].sum())
            else:
                self.wposinf += float(np.count_nonzero(posmask))
                self.wneginf += float(np.count_nonzero(negmask))

    def merge(self, other: "FeatureAccumulator") -> "FeatureAccumulator":
        self.topk = self.topk.merge(other.topk)
        if self.wtopk is not None and other.wtopk is not None:
            self.wtopk = self.wtopk.merge(other.wtopk)
        elif other.wtopk is not None:
            self.wtopk = other.wtopk
        self.hll = self.hll.merge(other.hll)
        self.td = self.td.merge(other.td)
        # One-sided weighted merge (same propagation rule as wtopk above):
        # an accumulator built without the weight option adopts the other
        # side's weighted state.
        if self.wtd is not None and other.wtd is not None:
            self.wtd = self.wtd.merge(other.wtd)
        elif other.wtd is not None:
            self.wtd = other.wtd
        self.zeros += other.zeros
        self.posinf += other.posinf
        self.neginf += other.neginf
        self.fincnt += other.fincnt
        self.fsum += other.fsum
        self.fsumsq += other.fsumsq
        self.wfcnt += other.wfcnt
        self.wfsum += other.wfsum
        self.wfsumsq += other.wfsumsq
        self.wposinf += other.wposinf
        self.wneginf += other.wneginf
        return self

    def compact(self) -> None:
        self.td.compact()
        if self.wtd is not None:
            self.wtd.compact()


_PARTIAL_DDL = "slice_key string, feature string, acc binary"
_QS = [i / _QUANTILE_CUTS for i in range(_QUANTILE_CUTS + 1)]


def _merged_sketches(long_df, options):
    """Fold ``long_df`` into one FeatureAccumulator per (slice, feature) per
    input partition and return the lazily merged ``(slice_key, feature,
    acc)`` frame."""
    cats = set(options.categorical_features or ())
    weighted = bool(options.weight_column)

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        accs: dict[tuple[str, str], FeatureAccumulator] = {}
        for pdf in batches:
            for (sk, feat), g in pdf.groupby(["slice_key", "feature"], sort=False):
                acc = accs.get((sk, feat))
                if acc is None:
                    acc = accs[(sk, feat)] = FeatureAccumulator(options, feat in cats)
                sv = g["str_value"].dropna()
                if len(sv):
                    acc.add_strings(sv, g["weight"][sv.index] if weighted else None)
                nvs = g["num_value"].dropna()
                if len(nvs):
                    acc.add_numbers(
                        nvs.to_numpy(dtype=np.float64),
                        g["weight"][nvs.index].to_numpy(dtype=np.float64)
                        if weighted
                        else None,
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


def _weighted_numeric(acc: FeatureAccumulator) -> dict:
    """Weighted quantile grid + weighted moments of one merged accumulator
    (reference WeightedNumericStatistics); the grid needs a weight column."""
    return {
        "wquants": acc.wtd.quantiles(_QS) if acc.wtd is not None and acc.fincnt else None,
        "wfcnt": acc.wfcnt,
        "wfsum": acc.wfsum,
        "wfsumsq": acc.wfsumsq,
        "wposinf": acc.wposinf,
        "wneginf": acc.wneginf,
    }


def run_sketch_pass(df, plans, slice_col, options):
    """Returns (topk_data, uniq_data, arr_data, wtopk_data) with the same
    shapes as the exact long pass (see engine._run_long_pass). With a weight
    column, a second weighted CMS ranks values by weighted count (reference
    `topk_weighted` MisraGries parity); otherwise wtopk mirrors topk."""
    long_df = E.long_format(
        df, plans, slice_col,
        getattr(options, "example_weight_map", None) or options.weight_column,
        include_scalar_numeric=True,
    )
    if long_df is None:
        return {}, {}, {}, {}
    rows = _merged_sketches(long_df, options).collect()

    k = max(options.num_top_values, options.num_rank_histogram_buckets)
    topk_data: dict = {}
    uniq_data: dict = {}
    arr_data: dict = {}
    wtopk_data: dict = {}
    for r in rows:
        acc: FeatureAccumulator = pickle.loads(bytes(r["acc"]))
        key = (r["slice_key"], r["feature"])
        top = acc.topk.top_k(k)
        if top:
            wtk = acc.wtopk
            wc_of = (
                dict(zip([v for v, _ in top],
                         wtk.estimate([v for v, _ in top]).astype(float)))
                if wtk is not None
                else {}
            )
            topk_data[key] = [
                (rank, v, float(c), wc_of.get(v, float(c)))
                for rank, (v, c) in enumerate(top, start=1)
            ]
            uniq_data[key] = acc.hll.estimate()
            if wtk is not None:
                # weighted ranking re-sorted by weighted count — a value with
                # small raw count but huge weight ranks correctly here
                # (reference weighted MisraGries parity), instead of
                # inheriting the unweighted order.
                wtop = wtk.top_k(k)
                cnt_of = dict(
                    zip([v for v, _ in wtop],
                        acc.topk.estimate([v for v, _ in wtop]).astype(float))
                )
                wtopk_data[key] = [
                    (rank, v, cnt_of.get(v, 0.0), float(wc))
                    for rank, (v, wc) in enumerate(wtop, start=1)
                ]
        if acc.fincnt or acc.posinf or acc.neginf:
            # mean over all non-NaN values incl. ±inf (reference accumulator
            # semantics, basic_stats_generator.py:434-444): reconstruct from
            # the finite sums + the inf counters; std collapses to 0.0 when
            # the variance is nan (sqrt(max(0, var))).
            n_nonnan = acc.fincnt + acc.posinf + acc.neginf
            if acc.posinf and acc.neginf:
                mean = float("nan")
            elif acc.posinf:
                mean = float("inf")
            elif acc.neginf:
                mean = float("-inf")
            else:
                mean = acc.fsum / n_nonnan if n_nonnan else 0.0
            if acc.posinf or acc.neginf:
                var = 0.0  # nan variance → 0.0 under max(0, nan)
            else:
                var = (
                    max(0.0, acc.fsumsq / n_nonnan - mean * mean)
                    if n_nonnan
                    else 0.0
                )
            arr_data[key] = {
                "min": (-np.inf if acc.neginf else acc.td.min) if acc.fincnt or acc.neginf else None,
                "max": (np.inf if acc.posinf else acc.td.max) if acc.fincnt or acc.posinf else None,
                "mean": mean,
                "std": float(np.sqrt(var)),
                "zeros": acc.zeros,
                "posinf": acc.posinf,
                "neginf": acc.neginf,
                "finmin": acc.td.min if acc.fincnt else None,
                "finmax": acc.td.max if acc.fincnt else None,
                "fincnt": acc.fincnt,
                "quants": acc.td.quantiles(_QS) if acc.fincnt else None,
                **_weighted_numeric(acc),
            }
    return topk_data, uniq_data, arr_data, (wtopk_data or dict(topk_data))


def build_weighted_digest_frame(df, plans, slice_col, options, weight_arg=None):
    """Lazy merged weighted-digest frame ``(slice_key, feature, acc)`` for
    EXACT mode with a weight column: weighted QUANTILES (reference
    WeightedNumericStatistics histograms) have no JVM builtin, so the
    numeric features run through the sketch pass's fold and merge. The
    caller unions this KB-scale frame into the exact long pass's single
    action (engine._run_long_pass), so Catalyst executes it as a
    column-disjoint branch (numeric + weight columns only — plan-asserted
    in tests/test_plans.py) of ONE job instead of an extra full read.
    Plans lose their categorical flag here, so the accumulators' string
    sketches stay empty. Decode rows with ``decode_weighted_digest``."""
    num_plans = [replace(p, categorical=False) for p in plans if p.numeric]
    if not num_plans:
        return None
    long_df = E.long_format(
        df, num_plans, slice_col,
        weight_arg if weight_arg is not None else options.weight_column,
        include_scalar_numeric=True,
    )
    return None if long_df is None else _merged_sketches(long_df, options)


def decode_weighted_digest(acc_bytes) -> dict:
    """Driver-side decode of one merged weighted-digest row into the
    ``{wquants, wfcnt, wfsum, wfsumsq, wposinf, wneginf}`` dict consumed by
    engine._assemble_feature."""
    return _weighted_numeric(pickle.loads(bytes(acc_bytes)))
