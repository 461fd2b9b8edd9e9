"""Weighted t-digest: the only statistic still computed in Python.

Every other statistic is a Spark aggregate inside the long pass's single
union action (``engine._run_long_pass``), with or without a weight column:

* uniques: exact (salted windows) or, in sketch mode,
  ``theta_sketch_estimate(theta_sketch_agg(value, 14))``, a KMV sketch with
  16,384 nominal entries, the reference's own uniques estimator. It is
  exact up to 16,384 distinct values and does not depend on how the input
  is partitioned.
* top-k: exact mode ranks values by count, and by weight with a weight
  column, in one salted two-phase window. Sketch mode ranks by count with
  ``approx_top_k_accumulate``/``approx_top_k_estimate``, a frequent-items
  sketch of the Misra-Gries family the reference uses, which reports only
  values it can guarantee are frequent; with a weight column it ranks by
  weight in the exact mode's window.
* moments: weighted mean, std and ±inf weights are JVM sums (the wide agg
  for scalar features, the long pass's array branch for nested ones).
* quantiles: exact mode's own ``percentile_approx`` grids. KLL
  (``kll_sketch_agg_double``) was rejected: its randomized compaction moves
  the median with the partitioning, and it raises on an empty sketch.

No Spark aggregate takes a weight for a quantile, so the weighted
quantiles (a weighted t-digest per numeric (slice, feature)) stay here.
Execution shape — the Spark translation of the reference's
CombinePerKey-with-hot-key-fanout over mergeable sketches
(``stats_impl.py:296-303``, ``basic_stats_generator.py:1417-1430``):

1. ``mapInPandas`` over the stacked long frame of the numeric features:
   each input partition builds one digest per (slice, feature) over the
   finite values and emits it pickled.
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
from typing import Iterator, Optional

import numpy as np
import pandas as pd

from data_validation_spark.stats import exprs as E
from data_validation_spark.stats.sketches.combine import combine_per_key
from data_validation_spark.stats.sketches.tdigest import TDigest

_QUANTILE_CUTS = 100
_PARTIAL_DDL = "slice_key string, feature string, acc binary"
_QS = [i / _QUANTILE_CUTS for i in range(_QUANTILE_CUTS + 1)]


def build_weighted_digest_frame(df, plans, slice_col, options, weight_arg=None):
    """Lazy merged frame ``(slice_key, feature, acc)``: one pickled weighted
    t-digest (reference ``weighted_quantiles_summary``,
    basic_stats_generator.py:350,387,470-472) per numeric (slice, feature),
    in both modes. The caller unions this KB-scale frame into the long
    pass's single action (engine._run_long_pass), so Catalyst executes it
    as a column-disjoint branch (plan-asserted in tests/test_plans.py) of
    ONE job instead of an extra full read. Decode rows with
    ``decode_weighted_digest``."""
    wplans = [replace(p, categorical=False) for p in plans if p.numeric]
    if not wplans:
        return None
    long_df = E.long_format(
        df, wplans, slice_col,
        weight_arg if weight_arg is not None else options.weight_column,
        include_scalar_numeric=True,
    )
    if long_df is None:
        return None
    compression = options.tdigest_compression

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        digests: dict[tuple[str, str], TDigest] = {}
        for pdf in batches:
            for key, g in pdf.groupby(["slice_key", "feature"], sort=False):
                td = digests.get(key)
                if td is None:
                    td = digests[key] = TDigest(compression)
                # add() keeps only the finite values and their weights
                td.add(g["num_value"].to_numpy(dtype=np.float64),
                       g["weight"].to_numpy(dtype=np.float64))
        rows = []
        for (sk, feat), td in digests.items():
            td.compact()
            rows.append((sk, feat, pickle.dumps(td, protocol=4)))
        yield pd.DataFrame(rows, columns=["slice_key", "feature", "acc"])

    return combine_per_key(
        long_df.mapInPandas(partial, _PARTIAL_DDL), ["slice_key", "feature"],
        _merge_digests,
    )


def _merge_digests(key, digests: list[TDigest]) -> TDigest:
    merged = digests[0]
    for td in digests[1:]:
        merged = merged.merge(td)
    merged.compact()
    return merged


def decode_weighted_digest(acc_bytes) -> Optional[tuple[list[float], float]]:
    """Driver-side decode of one merged digest row: the weighted quantile
    grid (101 cuts) and the total weight of the finite values, the mass of
    the weighted histograms; None when the feature has no finite value."""
    td: TDigest = pickle.loads(bytes(acc_bytes))
    return (td.quantiles(_QS), td.count) if td.means.size else None
