"""The one combine-per-key path for pickled partial accumulators — the Spark
translation of the reference's ``CombinePerKey`` with hot-key fanout
(``stats_impl.py:276-303``).

Callers fold their input with their own ``mapInPandas`` into a frame of
``(keys…, acc binary)`` rows, one pickled accumulator per key per input
partition, and collect the frame this module returns. Built-in sketches
(:mod:`.runner`) and user combiner generators
(:mod:`data_validation_spark.generators`) share it.
"""

from __future__ import annotations

import pickle
from typing import Any, Callable

from pyspark.sql import functions as F

# Input-partition count above which the salted pre-merge tier runs: it
# spreads one hot key's partials over _SALTS reducers before the final
# merge. Module-level so tests can force the tier on small inputs.
FANOUT_THRESHOLD = 64
_SALTS = 16


def combine_per_key(partials, keys: list[str],
                    merge: Callable[[tuple, list], Any]):
    """Lazily merge ``partials`` to one ``(keys…, acc)`` row per key.

    ``merge(key, accs)`` runs on executors with the key's values and a list
    of unpickled accumulators and returns the merged (compacted)
    accumulator; it must be associative, because above
    ``FANOUT_THRESHOLD`` input partitions the accumulators of one key are
    merged in two tiers.
    """

    def merge_group(pdf):
        out = pdf.iloc[:1].copy()
        key = tuple(out[k].iloc[0] for k in keys)
        accs = [pickle.loads(bytes(b)) for b in pdf["acc"]]
        out["acc"] = [pickle.dumps(merge(key, accs), protocol=4)]
        return out

    if partials.rdd.getNumPartitions() > FANOUT_THRESHOLD:
        salted = partials.withColumn(
            "salt", F.pmod(F.xxhash64(F.rand(seed=7)), F.lit(_SALTS))
        )
        partials = (
            salted.groupBy(*keys, "salt")
            .applyInPandas(merge_group, salted.schema)
            .drop("salt")
        )
    return partials.groupBy(*keys).applyInPandas(merge_group, partials.schema)
