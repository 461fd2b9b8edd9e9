"""Extensibility base classes for user-defined statistics generators —
parity with the reference's public generator surface
(``statistics/generators/stats_generator.py``: ``StatsGenerator:27``,
``CombinerStatsGenerator:81``, ``CombinerFeatureStatsGenerator:202``,
``TransformStatsGenerator`` at the end of the same file; plugged into runs
via ``StatsOptions.generators``, ``stats_impl.py``) — re-expressed for
Spark's execution model.

The reference hands combiners Arrow RecordBatches inside a Beam
``CombinePerKey``; here the distributed fold is a single ``mapInPandas``
pass producing one pickled, ``compact()``-ed accumulator row per
(generator, slice, partition), merged per (generator, slice) on executors by
the same combine path as the built-in sketches
(:func:`data_validation_spark.stats.sketches.combine.combine_per_key`). The
driver receives one accumulator per generator per slice.

A generator's ``extract_output`` returns a :class:`DatasetStats` whose
features are merged into the engine's artifact for the matching slice —
the role of the reference's ``DatasetFeatureStatistics`` branch merge.
"""

from __future__ import annotations

import pickle
from typing import TYPE_CHECKING, Any, Callable, Iterable, Iterator, Optional

if TYPE_CHECKING:
    import pandas as pd
    from pyspark.sql import DataFrame

    from data_validation_spark.schema import Schema

from data_validation_spark.stats.result import DatasetStats, FeatureStats


class StatsGenerator:
    """Base statistics generator (reference ``stats_generator.py:27-47``):
    a unique name plus an optional schema the generator may consult."""

    def __init__(self, name: str, schema: Optional["Schema"] = None) -> None:
        self._name = name
        self._schema = schema

    @property
    def name(self) -> str:
        return self._name

    @property
    def schema(self) -> Optional["Schema"]:
        return self._schema


class CombinerStatsGenerator(StatsGenerator):
    """Compute statistics with a combiner function (reference
    ``stats_generator.py:81-198``): fold batches into an accumulator, merge
    accumulators across partitions, extract one output per slice.

    Subclasses implement ``create_accumulator`` / ``add_input`` /
    ``merge_accumulators`` / ``extract_output``; ``setup`` and ``compact``
    are optional hooks with the reference's semantics. ``add_input``
    receives a pandas DataFrame batch (the Spark/Arrow analogue of the
    reference's ``pa.RecordBatch``) holding the run's statistics columns.

    Accumulators must pickle: they cross the executor/driver boundary in
    ``compact()``-ed form.
    """

    def setup(self) -> None:
        """Per-worker one-time initialization (costly state goes here, not
        in ``__init__`` — same contract as the reference's ``setup``)."""

    def create_accumulator(self) -> Any:
        raise NotImplementedError

    def add_input(self, accumulator: Any, input_batch: "pd.DataFrame") -> Any:
        """Fold one batch into ``accumulator`` and return it. The batch is a
        pandas DataFrame of the statistics columns; list-valued features
        arrive as object columns of numpy arrays / lists (Arrow list
        columns), matching Spark's Arrow conversion."""
        raise NotImplementedError

    def merge_accumulators(self, accumulators: Iterable[Any]) -> Any:
        """Merge accumulators; only the first element may be mutated
        (reference contract)."""
        raise NotImplementedError

    def compact(self, accumulator: Any) -> Any:
        """Optionally shrink an accumulator before it crosses the wire;
        identity by default."""
        return accumulator

    def extract_output(self, accumulator: Any) -> DatasetStats:
        """Convert the final accumulator into a :class:`DatasetStats` whose
        features are merged into the run's artifact (the ``slice_key`` field
        is overwritten with the actual slice)."""
        raise NotImplementedError


class CombinerFeatureStatsGenerator(StatsGenerator):
    """Per-feature combiner (reference ``stats_generator.py:202-290``) — the
    simplification for statistics needing no cross-feature state. It is run
    by wrapping into a :class:`CombinerStatsGenerator` via
    :func:`wrap_feature_stats_generator` (the role of the reference's
    ``CombinerFeatureStatsWrapperGenerator``).

    ``add_input`` receives the feature's non-null values as a pandas Series
    (scalars, or arrays for list-typed features) — the Arrow-column
    analogue of the reference's ``pa.Array``.
    """

    def setup(self) -> None:
        """Per-worker one-time initialization."""

    def create_accumulator(self) -> Any:
        raise NotImplementedError

    def add_input(
        self, accumulator: Any, feature_path: str, values: "pd.Series"
    ) -> Any:
        raise NotImplementedError

    def merge_accumulators(self, accumulators: Iterable[Any]) -> Any:
        raise NotImplementedError

    def compact(self, accumulator: Any) -> Any:
        return accumulator

    def extract_output(self, accumulator: Any) -> FeatureStats:
        """Return the feature's statistics contribution; its ``custom`` dict
        (and any set typed stats) merges into the artifact's feature row."""
        raise NotImplementedError


class _FeatureWrapper(CombinerStatsGenerator):
    """CombinerFeatureStatsWrapperGenerator analogue: runs one per-feature
    combiner over every statistics column, keyed by feature path."""

    def __init__(self, gen: CombinerFeatureStatsGenerator):
        super().__init__(gen.name, gen.schema)
        self._gen = gen

    def setup(self) -> None:
        self._gen.setup()

    def create_accumulator(self) -> dict:
        return {}

    def add_input(self, accumulator: dict, input_batch: "pd.DataFrame") -> dict:
        for col in input_batch.columns:
            values = input_batch[col].dropna()
            if not len(values):
                continue
            acc = accumulator.get(col)
            if acc is None:
                acc = self._gen.create_accumulator()
            accumulator[col] = self._gen.add_input(acc, col, values)
        return accumulator

    def merge_accumulators(self, accumulators: Iterable[dict]) -> dict:
        accumulators = list(accumulators)
        out = accumulators[0] if accumulators else {}
        per_feature: dict[str, list] = {}
        for a in accumulators[1:]:
            for feat, acc in a.items():
                per_feature.setdefault(feat, []).append(acc)
        for feat, accs in per_feature.items():
            if feat in out:
                out[feat] = self._gen.merge_accumulators([out[feat]] + accs)
            else:
                out[feat] = self._gen.merge_accumulators(accs)
        return out

    def compact(self, accumulator: dict) -> dict:
        return {f: self._gen.compact(a) for f, a in accumulator.items()}

    def extract_output(self, accumulator: dict) -> DatasetStats:
        return DatasetStats(
            slice_key="",
            features={
                feat: self._gen.extract_output(acc)
                for feat, acc in accumulator.items()
            },
        )


def wrap_feature_stats_generator(
    gen: CombinerFeatureStatsGenerator,
) -> CombinerStatsGenerator:
    """Lift a per-feature combiner into a full dataset-level combiner."""
    return _FeatureWrapper(gen)


class TransformStatsGenerator(StatsGenerator):
    """Arbitrary-transform generator (reference ``TransformStatsGenerator``
    wraps a Beam PTransform emitting per-slice statistics): wraps a callable
    ``transform(df: DataFrame) -> DatasetStats | DatasetStatsList | dict``
    run once over the full DataFrame. A dict result maps slice_key →
    DatasetStats. Use this for statistics that don't fit the combiner fold
    (e.g. ones built from their own joins/windows)."""

    def __init__(
        self,
        name: str,
        ptransform: Callable[["DataFrame"], Any],
        schema: Optional["Schema"] = None,
    ):
        super().__init__(name, schema)
        self.ptransform = ptransform

    def apply(self, df: "DataFrame") -> dict[str, DatasetStats]:
        out = self.ptransform(df)
        if isinstance(out, DatasetStats):
            return {out.slice_key: out}
        if hasattr(out, "slices"):  # DatasetStatsList
            return {sl.slice_key: sl for sl in out.slices}
        if isinstance(out, dict):
            return out
        raise TypeError(
            "TransformStatsGenerator %s returned %s; expected DatasetStats, "
            "DatasetStatsList, or dict[slice_key, DatasetStats]."
            % (self.name, type(out).__name__)
        )


# ------------------------------------------------------- distributed runner --
_PARTIAL_DDL = "gen int, slice_key string, acc binary"


def run_combiner_generators(
    df: "DataFrame",
    generators: list[CombinerStatsGenerator],
    slice_col=None,
    stat_cols: Optional[list[str]] = None,
    default_slice_key: str = "All Examples",
) -> dict[str, list[tuple[str, DatasetStats]]]:
    """Execute combiner generators distributed over ``df``.

    One ``mapInPandas`` pass folds every generator per slice per partition
    (generators ship to executors pickled inside the closure; ``setup()``
    runs once per python worker), then partial accumulators merge per
    (generator, slice) on executors through ``combine_per_key``.

    Returns {slice_key: [(generator_name, DatasetStats), ...]}.
    """
    import pandas as pd
    from pyspark.sql import functions as F

    from data_validation_spark.stats.sketches.combine import combine_per_key

    gens = []
    for g in generators:
        if isinstance(g, CombinerFeatureStatsGenerator):
            g = wrap_feature_stats_generator(g)
        if not isinstance(g, CombinerStatsGenerator):
            raise TypeError(
                "Unsupported generator type %s (want CombinerStatsGenerator "
                "or CombinerFeatureStatsGenerator)." % type(g).__name__
            )
        gens.append(g)
    if not gens:
        return {}

    if slice_col is None:
        slice_col = F.lit(default_slice_key)
    stat_cols = stat_cols or df.columns
    work = df.select(slice_col.cast("string").alias("__slice_key__"), *stat_cols)
    # cloudpickle, not pickle: user generator classes defined in __main__ /
    # a notebook ship by value automatically (classes in driver-only modules
    # additionally need cloudpickle.register_pickle_by_value(module) or
    # spark-submit --py-files, as with any Spark closure).
    from pyspark import cloudpickle as _cp

    gens_pkl = _cp.dumps(gens)

    def partial(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        local_gens: list[CombinerStatsGenerator] = pickle.loads(gens_pkl)
        for g in local_gens:
            g.setup()
        accs: dict[tuple[int, str], Any] = {}
        for pdf in batches:
            for sk, sub in pdf.groupby("__slice_key__", sort=False):
                batch = sub.drop(columns="__slice_key__")
                for i, g in enumerate(local_gens):
                    acc = accs.get((i, sk))
                    if acc is None:
                        acc = g.create_accumulator()
                    accs[(i, sk)] = g.add_input(acc, batch)
        rows = [
            (i, sk, pickle.dumps(local_gens[i].compact(acc), protocol=4))
            for (i, sk), acc in accs.items()
        ]
        yield pd.DataFrame(rows, columns=["gen", "slice_key", "acc"])

    def merge(key, accs):
        g = pickle.loads(gens_pkl)[key[0]]
        g.setup()
        return g.compact(g.merge_accumulators(accs))

    merged = combine_per_key(
        work.mapInPandas(partial, _PARTIAL_DDL), ["gen", "slice_key"], merge
    )
    out: dict[str, list[tuple[str, DatasetStats]]] = {}
    # Generator order, so later generators win custom-stat clashes.
    for r in sorted(merged.collect(), key=lambda r: r["gen"]):
        g = gens[r["gen"]]
        ds = g.extract_output(pickle.loads(bytes(r["acc"])))
        out.setdefault(r["slice_key"], []).append((g.name, ds))
    return out


def merge_generator_output(
    artifact, per_slice: dict[str, list[tuple[str, DatasetStats]]]
):
    """Merge generator outputs into an engine artifact (DatasetStatsList),
    returning a new artifact: features new to a slice are added; for
    existing features the generator's ``custom`` entries and any typed stats
    the engine left unset are folded in (the reference's proto branch merge,
    ``merge_util``-style, adapted to our dataclasses)."""
    from dataclasses import replace

    from data_validation_spark.stats.result import DatasetStatsList

    out_slices = []
    known = set()
    for sl in artifact.slices:
        known.add(sl.slice_key)
        contribs = per_slice.get(sl.slice_key)
        if not contribs:
            out_slices.append(sl)
            continue
        features = dict(sl.features)
        for _name, ds in contribs:
            for fname, fs in ds.features.items():
                cur = features.get(fname)
                if cur is None:
                    features[fname] = replace(fs)
                else:
                    merged = replace(cur, custom={**cur.custom, **fs.custom})
                    for fld in ("numeric", "string", "bytes", "common"):
                        if getattr(merged, fld) is None and getattr(fs, fld) is not None:
                            merged = replace(merged, **{fld: getattr(fs, fld)})
                    features[fname] = merged
        out_slices.append(replace(sl, features=features))
    # Slices produced only by generators (e.g. a transform emitting a new
    # slice key) append as their own slice rows.
    for sk, contribs in per_slice.items():
        if sk in known:
            continue
        features: dict[str, FeatureStats] = {}
        for _name, ds in contribs:
            features.update(ds.features)
        out_slices.append(DatasetStats(slice_key=sk, features=features))
    out_slices.sort(key=lambda s: s.slice_key)
    return DatasetStatsList(out_slices)
