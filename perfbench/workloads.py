"""The three workloads; ``BENCHMARK.json`` lists the two image ones and the
traced run of ``images_validate`` measures the dedup layers (see README.md).
Each is a closed loop of one client: the next operation starts when the
previous one returns.

A workload builds its seeded inputs (untimed), opens them and makes one warm-up
call in set-up, runs one operation per ``op`` call and checks every result
against what the generator planted. In a traced run it also installs spans
and times, one standalone call each, the layers it enters as one lazy plan.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import random
import shutil
import statistics
import time
import uuid
from urllib.parse import unquote, urlparse

import pyarrow.parquet as pq

from perfbench import inputs

from data_validation_spark import pipeline
from data_validation_spark.stats.options import StatsOptions


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed_layer(tracer, name: str, fn):
    """Run ``fn`` under a span named ``name`` whose jobs carry that layer."""
    with tracer.span(name), tracer.layer(name):
        return fn()


class Workload:
    """Defaults for the optional hooks."""

    tracer = None  # set for the traced part of a traced run

    build_in_jvm = True  # inputs are built with Spark, in a process of their own

    min_ops = 1  # operations per run, however short --seconds is

    def built(self, work: str, seed: int) -> bool:
        """Whether this seed's inputs are already in the cache."""
        return inputs.is_built(inputs.cache_dir(work, self.name, self.tag(seed), self.size))

    def tag(self, seed: int) -> str:
        return f"i{inputs.image_instance(seed)}"

    def _layer(self, name: str):
        """Attribute the jobs of a workload-issued action to ``name``."""
        return self.tracer.layer(name) if self.tracer else contextlib.nullcontext()

    def done(self, spark, result) -> dict:
        """Clean up after an operation (``result`` is None if it raised),
        outside the timed region; returns metrics taken while doing so."""
        return {}

    def instrument(self, tracer) -> None:
        """Install the workload's spans."""


def _validate(spark, df, schema, **kwargs):
    # looked up per call, so a traced run's span wrapper is what runs
    return pipeline.validate_images(spark, df, schema, **kwargs)


class ImagesValidate(Workload):
    name = "images_validate"
    size = 16_000
    # one call varies by up to a third with the host's load; the median of
    # three stays within a few percent
    min_ops = 3

    def prepare(self, spark, work: str, seed: int) -> None:
        self.path = inputs.clean_images(spark, work, inputs.image_instance(seed), self.size)
        self.work, self.seed = work, seed

    def open(self, spark) -> None:
        from data_validation_spark.validate import rowlevel

        self.df = spark.read.parquet(self.path)
        self.schema = pipeline.default_image_schema()
        _src, mode = rowlevel._pixel_source(
            self.df, "image_id", "bytes", inputs.PIXEL_SAMPLE_RATE, "auto")
        if mode != "files":
            raise RuntimeError(f"pixel check would sample by {mode}, not by file")

    def _call(self, spark, df):
        return _validate(spark, df, self.schema,
                         options=StatsOptions(categorical_features={"fmt"}),
                         check_pixels=True, pixel_sample_rate=inputs.PIXEL_SAMPLE_RATE)

    def warm_up(self, spark) -> None:
        # the full table: after a call on a sample, the first full-size call
        # still ran 15-25% slower than the next ones
        self._call(spark, self.df)

    def op(self, spark):
        return self._call(spark, self.df)

    def check(self, r) -> list[str]:
        problems = []
        if not r.passed:
            problems.append(f"validation failed: {[a.to_dict() for a in r.anomalies.anomalies]}")
        if r.num_examples != self.size:
            problems.append(f"num_examples {r.num_examples} != {self.size}")
        if r.violation_counts:
            problems.append(f"unexpected violations {r.violation_counts}")
        return problems

    def rows(self, r) -> int:
        return r.num_examples

    def partition_s(self, r, wall: float) -> float:
        return wall  # one partition: the whole table

    def op_metrics(self, r) -> dict:
        return {"validate.rowlevel.violation_rows": sum(r.violation_counts.values())}

    def instrument(self, tracer) -> None:
        _instrument_pipeline(tracer)

    def standalone(self, spark, tracer) -> dict:
        from data_validation_spark.validate import rowlevel

        out = _row_checks(spark, tracer, self.df, self.schema)
        out["validate.rowlevel.pixel_s"] = _timed_span(
            tracer, "validate.rowlevel.pixel",
            lambda: _noop(rowlevel.check_pixel_integrity(
                self.df, sample_rate=inputs.PIXEL_SAMPLE_RATE)))
        sampled, _mode = rowlevel._pixel_source(
            self.df, "image_id", "bytes", inputs.PIXEL_SAMPLE_RATE, "auto")
        with tracer.layer("bench"):
            out["validate.rowlevel.pixel_rows_decoded"] = sampled.count()
        # on-disk size of the files the pixel pass scans: a file-grain sample
        # reads only the kept files, a row sample reads them all
        out["validate.rowlevel.pixel_input_bytes"] = sum(
            os.path.getsize(unquote(urlparse(f).path)) for f in sampled.inputFiles())
        out.update(_dedup_layers(spark, tracer, self.work, self.seed))
        return out


class ImagesPartitioned(Workload):
    name = "images_partitioned"
    size = 1_000
    # the first operation after the warm-up runs 10-40% slower than the next
    # ones. Over ten runs, run_s spread (quartiles ÷ median) 0.18 for one
    # operation, 0.12 for the median of two and 0.11 of three, which costs
    # 14 s more a run
    min_ops = 2

    def prepare(self, spark, work: str, seed: int) -> None:
        self.dir = inputs.partitioned_table(spark, work, inputs.image_instance(seed),
                                            self.size)
        self.table = os.path.join(self.dir, "iceberg")
        self.ledgers = os.path.join(work, "ledgers")
        with open(os.path.join(self.dir, "expected.json")) as f:
            self.expected = json.load(f)

    def open(self, spark) -> None:
        from data_validation_spark.stats.result import DatasetStatsList

        with open(os.path.join(self.dir, "prev_stats.json")) as f:
            self.prev = DatasetStatsList.from_json(f.read())
        self.schema = pipeline.default_image_schema()

    def _options(self):
        return StatsOptions(categorical_features={"fmt"}, use_sketches=True)

    def warm_up(self, spark) -> None:
        from data_validation_spark.io import iceberg_native

        sample = iceberg_native.read_table(spark, self.table).sample(fraction=0.1, seed=1)
        _validate(spark, sample, self.schema, prev_stats=self.prev, options=self._options())

    def op(self, spark):
        from data_validation_spark.io.checkpoint import run_iceberg_partitioned

        ledger = os.path.join(self.ledgers, uuid.uuid4().hex)
        records = run_iceberg_partitioned(
            spark, self.table, self.schema, ledger,
            prev_stats_for=lambda part: self.prev,
            validate_fn=_validate, options=self._options(),
        )
        return {"records": records, "ledger": ledger}

    def check(self, r) -> list[str]:
        problems = []
        recs = r["records"]
        if len(recs) != inputs.PARTITIONS:
            problems.append(f"{len(recs)} partitions, expected {inputs.PARTITIONS}")
        bad = [p for p, rec in recs.items() if rec.status != "failed_validation"]
        if bad:
            problems.append(f"partitions not failed_validation: {bad}")
        rows = sum(rec.num_examples for rec in recs.values())
        if rows != self.expected["rows"]:
            problems.append(f"{rows} rows after deletes, expected {self.expected['rows']}")
        got: dict = {}
        for rec in recs.values():
            for k, v in rec.metrics["violation_counts"].items():
                got[k] = got.get(k, 0) + v
        if got != self.expected["violations"]:
            problems.append(f"violations {got} != expected {self.expected['violations']}")
        drift = {"COMPARATOR_L_INFTY_HIGH", "COMPARATOR_JENSEN_SHANNON_DIVERGENCE_HIGH"}
        for path in glob.glob(os.path.join(r["ledger"], "anomalies_*.json")):
            with open(path) as f:
                found = {a["type"] for a in json.load(f)["anomalies"] if a["feature"] == "fmt"}
            if not found & drift:
                problems.append(f"no fmt drift anomaly in {os.path.basename(path)}")
        if len(glob.glob(os.path.join(r["ledger"], "anomalies_*.json"))) != len(recs):
            problems.append("ledger is missing anomaly artifacts")
        return problems

    def rows(self, r) -> int:
        return sum(rec.num_examples for rec in r["records"].values())

    def partition_s(self, r, wall: float) -> float:
        durations = [rec.duration_sec for rec in r["records"].values()]
        return statistics.median(durations) if durations else wall

    def op_metrics(self, r) -> dict:
        size = sum(os.path.getsize(p) for p in glob.glob(os.path.join(r["ledger"], "*")))
        violations = sum(sum(rec.metrics["violation_counts"].values())
                         for rec in r["records"].values())
        return {"io.checkpoint.bytes_written": size,
                "validate.rowlevel.violation_rows": violations}

    def done(self, spark, r) -> dict:
        if r is not None:
            shutil.rmtree(r["ledger"], ignore_errors=True)
        return {}

    def instrument(self, tracer) -> None:
        from data_validation_spark.io import iceberg_native
        from data_validation_spark.io.checkpoint import CheckpointLedger

        _instrument_pipeline(tracer)
        tracer.wrap(iceberg_native, "plan_scan", "io.iceberg_native.plan_scan",
                    on_result=lambda res: {"data_files": len(res[0]),
                                           "delete_files": len(res[1])})
        tracer.wrap(CheckpointLedger, "save_artifacts", "io.checkpoint.write")
        tracer.wrap(CheckpointLedger, "record", "io.checkpoint.write")

    def standalone(self, spark, tracer) -> dict:
        from data_validation_spark.io import iceberg_native

        df = iceberg_native.read_table(spark, self.table)
        return _row_checks(spark, tracer, df, self.schema)


class DocsDedup(Workload):
    name = "docs_dedup"
    size = 10_000
    threshold = 0.5
    radius = 3
    build_in_jvm = False  # a numpy corpus, built on the driver

    def tag(self, seed: int) -> str:
        return f"s{seed}"

    def prepare(self, spark, work: str, seed: int) -> None:
        self.dir = inputs.docs_corpus(work, seed, self.size)
        with open(os.path.join(self.dir, "clusters.json")) as f:
            clusters = json.load(f)
        self.planted = {(min(a, b), max(a, b))
                        for c in clusters for i, a in enumerate(c) for b in c[i + 1:]}
        self.copies = {(min(c[0], c[1]), max(c[0], c[1])) for c in clusters}
        self.seed = seed
        table = pq.read_table(os.path.join(self.dir, "table")).to_pydict()
        self.text_of = dict(zip(table["doc_id"], table["text"]))  # for the recheck

    def open(self, spark) -> None:
        self.docs = spark.read.parquet(os.path.join(self.dir, "table"))

    def _call(self, spark, docs):
        from data_validation_spark.dedup.minhash import minhash_lsh_candidates, verify_jaccard
        from data_validation_spark.dedup.simhash import simhash_near_dups

        cand = minhash_lsh_candidates(docs, "doc_id", "text", num_hashes=64, bands=16)
        with self._layer("dedup.minhash"):
            verified = verify_jaccard(cand, docs, "doc_id", "text",
                                      threshold=self.threshold).collect()
        with self._layer("dedup.simhash"):
            pairs = simhash_near_dups(docs, "doc_id", "text", radius=self.radius).collect()
        return {"verified": verified, "simhash": pairs}

    def _release(self, spark) -> int:
        """Persisted RDDs left behind by the last call; then drop them, so no
        call feeds the next one a cache hit."""
        leaked = len(spark.sparkContext._jsc.getPersistentRDDs())
        spark.catalog.clearCache()
        return leaked

    def warm_up(self, spark) -> None:
        self._call(spark, self.docs.sample(fraction=0.25, seed=1))
        self._release(spark)

    def op(self, spark):
        return self._call(spark, self.docs)

    def done(self, spark, r) -> dict:
        return {"dedup.minhash.leaked_persists": self._release(spark)}

    def check(self, r) -> list[str]:
        problems = []
        verified = {(row["id_a"], row["id_b"]): row["jaccard"] for row in r["verified"]}
        missed = self.planted - set(verified)
        if missed:
            problems.append(f"{len(missed)} planted pairs not verified, e.g. {sorted(missed)[:3]}")
        for a, b in random.Random(self.seed).sample(sorted(verified), min(200, len(verified))):
            exact = _jaccard(self.text_of[a], self.text_of[b])
            if exact < self.threshold or abs(exact - verified[(a, b)]) > 1e-9:
                problems.append(f"pair {(a, b)}: engine {verified[(a, b)]}, recheck {exact}")
                break
        sim = {(row["id_a"], row["id_b"]): row["hamming"] for row in r["simhash"]}
        if self.copies - set(sim):
            problems.append(f"{len(self.copies - set(sim))} exact copies missed by simhash")
        if any(h > self.radius for h in sim.values()):
            problems.append("simhash pair beyond the radius")
        return problems

    def rows(self, r) -> int:
        return self.size

    def partition_s(self, r, wall: float) -> float:
        return wall

    def op_metrics(self, r) -> dict:
        return {"dedup.minhash.verified": len(r["verified"]),
                "dedup.simhash.pairs": len(r["simhash"])}

    def standalone(self, spark, tracer) -> dict:
        from data_validation_spark.dedup.minhash import (
            minhash_lsh_candidates, minhash_signatures, verify_jaccard)
        from data_validation_spark.dedup.simhash import (
            simhash_fingerprints, simhash_near_dups_from_fingerprints)

        docs = self.docs
        out = {}
        out["dedup.minhash.signatures_s"] = _timed_span(
            tracer, "dedup.minhash.signatures",
            lambda: _noop(minhash_signatures(docs, "doc_id", "text", 64)))
        t0 = time.perf_counter()
        cand = _timed_layer(tracer, "dedup.minhash.candidates", lambda: minhash_lsh_candidates(
            docs, "doc_id", "text", num_hashes=64, bands=16).collect())
        out["dedup.minhash.candidates_s"] = time.perf_counter() - t0
        out["dedup.minhash.candidates"] = len(cand)
        cand_df = spark.createDataFrame(cand, "id_a long, id_b long")
        out["dedup.minhash.verify_s"] = _timed_span(
            tracer, "dedup.minhash.verify",
            lambda: _noop(verify_jaccard(cand_df, docs, "doc_id", "text",
                                         threshold=self.threshold)))
        self._release(spark)
        out["dedup.simhash.fingerprints_s"] = _timed_span(
            tracer, "dedup.simhash.fingerprints",
            lambda: _noop(simhash_fingerprints(docs, "doc_id", "text")))
        with tracer.layer("bench"):
            fps = simhash_fingerprints(docs, "doc_id", "text").collect()
        fp_df = spark.createDataFrame(fps, "id long, fingerprint long").where("fingerprint != 0")
        out["dedup.simhash.pairs_s"] = _timed_span(
            tracer, "dedup.simhash.pairs",
            lambda: _noop(simhash_near_dups_from_fingerprints(fp_df, radius=self.radius)))
        return out


WORKLOADS = {w.name: w for w in (ImagesValidate, ImagesPartitioned, DocsDedup)}


def _dedup_layers(spark, tracer, work: str, seed: int) -> dict:
    """The dedup layers, measured in the traced run of ``images_validate``:
    the time budget leaves no room for ``docs_dedup`` among the workloads the
    benchmark lists, so its operation runs here once, checked, followed by
    its standalone calls. A wrong result raises."""
    dd = DocsDedup()
    dd.prepare(spark, work, seed)
    dd.open(spark)
    dd.tracer = tracer
    result = dd.op(spark)
    problems = dd.check(result)
    out = dd.done(spark, result)
    if problems:
        raise RuntimeError("docs_dedup: " + "; ".join(problems))
    out.update(dd.op_metrics(result))
    out.update(dd.standalone(spark, tracer))
    return out


# ------------------------------------------------------------------ helpers --
def _timed_span(tracer, name, fn) -> float:
    t0 = time.perf_counter()
    _timed_layer(tracer, name, fn)
    return time.perf_counter() - t0


def _instrument_pipeline(tracer) -> None:
    tracer.wrap(pipeline, "validate_images", "pipeline")
    # the stats pass and rule evaluation as bound inside pipeline
    tracer.wrap(pipeline, "compute_statistics", "stats.engine")
    tracer.wrap(pipeline, "validate_statistics", "validate.rules",
                on_result=lambda a: {"anomalies": len(a.anomalies)})


def _row_checks(spark, tracer, df, schema) -> dict:
    from data_validation_spark.validate import rowlevel

    return {
        "validate.rowlevel.uniqueness_s": _timed_span(
            tracer, "validate.rowlevel.uniqueness",
            lambda: _noop(rowlevel.check_uniqueness(df, "image_id"))),
        "validate.rowlevel.constraints_s": _timed_span(
            tracer, "validate.rowlevel.constraints",
            lambda: _noop(rowlevel.check_row_constraints(df, schema, "image_id"))),
    }


def _shingles(text: str, k: int = 3) -> set:
    words = text.split()
    if len(words) >= k:
        return {" ".join(words[i:i + k]) for i in range(len(words) - k + 1)}
    return {" ".join(words)} if words else set()


def _jaccard(text_a: str, text_b: str) -> float:
    a, b = _shingles(text_a), _shingles(text_b)
    return len(a & b) / len(a | b) if a | b else 0.0
