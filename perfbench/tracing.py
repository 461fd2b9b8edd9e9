"""Tracing from outside the program: spans around the public functions a
workload calls into, and Spark's event log for job, task, shuffle and spill
numbers.

Jobs are attributed to layers by call site. Spark's own Python call site is
unusable here: only ``collect`` records it, and pyspark guards it with a
process-wide depth counter, so concurrent branches overwrite or skip it. The
tracer therefore patches the DataFrame actions to put the calling source line
into a local property of the calling thread (``perfbench.site``); Spark copies
local properties into every job and stage of that action, including the
broadcast and AQE jobs it spawns. Job tags cannot do this: pool threads do not
inherit local properties, but an action's own thread always runs it.
"""

from __future__ import annotations

import functools
import glob
import json
import linecache
import os
import sys
import threading
import time
from contextlib import contextmanager

import pyspark

SITE_PROPERTY = "perfbench.site"
_PYSPARK_DIR = os.path.dirname(pyspark.__file__)
# frames a call site is never taken from: the action wrappers themselves and
# the cached_property machinery that calls one of them
_SKIP_FILES = {os.path.abspath(__file__), os.path.abspath(functools.__file__)}

# Source file (relative to the package) → layer. Longest match wins.
_FILE_LAYERS = {
    "stats/": "stats.engine",
    "stats/sketches/": "stats.sketches",
    "validate/rowlevel.py": "validate.rowlevel",
    "validate/": "validate.rules",
    "io/iceberg_native.py": "io.iceberg_native",
    "io/checkpoint.py": "io.checkpoint",
    "dedup/minhash.py": "dedup.minhash",
    "dedup/simhash.py": "dedup.simhash",
    "datagen.py": "session",
    "pipeline.py": "pipeline",
}


def layer_of_site(site: str | None) -> str | None:
    """Layer of a recorded call site: ``layer:<name>`` as set by
    ``Tracer.layer``, or ``<file>:<line>`` inside the package."""
    if not site:
        return None
    if site.startswith("layer:"):
        return site[6:]
    path, _, line = site.rpartition(":")
    marker = os.sep + "data_validation_spark" + os.sep
    if marker not in path:
        return None
    rel = path.split(marker, 1)[1].replace(os.sep, "/")
    best = max((k for k in _FILE_LAYERS if rel.startswith(k)), key=len, default=None)
    if best is None:
        return None
    layer = _FILE_LAYERS[best]
    if layer == "pipeline" and "summarize_violations" in linecache.getline(path, int(line)):
        return "validate.rowlevel"  # the row-check branch's one action
    return layer


def top_layer(layer: str | None) -> str | None:
    """``dedup.minhash.signatures`` → ``dedup.minhash``; layers are two-part
    names except ``session`` and ``pipeline``."""
    if layer is None:
        return None
    parts = layer.split(".")
    return parts[0] if parts[0] in ("session", "pipeline") else ".".join(parts[:2])


class Tracer:
    """Spans kept in memory; patches installed by ``wrap`` and ``record_sites``
    are undone by ``restore``."""

    def __init__(self):
        self.spans: list[dict] = []
        self._patches: list[tuple] = []
        self._local = threading.local()
        self._lock = threading.Lock()

    def _record(self, name, t0, t1, attrs):
        with self._lock:
            self.spans.append({"name": name, "t0": t0, "t1": t1, **attrs})

    @contextmanager
    def span(self, name: str, **attrs):
        t0 = time.time()
        try:
            yield attrs
        finally:
            self._record(name, t0, time.time(), attrs)

    def wrap(self, owner, attr: str, name: str, on_result=None):
        """Replace ``owner.attr`` with a spanned wrapper; ``on_result(result)``
        returns extra span attributes."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            t0 = time.time()
            attrs: dict = {}
            try:
                result = orig(*args, **kwargs)
                if on_result is not None:
                    attrs = on_result(result)
                return result
            finally:
                self._record(name, t0, time.time(), attrs)

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    @contextmanager
    def layer(self, name: str):
        """Attribute the actions this thread runs inside the block to ``name``."""
        self._local.layer = name
        try:
            yield
        finally:
            self._local.layer = None

    def _site(self) -> str:
        forced = getattr(self._local, "layer", None)
        if forced:
            return "layer:" + forced
        frame = sys._getframe(1)
        while frame is not None:
            path = frame.f_code.co_filename
            if not path.startswith(_PYSPARK_DIR) and os.path.abspath(path) not in _SKIP_FILES:
                return f"{path}:{frame.f_lineno}"
            frame = frame.f_back
        return ""

    def record_sites(self, sc):
        """Patch the DataFrame calls that run jobs in the package and the
        workloads."""
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

        def patch(cls, attr):
            orig = cls.__dict__[attr]
            cached = isinstance(orig, functools.cached_property)
            call = orig.func if cached else orig

            @functools.wraps(call)
            def action(obj, *args, **kwargs):
                sc.setLocalProperty(SITE_PROPERTY, self._site())
                try:
                    return call(obj, *args, **kwargs)
                finally:
                    sc.setLocalProperty(SITE_PROPERTY, None)

            if cached:
                action = functools.cached_property(action)
                action.__set_name__(cls, attr)
            setattr(cls, attr, action)
            self._patches.append((cls, attr, orig))

        for attr in ("collect", "count", "toPandas", "toLocalIterator"):
            patch(DataFrame, attr)
        # converting an adaptive plan to an RDD runs its shuffle and broadcast
        # stages, outside any SQL execution
        patch(DataFrame, "rdd")
        for attr in ("save", "parquet"):
            patch(DataFrameWriter, attr)
        # opening parquet files can run listing and footer jobs
        patch(DataFrameReader, "parquet")

    def restore(self):
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)


# ------------------------------------------------------------- event log ---
def event_log_conf(directory: str) -> dict:
    os.makedirs(directory, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + os.path.abspath(directory),
        # Spark 4.1 zstd-compresses and rolls event logs by default
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def read_event_log(directory: str) -> tuple[list[dict], dict[int, dict]]:
    """(jobs, stages) from the single finished event log in ``directory``.

    A job: id, submit/end (epoch s), site. A stage: site plus summed task
    metrics (run_s, gc_s, input_rows, shuffle_write_bytes, spill_bytes). Input
    rows, not bytes: Spark's ``Bytes Read`` counts about 3 bytes a row for the
    vectorized parquet reader, whatever the columns read.
    """
    (path,) = glob.glob(os.path.join(directory, "*"))
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}

    def stage(sid):
        return stages.setdefault(sid, {"site": None, "run_s": 0.0, "gc_s": 0.0,
                                       "input_rows": 0, "shuffle_write_bytes": 0,
                                       "spill_bytes": 0, "tasks": 0})

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "id": ev["Job ID"],
                    "submit": ev["Submission Time"] / 1000.0,
                    "end": None,
                    "site": props.get(SITE_PROPERTY),
                    "stages": ev.get("Stage IDs", []),
                }
            elif kind == "SparkListenerJobEnd":
                job = jobs.get(ev["Job ID"])
                if job is not None:
                    job["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageSubmitted":
                props = ev.get("Properties") or {}
                stage(ev["Stage Info"]["Stage ID"])["site"] = props.get(SITE_PROPERTY)
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                s = stage(ev["Stage ID"])
                s["tasks"] += 1
                s["run_s"] += m.get("Executor Run Time", 0) / 1000.0
                s["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                s["input_rows"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
                s["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                s["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0)
    for j in jobs.values():
        if j["end"] is None:
            j["end"] = j["submit"]
    return sorted(jobs.values(), key=lambda j: j["id"]), stages


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total
