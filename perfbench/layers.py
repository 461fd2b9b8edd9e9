"""Per-layer metrics of one traced operation, from its spans and the Spark jobs
submitted inside its time window (operations run one at a time, so every job
in the window belongs to it)."""

from __future__ import annotations

from perfbench.tracing import layer_of_site, top_layer, union_length

# Every per-layer metric, with its unit; a workload that never enters a layer
# reports 0 for it.
UNITS = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "io.iceberg_native.plan_scan_s": "s",
    "io.iceberg_native.data_files": "count",
    "io.iceberg_native.delete_files": "count",
    "io.checkpoint.write_s": "s",
    "io.checkpoint.bytes_written": "bytes",
    "pipeline.wall_s": "s",
    "pipeline.calls": "count",
    "pipeline.spark_idle_s": "s",
    "pipeline.job_overlap": "ratio",
    "pipeline.critical_path_ratio": "ratio",
    "stats.engine.wall_s": "s",
    "stats.engine.jobs": "count",
    "stats.engine.task_s": "s",
    "stats.engine.input_rows": "count",
    "stats.engine.shuffle_write_bytes": "bytes",
    "stats.engine.assembly_s": "s",
    "stats.sketches.task_s": "s",
    "stats.sketches.partial_bytes": "bytes",
    "stats.sketches.merge_task_s": "s",
    "validate.rules.wall_s": "s",
    "validate.rules.anomalies": "count",
    "validate.rowlevel.jobs": "count",
    "validate.rowlevel.task_s": "s",
    "validate.rowlevel.shuffle_write_bytes": "bytes",
    "validate.rowlevel.violation_rows": "count",
    "validate.rowlevel.uniqueness_s": "s",
    "validate.rowlevel.constraints_s": "s",
    "validate.rowlevel.pixel_s": "s",
    "validate.rowlevel.pixel_rows_decoded": "count",
    "validate.rowlevel.pixel_input_bytes": "bytes",
    "dedup.minhash.signatures_s": "s",
    "dedup.minhash.candidates_s": "s",
    "dedup.minhash.verify_s": "s",
    "dedup.minhash.candidates": "count",
    "dedup.minhash.verified": "count",
    "dedup.minhash.candidate_precision": "ratio",
    "dedup.minhash.leaked_persists": "count",
    "dedup.simhash.fingerprints_s": "s",
    "dedup.simhash.pairs_s": "s",
    "dedup.simhash.pairs": "count",
    "spark.jobs": "count",
    "spark.task_s": "s",
    "spark.gc_s": "s",
    "spark.spill_bytes": "bytes",
    "trace.overhead_ratio": "ratio",
    "trace.unattributed_jobs": "count",
}

_STAGE_LAYERS = ("stats.engine", "stats.sketches", "validate.rowlevel")
_PAD = 0.005  # event-log times are whole milliseconds


def _dur(span) -> float:
    return span["t1"] - span["t0"]


def _inside(span, outer) -> bool:
    return span["t0"] >= outer["t0"] - _PAD and span["t1"] <= outer["t1"] + _PAD


def op_metrics(window: dict, spans: list, jobs: list, stages: dict) -> dict:
    """Metrics of the operation that ran over ``window`` ({t0, t1})."""
    js = [j for j in jobs if window["t0"] - _PAD <= j["submit"] <= window["t1"] + _PAD]
    for j in js:
        j["layer"] = top_layer(layer_of_site(j["site"]))
    sp = [s for s in spans if _inside(s, window)]

    def named(name, within=None):
        return [s for s in sp if s["name"] == name and (within is None or _inside(s, within))]

    m = {"spark.jobs": len(js),
         "trace.unattributed_jobs": sum(j["layer"] is None for j in js)}

    stage_ids = {sid for j in js for sid in j["stages"] if sid in stages}
    by_layer: dict = {}
    for sid in stage_ids:
        s = stages[sid]
        by_layer.setdefault(top_layer(layer_of_site(s["site"])), []).append(s)
    every = [s for ss in by_layer.values() for s in ss]
    m["spark.task_s"] = sum(s["run_s"] for s in every)
    m["spark.gc_s"] = sum(s["gc_s"] for s in every)
    m["spark.spill_bytes"] = sum(s["spill_bytes"] for s in every)
    for layer in _STAGE_LAYERS:
        ss = by_layer.get(layer, [])
        m[f"{layer}.task_s"] = sum(s["run_s"] for s in ss)
        if layer != "stats.sketches":
            m[f"{layer}.jobs"] = sum(j["layer"] == layer for j in js)
            m[f"{layer}.shuffle_write_bytes"] = sum(s["shuffle_write_bytes"] for s in ss)
    m["stats.engine.input_rows"] = sum(s["input_rows"] for s in by_layer.get("stats.engine", []))
    sketch = by_layer.get("stats.sketches", [])
    m["stats.sketches.partial_bytes"] = sum(s["shuffle_write_bytes"] for s in sketch)
    m["stats.sketches.merge_task_s"] = sum(
        s["run_s"] for s in sketch if s["shuffle_write_bytes"] == 0)

    stats_spans = named("stats.engine")
    m["stats.engine.wall_s"] = sum(map(_dur, stats_spans))
    assembly = 0.0
    for s in stats_spans:
        ends = [j["end"] for j in js if j["layer"] in ("stats.engine", "stats.sketches")
                and s["t0"] - _PAD <= j["end"] <= s["t1"] + _PAD]
        assembly += s["t1"] - max(ends, default=s["t0"])
    m["stats.engine.assembly_s"] = assembly

    rules = named("validate.rules")
    m["validate.rules.wall_s"] = sum(map(_dur, rules))
    m["validate.rules.anomalies"] = sum(s.get("anomalies", 0) for s in rules)

    plans = named("io.iceberg_native.plan_scan")
    m["io.iceberg_native.plan_scan_s"] = sum(map(_dur, plans))
    m["io.iceberg_native.data_files"] = sum(s.get("data_files", 0) for s in plans)
    m["io.iceberg_native.delete_files"] = sum(s.get("delete_files", 0) for s in plans)
    m["io.checkpoint.write_s"] = sum(map(_dur, named("io.checkpoint.write")))

    # pipeline: idle = span time with no Spark job running and no child layer
    # (stats pass, rule evaluation) open; critical path = the longer of the
    # two concurrent branches + rules + idle
    wall = idle = overlap = critical = 0.0
    calls = named("pipeline")
    intervals = [(j["submit"], j["end"]) for j in js]
    for p in calls:
        children = named("stats.engine", p) + named("validate.rules", p)
        covered = union_length(intervals + [(c["t0"], c["t1"]) for c in children],
                               p["t0"], p["t1"])
        p_idle = _dur(p) - covered
        overlap += sum(max(0.0, min(b, p["t1"]) - max(a, p["t0"])) for a, b in intervals)
        stats_branch = sum(map(_dur, named("stats.engine", p)))
        row_ends = [j["end"] for j in js
                    if j["layer"] == "validate.rowlevel" and p["t0"] <= j["submit"] <= p["t1"]]
        row_branch = max(row_ends, default=p["t0"]) - p["t0"]
        critical += (max(stats_branch, row_branch)
                     + sum(map(_dur, named("validate.rules", p))) + p_idle)
        wall += _dur(p)
        idle += p_idle
    m["pipeline.wall_s"] = wall
    m["pipeline.calls"] = len(calls)
    m["pipeline.spark_idle_s"] = idle
    m["pipeline.job_overlap"] = overlap / wall if wall else 0.0
    m["pipeline.critical_path_ratio"] = critical / wall if wall else 0.0
    return m

