"""Benchmark entry point. From the repository root:

    python3 perfbench/run.py --workload images_validate --seed 1 --seconds 10 --trace 0

Builds (or reuses) the seeded inputs, sets up a ``local[<nproc>]`` session,
runs the workload as a closed loop for ``--seconds`` and prints, as the last
line of standard output, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. Lines before it give the host block and
each metric by name and unit. See README.md.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, "perfbench", ".work")

END_TO_END = {"run_s": "s", "rows_per_s": "rows/s", "partition_p50_s": "s",
              "setup_s": "s", "peak_rss_mb": "MB", "ok_ratio": "ratio"}


def _environment() -> None:
    """Keep every file the run writes inside the checkout, and let Python
    workers import the package from any working directory."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_DRIVER_MEMORY"] = "1g"


def _vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _loop(spark, wl, seconds: float, tracer=None) -> list[dict]:
    """Closed loop: operations back to back until ``seconds`` have passed
    and the workload's ``min_ops`` have run. A failed or wrong operation is
    counted, not fatal."""
    ops = []
    deadline = time.perf_counter() + seconds
    while True:
        rec = {"t0": time.time(), "ok": False, "metrics": {}}
        result = None
        start = time.perf_counter()
        try:
            if tracer is None:
                result = wl.op(spark)
            else:
                with tracer.span("op"):
                    result = wl.op(spark)
            rec["wall"] = time.perf_counter() - start
            rec["t1"] = time.time()
            problems = wl.check(result)
            for p in problems:
                print(f"check failed: {p}", file=sys.stderr)
            rec["ok"] = not problems
            rec["rows"] = wl.rows(result)
            rec["partition_s"] = wl.partition_s(result, rec["wall"])
            rec["metrics"] = wl.op_metrics(result)
        except Exception:
            traceback.print_exc()
            rec.setdefault("wall", time.perf_counter() - start)
            rec.setdefault("t1", time.time())
        rec["metrics"].update(wl.done(spark, result))
        ops.append(rec)
        if time.perf_counter() >= deadline and len(ops) >= wl.min_ops:
            return ops


def _median_of(ops, key):
    vals = [o[key] for o in ops if o["ok"] and key in o] or [o[key] for o in ops if key in o]
    return statistics.median(vals) if vals else 0.0


def _shutdown(spark) -> None:
    """Stop Spark and the JVM it started, and wait for the JVM to end."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = gateway.proc
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def _become_subreaper() -> None:
    """Make this process the parent of every orphaned descendant (Linux
    ``PR_SET_CHILD_SUBREAPER``), so ``_reap_descendants`` can wait for all of
    them: the Python workers the JVM forks outlive it by a moment."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass  # without it, orphans go to init and only children are waited for


def _children() -> list[int]:
    me = str(os.getpid())
    kids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # "pid (comm) state ppid ...", and comm may hold spaces or parentheses
        if stat.rsplit(")", 1)[1].split()[1] == me:
            kids.append(int(entry))
    return kids


def _reap_descendants(grace_s: float = 5.0) -> None:
    """Wait until every process this run started has ended: a grace period
    to end on its own, then SIGTERM, then SIGKILL."""
    start = time.monotonic()
    while True:
        while True:
            try:
                pid, _status = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                return  # no child left, and orphans would have become children
            if pid == 0:
                break
        waited = time.monotonic() - start
        if waited > grace_s:
            sig = signal.SIGKILL if waited > 2 * grace_s else signal.SIGTERM
            for pid in _children():
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--build-only", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if args.seed < 0:
        ap.error("--seed must be >= 0")

    # perfbench/ itself must not shadow standard modules; import it as a package
    sys.path[0] = ROOT
    _environment()
    try:
        import data_validation_spark  # noqa: F401
    except ImportError as exc:
        print(f"cannot import the program under test: {exc}", file=sys.stderr)
        return 2
    from data_validation_spark import datagen
    from data_validation_spark.session import get_spark
    from perfbench import host, layers, tracing
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]()
    nproc = len(os.sched_getaffinity(0))
    if not args.build_only:
        if wl.build_in_jvm and not wl.built(WORK, args.seed):
            # Build in a process of its own: generating inputs in the measured
            # JVM leaves it with a larger heap and other JIT state, which
            # measurably slows the operations that follow.
            subprocess.run([sys.executable, os.path.abspath(__file__), "--build-only",
                            "--workload", args.workload, "--seed", str(args.seed),
                            "--seconds", "0"], check=True)
        print(json.dumps({"host": host.probe()}), flush=True)

    tmp = os.path.join(WORK, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Djava.net.preferIPv4Stack=true -Djava.io.tmpdir={tmp}",
    }
    events = os.path.join(WORK, "eventlog", f"{os.getpid()}-{time.time_ns()}")
    if args.trace:
        conf.update(tracing.event_log_conf(events))

    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{wl.name}", master=f"local[{nproc}]",
                      extra_conf=conf)
    start_s = time.perf_counter() - t0
    try:
        spark.sparkContext.setLogLevel("ERROR")
        jvm_pid = spark.sparkContext._gateway.proc.pid
        wl.prepare(spark, WORK, args.seed)  # cached inputs: not part of set-up
        if args.build_only:
            return 0
        t1 = time.perf_counter()
        wl.open(spark)
        try:
            wl.warm_up(spark)
        except Exception:
            traceback.print_exc()  # the operations will fail and be counted
        setup_s = start_s + time.perf_counter() - t1

        if args.trace:
            # the package's generic warm-up, timed on its own; the end-to-end
            # set-up leaves it out (see README.md)
            t1 = time.perf_counter()
            datagen.warm_session(spark)
            warmup_s = time.perf_counter() - t1
        ops = _loop(spark, wl, args.seconds)
        if args.trace:
            tracer = tracing.Tracer()
            wl.instrument(tracer)
            wl.tracer = tracer
            tracer.record_sites(spark.sparkContext)
            try:
                traced = _loop(spark, wl, args.seconds, tracer)
                try:
                    standalone = wl.standalone(spark, tracer)
                except Exception:
                    traceback.print_exc()  # counted as one failed operation
                    standalone = None
            finally:
                tracer.restore()
        peak_mb = _vm_hwm_mb("self") + _vm_hwm_mb(jvm_pid)
    finally:
        _shutdown(spark)

    attempted = len(ops) + (len(traced) + 1 if args.trace else 0)
    failed = sum(not o["ok"] for o in ops) + (
        sum(not o["ok"] for o in traced) + (standalone is None) if args.trace else 0)
    if args.trace:
        jobs, stages = tracing.read_event_log(events)
        shutil.rmtree(events, ignore_errors=True)
        per_op = []
        for o in traced:
            m = layers.op_metrics(o, tracer.spans, jobs, stages)
            m.update(o["metrics"])
            per_op.append(m)
        values = {k: 0.0 for k in layers.UNITS}
        for k in {k for m in per_op for k in m}:
            values[k] = statistics.median(m.get(k, 0.0) for m in per_op)
        values.update(standalone or {})
        if values["dedup.minhash.candidates"]:
            values["dedup.minhash.candidate_precision"] = (
                values["dedup.minhash.verified"] / values["dedup.minhash.candidates"])
        values["session.start_s"] = start_s
        values["session.warmup_s"] = warmup_s
        values["trace.overhead_ratio"] = _median_of(traced, "wall") / _median_of(ops, "wall")
        metrics = {k: {"value": values[k], "unit": u} for k, u in layers.UNITS.items()}
    else:
        metrics = {k: {"unit": u} for k, u in END_TO_END.items()}
        metrics["run_s"]["value"] = _median_of(ops, "wall")
        for o in ops:
            o["rate"] = o.get("rows", 0) / o["wall"]
        metrics["rows_per_s"]["value"] = _median_of(ops, "rate")
        metrics["partition_p50_s"]["value"] = _median_of(ops, "partition_s")
        metrics["setup_s"]["value"] = setup_s
        metrics["peak_rss_mb"]["value"] = peak_mb
        metrics["ok_ratio"]["value"] = (attempted - failed) / attempted

    print("operations_s " + " ".join(f"{o['wall']:.3f}" for o in ops))
    for name, m in metrics.items():
        print(f"{name} {m['value']} {m['unit']}")
    print(f"failed_ratio {failed / attempted} ratio")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    _become_subreaper()
    try:
        code = main()
    finally:
        _reap_descendants()
    sys.exit(code)
