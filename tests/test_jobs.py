"""The job runner: every concurrent fan-out goes through ``jobs.run_parallel``,
which passes the caller's local properties to its threads, tags each
branch's jobs, and cancels the siblings of a failed branch."""

import pathlib
import re
import time
import uuid

import pytest
from pyspark.sql import functions as F

from data_validation_spark.jobs import run_parallel
from data_validation_spark.util import persisted

ROOT = pathlib.Path(__file__).resolve().parents[1]
# a slow task sleeps this long; a cancelled call must return well before
SLOW_TASK_S = 60


def _tags(job) -> set:
    tags = job.jobTags()
    return {tags.apply(i) for i in range(tags.size())}


def _settle(sc):
    """Let the status store catch up with every job event posted so far."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()


def _job(sc, job_id):
    return sc._jsc.sc().statusStore().job(job_id)


def _persisted_rdds(sc) -> set:
    return set(sc._jsc.getPersistentRDDs().keys())


def _wait_for_active_tags(sc, wanted: set, timeout_s: float = 60) -> None:
    """Block until running jobs carry every tag in ``wanted``."""
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        active = set()
        for job_id in sc.statusTracker().getActiveJobsIds():
            active |= _tags(_job(sc, job_id))
        if wanted <= active:
            return
        time.sleep(0.1)
    raise AssertionError(f"jobs tagged {wanted} never started")


def _assert_settled(sc, rdds_before: set) -> None:
    _settle(sc)
    assert sc.statusTracker().getActiveJobsIds() == []
    assert _persisted_rdds(sc) == rdds_before


def _sleep_batches(batches):
    for b in batches:
        time.sleep(SLOW_TASK_S)
        yield b


def test_validate_images_jobs_tagged_and_in_callers_group(spark):
    """Every job of one validate_images call is in the caller's job group and
    carries the caller's tag plus a layer tag; nested fan-outs (pipeline →
    engine, pipeline → NL text statistics) carry the outer branch's tag."""
    from data_validation_spark.datagen import images_df
    from data_validation_spark.pipeline import default_image_schema, validate_images
    from data_validation_spark.schema import NaturalLanguageDomain, TokenConstraint

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    df = images_df(spark, 300, "dirty", partitions=4)
    schema = default_image_schema()
    schema.get_feature("caption").natural_language_domain = NaturalLanguageDomain(
        min_coverage=None,
        token_constraints=[TokenConstraint(value="zzz", max_fraction_of_sequences=0.1)],
    )
    group, caller_tag = f"caller-{uuid.uuid4().hex[:8]}", "caller-tag"
    _settle(sc)
    ungrouped_before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup(group, "tag test")
    sc.addJobTag(caller_tag)
    try:
        validate_images(spark, df, schema, check_pixels=True)
    finally:
        sc.removeJobTag(caller_tag)
        for prop in ("spark.jobGroup.id", "spark.job.description",
                     "spark.job.interruptOnCancel"):
            sc.setLocalProperty(prop, None)
    _settle(sc)

    # no new job ran outside the group (the status store drops its oldest
    # jobs past spark.ui.retainedJobs, so old ids may be gone)
    assert set(tracker.getJobIdsForGroup(None)) - ungrouped_before == set()
    jobs = {job_id: _tags(_job(sc, job_id)) for job_id in tracker.getJobIdsForGroup(group)}
    assert jobs
    for job_id, tags in jobs.items():
        assert caller_tag in tags, (job_id, tags)
        assert any(t.startswith("dvs:") for t in tags), (job_id, tags)
        assert any(t.startswith("dvs-call:") for t in tags), (job_id, tags)
    all_tags = list(jobs.values())
    for nested in ({"dvs:pipeline.stats", "dvs:stats.wide"},
                   {"dvs:pipeline.stats", "dvs:stats.long"},
                   {"dvs:pipeline.stats", "dvs:stats.text.coverage"},
                   {"dvs:pipeline.rowlevel"}):
        assert any(nested <= tags for tags in all_tags), nested
    # an engine job sits inside two calls: the pipeline's and the engine's
    wide = next(tags for tags in all_tags if "dvs:stats.wide" in tags)
    assert sum(t.startswith("dvs-call:") for t in wide) == 2


def test_run_parallel_returns_results_by_layer(spark):
    sc = spark.sparkContext
    out = run_parallel(spark, {
        "test.count": lambda: spark.range(10).count(),
        "test.rdd": lambda: spark.range(5).rdd.count(),
        "test.driver": lambda: "no job",
    })
    assert out == {"test.count": 10, "test.rdd": 5, "test.driver": "no job"}
    # the branches' tags stay on their own threads
    assert set(sc.getJobTags()) == set()


def test_run_parallel_cancels_siblings_on_first_failure(spark):
    """A branch fails while its sibling runs a slow job over a cached frame:
    the original exception comes back long before the slow job could end, no
    job is left running and the sibling's cache is released."""
    sc = spark.sparkContext
    rdds_before = _persisted_rdds(sc)

    def slow():
        with persisted(spark.range(0, 8, 1, 2)) as cached:
            return cached.mapInPandas(_sleep_batches, "id long").count()

    def fail():
        _wait_for_active_tags(sc, {"dvs:test.slow"})
        raise ValueError("branch failed")

    t0 = time.monotonic()
    with pytest.raises(ValueError, match="branch failed"):
        run_parallel(spark, {"test.slow": slow, "test.fail": fail})
    assert time.monotonic() - t0 < SLOW_TASK_S / 2
    _assert_settled(sc, rdds_before)


def test_generator_failure_cancels_wide_and_long_jobs(spark):
    """compute_statistics with a TransformStatsGenerator that raises while
    the wide and long jobs run: both are cancelled, not waited for."""
    from data_validation_spark.generators import TransformStatsGenerator
    from data_validation_spark.stats.engine import compute_statistics
    from data_validation_spark.stats.options import StatsOptions

    sc = spark.sparkContext
    tracker = sc.statusTracker()

    @F.pandas_udf("long")
    def slow_id(s):
        time.sleep(SLOW_TASK_S)
        return s

    df = spark.range(0, 8, 1, 2).select(
        slow_id("id").alias("x"), F.col("id").cast("string").alias("s")
    )

    def fail(_df):
        _wait_for_active_tags(sc, {"dvs:stats.wide", "dvs:stats.long"})
        raise ValueError("generator failed")

    options = StatsOptions(generators=[TransformStatsGenerator("fail", fail)])
    rdds_before = _persisted_rdds(sc)
    _settle(sc)
    jobs_before = set(tracker.getJobIdsForGroup(None))
    t0 = time.monotonic()
    with pytest.raises(ValueError, match="generator failed"):
        compute_statistics(df, options)
    assert time.monotonic() - t0 < SLOW_TASK_S / 2
    _assert_settled(sc, rdds_before)

    status = {}
    for job_id in set(tracker.getJobIdsForGroup(None)) - jobs_before:
        job = _job(sc, job_id)
        for tag in _tags(job) & {"dvs:stats.wide", "dvs:stats.long"}:
            status.setdefault(tag, set()).add(str(job.status()))
    assert status == {"dvs:stats.wide": {"FAILED"}, "dvs:stats.long": {"FAILED"}}


def test_no_thread_pool_outside_jobs_module():
    """jobs.run_parallel is the only place that starts threads, so every
    concurrent job is tagged and cancellable."""
    pattern = re.compile(r"ThreadPoolExecutor|threading\.Thread|concurrent\.futures")
    files = sorted((ROOT / "data_validation_spark").rglob("*.py"))
    files.append(ROOT / "__spark_entry__.py")
    allowed = ROOT / "data_validation_spark" / "jobs.py"
    offenders = [
        f"{path.relative_to(ROOT)}:{n}"
        for path in files
        if path != allowed
        for n, line in enumerate(path.read_text().splitlines(), start=1)
        if pattern.search(line)
    ]
    assert offenders == []
    assert pattern.search(allowed.read_text())
