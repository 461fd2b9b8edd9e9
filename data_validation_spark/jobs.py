"""The one way this package runs Spark jobs concurrently.

Independent job graphs (the stats engine's wide, long, generator and lift
jobs; the pipeline's stats and row-check branches; the NL-statistics
aggregates over one cached token frame) are submitted together: Spark's
scheduler then interleaves their stages, filling the cores while one job's
single-reducer final stage runs, and each job's fixed scheduling cost hides
behind the others' work.
"""

from __future__ import annotations

import uuid
from concurrent.futures import FIRST_EXCEPTION, ThreadPoolExecutor, wait
from typing import Callable, TypeVar

from pyspark.util import inheritable_thread_target

T = TypeVar("T")


def run_parallel(spark, branches: dict[str, Callable[[], T]]) -> dict[str, T]:
    """Run each ``branches[layer]()`` in its own thread; return the results
    under the same keys.

    Branch jobs carry the caller's local properties (job group, description,
    tags) plus ``dvs:<layer>`` and a ``dvs-call:<hex>`` tag unique to this
    call. When a branch raises, this call's jobs are cancelled, every 0.1 s
    until the siblings have unwound (one between two actions submits its
    next job after a cancel), then the exception is re-raised.
    """
    sc = spark.sparkContext
    call_tag = f"dvs-call:{uuid.uuid4().hex[:16]}"

    def tagged(layer: str, fn: Callable[[], T]) -> Callable[[], T]:
        tags = ("dvs:" + layer, call_tag)

        def run() -> T:
            for tag in tags:
                sc.addJobTag(tag)
            try:
                return fn()
            finally:
                for tag in tags:
                    sc.removeJobTag(tag)

        # one wrapper per branch, built in the caller's thread: it copies the
        # caller's properties now, addJobTag edits that copy in place, and it
        # is never unset from the pool thread, so the pool serves one call
        return inheritable_thread_target(spark)(run)

    with ThreadPoolExecutor(max_workers=len(branches)) as pool:
        futures = {layer: pool.submit(tagged(layer, fn)) for layer, fn in branches.items()}
        try:
            done, _ = wait(futures.values(), return_when=FIRST_EXCEPTION)
            # wait returns early only when a future in `done` has failed, so
            # either a result() below raises or every branch is in `done`
            return {layer: f.result() for layer, f in futures.items() if f in done}
        except BaseException:
            pending = [f for f in futures.values() if not f.done()]
            while pending:
                sc.cancelJobsWithTag(call_tag)
                _, pending = wait(pending, timeout=0.1)
            raise
