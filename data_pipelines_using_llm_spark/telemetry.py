"""Job, stage and task counts for a piece of driver work.

``measure(spark, thunk)`` runs ``thunk`` and returns its result with the
wall seconds it took and the Spark jobs, stages and tasks that started
inside it.  Wall time on a shared host moves by several times between
identical runs; the counts do not, so they are the signal that says
whether a slower row runs a different plan or the same plan on a busier
machine.

The counts come from the public ``SparkContext.statusTracker()``.  Job
ids are dense integers handed out by the DAG scheduler, so the jobs of a
thunk are the ids from the first unused one before it up to the first
unused one after it; this also counts jobs that carry a job group (a
streaming query's micro-batches), which ``getJobIdsForGroup(None)`` does
not list.  Before each read the listener bus is drained, so the status
store already holds the last job's end.

``run_row(spark, fn, sf_dir)`` is the one timer for a registry row: it
measures the build (``fn(spark, sf_dir)``) and the noop write apart, then
frees the row's persisted intermediates.
"""

from __future__ import annotations

import time
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession

from .operators.caching import release_barriers


def _drain(spark: SparkSession) -> None:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(60_000)


def _next_job_id(tracker) -> int:
    """The id the next job will get: probe forward from the newest job
    the tracker lists until an id is unknown."""
    known = list(tracker.getJobIdsForGroup(None)) + list(tracker.getActiveJobsIds())
    j = max(known, default=-1) + 1
    while tracker.getJobInfo(j) is not None:
        j += 1
    return j


def measure(spark: SparkSession, thunk: Callable[[], Any]) -> tuple[Any, dict]:
    """Run ``thunk()``; return its result and ``{wall_s, jobs, stages,
    tasks}``.  A stage counts once, and only if it ran tasks: a shuffle
    stage another job already wrote shows up as skipped and is not
    counted again."""
    tracker = spark.sparkContext.statusTracker()
    _drain(spark)
    first = _next_job_id(tracker)
    t0 = time.perf_counter()
    result = thunk()
    wall = time.perf_counter() - t0
    _drain(spark)
    jobs = stages = tasks = 0
    seen: set[int] = set()
    j = first
    while (info := tracker.getJobInfo(j)) is not None:
        jobs += 1
        for sid in set(info.stageIds) - seen:
            seen.add(sid)
            stage = tracker.getStageInfo(sid)
            if stage is not None and stage.numCompletedTasks > 0:
                stages += 1
                tasks += stage.numCompletedTasks
        j += 1
    return result, {"wall_s": round(wall, 4), "jobs": jobs, "stages": stages, "tasks": tasks}


def write_noop(df: DataFrame) -> None:
    """Execute ``df`` in full and discard the rows."""
    df.write.format("noop").mode("overwrite").save()


def release(spark: SparkSession) -> None:
    """Free what a row left persisted: tracked barriers, scratch
    directories and the session's cached tables."""
    try:
        release_barriers()
        spark.catalog.clearCache()
    except Exception:  # session already stopped — nothing to free
        pass


def run_row(
    spark: SparkSession, fn: Callable[[SparkSession, str], DataFrame], sf_dir: str
) -> dict:
    """Time one registry row: ``build`` is the ``fn(spark, sf_dir)`` call
    (eager training, driver collects and whole streaming runs happen
    here), ``execute`` the noop write of its result.  Returns ``{build_s,
    execute_s, wall_s, build_jobs, jobs, stages, tasks}``; ``jobs``,
    ``stages`` and ``tasks`` cover both parts."""
    try:
        df, build = measure(spark, lambda: fn(spark, sf_dir))
        _, execute = measure(spark, lambda: write_noop(df))
    finally:
        release(spark)
    return {
        "build_s": build["wall_s"],
        "execute_s": execute["wall_s"],
        "wall_s": round(build["wall_s"] + execute["wall_s"], 4),
        "build_jobs": build["jobs"],
        **{k: build[k] + execute[k] for k in ("jobs", "stages", "tasks")},
    }
