"""Spark job counters for a block of code.

Usage::

    with counted_jobs(spark) as counts:
        df.write.mode("overwrite").format("noop").save()
    counts["jobs"], counts["barrier_jobs"]

The bracket drains the listener bus at both ends — the status store is
fed by it, so without the drain a job whose start event is still queued
is missed, or counted in the next block — and counts the ungrouped jobs
whose ids are above the highest id seen on entry. Job ids only grow, so
the count stays right once the status store starts evicting old jobs; a
``len(...)`` delta of the retained id list does not (it goes negative).
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import TYPE_CHECKING, Iterator

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import SparkSession


@contextmanager
def counted_jobs(spark: "SparkSession") -> Iterator[dict[str, int]]:
    """Yield a dict that holds, once the block exits without raising:

    * ``jobs`` — the ungrouped jobs started in the block;
    * ``stages`` — their stages, summed per job;
    * ``tasks`` — Spark's own per-job task count (the tasks of the stages
      a job still had to compute when it started), summed over the jobs;
    * ``barrier_jobs`` — those jobs that are eager barriers: the
      checkpoint jobs of ``operators/materialize.py``, whose job
      description starts with ``"materialize "``.
    """
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    tracker = sc.statusTracker()

    def job_ids() -> list[int]:
        jsc.listenerBus().waitUntilEmpty()
        return tracker.getJobIdsForGroup(None)

    before = max(job_ids(), default=-1)
    counts: dict[str, int] = {}
    yield counts
    # Job records only: once a session has run spark.ui.retainedStages
    # stages, the status store evicts skipped stage records first, so a
    # per-stage task lookup fails or undercounts; job records of this
    # block are the newest and stay.
    jobs = [jsc.statusStore().job(j) for j in job_ids() if j > before]
    descriptions = [jd.description() for jd in jobs]
    counts.update(
        jobs=len(jobs),
        stages=sum(jd.stageIds().size() for jd in jobs),
        tasks=sum(jd.numTasks() for jd in jobs),
        barrier_jobs=sum(
            d.isDefined() and d.get().startswith("materialize ")
            for d in descriptions
        ),
    )
