"""Materialization of intermediate results: the only code in the package
that checkpoints.

An intermediate frame that several consumers read (a vocabulary-bounded
count table, a range-partitioned base, a graph's edge set re-joined every
round) is materialized once, as an eager local checkpoint. Eager, because
a lazy checkpoint re-plans its subtree inside every consumer's job
(OPTIMIZATION_r11.md measured the stage explosion); local, because the
blocks are transient and need no reliable checkpoint directory; never
``cache``/``persist``, because the CacheManager matches a cached frame by
canonical plan, so a repeated query silently reads warm cache.

Each checkpoint runs under the job description
``"materialize <module>.<function>:<line>"``, naming the code that asked
for it, so every eager barrier is attributable in the status store and
the event log (``tools/measure.py`` counts them as ``barrier_jobs``). The
caller's own description, e.g. one set with ``setJobGroup``, is restored
afterwards, whether the checkpoint succeeded or raised.
"""

from __future__ import annotations

import sys
from types import FrameType

from pyspark.sql import Column, DataFrame, Observation

_DESCRIPTION = "spark.job.description"


def materialize(df: DataFrame) -> DataFrame:
    """Eagerly local-checkpoint ``df`` under a job description naming the
    caller, and return the checkpointed frame."""
    return _checkpoint(df, sys._getframe(1))


def materialize_observed(df: DataFrame, metric: Column) -> tuple[DataFrame, int]:
    """:func:`materialize` ``df`` and return it together with the integer
    aggregate ``metric`` over its rows (e.g. ``F.count(F.lit(1))``),
    computed by the checkpoint's own job via ``DataFrame.observe``: an
    iterative loop's convergence count costs no job of its own.

    Invariant: ``Observation.get`` blocks, with no timeout, until a query
    over the observed frame has run. Here that query is the eager
    checkpoint itself, so by the time ``get`` is read the observed job has
    finished, and a failed job raises out of the checkpoint before ``get``
    is reached. Observing under a lazy checkpoint, or running under Spark
    Connect, would instead turn the callers' loops (connected components
    and label propagation in operators/dedup.py, BFS and k-core peeling in
    operators/graph.py) into an indefinite hang rather than an error. No
    bounded wait is needed because no other code can break the coupling:
    this module is the only place in the package that observes or
    checkpoints (a static test fails on any other ``Observation`` or
    ``localCheckpoint``), so ``get`` never waits on a job that has not
    already finished, and a timeout would guard a state no caller can
    reach.
    """
    obs = Observation()
    out = _checkpoint(df.observe(obs, metric.alias("v")), sys._getframe(1))
    return out, int(obs.get["v"])


def _checkpoint(df: DataFrame, caller: FrameType) -> DataFrame:
    module = caller.f_globals["__name__"].rpartition(".")[2]
    label = f"materialize {module}.{caller.f_code.co_name}:{caller.f_lineno}"
    sc = df.sparkSession.sparkContext
    previous = sc.getLocalProperty(_DESCRIPTION)
    sc.setLocalProperty(_DESCRIPTION, label)
    try:
        return df.localCheckpoint(eager=True)
    finally:
        sc.setLocalProperty(_DESCRIPTION, previous)
