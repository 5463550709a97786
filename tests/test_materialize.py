"""operators/materialize.py: checkpoint jobs are labelled with the code
that asked for them, the caller's job description survives, and no other
module in the package checkpoints or observes."""

from __future__ import annotations

import contextlib
import pathlib
import sys
import tokenize

import pytest
from pyspark.sql import functions as F

import etl_manager_spark
from etl_manager_spark.operators.materialize import materialize, materialize_observed

DESCRIPTION = "spark.job.description"
GROUP_PROPS = ("spark.jobGroup.id", DESCRIPTION, "spark.job.interruptOnCancel")


@contextlib.contextmanager
def outer_group(sc, group):
    """Run the body under ``setJobGroup(group, "outer")``, then put the
    session's thread-local job properties back as they were."""
    saved = {k: sc.getLocalProperty(k) for k in GROUP_PROPS}
    sc.setJobGroup(group, "outer")
    try:
        yield
    finally:
        for k, v in saved.items():
            sc.setLocalProperty(k, v)


def group_descriptions(sc, group):
    jsc = sc._jsc.sc()
    # the status store is fed by the listener bus
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    out = []
    for j in sorted(sc.statusTracker().getJobIdsForGroup(group)):
        d = store.job(j).description()
        out.append(d.get() if d.isDefined() else None)
    return out


def test_materialize_labels_its_jobs_and_restores_the_outer_description(spark):
    sc = spark.sparkContext
    group = "test-materialize-label"
    with outer_group(sc, group):
        line = sys._getframe().f_lineno + 1
        out = materialize(spark.range(40).repartition(3))
        assert sc.getLocalProperty(DESCRIPTION) == "outer"
        assert out.count() == 40
    label = (
        "materialize test_materialize."
        f"test_materialize_labels_its_jobs_and_restores_the_outer_description:{line}"
    )
    descriptions = group_descriptions(sc, group)
    assert label in descriptions
    # the checkpoint's jobs carry the label, the later count the outer one
    assert set(descriptions) == {label, "outer"}
    assert descriptions[-1] == "outer"


def test_materialize_restores_the_description_when_the_job_fails(spark):
    sc = spark.sparkContext
    failing = spark.range(6).select(
        F.when(F.col("id") == 4, F.raise_error(F.lit("materialize-boom")))
        .otherwise(F.col("id"))
        .alias("id")
    )
    with outer_group(sc, "test-materialize-fail"):
        with pytest.raises(Exception, match="materialize-boom"):
            materialize(failing)
        assert sc.getLocalProperty(DESCRIPTION) == "outer"


def test_materialize_observed_counts_an_empty_frame_and_labels_its_caller(spark):
    sc = spark.sparkContext
    group = "test-materialize-observed"
    empty = spark.range(8).filter(F.col("id") < 0)
    with outer_group(sc, group):
        line = sys._getframe().f_lineno + 1
        out, n = materialize_observed(empty, F.count(F.lit(1)))
        assert sc.getLocalProperty(DESCRIPTION) == "outer"
    assert n == 0
    assert out.count() == 0
    label = (
        "materialize test_materialize."
        f"test_materialize_observed_counts_an_empty_frame_and_labels_its_caller:{line}"
    )
    assert label in group_descriptions(sc, group)


def test_only_materialize_checkpoints_or_observes():
    """``localCheckpoint`` and ``Observation`` appear as code only in
    operators/materialize.py; prose in comments and docstrings is not a
    NAME token and passes."""
    pkg = pathlib.Path(etl_manager_spark.__file__).parent
    owner = pkg / "operators" / "materialize.py"
    offenders = []
    for path in sorted(pkg.rglob("*.py")):
        if path == owner:
            continue
        with tokenize.open(path) as fh:
            offenders += [
                f"{path.relative_to(pkg)}:{tok.start[0]} {tok.string}"
                for tok in tokenize.generate_tokens(fh.readline)
                if tok.type == tokenize.NAME
                and tok.string in ("localCheckpoint", "Observation")
            ]
    assert offenders == []
