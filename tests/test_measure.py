"""tools/measure.py: two measurements of one query give identical
counters, the plan counters see the scans a query makes, and the
eager barriers are counted."""

from __future__ import annotations

import pytest

from tools.measure import measure

COUNTS = (
    "jobs", "stages", "tasks", "barrier_jobs",
    "parquet_scans", "existing_rdd_scans", "exchanges", "reused_exchanges",
)


def test_measure_counters_repeat(spark, sf_dir):
    names = ["q6_revenue_change", "kcore_neardup_graph"]
    first = measure(spark, names, sf_dir, 1)
    second = measure(spark, names, sf_dir, 1)
    for name in names:
        assert "error" not in first[name], first[name]
        assert first[name]["wall"] > 0
        assert {k: first[name][k] for k in COUNTS} == {
            k: second[name][k] for k in COUNTS
        }, name
    assert first["q6_revenue_change"]["parquet_scans"] == {"lineitem": 1}
    assert first["q6_revenue_change"]["barrier_jobs"] == 0
    # k-core peels over checkpointed edge sets
    assert first["kcore_neardup_graph"]["existing_rdd_scans"] > 0
    assert first["kcore_neardup_graph"]["barrier_jobs"] > 0


def test_measure_rejects_unknown_name_before_spark(sf_dir):
    # no session at all: the name check must come first
    with pytest.raises(ValueError, match="no_such_query"):
        measure(None, ["q6_revenue_change", "no_such_query"], sf_dir, 1)
