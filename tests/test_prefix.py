"""Tests for the two-phase ordered-prefix primitives (operators/prefix.py)
and the windowless bounded rank (operators/topk.rank_bounded) — the
scale-safe replacements for unpartitioned ``OVER (ORDER BY …)`` windows —
plus the single-partition-window plan lint that enforces their use.

Every test forces MORE partitions than would occur naturally (including
empty ones) so range-boundary and empty-partition paths are exercised, and
compares bitwise against the naive single-partition window on the same
input.
"""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from etl_manager_spark.operators.prefix import (
    ntile_from_rank,
    ordered_cumsum,
    ordered_lag,
)
from etl_manager_spark.operators.topk import rank_bounded
from etl_manager_spark.plans import lint_plan


@pytest.fixture(scope="module")
def frame(spark):
    # 101 rows, heavy ties in k (only 7 distinct) → tie groups straddle
    # range-partition boundaries; id is the total-order tiebreak
    rows = [(i, (i * 13) % 7, (i * 31) % 97) for i in range(101)]
    return spark.createDataFrame(rows, "id long, k long, v long")


def test_ordered_cumsum_matches_global_window(spark, frame):
    w = Window.orderBy(F.asc("k"), F.asc("id")).rowsBetween(
        Window.unboundedPreceding, 0
    )
    expected = sorted(
        (r.id, r.c, r.rn)
        for r in frame.select(
            "id",
            F.sum("v").over(w).cast("long").alias("c"),
            F.row_number()
            .over(Window.orderBy(F.asc("k"), F.asc("id")))
            .cast("long")
            .alias("rn"),
        ).collect()
    )
    got = sorted(
        (r.id, r.v_cum, r.rnk)
        for r in ordered_cumsum(
            frame,
            [F.asc("k"), F.asc("id")],
            ["v"],
            rank_name="rnk",
            n_partitions=13,
        ).collect()
    )
    assert got == expected


def test_ordered_cumsum_desc_and_more_partitions_than_rows(spark, frame):
    small = frame.filter(F.col("id") < 5)
    got = sorted(
        (r.id, r.rnk)
        for r in ordered_cumsum(
            small, [F.desc("v"), F.asc("id")], rank_name="rnk", n_partitions=32
        ).collect()
    )
    expected = sorted(
        (r.id, r.rn)
        for r in small.select(
            "id",
            F.row_number()
            .over(Window.orderBy(F.desc("v"), F.asc("id")))
            .cast("long")
            .alias("rn"),
        ).collect()
    )
    assert got == expected


def test_ordered_lag_matches_global_window(spark, frame):
    for offset in (1, 3):
        expected = sorted(
            ((r.id, r.p) for r in frame.select(
                "id", F.lag("v", offset).over(Window.orderBy("k", "id")).alias("p")
            ).collect()),
            key=lambda t: t[0],
        )
        got = sorted(
            ((r.id, r.p) for r in ordered_lag(
                frame,
                [("k", "asc"), ("id", "asc")],
                "v",
                "p",
                offset=offset,
                n_partitions=13,
            ).collect()),
            key=lambda t: t[0],
        )
        assert got == expected, f"offset={offset}"


def test_ordered_cumsum_thin_partitions(spark):
    """More partitions than rows (every non-empty partition holds one
    row, many empty): offsets must still chain exactly — the layout that
    exposed the single-neighbor defect in ordered_lag."""
    rows = [(i, i + 1) for i in range(5)]
    df = spark.createDataFrame(rows, "id long, v long")
    got = sorted(
        (r.id, r.v_cum, r.rn)
        for r in ordered_cumsum(
            df, [F.asc("id")], ["v"], rank_name="rn", n_partitions=16
        ).collect()
    )
    expected = []
    acc = 0
    for i in range(5):
        acc += i + 1
        expected.append((i, acc, i + 1))
    assert got == expected


def test_ordered_lag_thin_partitions(spark):
    """Partitions THINNER than the offset (n_partitions >= rows): the
    overlap must chain across multiple preceding partitions, not just
    the immediate neighbor (round-6 advisor repro: 6 rows / 6
    partitions / offset=2 returned NULL everywhere)."""
    rows = [(i, i * 10) for i in range(6)]
    df = spark.createDataFrame(rows, "id long, v long")
    for n_parts, offset in [(6, 2), (8, 3), (12, 5), (3, 4)]:
        expected = sorted(
            (r.id, r.p)
            for r in df.select(
                "id", F.lag("v", offset).over(Window.orderBy("id")).alias("p")
            ).collect()
        )
        got = sorted(
            (r.id, r.p)
            for r in ordered_lag(
                df, [("id", "asc")], "v", "p",
                offset=offset, n_partitions=n_parts,
            ).collect()
        )
        assert got == expected, f"n_partitions={n_parts} offset={offset}"


def test_chained_overlap_entries_properties():
    """Driver-side replication plan: each destination accumulates
    exactly `need` rows (or everything available), drawn from the
    nearest partitions first, never from itself, never more rows than a
    source holds."""
    from etl_manager_spark.operators.prefix import chained_overlap_entries

    import itertools
    for sizes in itertools.product([0, 1, 2, 5], repeat=4):
        counts = [(p, c) for p, c in enumerate(sizes) if c > 0]
        for need in (1, 2, 3, 7):
            for successors in (True, False):
                plan = chained_overlap_entries(counts, need, successors)
                n = dict(counts)
                ids = [p for p, _ in counts]
                got = {}
                for src, lim, dst in plan:
                    assert src != dst
                    assert 1 <= lim <= n[src]
                    assert (src > dst) == successors
                    got[dst] = got.get(dst, 0) + lim
                for i, dst in enumerate(ids):
                    avail = sum(
                        n[p] for p in (ids[i + 1:] if successors else ids[:i])
                    )
                    assert got.get(dst, 0) == min(need, avail), (
                        sizes, need, successors, dst,
                    )


def test_overlap_plan_matches_chained_overlap_entries(spark):
    """The round-11 IN-PLAN replication plan (the broadcast subtree that
    replaced the last driver collects in ordered_lag /
    sorted-neighborhood) emits exactly the (src, take, dst) set of the
    driver-side walk, capped at each source's row count — including
    gapped partition ids (empty ranges absent from the counts) and both
    walk directions."""
    from etl_manager_spark.operators.prefix import (
        chained_overlap_entries,
        overlap_plan,
    )

    cases = [
        [(0, 1), (1, 1), (2, 1), (3, 1)],
        [(0, 5), (2, 1), (5, 3)],          # gaps = empty partitions
        [(1, 2)],                           # single partition: empty plan
        [(0, 1), (1, 4), (2, 1), (3, 2), (4, 1)],
    ]
    for counts in cases:
        rows = [(p,) for p, c in counts for _ in range(c)]
        base = spark.createDataFrame(rows, "_p int")
        for need in (1, 2, 3):
            for successors in (True, False):
                expected = {
                    (src, min(lim, dict(counts)[src]), dst)
                    for src, lim, dst in chained_overlap_entries(
                        counts, need, successors
                    )
                }
                got = {
                    (r["_src"], min(r["_lim"], dict(counts)[r["_src"]]), r["_dst"])
                    for r in overlap_plan(
                        base, "_p", need, successors
                    ).collect()
                }
                assert got == expected, (counts, need, successors)


def test_ntile_from_rank_matches_ansi_ntile(spark):
    # N not divisible by tiles → uneven buckets, the tricky branch
    for n in (3, 7, 12, 25, 100):
        df = spark.range(1, n + 1).select(F.col("id").alias("rn"))
        got = {
            r.rn: r.b
            for r in df.select(
                "rn", ntile_from_rank("rn", str(n), 5).alias("b")
            ).collect()
        }
        expected = {
            r.rn: r.b
            for r in df.select(
                "rn", F.ntile(5).over(Window.orderBy("rn")).alias("b")
            ).collect()
        }
        assert got == expected, f"n={n}"


def test_rank_bounded_matches_row_number(spark, frame):
    top = frame.orderBy(F.desc("v"), F.asc("id")).limit(10)
    expected = sorted(
        (r.rnk, r.id)
        for r in top.select(
            F.row_number()
            .over(Window.orderBy(F.desc("v"), F.asc("id")))
            .alias("rnk"),
            "id",
        ).collect()
    )
    got = sorted(
        (r.rnk, r.id)
        for r in rank_bounded(top, [("v", "desc"), ("id", "asc")]).collect()
    )
    assert got == expected
    # empty input → zero rows, schema intact
    empty = rank_bounded(
        frame.filter(F.lit(False)), [("v", "desc"), ("id", "asc")]
    )
    assert empty.count() == 0
    assert empty.columns[0] == "rnk"


def test_lint_flags_single_partition_window(spark, frame):
    bad = frame.select(
        "id", F.row_number().over(Window.orderBy("k", "id")).alias("r")
    )
    codes = [w.code for w in lint_plan(bad)]
    assert "single-partition-window" in codes

    good = frame.select(
        "id",
        F.row_number().over(Window.partitionBy("k").orderBy("id")).alias("r"),
    )
    assert "single-partition-window" not in [w.code for w in lint_plan(good)]

    rewritten = ordered_cumsum(
        frame, [F.asc("k"), F.asc("id")], ["v"], rank_name="rnk"
    )
    assert "single-partition-window" not in [
        w.code for w in lint_plan(rewritten)
    ]


def test_equidepth_parity_at_sf01(spark):
    """Round-6 ask: the two-phase equi-depth rewrite must oracle-match at
    sf0.1 too — ties across range-partition boundaries are where
    two-phase CDFs go wrong, and sf0.01 alone may not produce them."""
    from etl_manager_spark.workloads import load_registry
    from tools.parity_lib import check_parity

    name = "equidepth_bins_orders_price"
    record = check_parity(
        spark, name, load_registry()[name], "/root/testdata/sf0.1"
    )
    assert record["status"] == "parity", record


def test_ordered_cumsum_construction_runs_only_the_checkpoint_jobs(
    spark, frame
):
    """Round-10 contract: building the cumsum plan triggers ONLY the
    jobs of the eager base localCheckpoint — the pre-round-10 shape
    additionally paid a totals collect (an extra eager job wave and a
    driver barrier) per call; rfm chains three calls. The reference
    count is measured in-test so the assertion is robust to how many
    jobs AQE uses per materialization. Jobs are counted by
    ``plans.counters.counted_jobs``, which stays right in a long
    shared-session suite run, where the status tracker's bounded
    retained-jobs buffer evicts old entries between snapshots."""
    from etl_manager_spark.plans.counters import counted_jobs

    with counted_jobs(spark) as checkpoint:
        (
            frame.repartitionByRange(5, F.asc("k"), F.asc("id"))
            .withColumn("_p", F.spark_partition_id())
            .localCheckpoint(eager=True)
        )
    with counted_jobs(spark) as construction:
        out = ordered_cumsum(
            frame, [F.asc("k"), F.asc("id")], ["v"], rank_name="rnk",
            n_partitions=5,
        )
    assert construction["jobs"] <= checkpoint["jobs"], (
        f"construction ran {construction['jobs']} jobs vs {checkpoint['jobs']} "
        "for the checkpoint alone — an extra eager action (the old "
        "totals collect?) is back"
    )
    assert out.count() == 101


def test_ordered_cumsum_null_values_match_global_window(spark):
    """NULL values: the global window's running SUM is NULL only while
    the whole prefix is null-valued; a partition whose LOCAL prefix is
    all-NULL but that has non-null predecessors must carry the offset
    forward (the pre-fix code emitted NULL there)."""
    from pyspark.sql import functions as F

    from etl_manager_spark.operators.prefix import ordered_cumsum

    df = spark.createDataFrame(
        [(1, 5), (2, None), (3, 2), (4, None)], "id long, v long"
    )
    for parts in (1, 2, 4, 8):  # incl. partitions thinner than the data
        got = {
            r.id: r.v_cum
            for r in ordered_cumsum(
                df, [F.col("id")], ["v"], n_partitions=parts
            ).collect()
        }
        assert got == {1: 5, 2: 5, 3: 7, 4: 7}, (parts, got)
    # all-null global prefix stays NULL, exactly like the window
    df2 = spark.createDataFrame([(1, None), (2, None), (3, 7)], "id long, v long")
    got2 = {
        r.id: r.v_cum
        for r in ordered_cumsum(df2, [F.col("id")], ["v"], n_partitions=3).collect()
    }
    assert got2 == {1: None, 2: None, 3: 7}


def test_ordered_lag_survives_colliding_user_columns(spark):
    """User columns literally named _rn/_lim/_dst must pass through the
    overlap plan untouched (internal names are _olg_-prefixed)."""
    from etl_manager_spark.operators.prefix import ordered_lag

    df = spark.createDataFrame(
        [(i, i % 3, i * 2) for i in range(9)], "_rn long, _lim long, v long"
    )
    out = ordered_lag(df, [("_rn", "asc")], "v", "lag_v", offset=2, n_partitions=4)
    rows = {r._rn: r.lag_v for r in out.collect()}
    assert set(out.columns) == {"_rn", "_lim", "v", "lag_v"}
    assert rows == {i: (i - 2) * 2 if i >= 2 else None for i in range(9)}
