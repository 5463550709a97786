"""grouped_exact_percentiles must be bit-identical to Spark's built-in
exact percentile aggregate — it exists to replace that aggregate where
per-group value domains grow with the data, so any deviation is a bug.

Cases forced: heavy ties, near-unique domains, single-row groups,
percentile 0/0.5/1 plus awkward fractions, thinner range partitions
than values, integral vs double value columns, null values (ignored by
the percentile, counted by COUNT(*)), ALL-null groups (row kept, NULL
percentile), and null GROUP keys (their own group, like groupBy).
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from etl_manager_spark.operators.quantiles import grouped_exact_percentiles

PCTS = {"p0": 0.0, "q1": 0.25, "med": 0.5, "p63": 0.63, "p90": 0.9, "p100": 1.0}


def _builtin(df, gcol, vcol):
    aggs = [
        F.expr(f"percentile({vcol}, {p}D)").alias(name)
        for name, p in PCTS.items()
    ] + [F.count(F.lit(1)).cast("long").alias("n")]  # COUNT(*) — count_name parity
    return {
        r[gcol]: r.asDict()
        for r in df.groupBy(gcol).agg(*aggs).collect()
    }


def _ours(df, gcol, vcol, n_partitions):
    out = grouped_exact_percentiles(
        df, [gcol], vcol, PCTS, count_name="n", n_partitions=n_partitions
    )
    return {r[gcol]: r.asDict() for r in out.collect()}


@pytest.mark.parametrize("n_partitions", [1, 7, 64])
def test_matches_builtin_percentile_mixed_groups(spark, n_partitions):
    rng = random.Random(42)
    rows = []
    # group a: heavy ties; group b: near-unique; group c: single row;
    # group d: two rows (interpolation across the only boundary)
    rows += [("a", float(rng.randint(0, 5))) for _ in range(200)]
    rows += [("b", rng.uniform(-100, 100)) for _ in range(199)]
    rows += [("c", 3.25)]
    rows += [("d", 1.0), ("d", 2.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    exp = _builtin(df, "g", "v")
    got = _ours(df, "g", "v", n_partitions)
    assert got == exp  # dict equality → bit-identical doubles


def test_matches_builtin_percentile_long_values(spark):
    rng = random.Random(7)
    rows = [(i % 3, rng.randint(-10**12, 10**12)) for i in range(500)]
    df = spark.createDataFrame(rows, "g int, v long")
    exp = _builtin(df, "g", "v")
    got = _ours(df, "g", "v", 16)
    assert got == exp


def test_property_matches_builtin_random_multisets(spark):
    """Hypothesis sweep: arbitrary small multisets (heavy tie mass from
    the tiny integer domain) across awkward partition counts must stay
    dict-equal to the builtin, including the interpolation short-circuit
    paths (lower==higher rank, equal bracketing keys)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=15, deadline=None)
    @given(
        values=st.lists(
            st.integers(min_value=-3, max_value=3), min_size=1, max_size=25
        ),
        n_parts=st.sampled_from([1, 5, 31]),
        p=st.sampled_from([0.0, 0.17, 0.5, 0.99, 1.0]),
    )
    def check(values, n_parts, p):
        df = spark.createDataFrame(
            [("g", float(v)) for v in values], "g string, v double"
        )
        exp = df.groupBy("g").agg(
            F.expr(f"percentile(v, {p}D)").alias("q")
        ).collect()[0]["q"]
        got = grouped_exact_percentiles(
            df, ["g"], "v", {"q": p}, n_partitions=n_parts
        ).collect()[0]["q"]
        assert got == exp, (values, n_parts, p)

    check()


def test_max_groups_ceiling_refused(spark):
    """The few-huge-groups contract is enforced: a high-cardinality group
    key must be refused before O(groups) side tables are built. Round 10:
    the operator is fully LAZY (no pre-flight collect), so the refusal is
    an in-plan assert_true that fails the query at EXECUTION time — the
    construction itself triggers no job."""
    df = spark.range(200).selectExpr("id as g", "cast(id as double) as v")
    over = grouped_exact_percentiles(
        df, ["g"], "v", {"med": 0.5}, n_partitions=4, max_groups=50
    )
    with pytest.raises(Exception, match="FEW huge groups"):
        over.collect()
    # at or under the ceiling it works
    got = grouped_exact_percentiles(
        df, ["g"], "v", {"med": 0.5}, n_partitions=4, max_groups=200
    )
    assert got.count() == 200


def test_null_values_all_null_groups_and_null_group_keys(spark):
    """Builtin parity on every null axis at once: null values are
    ignored by the percentile but counted by COUNT(*); a group whose
    values are ALL null keeps its row with NULL percentiles; a null
    group KEY forms its own group (groupBy semantics)."""
    rows = [
        ("a", None), ("a", 1.0), ("a", 2.0), ("a", None), ("a", 3.0),
        ("b", None), ("b", None),          # all-null group
        (None, 10.0), (None, 20.0), (None, None),  # null group key
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    exp = _builtin(df, "g", "v")
    got = _ours(df, "g", "v", 8)
    assert got == exp
    assert got["a"]["n"] == 5 and got["b"]["n"] == 2 and got[None]["n"] == 3
    assert got["b"]["med"] is None
    assert got[None]["med"] == 15.0


def test_rejects_out_of_range_fractions(spark):
    """The builtin percentile() raises on fractions outside [0,1]; the
    replacement must too, not return silent NULLs."""
    df = spark.range(10).selectExpr("id % 2 as g", "cast(id as double) v")
    with pytest.raises(ValueError, match=r"\[0, 1\].*1\.5"):
        grouped_exact_percentiles(df, ["g"], "v", {"bad": 1.5})
    with pytest.raises(ValueError, match=r"\[0, 1\]"):
        grouped_exact_percentiles(df, ["g"], "v", {"bad": -0.1})


def test_derived_ansi_throwing_value_column_survives(spark):
    """The CDF's null split must not let Catalyst push isNotNull(<derived
    expr>) below the aggregate into an upstream join condition: a value
    column like a/b guarded by the join predicate b!=a would then be
    evaluated on the rows its guard excluded and throw DIVIDE_BY_ZERO
    under ANSI (theil_sen's pairwise slopes)."""
    idx = spark.range(6).select(
        F.col("id").cast("long").alias("i"),
        (F.col("id") * 10).cast("long").alias("v"),
    ).localCheckpoint(eager=True)
    a, b = idx.alias("a"), idx.alias("b")
    pairs = a.join(b, F.col("a.i") < F.col("b.i")).select(
        F.lit(1).alias("g"),
        (
            (F.col("b.v") - F.col("a.v")).cast("double")
            / (F.col("b.i") - F.col("a.i"))
        ).alias("slope"),
    )
    out = grouped_exact_percentiles(pairs, ["g"], "slope", {"med": 0.5})
    assert out.collect()[0]["med"] == 10.0


def test_construction_runs_only_the_checkpoint_jobs(spark):
    """Round-10 contract: building the percentile plan triggers ONLY the
    jobs of the eager base localCheckpoint — nothing more. The
    pre-round-10 shape additionally paid a bounded collect (an extra
    eager job wave and a full driver barrier) per call; the offsets/
    rank/guard tables now ride in-plan. The reference job count is
    measured in-test by materializing the equivalent checkpointed base
    alone, so the assertion is robust to how many jobs AQE uses per
    materialization."""
    from pyspark.sql import functions as F2

    from etl_manager_spark.plans.counters import counted_jobs

    df = spark.range(1000).selectExpr("id % 3 as g", "cast(id as double) v")

    # reference: the checkpoint alone (same shape the operator builds)
    with counted_jobs(spark) as checkpoint:
        (
            df.groupBy(F2.struct("g").alias("_qg"), F2.col("v").alias("_qv"))
            .agg(F2.count(F2.lit(1)).alias("_qc"))
            .repartitionByRange(8, "_qg", "_qv")
            .withColumn("_qp", F2.spark_partition_id())
            .localCheckpoint(eager=True)
        )
    with counted_jobs(spark) as construction:
        out = grouped_exact_percentiles(
            df, ["g"], "v", {"med": 0.5, "q9": 0.9}, n_partitions=8
        )
    # construction = base checkpoint + the tiny totals checkpoint (≤2
    # jobs, it reads the already-materialized base); anything beyond
    # means an extra eager action (the old driver collect) is back
    assert construction["jobs"] <= checkpoint["jobs"] + 2, (
        f"construction ran {construction['jobs']} jobs vs {checkpoint['jobs']} "
        "for the base checkpoint alone (+2 allowed for the totals "
        "checkpoint) — an extra eager action is back"
    )
    assert out.count() == 3


def test_weighted_matches_row_level(spark):
    """weight_col parity: percentiles over a pre-aggregated (group,
    value, count) table must equal the row-level form — the contract the
    single-fact-pass rewrites (MAD/winsorized/conformal) rely on."""
    import random

    rng = random.Random(3)
    rows = [(i % 2, float(rng.randint(0, 30))) for i in range(300)]
    df = spark.createDataFrame(rows, "g int, v double")
    exp = _ours(df, "g", "v", 8)
    vc = df.groupBy("g", "v").agg(F.count(F.lit(1)).alias("c"))
    got = {
        r["g"]: r.asDict()
        for r in grouped_exact_percentiles(
            vc, ["g"], "v", PCTS, count_name="n", n_partitions=8,
            weight_col="c",
        ).collect()
    }
    assert got == exp


def test_nan_group_key_spanning_partitions(spark):
    """Spark groups every NaN key together (NormalizeNaNAndZero), but the
    driver offset dicts keyed raw tuples where NaN != NaN — a NaN group
    spanning several range partitions got per-partition offsets that never
    merged: wrong cumulative ranks AND one duplicate output row per
    partition. Must match the builtin exactly, one row per group."""
    rows = [(float("nan"), float(i)) for i in range(100)] + [
        (1.0, 5.0),
        (1.0, 7.0),
    ]
    df = spark.createDataFrame(rows, "g double, v double")
    out = grouped_exact_percentiles(
        df, ["g"], "v", {"p50": 0.5}, n_partitions=4
    )
    got = sorted([tuple(r) for r in out.collect()], key=str)
    ref = sorted(
        [
            tuple(r)
            for r in df.groupBy("g")
            .agg(F.expr("percentile(v, 0.5)").alias("p50"))
            .collect()
        ],
        key=str,
    )
    assert str(got) == str(ref) == "[(1.0, 6.0), (nan, 49.5)]"
