"""Distributed exact interpolated percentiles for FEW-but-HUGE groups.

Spark's exact ``percentile``/``median`` aggregate buffers every distinct
value of a group in one task's memory (an ObjectHashAggregate counts-map
that is sorted at evaluation). With continuous (e.g. nano-quantized)
values, distinct ≈ rows, so the per-group buffer grows linearly with the
data — a single-executor OOM at 100 TB whenever the group count is small
(per-type / per-label / global statistics), even though the shuffle
shape looks clean. That regime — a handful of groups, each spanning a
large fraction of the table — is exactly where this module applies.

:func:`grouped_exact_percentiles` reproduces the aggregate's answer
bit-for-bit from the DISTINCT value-count table instead:

1. hash-agg to (group, value, count) — the only pass over the fact rows.
   Group keys ride in a STRUCT so null group keys group and join
   null-safely, exactly like ``groupBy`` treats them;
2. range-partition on (group, value); per-partition cumulative counts
   via a window PARTITIONED by (partition, group) — no task ever sorts
   more than its own range slice;
3. per-(partition, group) totals (O(partitions + groups) rows — each
   group's range is contiguous) are prefix-summed IN-PLAN by a window
   partitioned by group over the tiny totals table and broadcast back as
   per-(partition, group) offsets, giving exact per-group cumulative
   ranks. Round 10: this used to be a bounded ``collect`` + a
   driver-side prefix sum — an eager Spark job and a full driver
   barrier PER CALL, plus driver-python re-upload of the offsets. Now
   only the eager ``localCheckpoint`` of the range-partitioned distinct
   table remains (one job; it is what all four consumer branches read —
   see the inline note for why a fully-lazy shared exchange measured
   slower), and the few-groups contract is enforced by an in-plan
   ``assert_true`` over the totals cardinality, which fails the query
   loudly at execution instead of at a pre-flight collect;
4. each requested percentile needs at most TWO ranks (floor/ceil of the
   0-based position ``p·(n-1)``); the rank table is computed in-plan
   from the per-group non-null counts joined with a literal percentile
   spec, then broadcast against the CDF; a conditional-min hash-agg
   finds the two bracketing values;
5. interpolation replays Spark's ``Percentile.getPercentile`` formula
   exactly — ``(higher - pos)·lower_val + (pos - lower)·higher_val``
   with the ``lower == higher`` and equal-key short-circuits — so
   results are IEEE-identical to the built-in aggregate (and therefore
   to DuckDB's ``quantile_cont``, which the catalog oracles use).

Null semantics match the builtin: null VALUES are ignored for the
percentile but counted by ``count_name`` (a true COUNT(*)); a group
whose values are ALL null still emits its row, with NULL percentiles;
null GROUP KEYS form their own group. NaN group keys are normalized by
Spark's own grouping/join semantics end-to-end (no driver dict is kept
anywhere anymore, so the CPython NaN-identity hazard is structurally
gone).

``weight_col`` lets a caller feed a PRE-AGGREGATED (group, value, count)
table — the single-fact-pass idiom: compute the distinct value-count
table once, derive transformed value tables from it (|v − median| for
MAD, clamped values for winsorized means), and run further percentile
passes over those tiny tables instead of re-scanning the facts.

NOT for high-cardinality groups (per-user, per-key): there the rank
table is O(groups) — enforced by ``max_groups`` — and the built-in
percentile's per-group buffer is small anyway; use the plain aggregate
or ``percentile_approx``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from etl_manager_spark.operators.materialize import materialize

_GK = "_qg"  # struct-wrapped group key: null-safe in groupBy AND joins


def _lit_join(left: DataFrame, right: DataFrame) -> DataFrame:
    """Attach a tiny bounded broadcast side (the 1-row contract guard, or
    the k-row percentile spec) to every left row. Plans as a broadcast
    nested-loop join with a BOUNDED build side — the catalog lint's
    "scalar"/"bounded-k" adjudicated class (a constant-key equi-join
    would read nicer but Catalyst constant-folds the trivially-true
    condition back into exactly this plan)."""
    return left.crossJoin(F.broadcast(right))


def grouped_value_cdf(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    n_partitions: int | None = None,
    max_groups: int = 100_000,
    weight_col: str | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Lazy CDF decomposition; no Spark job is triggered here.

    Returns ``(cdf, groups)``:

    - ``cdf``: (_qg struct, _qv double, _qc long, _cum long) — distinct
      non-null values with EXACT per-group cumulative counts in value
      order;
    - ``groups``: (_qg struct, _qn long, _qrows long) — one row per
      group (all-null-value groups included): ``_qn`` counts non-null
      values (the percentile N), ``_qrows`` is COUNT(*) (or the weight
      total when ``weight_col`` is given).

    Scale shape: one hash-agg over the fact rows, one range shuffle of
    the distinct-value table — planned ONCE and reused by the cdf /
    offsets / groups branches — a window partitioned by (partition,
    group) so no task sorts beyond its own slice, and O(partitions +
    groups) broadcast side tables. The few-groups contract is enforced
    in-plan: an ``assert_true`` over the totals cardinality riding on
    ``groups`` fails the query at execution when the group count
    exceeds ``max_groups`` (each group's range is contiguous, so the
    non-null totals table has at most partitions + groups rows, and the
    null slice at most one row per group). Values are compared as
    doubles: exact for integral inputs up to 2^53 — the nano-quantized
    catalog domain — and for native float/double columns.
    """
    spark = df.sparkSession
    parts = n_partitions or spark.sparkContext.defaultParallelism
    gcols = list(group_cols)
    wexpr = (
        F.col(weight_col).cast("long") if weight_col is not None else F.lit(1)
    )
    vc = df.groupBy(
        F.struct(*gcols).alias(_GK), F.col(value_col).cast("double").alias("_qv")
    ).agg(F.sum(wexpr).cast("long").alias("_qc"))
    # null rows ride the range shuffle and are split off AFTER the
    # checkpoint (an optimizer barrier), for two reasons: (a) filtering
    # vc on _qv directly lets Catalyst push isNotNull(<derived value
    # expr>) below the aggregate — even into an upstream join's
    # condition, where an ANSI-throwing expression (x/y guarded by the
    # join predicate) is then evaluated on rows its guard excluded
    # (theil_sen's pairwise slopes hit exactly this); (b) the FOUR
    # consumer branches (cdf / offsets / groups / guard) read one
    # materialization, so the fact rows are aggregated exactly once.
    # The checkpoint is deliberately kept over the fully-lazy shared-
    # exchange form: per-branch column pruning rewrites the aggregate
    # below the exchange differently per branch (one branch keeps
    # sum(1), another collapses to a bare distinct), the canonical
    # plans then differ, AQE stage reuse misses, and the fact scan
    # re-executes per branch — measured 2× SLOWER end-to-end than this
    # one checkpoint job at sf0.1 (round-10 diagnosis: 10 FileScan
    # nodes in the final adaptive plan of a single median call).
    # A round-11 variant that skipped both internal checkpoints for
    # already-checkpointed inputs was built and profiled, and REJECTED:
    # the four consumer branches then re-aggregate and re-range-shuffle
    # the input per branch (conformal: 56 → ~100 stages), which is the
    # wrong trade at scale where the distinct-value table is
    # corpus-sized.
    base_all = materialize(
        vc.repartitionByRange(parts, _GK, "_qv")
        .withColumn("_qp", F.spark_partition_id())
    )
    base = base_all.filter(F.col("_qv").isNotNull())
    # totals (O(partitions + groups) rows by the few-groups contract) is
    # consumed by THREE branches (offsets, groups, guard): checkpoint the
    # tiny frame so the base is aggregated once per call, not once per
    # branch. coalesce(1) first (round 11): the frame is bounded, and
    # materializing it at the session's shuffle-partition count bills a
    # full task wave per call for ~empty partitions — the partial
    # aggregation over base_all stays parallel either way (only the
    # O(partitions + groups)-row final merge runs in the one task).
    totals = materialize(
        base_all.groupBy(
            "_qp", _GK, F.col("_qv").isNull().alias("_qvnull")
        )
        .agg(F.sum("_qc").cast("long").alias("_qn"))
        .coalesce(1)
    )
    # per-(partition, group) offsets: prefix-sum the totals over the
    # partitions STRICTLY BEFORE each one, windowed per group — the
    # totals table is O(partitions + groups) rows, so this window is
    # bounded machinery, not data
    off_w = (
        Window.partitionBy(_GK)
        .orderBy("_qp")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    off = (
        totals.filter(~F.col("_qvnull"))
        .withColumn(
            "_off", F.coalesce(F.sum("_qn").over(off_w), F.lit(0)).cast("long")
        )
        .select("_qp", _GK, "_off")
    )
    # the authoritative group list: non-null value count (percentile N)
    # and total row count per group, all-null groups included
    groups = totals.groupBy(_GK).agg(
        F.sum(F.when(~F.col("_qvnull"), F.col("_qn")).otherwise(F.lit(0)))
        .cast("long")
        .alias("_qn"),
        F.sum("_qn").cast("long").alias("_qrows"),
    )
    # few-groups contract, enforced in-plan (this replaces the bounded
    # driver collect of rounds ≤9): the totals cardinality is checked by
    # an assert_true riding on the groups branch, which every caller
    # consumes — violation fails the query loudly at execution
    cap = max_groups + parts
    guard = totals.groupBy().agg(
        F.sum(F.when(F.col("_qvnull"), F.lit(0)).otherwise(F.lit(1)))
        .alias("_qnn"),
        F.sum(F.when(F.col("_qvnull"), F.lit(1)).otherwise(F.lit(0)))
        .alias("_qnl"),
    )
    ok = F.assert_true(
        (F.coalesce(F.col("_qnn"), F.lit(0)) <= F.lit(cap))
        & (F.coalesce(F.col("_qnl"), F.lit(0)) <= F.lit(max_groups)),
        F.lit(
            f"grouped percentiles: more than ~{max_groups} groups — this "
            "operator is for FEW huge groups (the rank/offset side tables "
            "are O(groups)); with many small groups the built-in "
            "percentile/percentile_approx per group is the right shape"
        ),
    )
    groups = (
        _lit_join(groups, guard.select(ok.alias("_qok")))
        .filter(F.col("_qok").isNull())
        .drop("_qok")
    )
    cdf = (
        base.join(F.broadcast(off), ["_qp", _GK])
        .withColumn(
            "_cum",
            (
                F.sum("_qc").over(
                    Window.partitionBy("_qp", _GK)
                    .orderBy("_qv")
                    .rowsBetween(Window.unboundedPreceding, 0)
                )
                + F.col("_off")
            ).cast("long"),
        )
        .drop("_qp", "_off")
    )
    return cdf, groups


def percentiles_from_cdf(
    cdf: DataFrame,
    groups: DataFrame,
    group_cols: list[str],
    percentiles: dict[str, float],
    count_name: str | None = None,
) -> DataFrame:
    """Interpolated percentiles from a :func:`grouped_value_cdf` pair —
    split out so a caller can reuse the SAME cdf/groups tables for
    several derived aggregates (the single-fact-pass idiom). One row per
    group with a DOUBLE column per requested percentile, bit-identical
    to ``F.expr(f"percentile({value_col}, p)")``; see
    :func:`grouped_exact_percentiles`."""
    bad = {k: v for k, v in percentiles.items() if not 0.0 <= float(v) <= 1.0}
    if bad:
        # the builtin percentile() aggregate this claims bit-parity with
        # raises on out-of-range fractions; silently returning NULL (rank
        # beyond every cumulative count) would hide the caller's bug
        raise ValueError(f"percentile fractions must be in [0, 1], got {bad!r}")
    gcols = list(group_cols)
    names = list(percentiles)
    spark = cdf.sparkSession
    # literal percentile spec (k rows — no Spark job): joined against the
    # per-group counts to compute the two bracketing 1-based cum ranks of
    # the 0-based position p·(n−1), plus Spark's interpolation weights,
    # in the same double arithmetic the driver-side construction used
    # (int→double conversion of n−1 / floor / ceil are identical IEEE).
    pspec = spark.createDataFrame(
        [(i, float(percentiles[name])) for i, name in enumerate(names)],
        "_qi int, _qf double",
    )
    pos = F.col("_qf") * (F.col("_qn") - F.lit(1)).cast("double")
    lo0 = F.floor(pos)
    hi0 = F.ceil(pos)
    ranks = _lit_join(groups.filter(F.col("_qn") > 0).select(_GK, "_qn"), pspec)
    ranks = ranks.select(
        _GK,
        "_qi",
        (lo0 + F.lit(1)).cast("long").alias("_klo"),
        (hi0 + F.lit(1)).cast("long").alias("_khi"),
        (hi0.cast("double") - pos).alias("_wlo"),
        (pos - lo0.cast("double")).alias("_whi"),
    )
    brackets = (
        cdf.join(F.broadcast(ranks), _GK)
        .groupBy(_GK, "_qi")
        .agg(
            F.min(F.when(F.col("_cum") >= F.col("_klo"), F.col("_qv"))).alias(
                "_lov"
            ),
            F.min(F.when(F.col("_cum") >= F.col("_khi"), F.col("_qv"))).alias(
                "_hiv"
            ),
        )
        .join(F.broadcast(ranks), [_GK, "_qi"])
    )
    # Percentile.getPercentile replay: return lower when the two ranks
    # coincide OR both ranks land on the same key; else interpolate with
    # the exact (higher - pos) / (pos - lower) weights
    val = (
        F.when(F.col("_klo") == F.col("_khi"), F.col("_lov"))
        .when(F.col("_lov") == F.col("_hiv"), F.col("_lov"))
        .otherwise(F.col("_wlo") * F.col("_lov") + F.col("_whi") * F.col("_hiv"))
    )
    pivoted = (
        brackets.select(_GK, "_qi", val.alias("_val"))
        .groupBy(_GK)
        .agg(
            *[
                F.min(F.when(F.col("_qi") == i, F.col("_val"))).alias(name)
                for i, name in enumerate(names)
            ]
        )
    )
    # left join restores NULL percentiles for groups that have no bracket
    # rows (all-null-value groups)
    wide = groups.join(F.broadcast(pivoted), _GK, "left")
    sel: list[Column] = [F.col(f"{_GK}.{g}").alias(g) for g in gcols]
    sel += [F.col(n) for n in names]
    if count_name is not None:
        sel.append(F.col("_qrows").alias(count_name))
    return wide.select(*sel)


def unwrap_group(cdf_or_groups: DataFrame, group_cols: list[str]) -> DataFrame:
    """Flatten the ``_qg`` struct back to the caller's group columns —
    for deriving further aggregates from a :func:`grouped_value_cdf`
    table (``_qv``/``_qc`` and, on ``groups``, ``_qn``/``_qrows`` ride
    along)."""
    others = [c for c in cdf_or_groups.columns if c != _GK]
    return cdf_or_groups.select(
        *[F.col(f"{_GK}.{g}").alias(g) for g in group_cols], *others
    )


def grouped_exact_percentiles(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    percentiles: dict[str, float],
    count_name: str | None = None,
    n_partitions: int | None = None,
    max_groups: int = 100_000,
    weight_col: str | None = None,
) -> DataFrame:
    """One row per group with a DOUBLE column per requested percentile
    (``percentiles`` maps output column name → fraction in [0, 1]),
    bit-identical to ``F.expr(f"percentile({value_col}, p)")`` per group
    — but with memory bounded by the range-partition slice instead of
    the group size, and (round 10) as ONE fully-lazy plan: no driver
    collect, no checkpoint job — the range exchange is shared by every
    consumer branch and the whole computation runs as a single Spark
    job when the caller materializes the result. Optional ``count_name``
    adds the per-group TOTAL row count (COUNT(*), null values included —
    or the total weight when ``weight_col`` is given). See the module
    docstring for the scale contract and null semantics."""
    cdf, groups = grouped_value_cdf(
        df, list(group_cols), value_col, n_partitions, max_groups, weight_col
    )
    return percentiles_from_cdf(
        cdf, groups, list(group_cols), percentiles, count_name
    )
