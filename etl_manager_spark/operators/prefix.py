"""Global ordered prefix aggregates without a single-partition window.

``SUM(x) OVER (ORDER BY k)`` / ``ROW_NUMBER() OVER (ORDER BY k)`` with no
PARTITION BY plan an ``Exchange SinglePartition``: every row funnels into
ONE task for the sort and the running aggregate — the canonical 100 TB
cliff for "rank all customers / cumulative revenue" analytics.

:func:`ordered_cumsum` is the scale-safe formulation (the same two-phase
composition as ``operators.sampling.assign_row_ids``): range-partition on
the order keys (one shuffle, contiguous key ranges per partition), run the
window LOCALLY per partition, aggregate one (count, Σvalue…) row per
partition, prefix-sum those O(partitions) scalars, broadcast the offsets
back, and add. Bitwise-identical to the global window for any associative
integer aggregate, and no partition ever sorts more than its own slice.

Round 10: the prefix sum over the O(partitions) totals is computed
IN-PLAN (each totals row is exploded to the partitions strictly after
it and hash-aggregated — an equi-plan, no single-partition window, no
nested-loop join), removing the former ``collect`` + driver prefix-sum:
one eager Spark job and a full driver barrier PER CALL are gone, and
the offsets ride as a broadcast subtree inside the caller's single
final job. The eager ``localCheckpoint`` of the range-partitioned base
REMAINS: a fully-lazy variant was built and measured, but per-branch
column pruning rewrites the subtree below the shared exchange into
divergent aggregates, AQE stage reuse then misses, and the input is
recomputed per branch — slower than the one checkpoint job.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from etl_manager_spark.operators.materialize import materialize


def ordered_cumsum(
    df: DataFrame,
    order_cols: list[Column],
    value_cols: list[str] | None = None,
    rank_name: str | None = None,
    n_partitions: int | None = None,
    cum_suffix: str = "_cum",
) -> DataFrame:
    """Running totals (and/or a 1-based global rank) in total
    ``order_cols`` order, as ``<value>_cum`` LONG columns.

    ``order_cols`` must be a total order (include a tiebreak column) or
    the running values are not reproducible. ``value_cols`` must be
    integer-typed (the offset prefix-sum is exact int arithmetic; floats
    would reassociate). One range shuffle + one O(partitions) driver
    prefix-sum; the per-partition window partitions BY partition id, so
    the plan never contains an Exchange SinglePartition."""
    value_cols = list(value_cols or [])
    spark = df.sparkSession
    parts = n_partitions or spark.sparkContext.defaultParallelism
    # localCheckpoint pins ONE materialization that both consumer
    # branches (totals, numbering) read: partition assignment is
    # consistent by construction, and per-branch column pruning cannot
    # rewrite the subtree below a shared exchange into divergent
    # aggregates that defeat AQE stage reuse (the round-10 fully-lazy
    # experiment measured that duplication costing more than this one
    # checkpoint job on several callers)
    base = materialize(
        df.repartitionByRange(parts, *order_cols)
        .withColumn("_ocs_part", F.spark_partition_id())
    )
    totals = base.groupBy("_ocs_part").agg(
        F.count(F.lit(1)).alias("_n"),
        *[F.sum(v).cast("long").alias(f"_s_{v}") for v in value_cols],
        *[F.count(v).cast("long").alias(f"_c_{v}") for v in value_cols],
    )
    # in-plan prefix sum over the O(partitions) totals: each totals row
    # is exploded to every partition STRICTLY AFTER it and re-aggregated
    # — an equi-plan over ≤ partitions² tiny rows, so the global running
    # offsets need neither a single-partition window nor a driver
    # collect. Partitions with no predecessors are absent from the
    # offset table; the left join below coalesces them to zero.
    succ = F.when(
        F.col("_ocs_part") + 1 <= F.lit(parts - 1),
        F.sequence(F.col("_ocs_part") + 1, F.lit(parts - 1)),
    ).otherwise(F.array().cast("array<int>"))
    off = (
        totals.select(F.explode(succ).alias("_ocs_part"), *[
            F.col(c)
            for c in ["_n"]
            + [f"_s_{v}" for v in value_cols]
            + [f"_c_{v}" for v in value_cols]
        ])
        .groupBy("_ocs_part")
        .agg(
            F.sum("_n").cast("long").alias("_ocs_n0"),
            # null-sum partitions contribute 0 to the running offset (the
            # old driver loop's ``or 0``): SUM skips nulls natively, and
            # an all-null predecessor set coalesces to 0 at use site
            *[
                F.sum(f"_s_{v}").cast("long").alias(f"_ocs_o_{v}")
                for v in value_cols
            ],
            *[
                F.sum(f"_c_{v}").cast("long").alias(f"_ocs_c_{v}")
                for v in value_cols
            ],
        )
    )
    local = Window.partitionBy("_ocs_part").orderBy(*order_cols)
    out = base.join(F.broadcast(off), "_ocs_part", "left")
    for v in value_cols:
        frame = local.rowsBetween(Window.unboundedPreceding, 0)
        # the global window's SUM is NULL only while the WHOLE prefix is
        # null-valued; a partition whose local prefix is all-NULL but that
        # has non-null predecessors must carry the offset forward, so the
        # local sum is coalesced and the null-prefix case is re-derived
        # from the non-null COUNT (local + prior partitions)
        seen = F.count(v).over(frame) + F.coalesce(
            F.col(f"_ocs_c_{v}"), F.lit(0)
        )
        out = out.withColumn(
            f"{v}{cum_suffix}",
            F.when(
                seen > 0,
                F.coalesce(F.sum(v).over(frame).cast("long"), F.lit(0))
                + F.coalesce(F.col(f"_ocs_o_{v}"), F.lit(0)),
            ).cast("long"),
        )
    if rank_name is not None:
        out = out.withColumn(
            rank_name,
            (
                F.row_number().over(local).cast("long")
                + F.coalesce(F.col("_ocs_n0"), F.lit(0))
            ).cast("long"),
        )
    return out.drop(
        "_ocs_part",
        "_ocs_n0",
        *[f"_ocs_o_{v}" for v in value_cols],
        *[f"_ocs_c_{v}" for v in value_cols],
    )


def chained_overlap_entries(
    counts: list[tuple[int, int]],
    need: int,
    successors: bool = True,
) -> list[tuple[int, int, int]]:
    """Replication plan for range-partition boundary overlaps that stays
    correct when partitions are THINNER than the overlap width.

    ``counts`` is ``[(partition_id, row_count), …]`` in global range
    order. Returns ``[(src, limit, dst)]`` rows meaning: the first
    ``limit`` rows of ``src`` (rows ranked from the partition HEAD when
    ``successors=True``, from the TAIL when ``False``) replicate into
    ``dst``. The walk continues past the immediate neighbor until each
    destination has accumulated exactly ``need`` overlap rows (or the
    table runs out) — replicating only from the single adjacent
    partition silently drops boundary-straddling rows whenever a
    partition holds fewer than ``need`` rows (parallelism ≫ rows/range,
    the normal cluster regime). O(partitions²) worst case on the driver
    for pathologically thin layouts, O(partitions) when ranges hold
    ≥ ``need`` rows."""
    entries: list[tuple[int, int, int]] = []
    ids = [p for p, _ in counts]
    n = dict(counts)
    for i, dst in enumerate(ids):
        remaining = need
        walk = ids[i + 1 :] if successors else reversed(ids[:i])
        for src in walk:
            take = min(n[src], remaining)
            if take > 0:
                entries.append((src, take, dst))
                remaining -= take
            if remaining == 0:
                break
    return entries


def overlap_plan(
    base: DataFrame,
    part_col: str,
    need: int,
    successors: bool = True,
) -> DataFrame:
    """IN-PLAN equivalent of :func:`chained_overlap_entries` over the
    per-partition row counts of ``base`` (round-11: replaces the last
    two driver ``collect`` barriers — ordered_lag and
    sorted-neighborhood dedup — with a broadcastable plan subtree).

    Returns ``(_src, _lim, _dst)``: the first/last ``_lim`` rows of
    partition ``_src`` replicate into ``_dst``. Derivation: a row of
    ``src`` with rank ``rn`` (from the walk-facing end) belongs in
    ``dst`` iff ``rn + B <= need`` where ``B`` is the total row count of
    partitions strictly between them in walk order, so
    ``_lim = need − B`` (pairs with ``_lim <= 0`` are dropped — the
    walk's early stop). This reproduces ``take = min(n[src],
    max(0, need − B))`` exactly, empty partitions included (they are
    absent from the counts and contribute nothing to ``B``).

    Cost shape: one O(partitions)-row aggregate of ``base`` plus two
    broadcast self-joins over it (≤ partitions² tiny rows) — bounded
    machinery riding the caller's plan, no eager job, no driver barrier.
    """
    # walk order: predecessors for lag tails, successors for
    # neighborhood heads — one signed key handles both directions
    key = -F.col("_op_p") if successors else F.col("_op_p")
    totals = (
        base.groupBy(F.col(part_col).alias("_op_p"))
        .agg(F.count(F.lit(1)).cast("long").alias("_op_n"))
        .select("_op_p", "_op_n", key.alias("_op_k"))
    )
    # cum(p) = rows in partitions strictly before p in walk order
    t = totals.alias("t")
    u = totals.alias("u")
    cumt = (
        t.join(F.broadcast(u), F.col("u._op_k") < F.col("t._op_k"), "left")
        .groupBy(F.col("t._op_p"), F.col("t._op_n"), F.col("t._op_k"))
        .agg(F.coalesce(F.sum("u._op_n"), F.lit(0)).alias("_op_cum"))
        .select(
            F.col("t._op_p").alias("_op_p"),
            F.col("t._op_n").alias("_op_n"),
            F.col("t._op_k").alias("_op_k"),
            "_op_cum",
        )
    )
    s = cumt.alias("s")
    d = cumt.alias("d")
    between = (
        F.col("d._op_cum") - F.col("s._op_cum") - F.col("s._op_n")
    )
    return (
        s.join(F.broadcast(d), F.col("d._op_k") > F.col("s._op_k"))
        .select(
            F.col("s._op_p").alias("_src"),
            (F.lit(need) - between).cast("int").alias("_lim"),
            F.col("d._op_p").alias("_dst"),
        )
        .filter(F.col("_lim") > 0)
    )


def ordered_lag(
    df: DataFrame,
    sort_keys: list[tuple[str, str]],
    value_col: str,
    lag_name: str,
    offset: int = 1,
    n_partitions: int | None = None,
) -> DataFrame:
    """``LAG(value, offset) OVER (ORDER BY …)`` without the
    single-partition window: range-partition on the sort keys, replicate
    into each partition the LAST ``offset`` rows of ALL its predecessors
    combined (walking back across partitions until ``offset`` rows are
    accumulated — a single-neighbor copy silently returns NULL whenever
    a range holds fewer than ``offset`` rows), lag locally, drop the
    replicas. Exactly the global window's answer with an ``offset``-row
    overlap per range.

    ``sort_keys`` is ``[(col, "asc"|"desc"), …]`` and must be a total
    order for reproducible results."""
    from pyspark.sql import Window

    spark = df.sparkSession
    parts = n_partitions or spark.sparkContext.defaultParallelism

    def _cols(rev: bool = False) -> list[Column]:
        out = []
        for c, d in sort_keys:
            asc = (d == "asc") != rev
            out.append(F.col(c).asc() if asc else F.col(c).desc())
        return out

    base = materialize(
        df.repartitionByRange(parts, *_cols())
        .withColumn("_olg_part", F.spark_partition_id())
    )
    # round 11: the replication plan is computed IN-PLAN from the
    # checkpointed base (overlap_plan — same math as the former driver
    # collect + chained_overlap_entries, now a broadcast subtree inside
    # the caller's one job). Internal names carry the operator prefix so
    # a user column literally named _rn/_lim/_dst can't collide
    # (AMBIGUOUS_REFERENCE after the join, or silent overwrite).
    remap = overlap_plan(base, "_olg_part", offset, successors=False).select(
        F.col("_src").alias("_olg_part"),
        F.col("_lim").alias("_olg_lim"),
        F.col("_dst").alias("_olg_dst"),
    )
    w_desc = Window.partitionBy("_olg_part").orderBy(*_cols(rev=True))
    tails = (
        base.withColumn("_olg_rn", F.row_number().over(w_desc))
        .join(F.broadcast(remap), "_olg_part")
        .filter(F.col("_olg_rn") <= F.col("_olg_lim"))
        .drop("_olg_rn", "_olg_lim", "_olg_part")
        .withColumnRenamed("_olg_dst", "_olg_part")
        .withColumn("_olg_rep", F.lit(True))
    )
    aug = base.withColumn("_olg_rep", F.lit(False)).unionByName(tails)
    w_asc = Window.partitionBy("_olg_part").orderBy(*_cols())
    return (
        aug.withColumn(lag_name, F.lag(value_col, offset).over(w_asc))
        .filter(~F.col("_olg_rep"))
        .drop("_olg_part", "_olg_rep")
    )


def ntile_from_rank(rank_col: str, n_col: str, tiles: int) -> Column:
    """ANSI ``NTILE(tiles)`` computed from a 1-based global rank and the
    total row count — so quantile scoring composes with the two-phase
    rank above instead of an unpartitioned NTILE window. ANSI semantics
    (identical in Spark and DuckDB): the first ``N % tiles`` buckets get
    ``N DIV tiles + 1`` rows, the rest ``N DIV tiles``."""
    q = f"({n_col} DIV {tiles})"
    r = f"({n_col} % {tiles})"
    return F.expr(
        f"CAST(CASE WHEN {rank_col} <= {r} * ({q} + 1) "
        f"THEN ({rank_col} - 1) DIV ({q} + 1) + 1 "
        f"ELSE {r} + ({rank_col} - {r} * ({q} + 1) - 1) DIV {q} + 1 "
        f"END AS INT)"
    )
