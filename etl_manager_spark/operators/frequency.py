"""Frequency analytics over high-cardinality value streams.

The shuffle-economics problem: ``groupBy(value).count()`` is exact but
shuffles one record per DISTINCT value — at 100 TB a token or URL column
can carry billions of distinct values, and the heavy hitters (the only
rows anyone reads) are a handful. The two-pass candidate pattern keeps
the shuffle proportional to the ANSWER, not the cardinality:

1. candidates: per-partition frequency summaries, no shuffle at all —
   any value with global share > 1/(k+1) must exceed that share in at
   least one partition (averaging argument), so the union of
   per-partition candidate sets is a guaranteed superset of the true
   heavy hitters;
2. exact recount: scan again filtered to the (tiny, broadcast)
   candidate set and aggregate exactly — the final output is EXACT, so
   the approximation never reaches the caller and a plain GROUP BY /
   HAVING oracle can verify it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_manager_spark.operators.materialize import materialize


def heavy_hitters_two_pass(
    df: DataFrame,
    col: str,
    k: int = 50,
) -> DataFrame:
    """Exact frequency of every value whose count exceeds ``N/(k+1)``,
    computed without ever shuffling the full distinct-value set.

    Pass 1 (``mapInPandas``, zero shuffle): each partition counts its
    own values (vectorized ``value_counts``) and emits those above the
    LOCAL threshold ``n_p/(k+1)``. If a value's global count exceeds
    ``N/(k+1)`` then some partition has it above ``n_p/(k+1)`` —
    otherwise summing the per-partition bounds gives ``≤ N/(k+1)``, a
    contradiction — so no true heavy hitter is missed. Per-partition
    memory is O(partition-distinct); for adversarial cardinality swap
    the exact local count for a Misra–Gries summary with k counters
    (same guarantee at fixed memory) without touching the rest.

    Pass 2: broadcast-semi-join the candidate set back onto the stream
    (a map-side filter in the scan stage) and aggregate exactly; filter
    by the global threshold computed from a broadcast 1-row total.

    Returns (<col>, cnt, share_q) — exact counts, nano-quantized global
    share — for values with cnt > N/(k+1), deterministic regardless of
    partitioning (candidate generation only widens the superset)."""
    import pandas as pd

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")

    dtype = df.schema[col].dataType.simpleString()

    def _local_candidates(batches):
        counts: dict = {}
        n = 0
        for pdf in batches:
            n += len(pdf)
            for v, c in pdf[col].value_counts().items():
                counts[v] = counts.get(v, 0) + int(c)
        thr = n / (k + 1)
        cands = [v for v, c in counts.items() if c > thr]
        # candidate rows carry _part_n NULL; one marker row per task
        # carries the partition's row count so the global total rides
        # pass 1 instead of costing a third full scan (§8)
        yield pd.DataFrame({col: cands, "_part_n": [None] * len(cands)})
        yield pd.DataFrame({col: [None], "_part_n": [n]})

    # NaN is a VALUE to Spark (passes isNotNull, groups and joins as
    # itself) but the pandas→Arrow return path re-reads float NaN as the
    # NA marker — a NaN candidate emitted from the Python pass arrives
    # as NULL and the semi-join drops every NaN row, silently missing a
    # NaN heavy hitter. Route NaN around the Python pass entirely: it is
    # ONE value, so one JVM-side candidate row covers it exactly (a
    # superset-only widening; pass 2's exact count and global threshold
    # still decide whether it is emitted).
    if col in ("cnt", "_n_total", "freq_q", "_part_n"):
        raise ValueError(
            f"heavy_hitters_two_pass: col={col!r} collides with an output/"
            "internal column name (cnt/_n_total/freq_q/_part_n) — alias it "
            "first"
        )
    clean = df.select(col).filter(F.col(col).isNotNull())
    is_float = dtype in ("float", "double")
    pandas_side = clean.filter(~F.isnan(col)) if is_float else clean
    # bounded output (≤ partitions·(k+1) candidates + one marker per
    # task), consumed by both the candidate set and the total — one
    # execution of the Python pass
    mapped = materialize(pandas_side.mapInPandas(
        _local_candidates, schema=f"{col} {dtype}, _part_n long"
    ))
    cands = mapped.filter(F.col("_part_n").isNull()).select(col).distinct()
    if is_float:
        cands = cands.unionAll(clean.filter(F.isnan(col)).limit(1))
        # float totals must also count the NaN rows routed around the
        # Python pass, so the old full-scan total stays on this path
        total = df.filter(F.col(col).isNotNull()).groupBy().agg(
            F.count(F.lit(1)).alias("_n_total")
        )
    else:
        total = mapped.filter(F.col("_part_n").isNotNull()).groupBy().agg(
            F.sum("_part_n").alias("_n_total")
        )
    return (
        df.filter(F.col(col).isNotNull())
        .join(F.broadcast(cands), on=col, how="semi")
        .groupBy(col)
        .agg(F.count(F.lit(1)).alias("cnt"))
        .crossJoin(F.broadcast(total))
        .filter(F.col("cnt") > F.col("_n_total") / (k + 1))
        .select(
            col,
            "cnt",
            F.floor(
                F.col("cnt").cast("double")
                / F.col("_n_total").cast("double")
                * F.lit(1000000000.0)
                + F.lit(0.5)
            )
            .cast("long")
            .alias("share_q"),
        )
    )
