"""Optional runtime constraint enforcement.

The reference *declares* ``enum``/``pattern``/``nullable``/``primary_key``
but explicitly never enforces them against data (reference ``README.md:168``,
test comment ``tests/test_tests.py:599``). Since this engine owns execution,
declared constraints become checkable: one pass over the data computes every
violation count (single aggregate — cheap even at 100 TB: all checks fuse
into one scan with map-side partial aggregation; the primary-key check is
the only shuffle, on the key columns).
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import TYPE_CHECKING

from pyspark.sql import functions as F

if TYPE_CHECKING:  # pragma: no cover
    from pyspark.sql import DataFrame

    from etl_manager_spark.meta.table import TableMeta


@dataclass
class ConstraintReport:
    table: str
    row_count: int
    violations: dict[str, int] = field(default_factory=dict)

    @property
    def ok(self) -> bool:
        return not any(self.violations.values())

    def __str__(self) -> str:  # pragma: no cover
        status = "OK" if self.ok else "VIOLATIONS"
        lines = [f"{self.table}: {status} ({self.row_count} rows)"]
        for name, count in sorted(self.violations.items()):
            if count:
                lines.append(f"  {name}: {count}")
        return "\n".join(lines)


def validate(df: "DataFrame", table: "TableMeta") -> ConstraintReport:
    """Check ``df`` against the table's declared constraints.

    Checks (each → violation count in the report):
    * ``<col>.nullable`` — nulls in declared non-nullable columns
    * ``<col>.enum`` — values outside the declared enum
    * ``<col>.pattern`` — values not fully matching the declared regex
    * ``primary_key`` — rows beyond the first per key (duplicate count)
    """
    aggs = []
    for col in table.columns:
        name = col["name"]
        if name not in df.columns:
            continue
        if col.get("nullable") is False:
            aggs.append(
                F.sum(F.col(name).isNull().cast("long")).alias(f"{name}.nullable")
            )
        if col.get("enum") is not None:
            aggs.append(
                F.sum(
                    (~F.col(name).isin(*col["enum"]) & F.col(name).isNotNull()).cast("long")
                ).alias(f"{name}.enum")
            )
        if col.get("pattern"):
            aggs.append(
                F.sum(
                    (
                        ~F.col(name).cast("string").rlike(f"^{col['pattern']}$")
                        & F.col(name).isNotNull()
                    ).cast("long")
                ).alias(f"{name}.pattern")
            )

    report = ConstraintReport(table=table.name, row_count=df.count())
    if aggs:
        row = df.agg(*aggs).collect()[0]
        report.violations.update({k: int(v or 0) for k, v in row.asDict().items()})

    if table.primary_key:
        dupes = (
            df.groupBy(*table.primary_key)
            .count()
            .filter(F.col("count") > 1)
            .agg(F.sum(F.col("count") - 1).alias("d"))
            .collect()[0]["d"]
        )
        report.violations["primary_key"] = int(dupes or 0)
    return report


def profile_numeric_columns(df: "DataFrame", cols: list[str]) -> "DataFrame":
    """One-pass data-quality profile: for each named numeric column, a row
    of (column, n, n_null, n_distinct, min_value, max_value) — all exact.

    All statistics for all columns compute in a SINGLE aggregation over
    one scan (one reduce, not one job per column — at 100 TB the scan is
    the cost, so profiling N columns must not cost N passes); the wide
    one-row result is then unpivoted via a literal stack."""
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.lit(1)).alias(f"{c}__n"),
            F.count(F.when(F.col(c).isNull(), 1)).alias(f"{c}__nnull"),
            F.countDistinct(c).alias(f"{c}__ndist"),
            F.min(F.col(c).cast("double")).alias(f"{c}__min"),
            F.max(F.col(c).cast("double")).alias(f"{c}__max"),
        ]
    wide = df.agg(*aggs)
    stacked = ", ".join(
        f"'{c}', {c}__n, {c}__nnull, {c}__ndist, {c}__min, {c}__max" for c in cols
    )
    return wide.selectExpr(
        f"stack({len(cols)}, {stacked}) AS "
        "(column, n, n_null, n_distinct, min_value, max_value)"
    )


def profile_approx_cardinality(
    df: "DataFrame",
    group_col: str,
    key_col: str,
    rel_tol: float = 0.1,
    rsd: float = 0.05,
) -> "DataFrame":
    """Per-group cardinality with the exact count AND a flag that the
    HyperLogLog estimate (``approx_count_distinct``, relative std dev
    ``rsd``) lands within ``rel_tol`` of it.

    At 100 TB the approx sketch is the one you actually run (mergeable,
    fixed memory, one pass — exact distinct shuffles every key); this
    profile is the calibration harness that proves the sketch is
    trustworthy on your data. The raw estimate differs across engines
    (every HLL implementation hashes differently), so results expose the
    exact count plus the within-tolerance BOOLEAN — both deterministic
    and portable — rather than the estimate itself."""
    exact = F.countDistinct(key_col).alias("n_exact")
    approx = F.approx_count_distinct(key_col, rsd=rsd)
    return df.groupBy(group_col).agg(
        exact,
        (
            F.abs(approx.cast("double") - F.countDistinct(key_col).cast("double"))
            / F.countDistinct(key_col).cast("double")
            <= F.lit(rel_tol)
        ).alias("approx_within_tol"),
    )


def profile_approx_quantiles(
    df: "DataFrame",
    group_col: str,
    value_col: str,
    probabilities: tuple[float, ...] = (0.5, 0.9),
    rel_tol: float = 0.05,
    accuracy: int = 10_000,
    max_groups: int = 100_000,
    n_groups_hint: int | None = None,
) -> "DataFrame":
    """Per-group quantiles with exact values AND flags that the
    approx_percentile sketch (Greenwald-Khanna, ``accuracy``) lands
    within ``rel_tol`` of each — the quantile twin of
    :func:`profile_approx_cardinality`: at scale you run the mergeable
    one-pass sketch, this harness proves it's trustworthy on your data.
    The sketch value differs across engines, so the output exposes the
    exact (interpolating) percentile — identical in Spark and DuckDB's
    ``quantile_cont`` — plus portable booleans.

    The exact side comes from the distributed rank-quantile CDF
    (``operators/quantiles.py``), not the built-in exact percentile
    aggregate, whose per-group buffer holds every distinct value in one
    task — the very failure mode this harness exists to let you avoid.
    The sketch side stays a plain (mergeable, bounded) aggregate; the
    two join on the group key (both are |groups|-row tables). Profiling
    a group column with MORE than ``max_groups`` keys falls back to the
    built-in aggregate (identical values): with many groups each group's
    distinct-value buffer is a small slice of the data, so the builtin
    is the right shape there — the CDF's driver offsets are not."""
    from etl_manager_spark.operators.quantiles import grouped_exact_percentiles

    tags = [str(p).replace(".", "_") for p in probabilities]
    exact_names = {f"p{tag}_exact": p for tag, p in zip(tags, probabilities)}
    # round 10: the CDF operator is lazy (its few-groups contract raises
    # at EXECUTION, not construction), so the fallback decision needs an
    # explicit bounded probe — one LIMIT-capped distinct count, never
    # more than max_groups+1 rows regardless of true cardinality.
    # Round 11: a caller that KNOWS its group column's cardinality class
    # (a low-cardinality status/priority enum) passes ``n_groups_hint``
    # and skips the probe's eager job — the choice only picks between two
    # value-identical plans, and a wrong "few" hint still fails loudly at
    # execution via the CDF machinery's in-plan assert_true contract.
    # Only that direction is caught: an OVERSTATED hint (above max_groups
    # for a column that really has few groups) silently selects the
    # builtin percentile() fallback below — the same values, but the
    # single-task per-group distinct-value buffer this harness exists to
    # avoid, with no execution-time guard.
    n_groups = (
        n_groups_hint
        if n_groups_hint is not None
        else df.select(group_col).distinct().limit(max_groups + 1).count()
    )
    if n_groups <= max_groups:
        exact = grouped_exact_percentiles(
            df, [group_col], value_col, exact_names, max_groups=max_groups
        )
    else:
        exact = df.groupBy(group_col).agg(
            *[
                F.expr(f"percentile({value_col}, {p})").alias(name)
                for name, p in exact_names.items()
            ]
        )
    approx = df.groupBy(group_col).agg(
        *[
            F.expr(f"approx_percentile({value_col}, {p}, {accuracy})")
            .cast("double")
            .alias(f"_approx_{tag}")
            for tag, p in zip(tags, probabilities)
        ]
    )
    # null-safe equi-join (struct-wrapped key): a NULL group is a real
    # group in both sides and must survive the join
    out = (
        exact.withColumn("_pk", F.struct(group_col))
        .join(approx.withColumn("_pk", F.struct(group_col)).drop(group_col), "_pk")
        .drop("_pk")
    )
    cols = [F.col(group_col)]
    for tag in tags:
        cols.append(F.col(f"p{tag}_exact"))
        # multiplication form: |approx − exact| ≤ rel_tol·|exact| — same
        # predicate as the ratio without ANSI divide-by-zero when the
        # exact percentile is 0 (a zero exact then requires a zero sketch)
        cols.append(
            (
                F.abs(F.col(f"_approx_{tag}") - F.col(f"p{tag}_exact"))
                <= F.lit(rel_tol) * F.abs(F.col(f"p{tag}_exact"))
            ).alias(f"p{tag}_within_tol")
        )
    return out.select(*cols)
