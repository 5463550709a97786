"""Deterministic, engine-portable sampling and splitting.

Training-data pipelines need REPRODUCIBLE splits: the same row must land
in the same split on every run, on every engine, under any partitioning.
Spark's ``sample``/``sampleBy`` are seed-deterministic only relative to a
fixed partitioning, which a shuffle or AQE re-plan silently changes — so
these operators hash row identity instead.

Mechanism: the first 8 hex chars of ``md5(cast(id AS string))`` are a
uniform draw in [0, 16^8); comparing the LOWERCASE HEX STRING against a
threshold hex string is equivalent to comparing the numbers (hex digits
are ordered in ASCII), so the predicate is a pure string comparison that
evaluates identically in Spark, DuckDB, or any SQL engine with md5 — no
integer conversions, no float rounding.

Scale: per-row expressions only, no shuffle, no state; a split is a
filter that pushes down like any other predicate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from etl_manager_spark.operators.materialize import materialize

_HEX_SPACE = 16**8


def _threshold_hex(fraction: float) -> str:
    if not 0.0 <= fraction <= 1.0:
        raise ValueError(f"fraction must be in [0, 1], got {fraction}")
    if fraction >= 1.0:
        # keep-all must really keep ALL: clamping to 'ffffffff' with a
        # strict < would drop rows whose draw is exactly 'ffffffff'
        # (p = 2^-32 per row — real losses at corpus scale). 'g' sorts
        # above every hex digit, so draw < 'g' is always true while the
        # predicate stays a pure string comparison in every engine.
        return "g"
    return format(min(int(fraction * _HEX_SPACE), _HEX_SPACE - 1), "08x")


def hash_bucket(id_col: Column | str) -> Column:
    """The row's 8-hex-char md5 draw (lowercase) — uniform, deterministic,
    identical in any engine hashing the same string rendering of the id.
    NULL ids are coalesced to the empty string first: md5(NULL) is NULL
    and every NULL-compare predicate silently mis-routes (split sends the
    rows to 'test' regardless of fraction; sample drops them even at
    fraction 1.0) — with the coalesce all null-id rows share ONE
    deterministic draw and are kept or routed all-or-nothing."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    return F.substring(F.md5(F.coalesce(c.cast("string"), F.lit(""))), 1, 8)


def split_column(id_col: Column | str, train_fraction: float = 0.8) -> Column:
    """'train'/'test' assignment: train iff the hash draw falls below the
    fraction threshold."""
    return (
        F.when(hash_bucket(id_col) < F.lit(_threshold_hex(train_fraction)), "train")
        .otherwise("test")
    )


def train_test_split(
    df: DataFrame, id_col: str, train_fraction: float = 0.8
) -> tuple[DataFrame, DataFrame]:
    """(train, test) DataFrames — disjoint, exhaustive, reproducible under
    any partitioning. Stratification is automatic for any attribute
    independent of the id hash; for per-stratum fractions, filter with
    ``split_column`` per stratum."""
    s = split_column(id_col, train_fraction)
    return df.filter(s == "train"), df.filter(s == "test")


def stratified_sample(
    df: DataFrame,
    id_col: str,
    strata_col: str,
    fractions: dict[str, float],
    default_fraction: float = 0.0,
) -> DataFrame:
    """Deterministic stratified sampling: keep each row iff its md5 hash
    draw falls below its stratum's threshold — the class-rebalancing
    primitive of a training-data pipeline (downsample boilerplate-heavy
    languages, upweight rare ones by keeping all of them).

    Unlike ``DataFrame.sampleBy`` (seed-deterministic only relative to a
    fixed partitioning), the draw hashes row identity, so the kept set is
    reproducible under any partitioning, engine, or AQE re-plan, and is
    CONSISTENT with ``split_column``: a stratum sampled at fraction f
    keeps exactly the rows whose draw < f, so nested fractions compose
    (the f=0.2 sample is a subset of the f=0.5 sample).

    Scale: a pure per-row predicate — no shuffle, pushes down to the scan
    like any filter. Strata values not in ``fractions`` fall back to
    ``default_fraction`` (0.0 = drop)."""
    draw = hash_bucket(id_col)
    expr = None
    for value, frac in sorted(fractions.items()):
        cond = F.col(strata_col) == F.lit(value)
        keep = draw < F.lit(_threshold_hex(frac))
        expr = F.when(cond, keep) if expr is None else expr.when(cond, keep)
    if expr is None:
        expr = draw < F.lit(_threshold_hex(default_fraction))
    else:
        expr = expr.otherwise(draw < F.lit(_threshold_hex(default_fraction)))
    return df.filter(expr)


def assign_row_ids(
    df: DataFrame,
    order_cols: list[str],
    id_name: str = "row_id",
    n_partitions: int | None = None,
) -> DataFrame:
    """Dense, deterministic 0-based row ids in global ``order_cols`` order
    — the corpus-building primitive Spark lacks: ``row_number() OVER
    (ORDER BY …)`` forces every row through ONE partition (the empty
    window frame), and ``monotonically_increasing_id`` is neither dense
    nor order-stable.

    Scale shape: range-partition on the order keys (one shuffle —
    contiguous key ranges per partition), count rows per partition (tiny
    aggregate), prefix-sum those O(partitions) scalars IN-PLAN and
    broadcast the offsets back so each partition numbers its own rows
    locally: id = partition_offset + local row_number. The per-partition
    window partitions BY partition id, so no partition ever holds more
    than its own slice. Round 11: the offsets ride
    :func:`operators.prefix.ordered_cumsum`'s broadcast prefix-sum
    subtree (id ≡ the global 1-based rank − 1) — the former per-call
    driver ``collect`` of the counts + ``createDataFrame`` re-upload was
    an extra eager job and a full driver barrier, the same pattern
    rounds 10–11 removed from the CDF/prefix machinery.

    ``order_cols`` must be a total order (include a tiebreaker key) for
    the ids to be reproducible."""
    from etl_manager_spark.operators.prefix import ordered_cumsum

    for reserved in ("_ocs_part", "_ocs_n0", "_rid_rank"):
        if reserved in df.columns:
            raise ValueError(
                f"assign_row_ids: input may not contain {reserved!r} "
                "(internal staging column — it would be overwritten and "
                "dropped)"
            )
    out = ordered_cumsum(
        df,
        [F.col(c).asc() for c in order_cols],
        rank_name="_rid_rank",
        n_partitions=n_partitions,
    )
    return out.withColumn(
        id_name, (F.col("_rid_rank") - F.lit(1)).cast("long")
    ).drop("_rid_rank")


def temperature_resample(
    df: DataFrame,
    strata_col: str,
    id_col: str,
    total_budget: int,
    alpha_sqrt: bool = True,
) -> DataFrame:
    """Temperature-based mixture rebalancing: sample each stratum
    (language, domain, source) toward a share proportional to
    ``count^α`` — the multinomial temperature sampling of multilingual
    LLM data mixes (α<1 upweights rare strata relative to their raw
    share; this implementation fixes α=0.5, i.e. √count, the common
    setting, because SQRT is a single IEEE op every engine computes
    identically — arbitrary POWER would not be bitwise-portable).

    Fully deterministic integer arithmetic: each stratum's √count is
    nano-quantized to int64, quotas are
    ``floor(total_budget · sqrt_q_s / Σ sqrt_q)`` in BIGINT (the Σ is an
    integer sum — order-free), and the quota is filled by the stratum's
    rows in (md5(id), id) order — the same hash-priority discipline as
    ``stratified_sample``, so the kept set reproduces under any
    partitioning or engine and nested budgets compose (a smaller budget
    keeps a prefix of a larger one).

    Scale: one partial-aggregated count per stratum (tiny), quotas
    broadcast back, one window shuffle on the stratum key for the
    hash-rank. Returns the kept rows with (stratum count ``n_in_stratum``,
    ``quota``, hash-priority ``rk``)."""
    from pyspark.sql import Window

    sqrt_q = F.floor(
        F.sqrt(F.col("n_in_stratum").cast("double")) * F.lit(1e9) + F.lit(0.5)
    ).cast("long")
    counts = materialize(
        df.groupBy(strata_col)
        .agg(F.count(F.lit(1)).alias("n_in_stratum"))
        .withColumn("_sqrt_q", sqrt_q)
        # §8: strata-bounded table consumed by the Σ sqrt_q total AND
        # the quota projection — one fact pass, not two
    )
    total = counts.agg(F.sum("_sqrt_q").alias("_total_q"))
    quotas = counts.crossJoin(F.broadcast(total)).select(
        strata_col,
        "n_in_stratum",
        # explicit FLOOR on both engines: a bare cast would truncate in
        # Spark but round in DuckDB. The product is computed in DOUBLE:
        # budget × sqrt_q as BIGINT overflows int64 silently (Spark) or
        # errors (DuckDB) once a stratum holds ~1e9 rows; in double the
        # quotient is identical wherever the integer product fits 2^53
        # and stays finite (merely ~ulp-approximate) beyond it
        F.floor(
            F.lit(float(total_budget))
            * F.col("_sqrt_q").cast("double")
            / F.col("_total_q").cast("double")
        )
        .cast("long")
        .alias("quota"),
    )
    w = Window.partitionBy(strata_col).orderBy(
        hash_bucket(id_col), F.col(id_col).asc()
    )
    # NULL-SAFE quota join: a NULL stratum is a real stratum — groupBy
    # counted it into the quota denominator, so an equi-join here would
    # silently drop its rows and under-fill total_budget. The window
    # already groups NULL strata together.
    q = quotas.withColumnRenamed(strata_col, "_tr_stratum")
    ranked = (
        df.join(
            F.broadcast(q),
            on=F.col(strata_col).eqNullSafe(F.col("_tr_stratum")),
        )
        .drop("_tr_stratum")
        .withColumn("rk", F.row_number().over(w))
    )
    return ranked.filter(F.col("rk") <= F.col("quota"))


def temperature_resample_sql(
    table: str, strata_expr: str, id_expr: str, total_budget: int
) -> str:
    """DuckDB rendering of :func:`temperature_resample` (same integer
    quota arithmetic and hash-priority fill)."""
    return f"""
    WITH counts AS (
      SELECT {strata_expr} AS stratum, COUNT(*) AS n_in_stratum,
             CAST(FLOOR(SQRT(CAST(COUNT(*) AS DOUBLE)) * 1000000000.0 + 0.5)
                  AS BIGINT) AS sqrt_q
      FROM {table} GROUP BY 1
    ),
    quotas AS (
      SELECT stratum, n_in_stratum,
             CAST(FLOOR(CAST({total_budget} AS DOUBLE)
                  * CAST(sqrt_q AS DOUBLE)
                  / CAST((SELECT SUM(sqrt_q) FROM counts) AS DOUBLE))
                  AS BIGINT) AS quota
      FROM counts
    ),
    ranked AS (
      SELECT t.*, q.n_in_stratum, q.quota,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY {strata_expr}
               ORDER BY substr(md5(COALESCE(CAST({id_expr} AS VARCHAR), '')), 1, 8)
                          NULLS FIRST,
                        {id_expr} ASC NULLS FIRST) AS INTEGER) AS rk
      FROM {table} t JOIN quotas q
        ON {strata_expr} IS NOT DISTINCT FROM q.stratum
    )
    SELECT * FROM ranked WHERE rk <= quota"""
