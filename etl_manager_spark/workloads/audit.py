"""Data-governance / audit workloads (round 5): k-anonymity screening,
referential-integrity auditing, and interval-sweep concurrency analysis.

The reference's validation surface stops at schema/type checks
(`etl_manager/meta.py` agnostic-type validation); these are the
content-level audits a production pipeline runs on the same engine.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from etl_manager_spark.operators.materialize import materialize
from etl_manager_spark.workloads import workload
from etl_manager_spark.workloads.scratch import scratch_dir
from etl_manager_spark.workloads.tables import load_tables


@workload(
    "k_anonymity_audit_events",
    """
    SELECT event_type, hod, band, n
    FROM (
      SELECT event_type,
             CAST(EXTRACT(hour FROM ts) AS INTEGER) AS hod,
             CAST(FLOOR(value / 50.0) AS BIGINT) AS band,
             COUNT(*) AS n
      FROM events
      GROUP BY 1, 2, 3
    )
    WHERE n < 5
    """,
    category="etl",
)
def k_anonymity_audit_events(spark, sf_dir):
    """Privacy screening: quasi-identifier combinations
    (event_type, hour-of-day, value band) held by fewer than k=5 rows —
    the cells a k-anonymity release would have to suppress or generalize.
    One partially-aggregated groupBy over a 3-column scan (counts combine
    map-side; the shuffle carries one row per occupied cell, bounded by
    the quasi-id domain, not the data volume) and a HAVING filter."""
    t = load_tables(spark, sf_dir)
    return (
        t["events"]
        .groupBy(
            "event_type",
            F.hour("ts").alias("hod"),
            F.floor(F.col("value") / F.lit(50.0)).alias("band"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") < 5)
    )


_FK_EDGES = [
    # (name, child table, child key, parent table, parent key)
    ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
]


@workload(
    "fk_integrity_audit",
    "\nUNION ALL\n".join(
        f"""
    SELECT '{name}' AS fk, COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN p.{pk} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_orphans
    FROM {child} c LEFT JOIN {parent} p ON c.{ck} = p.{pk}"""
        for name, child, ck, parent, pk in _FK_EDGES
    ),
    category="etl",
)
def fk_integrity_audit(spark, sf_dir):
    """Referential-integrity audit across the star schema's five FK edges
    in one result: per edge, total child rows and orphan rows (child keys
    with no parent). Each edge is a left join probed for parent-null —
    the parent side is dimension-sized for four edges (broadcast; the
    lineitem→orders edge shuffles on the key) and the per-edge counts
    partial-aggregate to a single row, so the union'd result is 5 rows at
    any scale. The relational generalization of validation.py's
    column-level checks."""
    t = load_tables(spark, sf_dir)
    parts = []
    for name, child, ck, parent, pk in _FK_EDGES:
        c = t[child]
        p = t[parent].select(F.col(pk).alias("_pk"))
        joined = c.join(p, c[ck] == F.col("_pk"), "left")
        parts.append(
            joined.agg(
                F.lit(name).alias("fk"),
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(
                    F.when(F.col("_pk").isNull(), 1).otherwise(0)
                ).alias("n_orphans"),
            )
        )
    out = parts[0]
    for part in parts[1:]:
        out = out.unionByName(part)
    return out


@workload(
    "session_concurrency_events",
    """
    WITH ordered AS (
      SELECT user_id, ts, event_id,
             CASE WHEN EPOCH_US(ts) - LAG(EPOCH_US(ts))
                    OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST)
                  IS NULL
                  OR EPOCH_US(ts) - LAG(EPOCH_US(ts))
                    OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST)
                     > 1800000000
             THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    numbered AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id
                                    ORDER BY ts NULLS FIRST, event_id NULLS FIRST) AS session_id
      FROM ordered
    ),
    sessions AS (
      SELECT user_id, session_id, MIN(ts) AS s, MAX(ts) AS e
      FROM numbered GROUP BY user_id, session_id
    ),
    hours AS (
      SELECT UNNEST(generate_series(DATE_TRUNC('hour', s),
                                    DATE_TRUNC('hour', e),
                                    INTERVAL 1 HOUR)) AS hour_start
      FROM sessions
    )
    SELECT hour_start, COUNT(*) AS n_active_sessions
    FROM hours GROUP BY hour_start
    """,
    category="events",
)
def session_concurrency_events(spark, sf_dir):
    """Concurrency curve: number of user sessions (30-min inactivity gap)
    active in each hour — the capacity-planning query. Sessions come from
    the gap-flag + running-sum sessionization (one user_id shuffle);
    each session then explodes to the hours it spans (fan-out bounded by
    session duration — sessions are ≤ tens of hours, never data-sized)
    and a partially-aggregated count per hour finishes. No interval
    self-join anywhere: the sweep is linear in sessions + covered hours."""
    t = load_tables(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = us - F.lag(us).over(w)
    numbered = t["events"].select(
        "user_id",
        "ts",
        F.sum(
            F.when(gap.isNull() | (gap > 1800000000), 1).otherwise(0)
        ).over(w).alias("session_id"),
    )
    sessions = numbered.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("s"), F.max("ts").alias("e")
    )
    hours = sessions.select(
        F.explode(
            F.sequence(
                F.date_trunc("hour", "s").cast("timestamp_ntz"),
                F.date_trunc("hour", "e").cast("timestamp_ntz"),
                F.expr("INTERVAL 1 HOUR"),
            )
        ).alias("hour_start")
    )
    return hours.groupBy("hour_start").agg(
        F.count(F.lit(1)).alias("n_active_sessions")
    )


@workload(
    "asof_tolerance_events_order",
    """
    WITH ord AS (
      SELECT o_custkey AS user_id, o_orderdate,
             MAX(o_orderkey) AS o_orderkey
      FROM orders GROUP BY o_custkey, o_orderdate
    ),
    matched AS (
      SELECT e.event_id, e.user_id, e.ts,
             o.o_orderkey, o.o_orderdate
      FROM events e
      ASOF LEFT JOIN ord o
        ON e.user_id = o.user_id AND e.ts >= o.o_orderdate
    )
    SELECT event_id, user_id, ts,
           CASE WHEN o_orderdate >= ts - INTERVAL 30 DAY
                THEN o_orderkey END AS o_orderkey_asof,
           CASE WHEN o_orderdate >= ts - INTERVAL 30 DAY
                THEN o_orderdate END AS o_orderdate_asof
    FROM matched
    """,
    category="asof",
)
def asof_tolerance_events_order(spark, sf_dir):
    """As-of join with a max-staleness tolerance (operators/asof.py:
    asof_join(tolerance=...)): each event gets the user's most recent
    order ONLY if it is at most 30 days old at event time — the
    merge_asof(tolerance) semantics of sensor/market-data enrichment.
    The bound is a post-carry mask, so the plan stays one union + one
    keyed sort-window (no range explosion); the oracle masks a plain
    ASOF JOIN identically."""
    from etl_manager_spark.operators.asof import asof_join

    t = load_tables(spark, sf_dir)
    orders = (
        t["orders"]
        .groupBy(F.col("o_custkey").alias("user_id"), "o_orderdate")
        .agg(F.max("o_orderkey").alias("o_orderkey"))
    )
    events = t["events"].select("event_id", "user_id", "ts")
    return asof_join(
        events,
        orders,
        on="user_id",
        left_ts="ts",
        right_ts="o_orderdate",
        right_payload=["o_orderkey"],
        tolerance="30 DAYS",
    )


@workload(
    "chi2_event_type_by_dow",
    """
    WITH cells AS (
      SELECT event_type,
             CAST(EXTRACT(dow FROM ts) + 1 AS INTEGER) AS dow,
             COUNT(*) AS o
      FROM events GROUP BY 1, 2
    ),
    rt AS (SELECT event_type, SUM(o) AS r FROM cells GROUP BY event_type),
    ct AS (SELECT dow, SUM(o) AS c FROM cells GROUP BY dow),
    n AS (SELECT SUM(o) AS n FROM cells),
    contrib AS (
      SELECT cells.event_type, cells.dow,
             CAST(FLOOR(
               (cells.o - rt.r * ct.c / n.n) * (cells.o - rt.r * ct.c / n.n)
                 / (rt.r * ct.c / n.n)
               * 1000000000.0 + 0.5) AS BIGINT) AS chi_q
      FROM cells JOIN rt USING (event_type) JOIN ct USING (dow) CROSS JOIN n
    )
    SELECT CAST(SUM(chi_q) AS BIGINT) AS chi2_q,
           COUNT(*) AS n_cells,
           CAST((SELECT COUNT(*) FROM rt) - 1 AS BIGINT)
             * CAST((SELECT COUNT(*) FROM ct) - 1 AS BIGINT) AS dof
    FROM contrib
    """,
    category="analytics",
)
def chi2_event_type_by_dow(spark, sf_dir):
    """Chi-square independence test on the event_type × day-of-week
    contingency table — the categorical A/B primitive next to
    welch_t_view_vs_click. Observed counts are exact integers; each
    cell's (o−e)²/e is one fixed IEEE expression from integer operands,
    nano-quantized BEFORE the final sum so the statistic is an integer
    total (order-free, partitioning-independent). Plan: one cell
    aggregate, two tiny marginal aggregates broadcast back, one-row
    output."""
    t = load_tables(spark, sf_dir)
    cells = materialize(
        t["events"]
        .groupBy("event_type", F.dayofweek("ts").alias("dow"))
        .agg(F.count(F.lit(1)).alias("o"))
        # |types|×7-bounded table consumed by four branches (row/col
        # marginals, total, contributions) — one fact pass, not four (§8)
    )
    rt = cells.groupBy("event_type").agg(F.sum("o").alias("r"))
    ct = cells.groupBy("dow").agg(F.sum("o").alias("c"))
    n = cells.agg(F.sum("o").alias("n"))
    e = F.col("r") * F.col("c") / F.col("n")
    contrib = (
        cells.join(F.broadcast(rt), on="event_type")
        .join(F.broadcast(ct), on="dow")
        .crossJoin(F.broadcast(n))
        .select(
            F.floor(
                (F.col("o") - e) * (F.col("o") - e) / e * F.lit(1e9) + F.lit(0.5)
            )
            .cast("long")
            .alias("chi_q")
        )
    )
    dof = (
        rt.agg(F.count(F.lit(1)).alias("nr"))
        .crossJoin(ct.agg(F.count(F.lit(1)).alias("nc")))
        .select(
            ((F.col("nr") - 1).cast("long") * (F.col("nc") - 1).cast("long")).alias(
                "dof"
            )
        )
    )
    return (
        contrib.agg(
            F.sum("chi_q").alias("chi2_q"), F.count(F.lit(1)).alias("n_cells")
        )
        .crossJoin(F.broadcast(dof))
    )


@workload(
    "event_transition_matrix",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts NULLS FIRST, event_id NULLS FIRST) AS prev_type
      FROM events WHERE ts IS NOT NULL
    )
    SELECT prev_type, event_type AS next_type, COUNT(*) AS n
    FROM seq WHERE prev_type IS NOT NULL
    GROUP BY prev_type, event_type
    """,
    category="events",
)
def event_transition_matrix(spark, sf_dir):
    """First-order Markov transition counts over per-user event streams
    (prev_type → next_type under the total (ts, event_id) order) — the
    path-mining primitive behind funnel discovery. One shuffle on user_id
    for the lag window; the 25-cell count partial-aggregates map-side."""
    t = load_tables(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # no event time -> no position in the chain (both sides)
    seq = t["events"].filter(F.col("ts").isNotNull()).select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    )
    return (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


@workload(
    "rfm_user_scores",
    """
    WITH agg AS (
      SELECT user_id,
             MAX(ts) AS last_ts,
             COUNT(*) AS frequency,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS monetary
      FROM events GROUP BY user_id
    )
    SELECT user_id,
           CAST(NTILE(5) OVER (ORDER BY last_ts DESC NULLS LAST,
                               user_id NULLS FIRST) AS INTEGER)
             AS r_score,
           CAST(NTILE(5) OVER (ORDER BY frequency DESC NULLS LAST,
                               user_id NULLS FIRST) AS INTEGER)
             AS f_score,
           CAST(NTILE(5) OVER (ORDER BY monetary DESC NULLS LAST,
                               user_id NULLS FIRST) AS INTEGER)
             AS m_score,
           frequency, monetary
    FROM agg
    """,
    category="analytics",
)
def rfm_user_scores(spark, sf_dir):
    """RFM (recency/frequency/monetary) customer scoring: one decimal-
    exact aggregate per user, then three quintile assignments under
    total orders (user_id tiebreak → deterministic). Each quintile is a
    two-phase range-partitioned rank (``ordered_cumsum`` — per-partition
    row_number + driver-prefix-summed offsets, NO single-partition NTILE
    window) composed with the closed-form ANSI NTILE bucket formula
    (``ntile_from_rank``), so the user dimension scales past one task.
    Answers are bitwise-identical to NTILE(5) OVER (ORDER BY … NULLS FIRST)."""
    from etl_manager_spark.functions.exact import dec_sum
    from etl_manager_spark.operators.prefix import ntile_from_rank, ordered_cumsum

    t = load_tables(spark, sf_dir)
    agg = t["events"].groupBy("user_id").agg(
        F.max("ts").alias("last_ts"),
        F.count(F.lit(1)).alias("frequency"),
        dec_sum("value").alias("monetary"),
    )
    ranked = ordered_cumsum(
        agg, [F.desc("last_ts"), F.asc("user_id")], rank_name="_r_rnk"
    )
    ranked = ordered_cumsum(
        ranked, [F.desc("frequency"), F.asc("user_id")], rank_name="_f_rnk"
    )
    ranked = ordered_cumsum(
        ranked, [F.desc("monetary"), F.asc("user_id")], rank_name="_m_rnk"
    )
    # round 11 (§6): count users off the (row-count-preserving) cumsum
    # chain's checkpointed output — count(*) references no window column,
    # so pruning reduces this branch to a scan of the last checkpoint;
    # counting the LAZY agg re-planned a second full parquet scan of
    # events per invocation
    n_users = ranked.groupBy().agg(F.count(F.lit(1)).alias("_n_users"))
    return ranked.crossJoin(F.broadcast(n_users)).select(
        "user_id",
        ntile_from_rank("_r_rnk", "_n_users", 5).alias("r_score"),
        ntile_from_rank("_f_rnk", "_n_users", 5).alias("f_score"),
        ntile_from_rank("_m_rnk", "_n_users", 5).alias("m_score"),
        "frequency",
        "monetary",
    )


@workload(
    "benford_first_digit_values",
    """
    WITH d AS (
      SELECT CAST(SUBSTR(CAST(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)
                              AS VARCHAR), 1, 1) AS INTEGER) AS digit
      FROM events WHERE value >= 0.01
    ),
    c AS (SELECT digit, COUNT(*) AS n FROM d GROUP BY digit),
    t AS (SELECT SUM(n) AS total FROM c)
    SELECT c.digit, c.n,
           CAST(FLOOR(CAST(c.n AS DOUBLE) / t.total
                      * 1000000000.0 + 0.5) AS BIGINT) AS observed_q,
           CAST(FLOOR(LN(1.0 + 1.0 / c.digit) / LN(10.0)
                      * 1000000000.0 + 0.5) AS BIGINT) AS benford_q
    FROM c CROSS JOIN t
    """,
    category="analytics",
)
def benford_first_digit_values(spark, sf_dir):
    """Benford's-law audit: distribution of the first significant digit
    of the value column (taken from the integer cents rendering — string
    of an int64 is identical across engines, no float log10 near powers
    of ten) against the log10(1+1/d) expectation. The fraud/corruption
    screening classic; one 9-row aggregate."""
    t = load_tables(spark, sf_dir)
    cents = F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5)).cast("long")
    d = (
        t["events"]
        .filter(F.col("value") >= 0.01)
        .select(F.substring(cents.cast("string"), 1, 1).cast("int").alias("digit"))
    )
    # 9-row digit counts consumed by the total AND the final projection —
    # one fact pass, not two (§8)
    c = materialize(d.groupBy("digit").agg(F.count(F.lit(1)).alias("n")))
    total = c.agg(F.sum("n").alias("total"))
    return c.crossJoin(F.broadcast(total)).select(
        "digit",
        "n",
        F.floor(
            F.col("n").cast("double") / F.col("total") * F.lit(1e9) + F.lit(0.5)
        )
        .cast("long")
        .alias("observed_q"),
        F.floor(
            F.log(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
            / F.log(F.lit(10.0))
            * F.lit(1e9)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("benford_q"),
    )


@workload(
    "quarantine_bad_events",
    """
    WITH flagged AS (
      SELECT event_id,
             CASE
               WHEN event_type NOT IN
                    ('view', 'click', 'purchase', 'signup', 'error')
                 THEN 'unknown_event_type'
               WHEN value > 450.0 THEN 'value_out_of_contract'
               WHEN props ->> 'k' IS NOT NULL
                    AND TRY_CAST(props ->> 'k' AS BIGINT) IS NULL
                 THEN 'prop_k_malformed'
               WHEN TRY_CAST(props ->> 'k' AS BIGINT) > 95
                 THEN 'prop_k_out_of_contract'
               ELSE 'ok'
             END AS reason
      FROM events
    )
    SELECT reason, COUNT(*) AS n,
           MIN(event_id) AS first_event_id, MAX(event_id) AS last_event_id
    FROM flagged GROUP BY reason
    """,
    category="etl",
)
def quarantine_bad_events(spark, sf_dir):
    """Data-contract routing (dead-letter classification): every row is
    assigned the FIRST violated rule — unknown enum, numeric range,
    JSON-prop range — or 'ok'; the per-reason rollup is what a quarantine
    sink and an alerting rule consume. Pure per-row projection + one tiny
    aggregate; the same predicate order runs in both engines, so the
    routing decision is reproducible (a quarantine that depends on rule
    evaluation order must pin that order)."""
    t = load_tables(spark, sf_dir)
    known = ("view", "click", "purchase", "signup", "error")
    raw_k = F.get_json_object("props", "$.k")
    # try_cast, not cast: a malformed k is a row to QUARANTINE (its own
    # reason, checked before the range rule), never an ANSI job failure
    k = raw_k.try_cast("long")
    reason = (
        F.when(~F.col("event_type").isin(*known), "unknown_event_type")
        .when(F.col("value") > 450.0, "value_out_of_contract")
        .when(raw_k.isNotNull() & k.isNull(), "prop_k_malformed")
        .when(k > 95, "prop_k_out_of_contract")
        .otherwise("ok")
    )
    return (
        t["events"]
        .select("event_id", reason.alias("reason"))
        .groupBy("reason")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("event_id").alias("first_event_id"),
            F.max("event_id").alias("last_event_id"),
        )
    )


@workload(
    "cumulative_new_users_daily",
    """
    WITH first_seen AS (
      SELECT user_id, CAST(MIN(DATE_TRUNC('day', ts)) AS DATE) AS day
      FROM events GROUP BY user_id
    ),
    daily AS (SELECT day, COUNT(*) AS new_users FROM first_seen GROUP BY day)
    SELECT day, new_users,
           -- NULLS FIRST: the engine's ordered_cumsum runs F.asc("day"),
           -- so the all-NULL-ts users' NULL first-seen day cumulates FIRST
           CAST(SUM(new_users) OVER (ORDER BY day NULLS FIRST
                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumulative_users
    FROM daily
    """,
    category="timeseries",
)
def cumulative_new_users_daily(spark, sf_dir):
    """User-acquisition curve: each user's first-seen day, daily new-user
    counts, and the running total. The heavy lifting — first-seen per
    user — partial-aggregates on user_id first; the running total over
    the DAY aggregate is the two-phase range-partitioned
    ``ordered_cumsum`` (per-partition windows + driver-prefix-summed
    offsets), so even a decades-long curve never plans an Exchange
    SinglePartition."""
    from etl_manager_spark.operators.prefix import ordered_cumsum

    t = load_tables(spark, sf_dir)
    first_seen = t["events"].groupBy("user_id").agg(
        F.min(F.date_trunc("day", "ts")).cast("date").alias("day")
    )
    daily = first_seen.groupBy("day").agg(F.count(F.lit(1)).alias("new_users"))
    return ordered_cumsum(daily, [F.asc("day")], ["new_users"]).select(
        "day",
        "new_users",
        F.col("new_users_cum").alias("cumulative_users"),
    )


@workload(
    "udaf_weighted_mean_events",
    """
    SELECT event_type,
           -- the weight sum spans rows where BOTH value and k are present
           -- (the UDAF's accumulation rule): a weight without a value
           -- contributes to neither numerator nor denominator
           SUM(CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT)
               * TRY_CAST(props ->> 'k' AS BIGINT))
             / SUM(CASE WHEN value IS NOT NULL
                        THEN TRY_CAST(props ->> 'k' AS BIGINT) END)
             / 100.0 AS weighted_mean
    FROM events GROUP BY event_type
    """,
    category="udf",
)
def udaf_weighted_mean_events(spark, sf_dir):
    """Custom UDAF via grouped-aggregate pandas_udf (functions/udfs.py:
    weighted_mean_cents): per event type, the k-prop-weighted mean value,
    exact integer accumulation inside the UDAF so the scalar is
    partitioning-independent and oracle-matched. One hash exchange on the
    group key carrying only (value, k)."""
    from etl_manager_spark.functions.udfs import weighted_mean_cents

    t = load_tables(spark, sf_dir)
    return (
        t["events"]
        .select(
            "event_type",
            "value",
            # try_cast mirrors the oracle's TRY_CAST: malformed k -> NULL
            # weight (skipped by the UDAF), never an ANSI job failure
            F.get_json_object("props", "$.k").try_cast("long").alias("k"),
        )
        .groupBy("event_type")
        .agg(weighted_mean_cents("value", "k").alias("weighted_mean"))
    )


@workload(
    "python_datasource_synthlog",
    """
    WITH g AS (
      SELECT i AS line_id, md5('log:' || i) AS h FROM range(0, 2000) t(i)
    ),
    r AS (
      SELECT line_id,
             ['DEBUG','INFO','WARN','ERROR']
               [(('0x' || substr(h, 1, 2))::INTEGER % 4) + 1] AS level,
             (('0x' || substr(h, 3, 8))::BIGINT % 10000) / 100.0 AS value
      FROM g
    )
    SELECT level, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM r GROUP BY level
    """,
    category="formats",
)
def python_datasource_synthlog(spark, sf_dir):
    """Custom Python data source (Spark 4 pyspark.sql.datasource —
    sources/pysource.py): a registered DataSource class becomes a
    first-class spark.read.format() with driver-side partition planning
    and executor-side generation. The generator is md5-deterministic and
    striped value-independently across partitions, so the read is
    oracle-checkable: DuckDB regenerates the identical rows from range()
    with the same md5 arithmetic."""
    from etl_manager_spark.functions.exact import dec_sum
    from etl_manager_spark.sources.pysource import register

    register(spark)
    logs = (
        spark.read.format("synthlog")
        .option("rows", "2000")
        .option("parts", "8")
        .load()
    )
    return logs.groupBy("level").agg(
        F.count(F.lit(1)).alias("n"), dec_sum("value").alias("total_value")
    )


@workload(
    "streaming_python_datasource_synthlog",
    """
    WITH g AS (
      SELECT i AS line_id, md5('log:' || i) AS h FROM range(0, 2000) t(i)
    ),
    r AS (
      SELECT line_id,
             ['DEBUG','INFO','WARN','ERROR']
               [(('0x' || substr(h, 1, 2))::INTEGER % 4) + 1] AS level
      FROM g
    )
    SELECT level, COUNT(*) AS n FROM r GROUP BY level
    """,
    category="streaming",
)
def streaming_python_datasource_synthlog(spark, sf_dir):
    """Custom Python STREAMING source (sources/pysource.py:
    SynthLogStreamReader — Spark 4 SimpleDataSourceStreamReader): offsets
    are line-id watermarks, readBetweenOffsets replays committed ranges
    exactly (stateless md5 generation → exactly-once under checkpoint
    recovery). Spark's Python micro-batch wrapper downgrades
    Trigger.AvailableNow to a single batch, so this bounded run serves
    the whole range in one batch; incremental multi-batch offsets are
    exercised by the reader-API unit test."""
    from etl_manager_spark.sources.pysource import register
    from etl_manager_spark.streaming.windows import run_to_memory

    register(spark)
    stream = (
        spark.readStream.format("synthlog")
        .option("rows", "2000")
        .load()
        .groupBy("level")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return run_to_memory(stream, spark, "stream_synthlog_counts")


@workload(
    "variant_extract_events",
    """
    WITH v AS (
      SELECT event_id, TRY_CAST(props ->> 'k' AS BIGINT) AS k FROM events
    )
    SELECT COUNT(*) AS n_rows,
           MIN(k) AS min_k, MAX(k) AS max_k,
           CAST(SUM(k) AS BIGINT) AS sum_k,
           -- field-level inference pin: the k values that extract as
           -- BIGINT infer as BIGINT regardless of what OTHER keys ride
           -- in the same object (an object-level pin broke the moment a
           -- row carried {"k": 87, "extra": ...})
           CASE WHEN COUNT(k) > 0 THEN 'BIGINT' END AS inferred_schema
    FROM v
    """,
    category="json",
)
def variant_extract_events(spark, sf_dir):
    """Spark 4 VariantType path for semi-structured data: parse_json into
    a variant column (binary-encoded, schema-on-read — the open-table
    semi-structured type), typed extraction via try_variant_get, and
    schema_of_variant inference. The oracle pins both the extracted
    values (JSON path in DuckDB) and the exact inferred-schema rendering.
    Variant decode is JVM-side; the per-row work pipelines in the scan."""
    t = load_tables(spark, sf_dir)
    v = t["events"].select(
        "event_id", F.parse_json("props").alias("v")
    ).select(
        F.try_variant_get(F.col("v"), "$.k", "long").alias("k"),
        # infer on the EXTRACTED FIELD (variant-typed get), not the whole
        # object: the field's schema is stable no matter what other keys
        # ride alongside k in a given row
        F.schema_of_variant(
            F.try_variant_get(F.col("v"), "$.k", "variant")
        ).alias("sch"),
    )
    return v.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("k").alias("min_k"),
        F.max("k").alias("max_k"),
        F.sum("k").alias("sum_k"),
        # inference is anchored to the rows where the typed get succeeds:
        # rows whose k is missing/null/non-numeric (and the empty corpus)
        # contribute nothing, matching the oracle's COUNT(k)-gated pin
        F.min(F.when(F.col("k").isNotNull(), F.col("sch"))).alias(
            "inferred_schema"
        ),
    )


@workload(
    "custom_sink_roundtrip_events",
    """
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events WHERE user_id < 30 GROUP BY event_type
    """,
    category="formats",
)
def custom_sink_roundtrip_events(spark, sf_dir):
    """Custom Python data SINK with a two-phase commit protocol
    (sources/pysource.py:JsonlSinkWriter): tasks write temp files and
    return commit messages; only the driver's commit renames them and
    stamps _SUCCESS, so failed/speculative tasks never publish. The
    workload proves the visibility contract end-to-end: events are
    written through the sink as JSONL, read back, and aggregated —
    matching the direct aggregate exactly (double values survive the
    text round-trip via shortest-round-trip rendering)."""
    import os

    from etl_manager_spark.functions.exact import dec_sum
    from etl_manager_spark.sources.pysource import register_sink

    register_sink(spark)
    out = scratch_dir("jsonl_sink_")
    (
        load_tables(spark, sf_dir)["events"]
        .filter(F.col("user_id") < 30)
        .select("event_id", "event_type", "value")
        .write.format("jsonlsink")
        .option("path", out)
        .mode("append")
        .save()
    )
    back = spark.read.schema("event_id long, event_type string, value double").json(
        os.path.join(out, "part-*.jsonl")
    )
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), dec_sum("value").alias("total_value")
    )


@workload(
    "xml_roundtrip_events",
    """
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events WHERE user_id < 20 GROUP BY event_type
    """,
    category="formats",
)
def xml_roundtrip_events(spark, sf_dir):
    """Built-in XML format (Spark 4 native spark-xml): write events as
    <row> elements, read them back with an explicit schema, aggregate —
    must equal the direct aggregate, proving doubles survive the XML text
    round-trip (Java shortest-round-trip rendering ↔ exact re-parse).
    Extends the §2.B format surface beyond the reference's SerDe set
    (csv/json/parquet/orc/avro/regex) with the remaining classic."""
    from etl_manager_spark.functions.exact import dec_sum

    t = load_tables(spark, sf_dir)
    out = scratch_dir("xml_roundtrip_") + "/rows"
    (
        t["events"]
        .filter(F.col("user_id") < 20)
        .select("event_id", "event_type", "value")
        .write.format("xml")
        .option("rowTag", "row")
        .option("rootTag", "rows")
        .save(out)
    )
    back = (
        spark.read.format("xml")
        .option("rowTag", "row")
        .schema("event_id long, event_type string, value double")
        .load(out)
    )
    return back.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), dec_sum("value").alias("total_value")
    )


@workload(
    "streaming_custom_sink_synthlog",
    """
    WITH g AS (
      SELECT i AS line_id, md5('log:' || i) AS h FROM range(0, 1000) t(i)
    ),
    r AS (
      SELECT ['DEBUG','INFO','WARN','ERROR']
               [(('0x' || substr(h, 1, 2))::INTEGER % 4) + 1] AS level
      FROM g
    )
    SELECT level, COUNT(*) AS n FROM r GROUP BY level
    """,
    category="streaming",
)
def streaming_custom_sink_synthlog(spark, sf_dir):
    """End-to-end custom Python STREAM: synthlog stream source →
    per-micro-batch committed JSONL stream sink
    (sources/pysource.py:JsonlStreamSinkWriter — batch-id manifests make
    replayed batch commits no-ops, so source replay + idempotent sink =
    exactly-once). The workload then reads the published files back and
    aggregates; equality with the direct aggregate proves the published
    set is exactly one copy of the stream."""
    import os

    from etl_manager_spark.sources.pysource import register, register_stream_sink

    register(spark)
    register_stream_sink(spark)
    out = scratch_dir("jsonl_stream_sink_")
    q = (
        spark.readStream.format("synthlog")
        .option("rows", "1000")
        .load()
        .select("line_id", "level")
        .writeStream.format("jsonlstreamsink")
        .option("path", out)
        .option("checkpointLocation", os.path.join(out, "_chk"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    back = spark.read.schema("line_id long, level string").json(
        os.path.join(out, "batch-*-part-*.jsonl")
    )
    return back.groupBy("level").agg(F.count(F.lit(1)).alias("n"))


@workload(
    "asof_forward_events_order",
    """
    WITH ord AS (
      SELECT o_custkey AS user_id, o_orderdate,
             MAX(o_orderkey) AS o_orderkey
      FROM orders GROUP BY o_custkey, o_orderdate
    )
    -- CASE guard: DuckDB's ASOF matches a NULL left timestamp against
    -- the latest right row (its sort treats NULL as largest); SQL
    -- comparison semantics (and operators/asof.py) say NULL matches
    -- nothing
    SELECT e.event_id, e.user_id, e.ts,
           CASE WHEN e.ts IS NOT NULL THEN o.o_orderkey END
             AS o_orderkey_asof,
           CASE WHEN e.ts IS NOT NULL THEN o.o_orderdate END
             AS o_orderdate_asof
    FROM events e
    ASOF LEFT JOIN ord o
      ON e.user_id = o.user_id AND e.ts <= o.o_orderdate
    """,
    category="asof",
)
def asof_forward_events_order(spark, sf_dir):
    """FORWARD as-of join (operators/asof.py: asof_join(direction=
    "forward")): for each event, the user's NEXT order at-or-after event
    time — the "time to next conversion" primitive. Same
    union-sort-window plan as backward (one shuffle per side, no range
    explosion); the window flips to first(ignorenulls) over the
    following frame with right rows sorted after left at equal ts.
    Orders pre-deduped per (user, date) for a deterministic payload;
    DuckDB's native forward ASOF (ts <= o_orderdate) is the oracle."""
    from etl_manager_spark.operators.asof import asof_join

    t = load_tables(spark, sf_dir)
    orders = (
        t["orders"]
        .groupBy(F.col("o_custkey").alias("user_id"), "o_orderdate")
        .agg(F.max("o_orderkey").alias("o_orderkey"))
    )
    events = t["events"].select("event_id", "user_id", "ts")
    return asof_join(
        events,
        orders,
        on="user_id",
        left_ts="ts",
        right_ts="o_orderdate",
        right_payload=["o_orderkey"],
        direction="forward",
    )


@workload(
    "null_aware_anti_join_variants",
    """
    SELECT 'no_nulls' AS variant, CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM customer
    WHERE c_custkey NOT IN (
      SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    )
    UNION ALL
    SELECT 'with_nulls' AS variant, CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM customer
    WHERE c_custkey NOT IN (
      SELECT NULLIF(o_custkey, 1) FROM orders WHERE o_orderstatus = 'F'
    )
    """,
    category="join",
)
def null_aware_anti_join_variants(spark, sf_dir):
    """NOT IN three-valued-logic parity: with a null-free subquery,
    NOT IN is a plain anti join; once the subquery CONTAINS a NULL,
    every membership test is UNKNOWN and the result is EMPTY — the SQL
    foot-gun engines must reproduce exactly. Spark plans the second
    variant as a null-aware anti join (BroadcastNestedLoop under the
    hood for correctness — why production pipelines prefer NOT EXISTS;
    here the build side is a deduped key set, so the nested-loop probe
    is against a tiny broadcast, not a data-sized relation)."""
    t = load_tables(spark, sf_dir)
    t["customer"].createOrReplaceTempView("_naaj_customer")
    t["orders"].createOrReplaceTempView("_naaj_orders")
    return spark.sql(
        """
        SELECT 'no_nulls' AS variant, CAST(COUNT(*) AS BIGINT) AS n_customers
        FROM _naaj_customer
        WHERE c_custkey NOT IN (
          SELECT o_custkey FROM _naaj_orders WHERE o_orderstatus = 'F'
        )
        UNION ALL
        SELECT 'with_nulls' AS variant, CAST(COUNT(*) AS BIGINT) AS n_customers
        FROM _naaj_customer
        WHERE c_custkey NOT IN (
          SELECT NULLIF(o_custkey, 1) FROM _naaj_orders
          WHERE o_orderstatus = 'F'
        )
        """
    )


@workload(
    "generators_part_words",
    """
    WITH words AS (
      SELECT p_partkey,
             UNNEST(REGEXP_SPLIT_TO_ARRAY(p_name, ' ')) AS word,
             UNNEST(range(1, LEN(REGEXP_SPLIT_TO_ARRAY(p_name, ' ')) + 1))
               AS pos1
      FROM part
    )
    SELECT p_partkey, CAST(pos1 - 1 AS INTEGER) AS pos, word,
           CAST(LENGTH(word) AS INTEGER) AS word_len
    FROM words
    """,
    category="generator",
)
def generators_part_words(spark, sf_dir):
    """Generator surface: posexplode over a split array — (position,
    value) pairs per part name word. The generator runs inside the scan
    stage (no shuffle at all: fan-out happens before any exchange), so
    at any scale this is a map-only pass. The oracle zips the word list
    with its index via parallel UNNEST."""
    t = load_tables(spark, sf_dir)
    return (
        t["part"]
        .select(
            "p_partkey",
            F.posexplode(F.split("p_name", " ")).alias("pos", "word"),
        )
        .select(
            "p_partkey",
            "pos",
            "word",
            F.length("word").alias("word_len"),
        )
    )


@workload(
    "hll_union_rollup_events",
    """
    -- ts IS NOT NULL: sketches are keyed by day/week; a row with no
    -- event time belongs to no window on either side
    SELECT CAST(DATE_TRUNC('week', ts) AS DATE) AS week,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS estimate_within_5pct
    FROM events WHERE ts IS NOT NULL
    GROUP BY DATE_TRUNC('week', ts)
    """,
    category="sketch",
)
def hll_union_rollup_events(spark, sf_dir):
    """Mergeable-sketch rollup — the 100 TB cardinality pattern: per-DAY
    HLL sketches (DataSketches hll_sketch_agg) are UNIONED into weekly
    sketches (hll_union_agg) and estimated, exactly how a production
    pipeline re-aggregates precomputed partials instead of rescanning
    raw events. The same query computes the exact weekly distinct count
    and emits a 5%-tolerance flag; the oracle pins the exact counts and
    expects every flag TRUE — a broken sketch merge fails the hash gate.
    (At lgConfigK=12 the observed error is ~1%.)"""
    t = load_tables(spark, sf_dir)
    events = t["events"]
    daily = events.groupBy(F.date_trunc("day", "ts").alias("day")).agg(
        F.hll_sketch_agg("user_id", F.lit(12)).alias("sk")
    )
    weekly_est = daily.groupBy(
        F.date_trunc("week", "day").alias("week")
    ).agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
    exact = events.groupBy(F.date_trunc("week", "ts").alias("week")).agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return (
        exact.join(weekly_est, on="week")
        .select(
            F.col("week").cast("date").alias("week"),
            "exact_users",
            (
                # est == exact is within tolerance by definition — and it
                # covers the degenerate week whose events all have NULL
                # user_id (exact = est = 0), where the ratio is 0/0: ANSI
                # division would throw there, and the oracle pins TRUE.
                # try_divide guards the (unreachable in practice)
                # remaining zero-exact case instead of throwing.
                F.when(F.col("est") == F.col("exact_users"), F.lit(True))
                .otherwise(
                    F.try_divide(
                        F.abs(F.col("est") - F.col("exact_users")),
                        F.col("exact_users"),
                    )
                    <= F.lit(0.05)
                )
            ).alias("estimate_within_5pct"),
        )
    )


@workload(
    "bitmap_distinct_rollup_events",
    """
    SELECT CAST(DATE_TRUNC('week', ts) AS DATE) AS week,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    GROUP BY DATE_TRUNC('week', ts)
    """,
    category="sketch",
)
def bitmap_distinct_rollup_events(spark, sf_dir):
    """EXACT mergeable distinct counting via bitmaps — the companion to
    the HLL rollup when exactness is required: per-(day, bucket) bitmaps
    (bitmap_construct_agg over bitmap_bit_position) OR-merge into weekly
    bitmaps (bitmap_or_agg), and the bucketed bitmap_count sums are the
    exact per-week distinct user counts. Re-aggregation of partials,
    never a rescan: the raw shuffle carries fixed-size bitmap buckets
    (≤4 KB per 32k-id range), not user ids — at 100 TB the weekly merge
    input is days × occupied-buckets rows regardless of event volume.
    The oracle is a plain COUNT(DISTINCT) — values must match exactly."""
    t = load_tables(spark, sf_dir)
    daily = (
        t["events"]
        .select(
            F.date_trunc("day", "ts").alias("day"),
            F.expr("bitmap_bucket_number(user_id)").alias("bucket"),
            F.col("user_id"),
        )
        .groupBy("day", "bucket")
        .agg(
            F.expr(
                "bitmap_construct_agg(bitmap_bit_position(user_id))"
            ).alias("bm")
        )
    )
    weekly = (
        daily.groupBy(
            F.date_trunc("week", "day").alias("week"), F.col("bucket")
        )
        .agg(F.expr("bitmap_or_agg(bm)").alias("bm"))
        .groupBy("week")
        .agg(F.sum(F.expr("bitmap_count(bm)")).alias("n_users"))
    )
    return weekly.select(
        F.col("week").cast("date").alias("week"),
        F.col("n_users").cast("long").alias("n_users"),
    )


@workload(
    "scalar_try_functions",
    """
    SELECT
      CAST(SUM(CASE WHEN (CAST(l_quantity AS INTEGER)
                          / (CAST(l_orderkey % 100000 AS INTEGER) - 7))
                    IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_div_null,
      CAST(SUM(CASE WHEN TRY_CAST(
                      CASE WHEN l_orderkey % 100000 = 7 THEN l_returnflag
                           ELSE CAST(l_linenumber AS VARCHAR) END
                    AS INTEGER) IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        AS n_badcast_null,
      CAST(SUM(CASE WHEN TRY_CAST(CAST(l_quantity AS VARCHAR) AS DOUBLE)
                    = l_quantity THEN 1 ELSE 0 END) AS BIGINT)
        AS n_roundtrip_ok,
      CAST(SUM(CASE WHEN 9223372036854775807 + CAST(0 AS BIGINT) IS NOT NULL
                     AND l_orderkey >= 0
               THEN 1 ELSE 0 END) AS BIGINT) AS n_rows
    FROM lineitem
    """,
    category="scalar",
)
def scalar_try_functions(spark, sf_dir):
    """ANSI-safe arithmetic surface: try_divide (integer /0 → NULL
    instead of an ANSI error), try_cast (malformed string → NULL),
    lossless string round-trip through try_cast, and try_add staying
    non-null when in range. All scan-local codegen expressions — the
    point is error-channel semantics, not dataflow; the oracle renders
    each as its CASE/TRY_CAST equivalent. The /0 divisor hits only the
    l_orderkey%100000=7 sliver (a handful of rows): each try_divide
    error is a caught JVM exception costing ~50 µs, so an every-row
    error path measured 5 s at sf0.1 and even a 1/7 slice measured
    7 s — error channels are for exceptional rows, not the common
    case. Same for try_cast: the malformed input is confined to the
    sliver (an all-malformed column measured 4.6 s alone)."""
    t = load_tables(spark, sf_dir)
    return t["lineitem"].agg(
        F.sum(
            F.when(
                F.expr(
                    "try_divide(CAST(l_quantity AS INT),"
                    " CAST(l_orderkey % 100000 AS INT) - 7)"
                ).isNull(),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_div_null"),
        F.sum(
            F.when(
                F.expr(
                    "try_cast(CASE WHEN l_orderkey % 100000 = 7"
                    " THEN l_returnflag"
                    " ELSE CAST(l_linenumber AS STRING) END AS INT)"
                ).isNull(),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_badcast_null"),
        F.sum(
            F.when(
                F.expr("try_cast(CAST(l_quantity AS STRING) AS DOUBLE)")
                == F.col("l_quantity"),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_roundtrip_ok"),
        F.sum(
            F.when(
                F.expr("try_add(l_orderkey, CAST(0 AS BIGINT))").isNotNull()
                & (F.col("l_orderkey") >= 0),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_rows"),
    )


@workload(
    "collation_case_insensitive_group",
    """
    WITH mixed AS (
      SELECT CASE WHEN p_partkey % 2 = 0 THEN UPPER(p_brand)
                  ELSE p_brand END AS brand_mixed
      FROM part
    )
    SELECT LOWER(brand_mixed) AS brand_lc, CAST(COUNT(*) AS BIGINT) AS n_parts
    FROM mixed GROUP BY LOWER(brand_mixed)
    """,
    category="scalar",
)
def collation_case_insensitive_group(spark, sf_dir):
    """Spark 4 collations: grouping on a UTF8_LCASE-collated column
    merges case variants ('Brand#1' / 'BRAND#1') in the aggregation
    itself — no lower() rewrite — exercising collation-aware hashing
    end to end. The output is rendered through lower() only to pin a
    deterministic representative (a collated group's sample value is
    whichever variant arrived first). The oracle is the classic
    LOWER() GROUP BY."""
    t = load_tables(spark, sf_dir)
    mixed = t["part"].select(
        F.when(
            F.col("p_partkey") % 2 == 0, F.upper("p_brand")
        )
        .otherwise(F.col("p_brand"))
        .alias("brand_mixed")
    )
    return (
        mixed.select(
            F.expr("brand_mixed COLLATE UTF8_LCASE").alias("brand_ci")
        )
        .groupBy("brand_ci")
        .agg(F.count(F.lit(1)).alias("n_parts"))
        .select(
            F.lower(F.col("brand_ci").cast("string")).alias("brand_lc"),
            "n_parts",
        )
    )


@workload(
    "l_diversity_audit_events",
    """
    SELECT hod, band, n, l
    FROM (
      SELECT CAST(EXTRACT(hour FROM ts) AS INTEGER) AS hod,
             CAST(FLOOR(value / 50.0) AS BIGINT) AS band,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(COUNT(DISTINCT event_type) AS BIGINT) AS l
      FROM events GROUP BY 1, 2
    )
    WHERE l < 3
    """,
    category="etl",
)
def l_diversity_audit_events(spark, sf_dir):
    """The l-diversity companion to k_anonymity_audit_events: quasi-id
    cells (hour-of-day, value band) whose SENSITIVE attribute
    (event_type) takes fewer than l=3 distinct values — k-anonymous
    groups that still leak by homogeneity. One groupBy with a distinct
    count; the shuffle is bounded by the quasi-id domain."""
    t = load_tables(spark, sf_dir)
    return (
        t["events"]
        .groupBy(
            F.hour("ts").alias("hod"),
            F.floor(F.col("value") / F.lit(50.0)).alias("band"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.countDistinct("event_type").cast("long").alias("l"),
        )
        .filter(F.col("l") < 3)
    )


@workload(
    "t_closeness_audit_events",
    """
    WITH cells AS (
      SELECT CAST(EXTRACT(hour FROM ts) AS INTEGER) AS hod,
             CAST(FLOOR(value / 50.0) AS BIGINT) AS band,
             event_type, CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2, 3
    ),
    grp AS (
      SELECT hod, band, CAST(SUM(c) AS BIGINT) AS n_g
      FROM cells GROUP BY 1, 2
    ),
    gtot AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS ct FROM events GROUP BY 1
    ),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM events),
    terms AS (
      SELECT c.hod, c.band, g.n_g,
             CAST(FLOOR(ABS(CAST(c.c AS DOUBLE) / CAST(g.n_g AS DOUBLE)
                            - CAST(gl.ct AS DOUBLE) / CAST(nn.n AS DOUBLE))
                  * 1000000000.0 + 0.5) AS BIGINT) AS diff_q,
             CAST(FLOOR(CAST(gl.ct AS DOUBLE) / CAST(nn.n AS DOUBLE)
                  * 1000000000.0 + 0.5) AS BIGINT) AS p_q
      FROM cells c
      JOIN grp g ON g.hod = c.hod AND g.band = c.band
      JOIN gtot gl ON gl.event_type = c.event_type
      CROSS JOIN nn
    )
    SELECT hod, band, n_g,
           CAST(SUM(diff_q) + (1000000000 - SUM(p_q)) AS BIGINT) AS tvd2_q
    FROM terms GROUP BY hod, band, n_g
    """,
    category="etl",
)
def t_closeness_audit_events(spark, sf_dir):
    """t-closeness: per quasi-id cell, total-variation distance between
    the cell's sensitive-value (event_type) distribution and the global
    one — the release gate k-anonymity and l-diversity both miss (a
    group can be large AND diverse yet still skewed). Emitted as
    2·TVD·1e9 = Σ_present |p_g − p|·1e9 + mass of ABSENT types
    (1e9 − Σ_present p·1e9), so missing categories are charged without
    densifying the cube. Per-cell terms nano-quantized before the
    bounded (≤|types|-term) integer sums; global marginals broadcast."""
    t = load_tables(spark, sf_dir)
    ev = t["events"]
    cells = materialize(ev.groupBy(
        F.hour("ts").alias("hod"),
        F.floor(F.col("value") / F.lit(50.0)).alias("band"),
        "event_type",
    # every event lands in exactly one (hod, band, type) cell (NULL
    # hour/band group too), so the global type marginal and the grand
    # total are rollups of the cube — one fact pass, not three (§8);
    # the cube is (24+NULL)×bands×|types|-bounded
    ).agg(F.count(F.lit(1)).cast("long").alias("c")))
    grp = cells.groupBy("hod", "band").agg(F.sum("c").cast("long").alias("n_g"))
    glob = cells.groupBy("event_type").agg(F.sum("c").cast("long").alias("ct"))
    nn = cells.agg(F.sum("c").cast("long").alias("n"))
    terms = (
        cells.join(grp, ["hod", "band"])
        .join(F.broadcast(glob), "event_type")
        .crossJoin(F.broadcast(nn))
        .select(
            "hod", "band", "n_g",
            F.floor(
                F.abs(
                    F.col("c").cast("double") / F.col("n_g").cast("double")
                    - F.col("ct").cast("double") / F.col("n").cast("double")
                ) * F.lit(1000000000.0) + F.lit(0.5)
            ).cast("long").alias("diff_q"),
            F.floor(
                F.col("ct").cast("double") / F.col("n").cast("double")
                * F.lit(1000000000.0) + F.lit(0.5)
            ).cast("long").alias("p_q"),
        )
    )
    return terms.groupBy("hod", "band", "n_g").agg(
        (F.sum("diff_q") + (F.lit(1000000000) - F.sum("p_q")))
        .cast("long").alias("tvd2_q")
    )
