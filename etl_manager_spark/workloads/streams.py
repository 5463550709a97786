"""Streaming workloads — executed with availableNow triggers so the driver
can call them like batch queries. The windowed aggregations are
deterministic functions of the input (availableNow processes everything,
complete mode emits final state), so they carry full DuckDB oracles; only
the approximate / pandas-stateful ones are rows-only.
"""

from __future__ import annotations

from etl_manager_spark.streaming.windows import (
    hourly_rollup,
    read_events_stream,
    run_to_memory,
    session_rollup,
    sliding_rollup,
)
from etl_manager_spark.workloads import workload
from etl_manager_spark.workloads.scratch import scratch_dir


# Mirror of the reader-enforced pre-epoch contract (streaming/windows.py
# read_events_stream): Spark's event-time watermark initializes at epoch
# 0, so pre-1970 rows are late-dropped in the first micro-batch; the
# reader filters them as an enforced precondition, and every oracle here
# shadows the ``events`` view with the same filter so batch==stream
# parity holds on ANY input (the fuzz6/nullts edge datasets construct
# exactly these rows). NULL ts passes: its handling is per-operator.
_EVENTS_CONTRACT = (
    "ev_contract AS (SELECT * FROM events "
    "WHERE ts IS NULL OR ts >= TIMESTAMP '1970-01-01')"
)


def _contract(oracle: str) -> str:
    # DuckDB forbids a CTE shadowing the view it reads (circular), so the
    # filtered relation gets its own name and every table reference in the
    # oracle is rewritten onto it (\bevents\b only matches the relation:
    # column names like n_events have no word boundary at the underscore).
    import re as _re

    body = _re.sub(r"\bevents\b", "ev_contract", oracle)
    s = body.lstrip()
    if s.upper().startswith("WITH"):
        return "WITH " + _EVENTS_CONTRACT + ", " + s[4:].lstrip()
    return "WITH " + _EVENTS_CONTRACT + "\n" + body


@workload(
    "streaming_hourly_rollup",
    _contract("""
    SELECT DATE_TRUNC('hour', ts) AS hour_start,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
           CAST(COUNT(DISTINCT user_id) AS INTEGER) AS active_users
    FROM events WHERE ts IS NOT NULL
    GROUP BY DATE_TRUNC('hour', ts)
    """),
    category="streaming",
)
def streaming_hourly_rollup(spark, sf_dir):
    """Tumbling 1-hour windows; exact oracle because the stream is run to
    completion (availableNow + complete mode = the batch answer). Distinct
    users via collect_set size (exact; COUNT(DISTINCT) is not available in
    streaming aggregations)."""
    stream = hourly_rollup(read_events_stream(spark, sf_dir))
    return run_to_memory(stream, spark, "stream_hourly_rollup_result")


@workload(
    "streaming_session_windows",
    _contract("""
    WITH ordered AS (
      SELECT user_id, ts,
             CASE WHEN EPOCH_US(ts) - LAG(EPOCH_US(ts))
                    OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST) > 1800000000
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST) IS NULL
             THEN 1 ELSE 0 END AS new_session
      FROM events WHERE ts IS NOT NULL
    ),
    numbered AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST
                                    ROWS UNBOUNDED PRECEDING) AS sid
      FROM ordered
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events
    FROM numbered GROUP BY user_id, sid
    """),
    category="streaming",
)
def streaming_session_windows(spark, sf_dir):
    """Gap-based session windows (30 min). Oracle derives the same sessions
    with lag + flag-sum; Spark merges windows whose start <= previous end
    (verified: events exactly 30 min apart share a session), so a new
    session starts strictly when gap > 30 min, and session_end is the last
    event + gap."""
    stream = session_rollup(read_events_stream(spark, sf_dir))
    return run_to_memory(stream, spark, "stream_session_windows_result")


@workload(
    "streaming_sliding_windows",
    _contract("""
    SELECT window_start,
           window_start + INTERVAL 2 HOUR AS window_end,
           COUNT(*) AS n_events
    FROM (SELECT UNNEST([DATE_TRUNC('hour', ts) - INTERVAL 1 HOUR,
                         DATE_TRUNC('hour', ts)]) AS window_start
          FROM events WHERE ts IS NOT NULL)
    GROUP BY window_start
    """),
    category="streaming",
)
def streaming_sliding_windows(spark, sf_dir):
    """2-hour windows sliding by 1 hour (each event lands in exactly 2
    windows; Spark aligns slide boundaries to the epoch, which is
    hour-aligned, so the two covering windows start at trunc(ts)-1h and
    trunc(ts))."""
    stream = sliding_rollup(read_events_stream(spark, sf_dir))
    return run_to_memory(stream, spark, "stream_sliding_windows_result")


@workload(
    "streaming_dedup_user_event_types",
    _contract("""
    SELECT DISTINCT user_id, event_type FROM events
    """),
    category="streaming",
)
def streaming_dedup_user_event_types(spark, sf_dir):
    """Streaming deduplication: dropDuplicates keeps the first occurrence
    of each (user_id, event_type) across micro-batches via keyed state.
    Unbounded state by design here (exact global dedup, so the result
    matches batch DISTINCT regardless of micro-batching); production
    streams bound state with dropDuplicatesWithinWatermark at the cost of
    re-admitting keys older than the watermark."""
    stream = (
        read_events_stream(spark, sf_dir)
        .select("user_id", "event_type")
        .dropDuplicates(["user_id", "event_type"])
    )
    return run_to_memory(
        stream, spark, "stream_dedup_result", output_mode="append"
    )


@workload(
    "streaming_stateful_user_counters",
    _contract("""
    SELECT user_id,
           COUNT(*) AS n_events,
           -- COALESCE: a counter reads 0 until a value arrives (the state
           -- machine initializes at 0 and NULL values update nothing)
           CAST(COALESCE(SUM(CAST(value AS DECIMAL(18,2))), 0) * 100
                AS BIGINT) AS total_cents,
           MAX(ts) AS last_seen
    FROM events GROUP BY user_id
    """),
    category="streaming",
)
def streaming_stateful_user_counters(spark, sf_dir):
    """Custom per-key state machine via applyInPandasWithState. The value
    sum is kept in integer cents (double → DECIMAL(18,2) → ×100, the same
    conversion both engines apply), making the state exact and
    accumulation-order-independent — hence a full hash oracle rather than
    the rows-only check a float sum would force."""
    from etl_manager_spark.streaming.stateful import run_user_counters_to_memory

    return run_user_counters_to_memory(spark, sf_dir, name="stream_stateful_counters")


@workload(
    "streaming_interval_join_attribution",
    _contract("""
    SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id,
           c.ts AS click_ts, p.ts AS purchase_ts
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    """),
    category="streaming",
)
def streaming_interval_join_attribution(spark, sf_dir):
    """Stream-stream interval join (click→purchase attribution within an
    hour, per user). Watermarks on both sides + the bounded time predicate
    let Spark expire join state; availableNow processes everything, so the
    result equals the batch interval join and carries a full oracle."""
    from etl_manager_spark.streaming.windows import (
        interval_join,
        read_events_stream,
        run_to_memory,
    )

    clicks = read_events_stream(spark, sf_dir).filter("event_type = 'click'")
    purchases = read_events_stream(spark, sf_dir).filter("event_type = 'purchase'")
    stream = interval_join(clicks, purchases)
    return run_to_memory(
        stream, spark, "stream_interval_join_result", output_mode="append"
    )


@workload(
    "streaming_two_level_rollup",
    _contract("""
    WITH wm AS (
      SELECT date_trunc('milliseconds', MAX(ts)) - INTERVAL 1 HOUR AS w
      FROM events
    )
    SELECT DATE_TRUNC('hour', ts) AS hour_start, event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events
    WHERE DATE_TRUNC('hour', ts) + INTERVAL 1 HOUR <= (SELECT w FROM wm)
    GROUP BY 1, 2
    """),
    category="streaming",
)
def streaming_two_level_rollup(spark, sf_dir):
    """Chained stateful streaming aggregation (streaming/windows.py:
    two_level_rollup): 10-minute tumbling partials re-aggregated into
    hourly windows per event_type inside ONE streaming query — the
    Spark ≥3.4 multiple-stateful-operator pipeline. Append mode emits a
    coarse window once ``window.end <= watermark`` (non-strict, verified
    on a boundary fixture), so the oracle is the batch hourly rollup
    restricted to hours closed by the final watermark (ms-truncated
    max event time − 1h). Value sums stay DECIMAL through both levels,
    one double conversion at the end — exact oracle."""
    from etl_manager_spark.streaming.windows import (
        read_events_stream,
        run_to_memory,
        two_level_rollup,
    )

    stream = two_level_rollup(read_events_stream(spark, sf_dir))
    return run_to_memory(
        stream, spark, "stream_two_level_rollup_result", output_mode="append"
    )


@workload(
    "streaming_leftouter_attribution",
    _contract("""
    WITH wm AS (
      -- null-STRICT min: an input with no rows never advances its
      -- watermark, so the GLOBAL watermark stays unset and no outer row
      -- ever evicts (DuckDB's LEAST would ignore the NULL side)
      SELECT CASE WHEN (SELECT MAX(ts) FROM events
                        WHERE event_type = 'click') IS NOT NULL
                   AND (SELECT MAX(ts) FROM events
                        WHERE event_type = 'purchase') IS NOT NULL
             THEN date_trunc('milliseconds', LEAST(
               (SELECT MAX(ts) FROM events WHERE event_type = 'click'),
               (SELECT MAX(ts) FROM events WHERE event_type = 'purchase')
             )) - INTERVAL 1 HOUR END AS w
    )
    SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id,
           c.ts AS click_ts, p.ts AS purchase_ts
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    UNION ALL
    SELECT c.event_id, NULL, c.user_id, c.ts, NULL
    FROM events c
    WHERE c.event_type = 'click'
      AND NOT EXISTS (
        SELECT 1 FROM events p
        WHERE p.event_type = 'purchase' AND p.user_id = c.user_id
          AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR)
      AND c.ts <= (SELECT w FROM wm) - INTERVAL 1 HOUR - INTERVAL 1 MILLISECOND
    """),
    category="streaming",
)
def streaming_leftouter_attribution(spark, sf_dir):
    """Stream-stream LEFT OUTER interval join: matched pairs plus one
    null-extended row per click whose one-hour window closed with no
    purchase. The outer rows surface exactly at state eviction, so the
    oracle reproduces the watermark arithmetic: W = min over both inputs
    of max event time, ms-truncated (Spark tracks watermarks in
    milliseconds), minus the 1-hour delay; an unmatched click emits iff
    ``click_ts <= W - gap - 1ms`` — Spark's join-state value watermark
    subtracts one extra millisecond (StreamingJoinHelper), pinned to the
    microsecond by tests/test_streaming.py's boundary fixture. Clicks
    whose window the final watermark never clears are (correctly)
    withheld in both engines."""
    from etl_manager_spark.streaming.windows import (
        interval_join,
        read_events_stream,
        run_to_memory,
    )

    clicks = read_events_stream(spark, sf_dir).filter("event_type = 'click'")
    purchases = read_events_stream(spark, sf_dir).filter("event_type = 'purchase'")
    stream = interval_join(clicks, purchases, how="left_outer")
    return run_to_memory(
        stream, spark, "stream_leftouter_join_result", output_mode="append"
    )


@workload(
    "streaming_static_enrichment",
    _contract("""
    SELECT c.c_nationkey AS nationkey,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY c.c_nationkey
    """),
    category="streaming",
)
def streaming_static_enrichment(spark, sf_dir):
    """Stream-static enrichment (streaming/enrich.py: stream_static_join):
    the events stream joins the static customer dimension via broadcast —
    stateless, re-planned per micro-batch, no watermark (only
    stream-stream joins buffer state) — then rolls up per nation. Exact
    oracle: availableNow + complete = the batch join answer; the value
    sum runs in DECIMAL cents (functions/exact.py discipline)."""
    from etl_manager_spark.functions.exact import dec_sum
    from etl_manager_spark.streaming.enrich import stream_static_join
    from etl_manager_spark.streaming.windows import (
        read_events_stream,
        run_to_memory,
    )
    from etl_manager_spark.workloads.tables import load_tables

    from pyspark.sql import functions as F

    t = load_tables(spark, sf_dir)
    dim = t["customer"].select(
        F.col("c_custkey").alias("user_id"), "c_nationkey"
    )
    enriched = stream_static_join(
        read_events_stream(spark, sf_dir), dim, on="user_id"
    )
    rolled = enriched.groupBy(F.col("c_nationkey").alias("nationkey")).agg(
        F.count(F.lit(1)).alias("n_events"),
        dec_sum("value").alias("total_value"),
    )
    return run_to_memory(rolled, spark, "stream_static_enrichment_result")


@workload(
    "streaming_cdc_upsert_latest_event",
    _contract("""
    SELECT user_id, event_id, ts, event_type
    FROM (
      SELECT user_id, event_id, ts, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC NULLS LAST, event_id DESC NULLS LAST) AS rn
      FROM events
    ) WHERE rn = 1
    """),
    category="streaming",
)
def streaming_cdc_upsert_latest_event(spark, sf_dir):
    """CDC apply via foreachBatch MERGE (streaming/enrich.py:
    apply_cdc_stream): the events stream is treated as a change feed
    keyed by user_id; each micro-batch collapses to last-writer-wins
    (ts, event_id desc) and MERGEs into a versioned parquet state table
    behind an atomic swap. The returned final state must equal the batch
    answer — latest event per user — which is the oracle. The state lives
    in a workloads/scratch.py ``scratch_dir``."""
    from etl_manager_spark.streaming.enrich import apply_cdc_stream

    scratch = scratch_dir("cdc_upsert_")
    changes = read_events_stream(spark, sf_dir).select(
        "user_id", "event_id", "ts", "event_type"
    )
    final = apply_cdc_stream(
        spark,
        changes,
        key=["user_id"],
        order_cols=["ts", "event_id"],
        state_path=scratch + "/state",
        checkpoint_path=scratch + "/ckpt",
    )
    return final.select("user_id", "event_id", "ts", "event_type")


@workload(
    "streaming_funnel_stages",
    _contract("""
    WITH ev AS (SELECT * FROM events
                WHERE ts IS NOT NULL AND user_id IS NOT NULL),
    su AS (
      SELECT DISTINCT user_id FROM ev
      WHERE event_type IN ('view', 'click', 'purchase')
    ),
    s1 AS (SELECT user_id, MIN(ts) AS t FROM ev
           WHERE event_type = 'view' GROUP BY user_id),
    s2 AS (SELECT e.user_id, MIN(e.ts) AS t FROM ev e
           JOIN s1 ON e.user_id = s1.user_id
           WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY e.user_id),
    s3 AS (SELECT e.user_id, MIN(e.ts) AS t FROM ev e
           JOIN s2 ON e.user_id = s2.user_id
           WHERE e.event_type = 'purchase' AND e.ts > s2.t GROUP BY e.user_id)
    SELECT su.user_id,
           CAST(CASE WHEN s3.t IS NOT NULL THEN 3
                     WHEN s2.t IS NOT NULL THEN 2
                     WHEN s1.t IS NOT NULL THEN 1
                     ELSE 0 END AS INTEGER) AS stage_reached,
           COALESCE(s3.t, s2.t, s1.t) AS arrived
    FROM su
    LEFT JOIN s1 ON su.user_id = s1.user_id
    LEFT JOIN s2 ON su.user_id = s2.user_id
    LEFT JOIN s3 ON su.user_id = s3.user_id
    """),
    category="streaming",
)
def streaming_funnel_stages(spark, sf_dir):
    """Streaming ordered funnel (streaming/stateful.py: funnel_stages):
    a per-user advance-only state machine over view→click→purchase,
    maintained via applyInPandasWithState. State is two ints per user.
    Full hash oracle: the final per-user stage/arrival must equal the
    batch min-after-previous funnel — the backfill/live-stream agreement
    every streaming pipeline has to guarantee."""
    from etl_manager_spark.streaming.stateful import run_funnel_to_memory

    return run_funnel_to_memory(
        spark, sf_dir, ("view", "click", "purchase"), name="stream_funnel"
    )


@workload(
    "streaming_topk_event_types",
    _contract("""
    SELECT event_type, n_events, total_value
    FROM (SELECT event_type, COUNT(*) AS n_events,
                 CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                   AS total_value
          FROM events GROUP BY event_type)
    ORDER BY n_events DESC, event_type ASC LIMIT 3
    """),
    category="streaming",
)
def streaming_topk_event_types(spark, sf_dir):
    """Streaming global top-k: complete-mode aggregation with an in-query
    ORDER BY + LIMIT — the live-leaderboard shape (sorting a streaming
    result is legal exactly in complete mode, where every trigger emits
    final state; the sort's input is #event_types rows, not the stream).
    Decimal-exact value sums; availableNow + complete = the batch answer,
    so the oracle is exact."""
    from pyspark.sql import functions as F

    from etl_manager_spark.functions.exact import dec_sum
    from etl_manager_spark.streaming.windows import read_events_stream

    stream = (
        read_events_stream(spark, sf_dir)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dec_sum("value").alias("total_value"),
        )
        .orderBy(F.desc("n_events"), F.asc("event_type"))
        .limit(3)
    )
    return run_to_memory(stream, spark, "stream_topk_event_types")


@workload(
    "streaming_dedup_within_watermark",
    _contract("""
    SELECT DISTINCT user_id, event_type FROM events
    """),
    category="streaming",
)
def streaming_dedup_within_watermark(spark, sf_dir):
    """Bounded-state streaming dedup: dropDuplicatesWithinWatermark
    evicts a key's dedup state once the watermark passes its event time
    plus the delay — the production form whose state is O(keys in the
    watermark window), not O(all keys ever). Contract: duplicates
    arriving within the watermark window are dropped; re-occurrences
    beyond it are re-admitted (at-least-once on watermark-separated
    repeats). Over this single-batch availableNow run nothing outlives
    the watermark mid-batch, so the emitted key set equals batch
    DISTINCT — which is exactly what the oracle pins; the point here is
    the state-eviction API surface. Only the key columns are emitted:
    WHICH duplicate survives is arrival-order-dependent by design."""
    from etl_manager_spark.streaming.windows import (
        read_events_stream,
        run_to_memory,
    )

    stream = (
        read_events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .select("user_id", "event_type", "ts")
        .dropDuplicatesWithinWatermark(["user_id", "event_type"])
        .select("user_id", "event_type")
    )
    return run_to_memory(
        stream, spark, "stream_dedup_wm_result", output_mode="append"
    )


@workload(
    "streaming_fullouter_attribution",
    _contract("""
    WITH wm AS (
      -- null-STRICT min: an input with no rows never advances its
      -- watermark, so the GLOBAL watermark stays unset and no outer row
      -- ever evicts (DuckDB's LEAST would ignore the NULL side)
      SELECT CASE WHEN (SELECT MAX(ts) FROM events
                        WHERE event_type = 'click') IS NOT NULL
                   AND (SELECT MAX(ts) FROM events
                        WHERE event_type = 'purchase') IS NOT NULL
             THEN date_trunc('milliseconds', LEAST(
               (SELECT MAX(ts) FROM events WHERE event_type = 'click'),
               (SELECT MAX(ts) FROM events WHERE event_type = 'purchase')
             )) - INTERVAL 1 HOUR END AS w
    )
    SELECT c.event_id AS click_id, p.event_id AS purchase_id, c.user_id,
           c.ts AS click_ts, p.ts AS purchase_ts
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
    UNION ALL
    SELECT c.event_id, NULL, c.user_id, c.ts, NULL
    FROM events c
    WHERE c.event_type = 'click'
      AND NOT EXISTS (
        SELECT 1 FROM events p
        WHERE p.event_type = 'purchase' AND p.user_id = c.user_id
          AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR)
      AND c.ts <= (SELECT w FROM wm) - INTERVAL 1 HOUR - INTERVAL 1 MILLISECOND
    UNION ALL
    SELECT NULL, p.event_id, p.user_id, NULL, p.ts
    FROM events p
    WHERE p.event_type = 'purchase'
      AND NOT EXISTS (
        SELECT 1 FROM events c
        WHERE c.event_type = 'click' AND c.user_id = p.user_id
          AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR)
      AND p.ts <= (SELECT w FROM wm) - INTERVAL 1 MILLISECOND
    """),
    category="streaming",
)
def streaming_fullouter_attribution(spark, sf_dir):
    """Stream-stream FULL OUTER interval join — matched click→purchase
    pairs plus null-extended rows from BOTH sides at state eviction.
    The click side evicts at ``click_ts <= W - gap - 1ms`` (as in the
    left-outer query); the purchase side's mirrored bound has no gap
    term — ``purchase_ts >= click_ts`` is the lower join bound, so a
    purchase expires at ``purchase_ts <= W - 1ms``
    (tests/test_streaming.py pins both boundaries to the microsecond).
    The user_id column is taken from whichever side is present
    (COALESCE in the user-facing projection would hide which side
    emitted; here the oracle replays the same three-branch union)."""
    from etl_manager_spark.streaming.windows import (
        interval_join,
        read_events_stream,
        run_to_memory,
    )

    clicks = read_events_stream(spark, sf_dir).filter("event_type = 'click'")
    purchases = read_events_stream(spark, sf_dir).filter(
        "event_type = 'purchase'"
    )
    stream = interval_join(clicks, purchases, how="full_outer")
    return run_to_memory(
        stream, spark, "stream_fullouter_join_result", output_mode="append"
    )


@workload(
    "streaming_session_windows_dynamic",
    _contract("""
    WITH g AS (
      SELECT user_id, ts,
             EPOCH_US(ts) + CASE WHEN event_type = 'purchase'
                                 THEN 600000000 ELSE 1800000000 END AS end_us
      FROM events WHERE ts IS NOT NULL
    ),
    flagged AS (
      SELECT user_id, ts, end_us,
             CASE WHEN MAX(end_us) OVER (
                    PARTITION BY user_id ORDER BY ts NULLS FIRST, end_us NULLS FIRST
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                  ) IS NULL
                  OR EPOCH_US(ts) > MAX(end_us) OVER (
                    PARTITION BY user_id ORDER BY ts NULLS FIRST, end_us NULLS FIRST
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                  )
             THEN 1 ELSE 0 END AS new_session
      FROM g
    ),
    numbered AS (
      SELECT user_id, ts, end_us,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, end_us NULLS FIRST
                                    ROWS UNBOUNDED PRECEDING) AS sid
      FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAKE_TIMESTAMP(MAX(end_us)) AS session_end,
           COUNT(*) AS n_events
    FROM numbered GROUP BY user_id, sid
    """),
    category="streaming",
)
def streaming_session_windows_dynamic(spark, sf_dir):
    """Dynamic-gap session windows (streaming/windows.py:
    session_rollup_dynamic): each event proposes [ts, ts+gap(type)) and
    overlapping proposals merge — purchases (10 min) close a visit
    early, other events keep 30. The oracle sessionizes with the
    running-MAX-of-proposed-ends break rule (an older session's max end
    is always below the current session's opener, so the global
    preceding max is the correct break test) and rebuilds session_end
    as the max proposed end — which is what Spark's merged interval
    union emits, NOT last-event + constant."""
    from etl_manager_spark.streaming.windows import session_rollup_dynamic

    stream = session_rollup_dynamic(read_events_stream(spark, sf_dir))
    return run_to_memory(
        stream, spark, "stream_session_windows_dyn_result"
    )
