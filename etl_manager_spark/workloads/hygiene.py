"""Round-6 catalog additions: corpus-hygiene and drift diagnostics.

Cross-document duplicated-SPAN detection (the maximal-verbatim-run shape
behind suffix-array training-data dedup, expressed as shingle islands),
the k-core backbone of the near-dup graph, population-stability drift
(PSI), DAU/MAU stickiness, inter-arrival burstiness, and the event-chain
Markov transition matrix.

House discipline throughout: identical expression trees in the Spark code
and the DuckDB oracle, nano-quantized floats at every emission point,
decimal-exact integer moments, and no single-partition windows — every
window here is partitioned on doc_id / user_id / bounded aggregates.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from etl_manager_spark.operators import graph as G
from etl_manager_spark.operators.materialize import materialize
from etl_manager_spark.operators.ranking import quantize
from etl_manager_spark.operators.text import tokens
from etl_manager_spark.workloads import workload
from etl_manager_spark.workloads.pipeline import (
    _MINHASH_PAIRS_CTES,
    neardup_pairs_stored,
)
from etl_manager_spark.workloads.tables import load_tables, spread

_TOK_SQL = r"LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\s+'), x -> x <> '')"


# --------------------------------------------------------------------- #
# cross-document duplicated spans


@workload(
    "dupspan_coverage_documents",
    f"""
    WITH toksrc AS (
      SELECT doc_id, {_TOK_SQL} AS toks FROM documents
    ),
    g AS (
      SELECT doc_id,
             UNNEST(list_transform(range(len(toks) - 2),
               i -> {{'pos': i,
                      'gram': toks[i+1] || ' ' || toks[i+2] || ' ' || toks[i+3]}}))
               AS u
      FROM toksrc
    ),
    grams AS (SELECT doc_id, u.pos AS pos, u.gram AS gram FROM g),
    dup AS (
      SELECT gram FROM grams GROUP BY gram
      HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    duppos AS (
      SELECT doc_id, pos FROM grams WHERE gram IN (SELECT gram FROM dup)
    ),
    runs AS (
      SELECT doc_id, pos,
             LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos NULLS FIRST) AS prev
      FROM duppos
    ),
    flagged AS (
      SELECT doc_id, pos,
             CASE WHEN prev IS NULL OR pos - prev > 3 THEN 1 ELSE 0 END
               AS is_new,
             CASE WHEN prev IS NULL THEN 3
                  ELSE LEAST(3, pos - prev) END AS covered_add
      FROM runs
    ),
    islands AS (
      SELECT doc_id, pos, covered_add,
             SUM(is_new) OVER (PARTITION BY doc_id ORDER BY pos NULLS FIRST
                               ROWS UNBOUNDED PRECEDING) AS island
      FROM flagged
    ),
    spans AS (
      SELECT doc_id, island,
             MAX(pos) - MIN(pos) + 3 AS span_tokens
      FROM islands GROUP BY doc_id, island
    ),
    per_doc AS (
      SELECT i.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_dup_positions,
             CAST(MAX(i.island) AS BIGINT) AS n_spans,
             CAST(SUM(i.covered_add) AS BIGINT) AS covered_tokens
      FROM islands i GROUP BY i.doc_id
    ),
    span_max AS (
      SELECT doc_id, CAST(MAX(span_tokens) AS BIGINT) AS max_span_tokens
      FROM spans GROUP BY doc_id
    )
    SELECT t.doc_id,
           COALESCE(p.n_dup_positions, 0) AS n_dup_positions,
           COALESCE(p.n_spans, 0) AS n_spans,
           COALESCE(m.max_span_tokens, 0) AS max_span_tokens,
           COALESCE(p.covered_tokens, 0) AS covered_tokens,
           CAST(len(t.toks) AS BIGINT) AS total_tokens,
           CAST(FLOOR(CAST(COALESCE(p.covered_tokens, 0) AS DOUBLE)
                      / len(t.toks) * 1000000000.0 + 0.5) AS BIGINT)
             AS covered_frac_q
    FROM toksrc t
    LEFT JOIN per_doc p ON p.doc_id = t.doc_id
    LEFT JOIN span_max m ON m.doc_id = t.doc_id
    """,
    category="text",
)
def dupspan_coverage_documents(spark, sf_dir):
    """Cross-document duplicated-span coverage — the Lee et al. (2022)
    "deduplicating training data" signal, re-expressed for Spark: every
    3-token shingle that appears in >= 2 distinct documents marks its
    positions as duplicated; adjacent/overlapping marked shingles merge
    into maximal spans (interval union via the island trick), and each
    document reports its span count, longest span, and the exact
    fraction of tokens covered by ANY cross-doc duplicated run. This is
    the verbatim-copy detector that Jaccard-style whole-doc dedup
    misses: a document that is 20% pasted boilerplate has low global
    similarity to anyone but a long shared span.

    Scale shape: one explode → (gram) hash-agg over cross-doc counts (a
    key-shuffle whose cardinality is the shingle vocabulary), one
    semi-join back, then windows partitioned by doc_id — per-partition
    work is bounded by document length no matter the corpus size. No
    suffix array needed: fixed-width shingle islands give the same span
    geometry with only hash-joins (reference model: suffix-array
    substring dedup; here a composition of exist-everywhere DataFrame
    ops)."""
    t = load_tables(spark, sf_dir)
    docs = spread(t["documents"], spark)
    toksrc = docs.select("doc_id", tokens("text").alias("toks"))
    grams = toksrc.filter(F.size("toks") >= 3).select(
        "doc_id",
        F.posexplode(
            F.expr(
                "transform(sequence(0, size(toks)-3),"
                " i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))"
            )
        ).alias("pos", "gram"),
    )
    dup = (
        grams.groupBy("gram")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("gram")
    )
    duppos = grams.join(dup, on="gram", how="semi").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    flagged = duppos.withColumn("prev", F.lag("pos").over(w)).select(
        "doc_id",
        "pos",
        F.when(
            F.col("prev").isNull() | (F.col("pos") - F.col("prev") > 3), 1
        )
        .otherwise(0)
        .alias("is_new"),
        F.when(F.col("prev").isNull(), 3)
        .otherwise(F.least(F.lit(3), F.col("pos") - F.col("prev")))
        .alias("covered_add"),
    )
    islands = flagged.withColumn(
        "island",
        F.sum("is_new").over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    # Round 11 (replacing round 10's eager checkpoint of `islands`, which
    # was CORPUS-SCALE — one row per duplicated shingle position — the
    # bounded-only rule's documented failure mode, and driver-measured
    # 0.44×): both consumers (the per-island span geometry and the
    # per-doc rollup) are CHAINED aggregations over the same rows, and
    # both group on a doc_id-prefixed key, so the window's
    # hash-partitioning satisfies every grouping below — islands →
    # per-island → per-doc runs as ONE exchange-free pass, no
    # materialization, no second re-planning of the gram/semi-join
    # upstream.
    per_island = islands.groupBy("doc_id", "island").agg(
        F.count(F.lit(1)).cast("long").alias("_n_pos"),
        F.sum("covered_add").cast("long").alias("_covered"),
        (F.max("pos") - F.min("pos") + 3).alias("span_tokens"),
    )
    per_doc = per_island.groupBy("doc_id").agg(
        F.sum("_n_pos").cast("long").alias("n_dup_positions"),
        F.max("island").cast("long").alias("n_spans"),
        F.sum("_covered").cast("long").alias("covered_tokens"),
        F.max("span_tokens").cast("long").alias("max_span_tokens"),
    )
    return (
        toksrc.join(per_doc, on="doc_id", how="left")
        .select(
            "doc_id",
            F.coalesce("n_dup_positions", F.lit(0)).alias("n_dup_positions"),
            F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
            F.coalesce("max_span_tokens", F.lit(0)).alias("max_span_tokens"),
            F.coalesce("covered_tokens", F.lit(0)).alias("covered_tokens"),
            F.size("toks").cast("long").alias("total_tokens"),
            # try_divide: an empty/whitespace-only document has zero
            # tokens — NULL coverage like the oracle's x/0, not an ANSI
            # DIVIDE_BY_ZERO
            quantize(
                F.try_divide(
                    F.coalesce("covered_tokens", F.lit(0)).cast("double"),
                    F.size("toks"),
                )
            ).alias("covered_frac_q"),
        )
    )


# --------------------------------------------------------------------- #
# k-core backbone of the near-dup graph

_KCORE_ROUNDS = 8


def _kcore_oracle(sf_dir: str) -> str:
    rounds = []
    for i in range(_KCORE_ROUNDS):
        # AS MATERIALIZED is load-bearing: each round references the
        # previous edge set three times, so DuckDB's default CTE
        # inlining would expand e_N into 3^N copies of the base scan.
        rounds.append(
            f"""d{i} AS MATERIALIZED (
      SELECT node FROM (
        SELECT a AS node FROM e{i} UNION ALL SELECT b FROM e{i}
      ) GROUP BY node HAVING COUNT(*) >= 2
    ),
    e{i + 1} AS MATERIALIZED (
      SELECT a, b FROM e{i}
      WHERE a IN (SELECT node FROM d{i})
        AND b IN (SELECT node FROM d{i})
    )"""
        )
    chain = ",\n    ".join(rounds)
    return f"""
    WITH {_MINHASH_PAIRS_CTES},
    e0 AS MATERIALIZED (SELECT id_a AS a, id_b AS b FROM dup_pairs),
    {chain}
    SELECT node AS doc_id, CAST(COUNT(*) AS BIGINT) AS core_deg
    FROM (
      SELECT a AS node FROM e{_KCORE_ROUNDS}
      UNION ALL SELECT b FROM e{_KCORE_ROUNDS}
    ) GROUP BY node
    """


@workload(
    "kcore_neardup_graph",
    _kcore_oracle,
    category="graph",
)
def kcore_neardup_graph(spark, sf_dir):
    """2-core of the near-duplicate graph (operators/graph.py:
    kcore_subgraph) — the dense backbone after chains peel away. A node
    surviving the 2-core sits on a cycle of >= 3 mutually-similar
    documents (safe to collapse aggressively); nodes that peel were
    strung together by single borderline edges and deserve review.
    Returns each surviving node with its within-core degree.

    Spark side iterates synchronous peeling to FIXPOINT (asserting
    convergence within the unroll budget); the oracle unrolls the same
    peeling a fixed 8 rounds — sound because peeling is monotone and
    rounds past the fixpoint are no-ops, so any unroll >= the true
    peeling depth is exact."""
    core = G.kcore_subgraph(
        neardup_pairs_stored(spark, sf_dir), k=2, max_rounds=_KCORE_ROUNDS
    )
    sym = core.select(F.col("id_a").alias("node")).unionAll(
        core.select(F.col("id_b").alias("node"))
    )
    return sym.groupBy("node").agg(
        F.count(F.lit(1)).cast("long").alias("core_deg")
    ).select(F.col("node").alias("doc_id"), "core_deg")


# --------------------------------------------------------------------- #
# population-stability drift (PSI)


@workload(
    "psi_drift_orders_price",
    """
    WITH bounds AS (
      SELECT MIN(epoch_us(o_orderdate)) AS us0,
             MAX(epoch_us(o_orderdate)) AS us1,
             MIN(o_totalprice) AS pmin,
             MAX(o_totalprice) AS pmax
      FROM orders
    ),
    tagged AS (
      SELECT LEAST(9, CAST(FLOOR((o_totalprice - pmin) / (pmax - pmin)
                                 * 10.0) AS BIGINT)) AS bin,
             CASE WHEN epoch_us(o_orderdate) * 2 < us0 + us1
                  THEN 1 ELSE 0 END AS is_a
      FROM orders CROSS JOIN bounds
    ),
    counts AS (
      SELECT bin,
             CAST(SUM(is_a) AS BIGINT) AS cnt_a,
             CAST(SUM(1 - is_a) AS BIGINT) AS cnt_b
      FROM tagged GROUP BY bin
    ),
    bins AS (SELECT UNNEST(range(10)) AS bin),
    filled AS (
      SELECT b.bin,
             COALESCE(c.cnt_a, 0) AS cnt_a,
             COALESCE(c.cnt_b, 0) AS cnt_b
      FROM bins b LEFT JOIN counts c ON c.bin = b.bin
    ),
    tot AS (
      SELECT CAST(SUM(cnt_a) AS BIGINT) AS na,
             CAST(SUM(cnt_b) AS BIGINT) AS nb
      FROM filled
    )
    SELECT CAST(f.bin AS BIGINT) AS bin, f.cnt_a, f.cnt_b,
           CAST(FLOOR((
             (CAST(f.cnt_a + 1 AS DOUBLE) / (t.na + 10)
              - CAST(f.cnt_b + 1 AS DOUBLE) / (t.nb + 10))
             * LN((CAST(f.cnt_a + 1 AS DOUBLE) / (t.na + 10))
                  / (CAST(f.cnt_b + 1 AS DOUBLE) / (t.nb + 10)))
           ) * 1000000000.0 + 0.5) AS BIGINT) AS psi_contrib_q
    FROM filled f CROSS JOIN tot t
    """,
    category="drift",
)
def psi_drift_orders_price(spark, sf_dir):
    """Population Stability Index of the order-price distribution,
    first half of the date range vs second half — the industry drift
    gate for features/labels between a training snapshot and serving
    traffic (PSI > 0.2 = investigate). Ten equal-width bins over the
    pooled global [min, max]; add-one smoothing keeps empty bins finite;
    per-bin contributions (pa − pb)·ln(pa/pb) are quantized so the sum
    is engine-exact.

    Scale shape: one broadcast 1-row bounds aggregate, one 10-key
    hash-agg with map-side partials over the fact table (integer µs
    midpoint test — no timezone arithmetic), and a 10-row bin spine
    left-join. Nothing shuffles more than the 10-row aggregate."""
    t = load_tables(spark, sf_dir)
    orders = t["orders"]
    bounds = orders.agg(
        F.min(F.unix_micros(F.col("o_orderdate").cast("timestamp"))).alias(
            "us0"
        ),
        F.max(F.unix_micros(F.col("o_orderdate").cast("timestamp"))).alias(
            "us1"
        ),
        F.min("o_totalprice").alias("pmin"),
        F.max("o_totalprice").alias("pmax"),
    )
    tagged = orders.crossJoin(F.broadcast(bounds)).select(
        F.least(
            F.lit(9),
            F.floor(
                (F.col("o_totalprice") - F.col("pmin"))
                / (F.col("pmax") - F.col("pmin"))
                * F.lit(10.0)
            ).cast("long"),
        ).alias("bin"),
        F.when(
            F.unix_micros(F.col("o_orderdate").cast("timestamp")) * 2
            < F.col("us0") + F.col("us1"),
            1,
        )
        .otherwise(0)
        .alias("is_a"),
    )
    counts = tagged.groupBy("bin").agg(
        F.sum("is_a").cast("long").alias("cnt_a"),
        F.sum(1 - F.col("is_a")).cast("long").alias("cnt_b"),
    )
    bins = spark.range(10).select(F.col("id").alias("bin"))
    filled = materialize(
        bins.join(counts, on="bin", how="left")
        .select(
            "bin",
            F.coalesce("cnt_a", F.lit(0)).alias("cnt_a"),
            F.coalesce("cnt_b", F.lit(0)).alias("cnt_b"),
        )
        # §8: 10-row bin table consumed by the totals AND the final
        # projection — one fact pass, not two
    )
    tot = filled.agg(
        F.sum("cnt_a").cast("long").alias("na"),
        F.sum("cnt_b").cast("long").alias("nb"),
    )
    pa = (F.col("cnt_a") + 1).cast("double") / (F.col("na") + 10)
    pb = (F.col("cnt_b") + 1).cast("double") / (F.col("nb") + 10)
    return filled.crossJoin(F.broadcast(tot)).select(
        F.col("bin").cast("long").alias("bin"),
        "cnt_a",
        "cnt_b",
        quantize((pa - pb) * F.log(pa / pb)).alias("psi_contrib_q"),
    )


# --------------------------------------------------------------------- #
# DAU/MAU stickiness


@workload(
    "stickiness_dau_mau_events",
    """
    WITH dau AS (
      SELECT DATE_TRUNC('month', ts) AS month,
             DATE_TRUNC('day', ts) AS dy,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS dau
      FROM events GROUP BY 1, 2
    ),
    daily AS (
      SELECT month,
             CAST(COUNT(*) AS BIGINT) AS n_days,
             CAST(SUM(dau) AS BIGINT) AS sum_dau
      FROM dau GROUP BY month
    ),
    mau AS (
      SELECT DATE_TRUNC('month', ts) AS month,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS mau
      FROM events GROUP BY month
    )
    SELECT d.month, m.mau, d.n_days, d.sum_dau,
           CAST(FLOOR(CAST(d.sum_dau AS DOUBLE) / (d.n_days * m.mau)
                      * 1000000000.0 + 0.5) AS BIGINT) AS stickiness_q
    FROM daily d JOIN mau m ON m.month = d.month
    """,
    category="behavior",
)
def stickiness_dau_mau_events(spark, sf_dir):
    """DAU/MAU stickiness per month — the canonical engagement ratio
    (avg daily actives over monthly actives; 1.0 = every monthly user
    shows up every day). Exact: integer DAU/MAU counts, one closing
    IEEE division. Scale shape: two distinct-aggregates (map-side
    partial on (month, day, user) then (month, day)), joined on the
    month key — the join is over |months| rows."""
    t = load_tables(spark, sf_dir)
    ev = t["events"]
    # §8 proxy: ONE distinct (month, day, user) pass over the fact table
    # feeds both the DAU and the MAU branch (the old shape re-read events
    # for each). count("user_id") over the distinct rows ≡ the former
    # COUNT(DISTINCT user_id): rows are unique per (month, day, user) and
    # count(col) skips the at-most-one NULL-user row per group exactly
    # like count_distinct did.
    base = materialize(ev.select(
        F.date_trunc("month", "ts").cast("date").alias("month"),
        F.date_trunc("day", "ts").cast("date").alias("dy"),
        "user_id",
    ).distinct())
    dau = base.groupBy("month", "dy").agg(
        F.count("user_id").cast("long").alias("dau")
    )
    daily = dau.groupBy("month").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("dau").cast("long").alias("sum_dau"),
    )
    mau = (
        base.select("month", "user_id").distinct()
        .groupBy("month")
        .agg(F.count("user_id").cast("long").alias("mau"))
    )
    return daily.join(mau, on="month").select(
        "month",
        "mau",
        "n_days",
        "sum_dau",
        quantize(
            F.col("sum_dau").cast("double")
            / (F.col("n_days") * F.col("mau"))
        ).alias("stickiness_q"),
    )


# --------------------------------------------------------------------- #
# inter-arrival burstiness


@workload(
    "interarrival_burstiness_events",
    """
    WITH gaps AS (
      SELECT user_id,
             epoch_us(ts) - LAG(epoch_us(ts)) OVER (
               PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST) AS gap_us
      FROM events
    ),
    m AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS n_gaps,
             CAST(SUM(CAST(gap_us AS DECIMAL(38,0))) AS BIGINT)
               AS sum_gap_us,
             CAST(SUM(CAST(gap_us AS DECIMAL(38,0))
                      * CAST(gap_us AS DECIMAL(38,0))) AS DOUBLE) AS ss,
             CAST(SUM(CAST(gap_us AS DECIMAL(38,0))) AS DOUBLE) AS s,
             CAST(COUNT(*) AS DOUBLE) AS n
      FROM gaps WHERE gap_us IS NOT NULL
      GROUP BY user_id HAVING COUNT(*) >= 2
    )
    SELECT user_id, n_gaps, sum_gap_us,
           CAST(FLOOR(SQRT((ss - s * s / n) / (n - 1.0)) / (s / n)
                      * 1000000000.0 + 0.5) AS BIGINT) AS cv_q
    FROM m
    """,
    category="behavior",
)
def interarrival_burstiness_events(spark, sf_dir):
    """Per-user inter-arrival burstiness: the coefficient of variation
    of gaps between consecutive events (CV ≈ 1 = Poisson-like, ≫ 1 =
    bursty sessions, ≪ 1 = metronome/bot). Gaps are exact integer µs
    under the house (ts, event_id) total order; moments accumulate in
    DECIMAL(38,0); σ/mean is one closing IEEE expression, quantized.

    Scale shape: one window partitioned by user_id (per-user history —
    the same per-entity contract as every sessionization query), one
    hash-agg. Users with < 2 gaps are excluded (σ undefined)."""
    t = load_tables(spark, sf_dir)
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = t["events"].select(
        "user_id", (us - F.lag(us).over(w)).alias("gap_us")
    ).filter(F.col("gap_us").isNotNull())
    g38 = F.col("gap_us").cast("decimal(38,0)")
    m = (
        gaps.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_gaps"),
            F.sum(g38).cast("long").alias("sum_gap_us"),
            F.sum(g38 * g38).cast("double").alias("ss"),
            F.sum(g38).cast("double").alias("s"),
            F.count(F.lit(1)).cast("double").alias("n"),
        )
        .filter(F.col("n_gaps") >= 2)
    )
    n, s, ss = F.col("n"), F.col("s"), F.col("ss")
    return m.select(
        "user_id",
        "n_gaps",
        "sum_gap_us",
        F.floor(
            F.sqrt((ss - s * s / n) / (n - F.lit(1.0)))
            / (s / n)
            * F.lit(1000000000.0)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("cv_q"),
    )


# --------------------------------------------------------------------- #
# Markov transition matrix of the event chain


@workload(
    "markov_transitions_events",
    """
    WITH chain AS (
      SELECT event_type AS src,
             LEAD(event_type) OVER (
               PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST) AS dst
      FROM events WHERE ts IS NOT NULL
    ),
    trans AS (
      SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM chain WHERE dst IS NOT NULL GROUP BY src, dst
    ),
    tot AS (
      SELECT src, CAST(SUM(cnt) AS BIGINT) AS total FROM trans GROUP BY src
    )
    SELECT t.src, t.dst, t.cnt,
           CAST(FLOOR(CAST(t.cnt AS DOUBLE) / g.total
                      * 1000000000.0 + 0.5) AS BIGINT) AS prob_q
    FROM trans t JOIN tot g ON g.src = t.src
    """,
    category="behavior",
)
def markov_transitions_events(spark, sf_dir):
    """First-order Markov transition matrix of the per-user event chain
    (P(next=dst | cur=src)) — the generative twin of
    conditional_entropy_event_chain: same chain, full matrix instead of
    one scalar, feeding next-action prediction and anomalous-flow
    detection. Exact integer counts; one quantized division per cell.

    Scale shape: the chain window is partitioned by user_id; transition
    counts hash-agg onto |event_types|² keys (bounded by the type
    vocabulary, not the row count); the row-total join is over that
    same bounded matrix."""
    t = load_tables(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # no event time -> no position in the chain (both sides)
    chain = t["events"].filter(F.col("ts").isNotNull()).select(
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("dst"),
    ).filter(F.col("dst").isNotNull())
    trans = materialize(chain.groupBy("src", "dst").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    # |types|²-bounded matrix consumed by the row-total pass AND the
    # probability join — one fact pass, not two (§8)
    ))
    tot = trans.groupBy("src").agg(F.sum("cnt").cast("long").alias("total"))
    return trans.join(tot, on="src").select(
        "src",
        "dst",
        "cnt",
        quantize(F.col("cnt").cast("double") / F.col("total")).alias(
            "prob_q"
        ),
    )


# --------------------------------------------------------------------- #
# activity streaks — Spark 4 recursive CTE vs an independent islands oracle


@workload(
    "activity_streaks_recursive_events",
    """
    WITH days AS (
      -- a row with no event time is no activity on any day
      SELECT DISTINCT user_id, CAST(DATE_TRUNC('day', ts) AS DATE) AS day
      FROM events WHERE ts IS NOT NULL
    ),
    grouped AS (
      SELECT user_id, day,
             day - CAST(ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY day NULLS FIRST) AS INTEGER) AS grp
      FROM days
    ),
    streaks AS (
      SELECT user_id, grp, CAST(COUNT(*) AS BIGINT) AS len
      FROM grouped GROUP BY user_id, grp
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_streaks,
           CAST(MAX(len) AS BIGINT) AS max_streak_days,
           CAST(SUM(len) AS BIGINT) AS active_days
    FROM streaks GROUP BY user_id
    """,
    category="behavior",
)
def activity_streaks_recursive_events(spark, sf_dir):
    """Per-user consecutive-active-day streaks, computed with Spark 4's
    WITH RECURSIVE: seed at streak STARTS (active days with no active
    predecessor — an anti-join), then walk the day chains recursively.
    The recursion is safe by construction: the domain is acyclic (days
    only increase), each (user, day) extends exactly one start's chain
    (UNION ALL never duplicates), and depth is bounded by the calendar.

    The walk is STRIDE-COMPRESSED: a single per-user window pass
    precomputes, for every active day, how many of the next
    ``STRIDE-1`` days are consecutively active (``step``), and each
    recursion round jumps ``step`` days and accumulates ``len`` in a
    carried column instead of counting emitted rows. Rounds drop from
    max_streak (30 at sf0.1 → 4.6 s) to ceil(max_streak/STRIDE) (4
    rounds → 1.5 s); per-round scheduling overhead, not data volume,
    dominates recursive-CTE latency, so fewer rounds is the lever.

    The oracle is deliberately a DIFFERENT algorithm — the classic
    gaps-and-islands (day − row_number partitions consecutive runs) —
    so engine and oracle agree via independent derivations rather than
    replaying one formulation.

    Scale shape: the stride table is one window over (user_id, day) —
    partitioned by user, never global; the recursive step is a
    per-round (user_id, day) hash-join of the shrinking frontier
    against the checkpointed stride table, the same frontier-expansion
    contract as BFS."""
    t = load_tables(spark, sf_dir)
    view = f"_r6_days_{abs(hash(sf_dir)) % 10**8}"
    STRIDE = 8
    w = Window.partitionBy("user_id").orderBy("day")
    # step = largest s < STRIDE with day+1..day+s all active: build the
    # conjunction incrementally so one window pass yields all leads.
    days = (
        t["events"]
        .filter(F.col("ts").isNotNull())  # no event time -> no active day
        .select(
            "user_id", F.date_trunc("day", "ts").cast("date").alias("day")
        )
        .distinct()
    )
    cond = F.lit(0)
    run = F.lit(True)
    for k in range(1, STRIDE):
        run = run & (F.lead("day", k).over(w) == F.date_add("day", k))
        cond = F.when(run, F.lit(k)).otherwise(cond)
    # the materialization is load-bearing: the recursive step re-reads
    # this view EVERY round, and a plain logical view would re-run the
    # distinct + window ~rounds times.
    materialize(
        days.select("user_id", "day", cond.alias("step")).coalesce(8)
    ).createOrReplaceTempView(view)
    return spark.sql(f"""
      WITH RECURSIVE chain(user_id, start_day, day, len) AS (
        SELECT d.user_id, d.day, d.day, CAST(1 AS BIGINT)
        FROM {view} d
        WHERE NOT EXISTS (
          SELECT 1 FROM {view} p
          WHERE p.user_id = d.user_id AND p.day = DATE_ADD(d.day, -1)
        )
        UNION ALL
        SELECT c.user_id, c.start_day, DATE_ADD(c.day, s.step),
               c.len + s.step
        FROM chain c
        JOIN {view} s
          ON s.user_id = c.user_id AND s.day = c.day AND s.step > 0
      ),
      streaks AS (
        SELECT user_id, start_day,
               CAST(MAX(len) AS BIGINT) AS len
        FROM chain GROUP BY user_id, start_day
      )
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS n_streaks,
             CAST(MAX(len) AS BIGINT) AS max_streak_days,
             CAST(SUM(len) AS BIGINT) AS active_days
      FROM streaks GROUP BY user_id
    """)


# --------------------------------------------------------------------- #
# semi-supervised label spreading over the near-dup graph

_LANGID_SCORES_SQL = """
      SELECT doc_id, lang,
             LEN(LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\\s+'),
                 t -> LOWER(t) IN ('der','die','das','und','ist'))) AS s_de,
             LEN(LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\\s+'),
                 t -> LOWER(t) IN ('the','a','of','and','to'))) AS s_en,
             LEN(LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\\s+'),
                 t -> LOWER(t) IN ('el','la','de','y','que'))) AS s_es,
             LEN(LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\\s+'),
                 t -> LOWER(t) IN ('le','la','de','et','que'))) AS s_fr
      FROM documents
"""


@workload(
    "label_spreading_neardup",
    f"""
    WITH {_MINHASH_PAIRS_CTES},
    sym AS MATERIALIZED (
      SELECT id_a AS src, id_b AS dst FROM dup_pairs
      UNION
      SELECT id_b AS src, id_a AS dst FROM dup_pairs
    ),
    lab0 AS MATERIALIZED (
      SELECT d.doc_id AS id, d.lang AS lbl FROM documents d
      WHERE d.doc_id IN (SELECT src FROM sym)
    ),
    t1 AS (
      SELECT s.src AS id, l.lbl, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM sym s JOIN lab0 l ON l.id = s.dst
      GROUP BY s.src, l.lbl
    ),
    lab1 AS MATERIALIZED (
      SELECT id, lbl FROM t1
      QUALIFY ROW_NUMBER() OVER (PARTITION BY id
                                 ORDER BY cnt DESC NULLS LAST, lbl ASC NULLS FIRST) = 1
    ),
    t2 AS (
      SELECT s.src AS id, l.lbl, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM sym s JOIN lab1 l ON l.id = s.dst
      GROUP BY s.src, l.lbl
    ),
    lab2 AS (
      SELECT id, lbl FROM t2
      QUALIFY ROW_NUMBER() OVER (PARTITION BY id
                                 ORDER BY cnt DESC NULLS LAST, lbl ASC NULLS FIRST) = 1
    )
    SELECT l0.id AS doc_id, l0.lbl AS lang, l2.lbl AS spread_lang,
           (l0.lbl <> l2.lbl) AS relabeled
    FROM lab0 l0 JOIN lab2 l2 ON l2.id = l0.id
    """,
    category="graph",
)
def label_spreading_neardup(spark, sf_dir):
    """Two rounds of majority label spreading over the near-duplicate
    graph: each node takes the most common CURRENT label among its
    neighbors (ties break to the lexicographically smallest) — the
    semi-supervised cleanup that re-labels a document whose declared
    ``lang`` disagrees with every near-duplicate's. ``relabeled`` marks
    the disagreements worth auditing.

    Deterministic by construction: integer votes, total tie order.
    Scale shape: per round one (node)-key join + one (node, label)
    hash-agg + one argmax window PARTITIONED BY node (bounded by the
    node's degree, not the graph); two rounds unrolled — the same
    bounded-round contract as the unrolled PageRank."""
    pairs = neardup_pairs_stored(spark, sf_dir)
    sym = materialize(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
        .unionAll(
            pairs.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
        )
        .distinct()
    )
    t = load_tables(spark, sf_dir)
    lab0 = (
        t["documents"]
        .select(F.col("doc_id").alias("id"), F.col("lang").alias("lbl"))
        .join(sym.select(F.col("src").alias("id")).distinct(), on="id", how="semi")
    )
    w = Window.partitionBy("id").orderBy(F.desc("cnt"), F.asc("lbl"))

    def spread_round(labels):
        tally = (
            sym.join(labels.withColumnRenamed("id", "dst"), on="dst")
            .groupBy(F.col("src").alias("id"), "lbl")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        )
        return (
            tally.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("id", "lbl")
        )

    lab2 = spread_round(spread_round(lab0))
    return (
        lab0.join(lab2.withColumnRenamed("lbl", "lbl2"), on="id")
        .select(
            F.col("id").alias("doc_id"),
            F.col("lbl").alias("lang"),
            F.col("lbl2").alias("spread_lang"),
            (F.col("lbl") != F.col("lbl2")).alias("relabeled"),
        )
    )


@workload(
    "langid_confusion_documents",
    f"""
    WITH scores AS ({_LANGID_SCORES_SQL}),
    pred AS (
      SELECT doc_id, lang,
             CASE WHEN GREATEST(s_de, s_en, s_es, s_fr) > 0 THEN
                    CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr
                           THEN 'de'
                         WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
                         WHEN s_es >= s_fr THEN 'es'
                         ELSE 'fr' END
                  ELSE 'und' END AS predicted_lang
      FROM scores
    )
    SELECT lang, predicted_lang, CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM pred GROUP BY lang, predicted_lang
    """,
    category="text",
)
def langid_confusion_documents(spark, sf_dir):
    """Language-ID confusion matrix: declared ``lang`` × heuristic
    prediction (operators/text.py: language_id), the evaluation rollup
    of lang_id_documents — off-diagonal mass is either metadata rot or
    classifier weakness, and which cell tells you which fix. One
    map-side classification + one |langs|² hash-agg."""
    from etl_manager_spark.operators import text as X

    t = load_tables(spark, sf_dir)
    return (
        spread(t["documents"], spark)
        .select("lang", X.language_id("text").alias("predicted_lang"))
        .groupBy("lang", "predicted_lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    )


# --------------------------------------------------------------------- #
# leakage-safe dataset splitting (cluster-aware train/val/test)


@workload(
    "leakage_safe_split_documents",
    f"""
    WITH RECURSIVE {_MINHASH_PAIRS_CTES},
    edges AS (
      SELECT id_a AS src, id_b AS dst FROM dup_pairs
      UNION
      SELECT id_b AS src, id_a AS dst FROM dup_pairs
    ),
    reach(id, label) AS (
      SELECT src, src FROM edges
      UNION
      SELECT e.src, r.label FROM edges e JOIN reach r ON e.dst = r.id
    ),
    cc AS (SELECT id, MIN(label) AS cid FROM reach GROUP BY id),
    assigned AS (
      SELECT d.doc_id,
             CAST(COALESCE(cc.cid, d.doc_id) AS BIGINT) AS cluster_id
      FROM documents d LEFT JOIN cc ON cc.id = d.doc_id
    ),
    split AS (
      SELECT doc_id, cluster_id,
             CASE WHEN substr(md5(CAST(cluster_id AS VARCHAR)), 1, 8)
                       < 'cccccccc' THEN 'train'
                  WHEN substr(md5(CAST(cluster_id AS VARCHAR)), 1, 8)
                       < 'e6666666' THEN 'val'
                  ELSE 'test' END AS split
      FROM assigned
    ),
    audit AS (
      SELECT cluster_id,
             CAST(COUNT(*) AS BIGINT) AS cluster_size,
             CAST(COUNT(DISTINCT split) AS BIGINT) AS n_splits
      FROM split GROUP BY cluster_id
    )
    SELECT s.doc_id, s.cluster_id, s.split,
           a.cluster_size, (a.n_splits = 1) AS leakage_free
    FROM split s JOIN audit a ON a.cluster_id = s.cluster_id
    """,
    category="curation",
)
def leakage_safe_split_documents(spark, sf_dir):
    """CLUSTER-AWARE train/val/test split (80/10/10): the split draw
    hashes the near-duplicate CLUSTER id, not the document id, so every
    member of a duplicate cluster lands in the SAME split — the guard
    against the classic eval contamination where a near-copy of a
    training document sits in the test set and inflates every metric.
    Documents outside the pair graph are their own singleton cluster.
    ``leakage_free`` is the data-derived audit (distinct splits per
    cluster == 1) — true by construction here, and the column a
    pipeline asserts on when the split column arrives from elsewhere.

    Composition: stored pair table → connected components
    (operators/dedup.py) → the SAME md5-hex threshold draw as
    sampling.split_column, on the cluster key. Scale shape: the CC
    assignment is dedup-pipeline state (maintained incrementally); the
    split itself is a pure per-row projection plus one bounded
    per-cluster audit aggregate."""
    from etl_manager_spark.operators.dedup import near_dup_clusters
    from etl_manager_spark.operators.sampling import (
        _threshold_hex,
        hash_bucket,
    )

    t = load_tables(spark, sf_dir)
    cc = near_dup_clusters(neardup_pairs_stored(spark, sf_dir))
    assigned = (
        t["documents"]
        .select("doc_id")
        .join(cc.withColumnRenamed("id", "doc_id"), on="doc_id", how="left")
        .select(
            "doc_id",
            F.coalesce("cluster_id", "doc_id").cast("long").alias("cluster_id"),
        )
    )
    draw = hash_bucket(F.col("cluster_id"))
    split = assigned.select(
        "doc_id",
        "cluster_id",
        F.when(draw < F.lit(_threshold_hex(0.8)), "train")
        .when(draw < F.lit(_threshold_hex(0.9)), "val")
        .otherwise("test")
        .alias("split"),
    )
    audit = split.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size"),
        F.count_distinct("split").cast("long").alias("n_splits"),
    )
    return split.join(audit, on="cluster_id").select(
        "doc_id",
        "cluster_id",
        "split",
        "cluster_size",
        (F.col("n_splits") == 1).alias("leakage_free"),
    )


# --------------------------------------------------------------------- #
# Cross-source overlap matrix + embedding drift (round 6, batch 4)


@workload(
    "source_overlap_matrix_documents",
    r"""
    WITH sh AS (
      SELECT DISTINCT source, shingle
      FROM (
        SELECT source,
               UNNEST(CASE WHEN LEN(arr) >= 5 THEN
                 LIST_TRANSFORM(RANGE(1, LEN(arr) - 3),
                   i -> MD5(ARRAY_TO_STRING(arr[i:i+4], ' ')))
               ELSE [] END) AS shingle
        FROM (SELECT source,
                     REGEXP_SPLIT_TO_ARRAY(LOWER(TRIM(text)), '\s+') AS arr
              FROM documents)
      )
    ),
    sizes AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_shingles
      FROM sh GROUP BY source
    ),
    inter AS (
      SELECT a.source AS src_a, b.source AS src_b,
             CAST(COUNT(*) AS BIGINT) AS n_common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT i.src_a, i.src_b, i.n_common,
           sa.n_shingles AS n_a, sb.n_shingles AS n_b,
           CAST(FLOOR(CAST(i.n_common AS DOUBLE)
                / CAST(sa.n_shingles + sb.n_shingles - i.n_common AS DOUBLE)
                * 1000000000.0 + 0.5) AS BIGINT) AS jaccard_q
    FROM inter i
    JOIN sizes sa ON sa.source = i.src_a
    JOIN sizes sb ON sb.source = i.src_b
    """,
    category="hygiene",
)
def source_overlap_matrix_documents(spark, sf_dir):
    """Pairwise 5-token-shingle Jaccard between sources — the
    contamination matrix that tells you which crawls/feeds duplicate each
    other before mixing them into a training set. Shingles hash to md5 in
    the scan stage (fan-out rides the generator, never materialized),
    the distinct (source, shingle) set is one shuffle keyed by shingle,
    and the pair counts are a self-equijoin on that key — output and the
    sizes join are bounded by |sources|² (domain-bounded dimension, 20
    here). No windows."""
    t = load_tables(spark, sf_dir)
    sh = materialize(
        spread(t["documents"], spark)
        .select(
            "source",
            F.split(F.lower(F.trim("text")), r"\s+").alias("arr"),
        )
        .select(
            "source",
            F.explode(
                F.expr(
                    "CASE WHEN size(arr) >= 5 THEN "
                    "transform(sequence(1, size(arr) - 4), "
                    "i -> md5(concat_ws(' ', slice(arr, i, 5)))) "
                    "ELSE array() END"
                )
            ).alias("shingle"),
        )
        .distinct()
        # (source, shingle) proxy consumed by the size pass AND both
        # sides of the intersection self-join — one shingle-explode pass,
        # not three (§8)
    )
    sizes = sh.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_shingles")
    )
    b = sh.select(F.col("source").alias("src_b"), "shingle")
    inter = (
        sh.select(F.col("source").alias("src_a"), "shingle")
        .join(b, "shingle")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_common"))
    )
    sa = sizes.select(F.col("source").alias("src_a"), F.col("n_shingles").alias("n_a"))
    sb = sizes.select(F.col("source").alias("src_b"), F.col("n_shingles").alias("n_b"))
    return (
        inter.join(F.broadcast(sa), "src_a")
        .join(F.broadcast(sb), "src_b")
        .select(
            "src_a", "src_b", "n_common", "n_a", "n_b",
            F.floor(
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("double")
                * F.lit(1000000000.0) + F.lit(0.5)
            ).cast("long").alias("jaccard_q"),
        )
    )


@workload(
    "embedding_drift_halves",
    """
    WITH e AS (
      SELECT vec_id % 2 AS half, CAST(embedding AS DOUBLE[]) AS emb
      FROM embeddings
    ),
    dims AS (
      SELECT half, i AS dim,
             CAST(FLOOR(emb[i] * 1000000000.0 + 0.5) AS BIGINT) AS x_q
      FROM e CROSS JOIN UNNEST(RANGE(1, 65)) AS t(i)
    ),
    means AS (
      SELECT half, dim,
             CAST(SUM(x_q) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
               / 1000000000.0 AS m
      FROM dims GROUP BY half, dim
    ),
    paired AS (
      SELECT a.dim, a.m AS m0, b.m AS m1
      FROM means a JOIN means b ON a.dim = b.dim
      WHERE a.half = 0 AND b.half = 1
    ),
    vecs AS (
      SELECT LIST(m0 ORDER BY dim) AS v0, LIST(m1 ORDER BY dim) AS v1
      FROM paired
    )
    SELECT CAST(FLOOR(LIST_AGGREGATE(LIST_TRANSFORM(RANGE(1, 65),
               i -> (v0[i] - v1[i]) * (v0[i] - v1[i])), 'sum')
             * 1000000000.0 + 0.5) AS BIGINT) AS l2sq_drift_q,
           CAST(FLOOR(LIST_AGGREGATE(LIST_TRANSFORM(RANGE(1, 65),
               i -> v0[i] * v1[i]), 'sum')
             / (SQRT(LIST_AGGREGATE(LIST_TRANSFORM(RANGE(1, 65),
                  i -> v0[i] * v0[i]), 'sum'))
                * SQRT(LIST_AGGREGATE(LIST_TRANSFORM(RANGE(1, 65),
                  i -> v1[i] * v1[i]), 'sum')))
             * 1000000000.0 + 0.5) AS BIGINT) AS cos_means_q
    FROM vecs
    """,
    category="hygiene",
)
def embedding_drift_halves(spark, sf_dir):
    """Embedding-distribution drift monitor: mean vector of each corpus
    half (vec_id parity), then squared-L2 distance and cosine between the
    two means. Per-(row, dim) values are nano-quantized BEFORE the
    per-dim integer sums (order-free across partitions); the final 64-dim
    reductions run over dim-ORDERED arrays with the shared sequential
    in-row fold, so no cross-row float accumulation exists anywhere.
    Shuffle is keyed by (half, dim) — 128 groups, map-side combined."""
    t = load_tables(spark, sf_dir)
    e = spread(t["embeddings"], spark).select(
        (F.col("vec_id") % 2).alias("half"),
        F.col("embedding").cast("array<double>").alias("emb"),
    )
    dims = e.select(
        "half",
        F.explode(F.expr(
            "transform(sequence(1, 64), i -> "
            "struct(i AS dim, CAST(floor(element_at(emb, i) * 1000000000.0 + 0.5) AS BIGINT) AS x_q))"
        )).alias("d"),
    ).select("half", F.col("d.dim").alias("dim"), F.col("d.x_q").alias("x_q"))
    # round 11: both halves' means in ONE conditional aggregation keyed by
    # dim — the former (half, dim) aggregate + 128-row eager checkpoint +
    # half-filter self-join paid a full barrier wave and an extra join for
    # what a pair of SUM(CASE WHEN …) columns computes in the same pass
    # (§2.4). Arithmetic is replayed exactly: SUM(long)::double /
    # COUNT(rows of that half)::double / 1e9 — NULL-half rows fall out of
    # both conditionals just as the oracle's a.half=0/b.half=1 join drops
    # them, and a missing half yields NULL means, which the try_-guarded
    # folds below collapse to the oracle's (NULL, NULL) row either way.
    def _half(h):
        cnt = F.sum(F.when(F.col("half") == h, F.lit(1)))
        return (
            F.sum(F.when(F.col("half") == h, F.col("x_q"))).cast("double")
            / cnt.cast("double")
            / F.lit(1000000000.0)
        )

    paired = dims.groupBy("dim").agg(
        _half(0).alias("m0"), _half(1).alias("m1")
    )
    vecs = paired.agg(
        F.expr("transform(sort_array(collect_list(struct(dim, m0))), s -> s.m0)").alias("v0"),
        F.expr("transform(sort_array(collect_list(struct(dim, m1))), s -> s.m1)").alias("v1"),
    )

    # try_element_at / try_divide: on an EMPTY corpus collect_list gives
    # v0 = [] where the oracle's LIST() gives NULL — ANSI element_at
    # would raise INVALID_ARRAY_INDEX; the try_ forms yield the oracle's
    # (NULL, NULL) row, and are value-identical on non-degenerate input
    def fold(expr_body):
        return F.expr(
            f"aggregate(transform(sequence(1, 64), i -> {expr_body}), "
            "cast(0.0 as double), (acc, v) -> acc + v)"
        )

    l2 = fold(
        "(try_element_at(v0, i) - try_element_at(v1, i))"
        " * (try_element_at(v0, i) - try_element_at(v1, i))"
    )
    dot01 = fold("try_element_at(v0, i) * try_element_at(v1, i)")
    n0 = fold("try_element_at(v0, i) * try_element_at(v0, i)")
    n1 = fold("try_element_at(v1, i) * try_element_at(v1, i)")
    return vecs.select(
        F.floor(l2 * F.lit(1000000000.0) + F.lit(0.5)).cast("long").alias("l2sq_drift_q"),
        F.floor(
            F.try_divide(dot01, F.sqrt(n0) * F.sqrt(n1))
            * F.lit(1000000000.0) + F.lit(0.5)
        ).cast("long").alias("cos_means_q"),
    )
