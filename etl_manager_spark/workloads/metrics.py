"""Round-6 catalog additions: retrieval-evaluation metrics (MRR, P/R@k,
AP@10), rank statistics (tie-aware Spearman, Kendall τ-b, two-sample KS),
robust time-series estimators (seasonality index, moving median, z-score
anomalies, Theil–Sen slope), graph similarity (common-neighbor Jaccard),
and text metrics (readability, positional prefix dedup).

House discipline throughout: decimal-exact sums, nano-quantization BEFORE
order-free integer reductions, identical expression trees in the Spark code
and the DuckDB oracle (column aliases match exactly), and NO
single-partition windows — global ranks/CDFs go through the two-phase
``ordered_cumsum``, bounded top-k frames through ``rank_bounded``, and
per-entity windows are partitioned on keys whose groups stay small as data
grows.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import Window
from pyspark.sql import functions as F

from etl_manager_spark.operators import ranking as R
from etl_manager_spark.operators.prefix import ordered_cumsum
from etl_manager_spark.operators.quantiles import grouped_exact_percentiles
from etl_manager_spark.operators.topk import rank_bounded
from etl_manager_spark.workloads import workload
from etl_manager_spark.workloads.analytics import _BM25_CTES, _BM25_TERMS
from etl_manager_spark.workloads.pipeline import _MINHASH_PAIRS_CTES
from etl_manager_spark.workloads.scratch import stored
from etl_manager_spark.workloads.tables import load_tables, spread

_TOK = r"LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\s+'), x -> x <> '')"

# Shared ground-truth threshold for the retrieval-eval family: a document
# is "relevant" when it contains >= 5 total query-term occurrences. Shared
# between the three metrics so they grade the same task.
_REL_MIN = 5

_REL_CTES = f"""rel AS (
      SELECT id, CAST(SUM(tf) AS BIGINT) AS rel FROM tf GROUP BY id
    ),
    joined AS (
      SELECT b.id, b.score_q, r.rel FROM bm25 b JOIN rel r ON r.id = b.id
    )"""


def _bm25_joined(spark, sf_dir):
    """(id, score_q, rel) for every doc matching any query term — the
    shared input of the retrieval-eval family (mirrors _REL_CTES),
    MATERIALIZED once per fixture to a scratch parquet and read back by
    all three eval metrics. Same policy as the minhash pair store
    (pipeline.neardup_pairs_stored): the live score computation is still
    measured by bm25_rank_documents; the eval family — three queries
    over one scored run — reads the stored run, exactly how an
    evaluation harness consumes a ranker at scale. Stored with
    workloads/scratch.py ``stored``, keyed on the query terms and the
    relevance threshold."""

    def build(tmp):
        docs = spread(load_tables(spark, sf_dir)["documents"], spark)
        scores = R.bm25_scores(docs, _BM25_TERMS)
        rel = (
            docs.select(
                F.col("doc_id").alias("id"),
                F.explode(R.tokens("text")).alias("term"),
            )
            .filter(F.col("term").isin(_BM25_TERMS))
            .groupBy("id")
            .agg(F.count(F.lit(1)).alias("rel"))
        )
        scores.join(rel, on="id").write.mode("overwrite").parquet(tmp)

    return spark.read.parquet(
        stored(
            "bm25_joined",
            os.path.join(sf_dir, "documents.parquet"),
            f"{'|'.join(_BM25_TERMS)}#{_REL_MIN}#v1",
            build,
        )
    )


@workload(
    "mrr_bm25_documents",
    f"""
    WITH {_BM25_CTES},
    {_REL_CTES},
    top10 AS (
      SELECT id, rel,
             ROW_NUMBER() OVER (ORDER BY score_q DESC NULLS LAST, id ASC NULLS FIRST) AS rnk
      FROM joined QUALIFY rnk <= 10
    )
    SELECT CAST(COUNT(CASE WHEN rel >= {_REL_MIN} THEN 1 END) AS BIGINT)
             AS n_rel_top10,
           CAST(MIN(CASE WHEN rel >= {_REL_MIN} THEN rnk END) AS BIGINT)
             AS first_rel_rank,
           CAST(COALESCE(FLOOR(1000000000.0
                / MIN(CASE WHEN rel >= {_REL_MIN} THEN rnk END) + 0.5), 0)
             AS BIGINT) AS mrr_q
    FROM top10
    """,
    category="text",
)
def mrr_bm25_documents(spark, sf_dir):
    """Mean reciprocal rank of the BM25 ranking against the >= 5-term
    ground truth — with nDCG and RBO, the third classic retrieval-eval
    metric. Top-10 selection is ``orderBy().limit(10)`` (TakeOrdered
    heap); the bounded frame is ranked windowlessly (rank_bounded), so
    nothing corpus-sized ever funnels into one task. 1/rank quantizes to
    one integer — no float ambiguity."""
    top10 = rank_bounded(
        _bm25_joined(spark, sf_dir)
        .orderBy(F.desc("score_q"), F.asc("id"))
        .limit(10),
        [("score_q", "desc"), ("id", "asc")],
    )
    first = F.min(F.when(F.col("rel") >= _REL_MIN, F.col("rnk")))
    return top10.groupBy().agg(
        F.count(F.when(F.col("rel") >= _REL_MIN, F.lit(1)))
        .cast("long")
        .alias("n_rel_top10"),
        first.cast("long").alias("first_rel_rank"),
        F.coalesce(
            F.floor(F.lit(1000000000.0) / first + F.lit(0.5)), F.lit(0)
        )
        .cast("long")
        .alias("mrr_q"),
    )


@workload(
    "precision_recall_at_5_bm25",
    f"""
    WITH {_BM25_CTES},
    {_REL_CTES},
    top5 AS (
      SELECT id, rel,
             ROW_NUMBER() OVER (ORDER BY score_q DESC NULLS LAST, id ASC NULLS FIRST) AS rnk
      FROM joined QUALIFY rnk <= 5
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_relevant
      FROM rel WHERE rel >= {_REL_MIN}
    ),
    h AS (
      SELECT CAST(COUNT(CASE WHEN rel >= {_REL_MIN} THEN 1 END) AS BIGINT)
               AS n_hits
      FROM top5
    )
    SELECT n_hits, n_relevant,
           CAST(FLOOR(CAST(n_hits AS DOUBLE) / 5.0
                      * 1000000000.0 + 0.5) AS BIGINT) AS precision_q,
           CAST(FLOOR(CAST(n_hits AS DOUBLE) / n_relevant
                      * 1000000000.0 + 0.5) AS BIGINT) AS recall_q
    FROM h CROSS JOIN tot
    """,
    category="text",
)
def precision_recall_at_5_bm25(spark, sf_dir):
    """Precision@5 / Recall@5 of the BM25 ranking against the shared
    ground truth. The total-relevant count is a 1-row aggregate attached
    by broadcast; the top-5 is a TakeOrdered heap — both sides scale."""
    joined = _bm25_joined(spark, sf_dir)
    top5 = joined.orderBy(F.desc("score_q"), F.asc("id")).limit(5)
    tot = (
        joined.filter(F.col("rel") >= _REL_MIN)
        .groupBy()
        .agg(F.count(F.lit(1)).cast("long").alias("n_relevant"))
    )
    hits = top5.groupBy().agg(
        F.count(F.when(F.col("rel") >= _REL_MIN, F.lit(1)))
        .cast("long")
        .alias("n_hits")
    )
    return hits.crossJoin(F.broadcast(tot)).select(
        "n_hits",
        "n_relevant",
        F.floor(
            F.col("n_hits").cast("double") / F.lit(5.0)
            * F.lit(1000000000.0)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("precision_q"),
        # try_divide: n_relevant = 0 (no relevant docs at all) yields NULL
        # exactly like DuckDB's x/0; ANSI `/` would raise DIVIDE_BY_ZERO
        F.floor(
            F.try_divide(F.col("n_hits").cast("double"), F.col("n_relevant"))
            * F.lit(1000000000.0)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("recall_q"),
    )


@workload(
    "average_precision_bm25",
    f"""
    WITH {_BM25_CTES},
    {_REL_CTES},
    top10 AS (
      SELECT id, rel,
             ROW_NUMBER() OVER (ORDER BY score_q DESC NULLS LAST, id ASC NULLS FIRST) AS rnk
      FROM joined QUALIFY rnk <= 10
    ),
    pat AS (
      SELECT a.rnk,
             CAST(COUNT(CASE WHEN b.rel >= {_REL_MIN} THEN 1 END) AS BIGINT)
               AS cnt_rel
      FROM top10 a JOIN top10 b ON b.rnk <= a.rnk
      WHERE a.rel >= {_REL_MIN}
      GROUP BY a.rnk
    ),
    s AS (
      SELECT CAST(COALESCE(SUM(
               CAST(FLOOR(CAST(cnt_rel AS DOUBLE) / rnk
                          * 1000000000.0 + 0.5) AS BIGINT)), 0) AS BIGINT)
               AS sum_p_q
      FROM pat
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_relevant
      FROM rel WHERE rel >= {_REL_MIN}
    )
    SELECT n_relevant, sum_p_q,
           CAST(CASE WHEN n_relevant > 0
                THEN FLOOR(CAST(sum_p_q AS DOUBLE) / n_relevant + 0.5)
                ELSE 0 END AS BIGINT) AS ap_q
    FROM s CROSS JOIN tot
    """,
    category="text",
)
def average_precision_bm25(spark, sf_dir):
    """Average precision at 10: Σ P@i over relevant ranks i, / total
    relevant. Each P@i comes from a 10×10 self-join of the BOUNDED
    top-10 frame (b.rnk <= a.rnk) — no running window at all; each P@i
    quantizes before the integer sum."""
    joined = _bm25_joined(spark, sf_dir)
    top10 = rank_bounded(
        joined.orderBy(F.desc("score_q"), F.asc("id")).limit(10),
        [("score_q", "desc"), ("id", "asc")],
    ).localCheckpoint(eager=True)  # tiny frame, read twice below
    a = top10.alias("a")
    b = top10.alias("b")
    pat = (
        a.join(b, F.col("b.rnk") <= F.col("a.rnk"))
        .filter(F.col("a.rel") >= _REL_MIN)
        .groupBy(F.col("a.rnk").alias("rnk"))
        .agg(
            F.count(F.when(F.col("b.rel") >= _REL_MIN, F.lit(1)))
            .cast("long")
            .alias("cnt_rel")
        )
    )
    s = pat.groupBy().agg(
        F.coalesce(
            F.sum(
                F.floor(
                    F.col("cnt_rel").cast("double") / F.col("rnk")
                    * F.lit(1000000000.0)
                    + F.lit(0.5)
                ).cast("long")
            ),
            F.lit(0),
        )
        .cast("long")
        .alias("sum_p_q")
    )
    tot = (
        joined.filter(F.col("rel") >= _REL_MIN)
        .groupBy()
        .agg(F.count(F.lit(1)).cast("long").alias("n_relevant"))
    )
    return s.crossJoin(F.broadcast(tot)).select(
        "n_relevant",
        "sum_p_q",
        F.when(
            F.col("n_relevant") > 0,
            F.floor(
                F.col("sum_p_q").cast("double") / F.col("n_relevant")
                + F.lit(0.5)
            ),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("ap_q"),
    )


# --------------------------------------------------------------------- #
# rank statistics


def _avg_rank2(df, value_col: str, out_col: str, keep_count: str | None = None):
    """Tie-aware average rank × 2 (so it stays INTEGER) per distinct
    value: avg position of a tie group of size c starting after
    cum_before rows = cum_before + (c+1)/2 → doubled: 2·cum_before+c+1.
    The cumulative count runs through the two-phase ordered_cumsum — no
    single-partition window over the value domain.

    ``keep_count`` additionally exposes the per-value count as a column
    (round 11): tie statistics (Σ c³−c) can then read the SAME
    checkpointed value-count table — a caller re-deriving the counts
    from its input re-plans a full parquet scan of the fact table, and a
    branch touching only the count column prunes the cumsum window."""
    vc = df.groupBy(F.col(value_col).alias("v")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    cum = ordered_cumsum(vc, [F.asc("v")], ["c"])
    cols = [
        F.col("v").alias(value_col),
        (F.lit(2) * F.col("c_cum") - F.col("c") + F.lit(1))
        .cast("long")
        .alias(out_col),
    ]
    if keep_count is not None:
        cols.append(F.col("c").alias(keep_count))
    return cum.select(*cols)


@workload(
    "spearman_price_custkey_orders",
    """
    WITH vcx AS (
      SELECT o_totalprice AS v, CAST(COUNT(*) AS BIGINT) AS c
      FROM orders GROUP BY 1
    ),
    rx AS (
      SELECT v, CAST(2 * (SUM(c) OVER (ORDER BY v NULLS FIRST)) - c + 1 AS BIGINT) AS r2
      FROM vcx
    ),
    vcy AS (
      SELECT o_custkey AS v, CAST(COUNT(*) AS BIGINT) AS c
      FROM orders GROUP BY 1
    ),
    ry AS (
      SELECT v, CAST(2 * (SUM(c) OVER (ORDER BY v NULLS FIRST)) - c + 1 AS BIGINT) AS r2
      FROM vcy
    ),
    j AS (
      SELECT CAST(rx.r2 AS DECIMAL(19,0)) AS x,
             CAST(ry.r2 AS DECIMAL(19,0)) AS y
      FROM orders o
      JOIN rx ON rx.v = o.o_totalprice
      JOIN ry ON ry.v = o.o_custkey
    ),
    m AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
             CAST(SUM(x * x) AS DOUBLE) AS sxx,
             CAST(SUM(y * y) AS DOUBLE) AS syy,
             CAST(SUM(x * y) AS DOUBLE) AS sxy
      FROM j
    )
    SELECT CAST(n AS BIGINT) AS n_orders,
           CAST(FLOOR((n * sxy - sx * sy)
                / (SQRT(n * sxx - sx * sx) * SQRT(n * syy - sy * sy))
                * 1000000000.0 + 0.5) AS BIGINT) AS spearman_q
    FROM m
    """,
    category="statistics",
)
def spearman_price_custkey_orders(spark, sf_dir):
    """Tie-aware Spearman rank correlation between o_totalprice and
    o_custkey — Pearson over average ranks. Ranks are computed per
    DISTINCT value (value-count table + two-phase ordered_cumsum, never
    a row-level global sort), doubled to stay integer under ties, and
    joined back by value. Moments accumulate in DECIMAL(19,0)→(38,0)
    products — exact in both engines — with ONE double conversion each
    before the closing Pearson expression."""
    t = load_tables(spark, sf_dir)
    orders = t["orders"].select("o_totalprice", "o_custkey")
    rx = _avg_rank2(orders, "o_totalprice", "r2x")
    ry = _avg_rank2(orders, "o_custkey", "r2y")
    j = orders.join(rx, on="o_totalprice").join(ry, on="o_custkey").select(
        F.col("r2x").cast("decimal(19,0)").alias("x"),
        F.col("r2y").cast("decimal(19,0)").alias("y"),
    )
    m = j.groupBy().agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("double").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    return m.select(
        n.cast("long").alias("n_orders"),
        F.floor(
            (n * sxy - sx * sy)
            / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy))
            * F.lit(1000000000.0)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("spearman_q"),
    )


_DAILY_MEAN_SQL = """daily AS (
      SELECT CAST(DATE_TRUNC('day', ts) AS DATE) AS day,
             CAST(FLOOR(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                        / COUNT(*) * 1000000000.0 + 0.5) AS BIGINT) AS mv_q
      FROM events GROUP BY 1
    )"""


def _daily_type_mean(spark, sf_dir):
    """(event_type, day, m): per-type daily mean of events.value with the
    nano-quantize-then-divide discipline — the shared series behind the
    per-type time-series estimators (record-highs, Haar, Hurst, spectral,
    PACF, Newey-West, rolling-origin). Callers eagerly localCheckpoint the
    result: every one of them fans the series into several consumers
    (day-zero min, moments, residuals, lag joins), and without the
    materialization each consumer re-reads and re-aggregates the events
    fact table — the measured round-10 plans showed 6-12 parquet scans per
    query for a table of at most |types|·|days| rows (guide §1.2/§8:
    decide on the tiny proxy, touch the heavy rows once)."""
    t = load_tables(spark, sf_dir)
    return (
        spread(t["events"], spark)
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(
            (
                F.sum(R.quantize(F.col("value"))).cast("double")
                / F.count(F.lit(1)).cast("double") / F.lit(1000000000.0)
            ).alias("m")
        )
    )


def _daily_mean(spark, sf_dir):
    """(day, mv_q): nano-quantized daily mean of events.value — the
    shared integer-exact series of the time-series estimators (mirrors
    _DAILY_MEAN_SQL)."""
    t = load_tables(spark, sf_dir)
    return t["events"].groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(
        F.floor(
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double")
            / F.count(F.lit(1))
            * F.lit(1000000000.0)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("mv_q")
    )


@workload(
    "kendall_tau_daily_value",
    f"""
    WITH {_DAILY_MEAN_SQL},
    pairs AS (
      SELECT a.mv_q AS xa, b.mv_q AS xb
      FROM daily a JOIN daily b ON a.day < b.day
    ),
    cd AS (
      SELECT CAST(COUNT(CASE WHEN xb > xa THEN 1 END) AS BIGINT)
               AS concordant,
             CAST(COUNT(CASE WHEN xb < xa THEN 1 END) AS BIGINT)
               AS discordant,
             CAST(COUNT(*) AS BIGINT) AS n0
      FROM pairs
    ),
    ty AS (
      SELECT CAST(COALESCE(SUM((c * (c - 1)) // 2), 0) AS BIGINT)
               AS tie_pairs
      FROM (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM daily GROUP BY mv_q)
    ),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_days FROM daily)
    SELECT n_days, concordant, discordant,
           CAST(FLOOR(CAST(concordant - discordant AS DOUBLE)
                / SQRT(CAST(n0 AS DOUBLE) * CAST(n0 - tie_pairs AS DOUBLE))
                * 1000000000.0 + 0.5) AS BIGINT) AS tau_b_q
    FROM cd CROSS JOIN ty CROSS JOIN nn
    """,
    category="statistics",
)
def kendall_tau_daily_value(spark, sf_dir):
    """Kendall τ-b between time (day order) and the daily mean value —
    the trend test behind "is this metric drifting". O(days²) pairs is
    the RIGHT cost model: the pair space is calendar-bounded (31 days →
    465 pairs, a century → ~666k), never data-bounded; the heavy
    reduction is the per-day aggregate. Days are strictly ordered (no
    x-ties), value ties enter via the τ-b denominator."""
    daily = _daily_mean(spark, sf_dir).localCheckpoint(eager=True)
    a, b = daily.alias("a"), daily.alias("b")
    pairs = a.join(b, F.col("a.day") < F.col("b.day")).select(
        F.col("a.mv_q").alias("xa"), F.col("b.mv_q").alias("xb")
    )
    cd = pairs.groupBy().agg(
        F.count(F.when(F.col("xb") > F.col("xa"), F.lit(1)))
        .cast("long")
        .alias("concordant"),
        F.count(F.when(F.col("xb") < F.col("xa"), F.lit(1)))
        .cast("long")
        .alias("discordant"),
        F.count(F.lit(1)).cast("long").alias("n0"),
    )
    ty = (
        daily.groupBy("mv_q")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .groupBy()
        .agg(
            F.coalesce(
                F.sum(F.expr("(c * (c - 1)) DIV 2")), F.lit(0)
            )
            .cast("long")
            .alias("tie_pairs")
        )
    )
    nn = daily.groupBy().agg(F.count(F.lit(1)).cast("long").alias("n_days"))
    return (
        cd.crossJoin(F.broadcast(ty))
        .crossJoin(F.broadcast(nn))
        .select(
            "n_days",
            "concordant",
            "discordant",
            # try_divide: a zero denominator (empty input, or every value
            # tied so n0 == tie_pairs) yields NULL exactly like DuckDB's
            # x/0.0; ANSI `/` would raise DIVIDE_BY_ZERO
            F.floor(
                F.try_divide(
                    (F.col("concordant") - F.col("discordant")).cast("double"),
                    F.sqrt(
                        F.col("n0").cast("double")
                        * (F.col("n0") - F.col("tie_pairs")).cast("double")
                    ),
                )
                * F.lit(1000000000.0)
                + F.lit(0.5)
            )
            .cast("long")
            .alias("tau_b_q"),
        )
    )


@workload(
    "ks_statistic_view_vs_click",
    """
    WITH f AS (
      -- NULL values have no place in an empirical CDF
      SELECT event_type, value FROM events
      WHERE event_type IN ('view', 'click') AND value IS NOT NULL
    ),
    vc AS (
      SELECT value AS v,
             CAST(COUNT(CASE WHEN event_type = 'view' THEN 1 END)
                  AS BIGINT) AS cv,
             CAST(COUNT(CASE WHEN event_type = 'click' THEN 1 END)
                  AS BIGINT) AS cc
      FROM f GROUP BY 1
    ),
    cum AS (
      SELECT CAST(SUM(cv) OVER (ORDER BY v NULLS FIRST) AS BIGINT) AS cumv,
             CAST(SUM(cc) OVER (ORDER BY v NULLS FIRST) AS BIGINT) AS cumc
      FROM vc
    ),
    tot AS (
      SELECT CAST(SUM(cv) AS BIGINT) AS n_view,
             CAST(SUM(cc) AS BIGINT) AS n_click
      FROM vc
    ),
    d AS (
      SELECT CAST(MAX(ABS(cumv * n_click - cumc * n_view)) AS BIGINT)
               AS d_num
      FROM cum CROSS JOIN tot
    )
    SELECT n_view, n_click, d_num,
           CAST(FLOOR(CAST(d_num AS DOUBLE)
                / (CAST(n_view AS DOUBLE) * CAST(n_click AS DOUBLE))
                * 1000000000.0 + 0.5) AS BIGINT) AS ks_q
    FROM d CROSS JOIN tot
    """,
    category="statistics",
)
def ks_statistic_view_vs_click(spark, sf_dir):
    """Exact two-sample Kolmogorov–Smirnov statistic between the value
    distributions of 'view' and 'click' events: D = max |F₁−F₂| over
    the merged support. The sup runs over DISTINCT values with BOTH
    empirical CDFs carried by one two-phase ordered_cumsum (two value
    columns, one range shuffle), and the comparison is the
    cross-multiplied integer |cumv·n₂ − cumc·n₁| — no float until the
    final normalization. Exact-integer bound: cum·n < 2⁶³ holds through
    ~3·10⁹ rows per class."""
    t = load_tables(spark, sf_dir)
    f = t["events"].filter(
        F.col("event_type").isin("view", "click")
        & F.col("value").isNotNull()
    )
    vc = f.groupBy(F.col("value").alias("v")).agg(
        F.count(F.when(F.col("event_type") == "view", F.lit(1)))
        .cast("long")
        .alias("cv"),
        F.count(F.when(F.col("event_type") == "click", F.lit(1)))
        .cast("long")
        .alias("cc"),
    # distinct-values-bounded counts consumed by the cumsum AND the
    # totals — one fact pass, not two (§8)
    ).localCheckpoint(eager=True)
    cum = ordered_cumsum(vc, [F.asc("v")], ["cv", "cc"])
    tot = vc.groupBy().agg(
        F.sum("cv").cast("long").alias("n_view"),
        F.sum("cc").cast("long").alias("n_click"),
    )
    d = (
        cum.crossJoin(F.broadcast(tot))
        .groupBy()
        .agg(
            F.max(
                F.abs(
                    F.col("cv_cum") * F.col("n_click")
                    - F.col("cc_cum") * F.col("n_view")
                )
            )
            .cast("long")
            .alias("d_num")
        )
    )
    return d.crossJoin(F.broadcast(tot)).select(
        "n_view",
        "n_click",
        "d_num",
        # try_divide: an empty class (no view or no click rows) makes the
        # KS statistic undefined - NULL like the oracle's x/0
        F.floor(
            F.try_divide(
                F.col("d_num").cast("double"),
                F.col("n_view").cast("double") * F.col("n_click").cast("double"),
            )
            * F.lit(1000000000.0)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("ks_q"),
    )


# --------------------------------------------------------------------- #
# time series


@workload(
    "dow_seasonality_events",
    """
    WITH per AS (
      SELECT CAST(DAYOFWEEK(ts) + 1 AS INTEGER) AS dow,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s
      FROM events GROUP BY 1
    ),
    tot AS (
      SELECT CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS st,
             CAST(COUNT(*) AS BIGINT) AS nt
      FROM events
    )
    SELECT dow, n,
           CAST(FLOOR(s / n * 1000000000.0 + 0.5) AS BIGINT)
             AS mean_value_q,
           CAST(FLOOR((s / n) / (st / nt) * 1000000000.0 + 0.5) AS BIGINT)
             AS seasonal_index_q
    FROM per CROSS JOIN tot
    """,
    category="timeseries",
)
def dow_seasonality_events(spark, sf_dir):
    """Day-of-week seasonal index: mean value per weekday ÷ grand mean —
    the multiplicative seasonality factor every forecasting pipeline
    extracts first. Decimal-exact sums; the grand mean attaches by
    broadcast. Spark's dayofweek is 1=Sunday; DuckDB's is 0=Sunday, so
    the oracle adds 1."""
    t = load_tables(spark, sf_dir)
    ev = t["events"]
    per = ev.groupBy(F.dayofweek("ts").cast("int").alias("dow")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("s"),
    )
    tot = ev.groupBy().agg(
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("st"),
        F.count(F.lit(1)).cast("long").alias("nt"),
    )
    return per.crossJoin(F.broadcast(tot)).select(
        "dow",
        "n",
        F.floor(
            F.col("s") / F.col("n") * F.lit(1000000000.0) + F.lit(0.5)
        )
        .cast("long")
        .alias("mean_value_q"),
        # try_divide: a zero grand mean (values sum to 0) zeroes the
        # denominator - NULL like the oracle's x/0
        F.floor(
            F.try_divide(F.col("s") / F.col("n"), F.col("st") / F.col("nt"))
            * F.lit(1000000000.0)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("seasonal_index_q"),
    )


@workload(
    "moving_median_daily_value",
    f"""
    WITH {_DAILY_MEAN_SQL}
    SELECT a.day, a.mv_q,
           CAST(COUNT(b.mv_q) AS BIGINT) AS n_window,
           quantile_cont(b.mv_q, 0.5) AS med7
    FROM daily a
    JOIN daily b ON b.day <= a.day AND b.day >= a.day - 6
    GROUP BY a.day, a.mv_q
    """,
    category="timeseries",
)
def moving_median_daily_value(spark, sf_dir):
    """7-day trailing moving MEDIAN of the daily mean — the robust
    smoother (a single outlier day moves a moving average, not a moving
    median). The window realizes as a range self-join of the
    calendar-bounded day table (≤7 partners/day); the median
    interpolates between nano-quantized INTEGER daily means, so the
    half-way interpolation (a+b)/2 is exact in IEEE and identical in
    both engines."""
    daily = _daily_mean(spark, sf_dir).localCheckpoint(eager=True)
    a, b = daily.alias("a"), daily.alias("b")
    return (
        a.join(
            b,
            (F.col("b.day") <= F.col("a.day"))
            & (F.col("b.day") >= F.date_sub(F.col("a.day"), 6)),
        )
        .groupBy(F.col("a.day").alias("day"), F.col("a.mv_q").alias("mv_q"))
        .agg(
            F.count("b.mv_q").cast("long").alias("n_window"),
            F.expr("percentile(b.mv_q, 0.5D)").alias("med7"),
        )
    )


@workload(
    "zscore_anomaly_days",
    """
    WITH daily AS (
      SELECT CAST(DATE_TRUNC('day', ts) AS DATE) AS day,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT)
               AS tot_c
      FROM events GROUP BY 1
    ),
    m AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS n,
             CAST(SUM(CAST(tot_c AS DECIMAL(19,0))) AS DOUBLE) AS s,
             CAST(SUM(CAST(tot_c AS DECIMAL(19,0))
                      * CAST(tot_c AS DECIMAL(19,0))) AS DOUBLE) AS ss
      FROM daily
    ),
    z AS (
      SELECT day, tot_c,
             CAST(FLOOR((tot_c - s / n)
                  / SQRT((ss - s * s / n) / (n - 1.0))
                  * 1000000000.0 + 0.5) AS BIGINT) AS z_q
      FROM daily CROSS JOIN m
    )
    SELECT day, tot_c AS total_cents, z_q,
           ABS(z_q) > 2000000000 AS is_anomaly
    FROM z
    """,
    category="timeseries",
)
def zscore_anomaly_days(spark, sf_dir):
    """Daily-revenue anomaly flags: z-score of each day's total (exact
    cents) against the all-days mean/σ — moments accumulate in
    DECIMAL(19,0)→(38,0) exactly, σ is one closing IEEE expression, and
    the ±2σ flag compares QUANTIZED z against the integer 2·10⁹, so the
    boundary decision is engine-independent."""
    t = load_tables(spark, sf_dir)
    daily = t["events"].groupBy(
        F.date_trunc("day", "ts").cast("date").alias("day")
    ).agg(
        (F.sum(F.col("value").cast("decimal(18,2)")) * 100)
        .cast("long")
        .alias("tot_c")
    # days-bounded totals consumed by the moment pass AND the per-day
    # z-score pass — one fact read instead of two (§8)
    ).localCheckpoint(eager=True)
    d19 = F.col("tot_c").cast("decimal(19,0)")
    m = daily.groupBy().agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum(d19).cast("double").alias("s"),
        F.sum(d19 * d19).cast("double").alias("ss"),
    )
    n, s, ss = F.col("n"), F.col("s"), F.col("ss")
    z = daily.crossJoin(F.broadcast(m)).select(
        "day",
        "tot_c",
        # try_divide: a single observed day (n=1) or a constant series
        # zeroes the sample-sigma denominator - NULL like the oracle's x/0
        F.floor(
            F.try_divide(
                F.col("tot_c") - s / n,
                F.sqrt((ss - s * s / n) / (n - F.lit(1.0))),
            )
            * F.lit(1000000000.0)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("z_q"),
    )
    return z.select(
        "day",
        F.col("tot_c").alias("total_cents"),
        "z_q",
        (F.abs(F.col("z_q")) > F.lit(2000000000)).alias("is_anomaly"),
    )


@workload(
    "theil_sen_daily_value_trend",
    f"""
    WITH {_DAILY_MEAN_SQL},
    mn AS (SELECT MIN(day) AS d0 FROM daily),
    idx AS (
      SELECT CAST(day - d0 AS BIGINT) AS i, mv_q
      FROM daily CROSS JOIN mn
    ),
    slopes AS (
      SELECT CAST(FLOOR(CAST(b.mv_q - a.mv_q AS DOUBLE) / (b.i - a.i)
                        + 0.5) AS BIGINT) AS slope_q
      FROM idx a JOIN idx b ON a.i < b.i
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           quantile_cont(slope_q, 0.5) AS sen_slope_q
    FROM slopes
    """,
    category="timeseries",
)
def theil_sen_daily_value_trend(spark, sf_dir):
    """Theil–Sen robust trend of the daily mean: the MEDIAN of all
    pairwise slopes — the estimator that shrugs off 29% outliers where
    OLS (regression_price_by_quantity's shape) folds. The pair space is
    calendar-bounded (days², not rows²); each slope is
    rounded-to-integer in quantized units/day before the median, whose
    half-interpolation is exact."""
    from etl_manager_spark.operators.quantiles import grouped_exact_percentiles

    daily = _daily_mean(spark, sf_dir)
    mn = daily.groupBy().agg(F.min("day").alias("d0"))
    # no checkpoint (round 11): idx is |days| rows, but ``daily`` is a
    # LAZY aggregate over the events scan — nothing upstream is
    # checkpointed. The mn branch and both self-join branches plan the
    # same scan+aggregate subtree, and its single execution rests on
    # Spark's ReuseExchange over those identical subtrees (correct either
    # way: the quantized aggregate is deterministic). The former eager
    # checkpoint here was a full barrier wave per invocation
    idx = daily.crossJoin(F.broadcast(mn)).select(
        F.datediff(F.col("day"), F.col("d0")).cast("long").alias("i"),
        "mv_q",
    )
    a, b = idx.alias("a"), idx.alias("b")
    slopes = a.join(b, F.col("a.i") < F.col("b.i")).select(
        F.lit(1).alias("_g"),
        F.floor(
            (F.col("b.mv_q") - F.col("a.mv_q")).cast("double")
            / (F.col("b.i") - F.col("a.i"))
            + F.lit(0.5)
        )
        .cast("long")
        .alias("slope_q"),
    )
    # median via the range-partitioned CDF (single group): the pair space
    # is days²/2 — span-bounded, but quadratic in a user-visible dimension
    # (~6.7M values for a 10-year daily series), too big to buffer in one
    # task's percentile map
    res = grouped_exact_percentiles(
        slopes, ["_g"], "slope_q", {"sen_slope_q": 0.5}, count_name="n_pairs"
    )
    # the oracle is a GLOBAL aggregate: on an empty pair set it still
    # emits one (0, NULL) row, while the grouped CDF has no group to
    # return — re-anchor on a one-row seed so both shapes agree
    seed = spark.range(1).select(F.lit(1).alias("_g"))
    return seed.join(res, "_g", "left").select(
        F.coalesce(F.col("n_pairs"), F.lit(0)).cast("long").alias("n_pairs"),
        "sen_slope_q",
    )


# --------------------------------------------------------------------- #
# graph similarity


@workload(
    "jaccard_common_neighbors_neardup",
    f"""
    WITH {_MINHASH_PAIRS_CTES},
    edges AS (SELECT id_a, id_b FROM dup_pairs),
    nbrs AS (
      SELECT id_a AS node, id_b AS nbr FROM edges
      UNION ALL SELECT id_b, id_a FROM edges
    ),
    deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM nbrs GROUP BY node
    ),
    common AS (
      SELECT e.id_a, e.id_b, CAST(COUNT(*) AS BIGINT) AS cn
      FROM edges e
      JOIN nbrs na ON na.node = e.id_a
      JOIN nbrs nb ON nb.node = e.id_b AND nb.nbr = na.nbr
      WHERE na.nbr <> e.id_a AND na.nbr <> e.id_b
      GROUP BY e.id_a, e.id_b
    ),
    j AS (
      SELECT e.id_a, e.id_b,
             CAST(COALESCE(c.cn, 0) AS BIGINT) AS common_neighbors,
             CAST(da.deg + db.deg - 2 - COALESCE(c.cn, 0) AS BIGINT)
               AS union_neighbors
      FROM edges e
      LEFT JOIN common c ON c.id_a = e.id_a AND c.id_b = e.id_b
      JOIN deg da ON da.node = e.id_a
      JOIN deg db ON db.node = e.id_b
    )
    SELECT id_a, id_b, common_neighbors, union_neighbors,
           CAST(CASE WHEN union_neighbors > 0
                THEN FLOOR(CAST(common_neighbors AS DOUBLE)
                           / union_neighbors * 1000000000.0 + 0.5)
                ELSE 0 END AS BIGINT) AS jaccard_cn_q
    FROM j
    """,
    category="graph",
)
def jaccard_common_neighbors_neardup(spark, sf_dir):
    """Common-neighbor Jaccard for every near-dup EDGE (a,b): |N(a)∩N(b)
    \\ {a,b}| over |N(a)∪N(b) \\ {a,b}| — the structural-similarity score
    link-prediction and cluster-refinement read off the dedup graph.
    Shape: the stored edge table (ingest-maintained) symmetrizes once,
    common neighbors come from one equi-join on the neighbor id, and
    degrees attach by broadcast-sized aggregates — work is O(Σ deg²)
    like the triangle count, never all-pairs."""
    from etl_manager_spark.workloads.graphs import _neardup_pairs

    # the (id_a, id_b) key-pair proxy is referenced by EVERY branch of
    # this plan (symmetrize x2, common-neighbor join, final anchor), and
    # each lazy reference re-planned its own scan of the stored pair
    # table — 20 parquet scans in the captured round-10 before-plan.
    # One eager checkpoint of the two-long-column edge list (ids only,
    # the §8 lightweight proxy, same class the CC operators checkpoint)
    # feeds them all.
    edges = (
        _neardup_pairs(spark, sf_dir).select("id_a", "id_b")
        .localCheckpoint(eager=True)
    )
    nbrs = edges.select(
        F.col("id_a").alias("node"), F.col("id_b").alias("nbr")
    ).unionByName(
        edges.select(F.col("id_b").alias("node"), F.col("id_a").alias("nbr"))
    )
    deg = nbrs.groupBy("node").agg(F.count(F.lit(1)).cast("long").alias("deg"))
    na = nbrs.select(F.col("node").alias("id_a"), F.col("nbr").alias("x"))
    nb = nbrs.select(F.col("node").alias("id_b"), F.col("nbr").alias("x"))
    common = (
        edges.join(na, on="id_a")
        .join(nb, on=["id_b", "x"])
        .filter((F.col("x") != F.col("id_a")) & (F.col("x") != F.col("id_b")))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("common_neighbors"))
    )
    out = (
        edges.join(common, on=["id_a", "id_b"], how="left")
        .join(deg.withColumnRenamed("node", "id_a").withColumnRenamed("deg", "deg_a"), on="id_a")
        .join(deg.withColumnRenamed("node", "id_b").withColumnRenamed("deg", "deg_b"), on="id_b")
        .select(
            "id_a",
            "id_b",
            F.coalesce("common_neighbors", F.lit(0))
            .cast("long")
            .alias("common_neighbors"),
            (F.col("deg_a") + F.col("deg_b") - F.lit(2)
             - F.coalesce("common_neighbors", F.lit(0)))
            .cast("long")
            .alias("union_neighbors"),
        )
    )
    return out.select(
        "id_a",
        "id_b",
        "common_neighbors",
        "union_neighbors",
        F.when(
            F.col("union_neighbors") > 0,
            F.floor(
                F.col("common_neighbors").cast("double")
                / F.col("union_neighbors")
                * F.lit(1000000000.0)
                + F.lit(0.5)
            ),
        )
        .otherwise(F.lit(0))
        .cast("long")
        .alias("jaccard_cn_q"),
    )


# --------------------------------------------------------------------- #
# text metrics


@workload(
    "flesch_reading_ease_documents",
    rf"""
    WITH feats AS (
      SELECT doc_id,
             CAST(LEN(LIST_FILTER({_TOK}, x -> x <> '')) AS BIGINT)
               AS n_words,
             CAST(LEN(regexp_extract_all(text, '[aeiouyAEIOUY]+'))
                  AS BIGINT) AS n_syllables,
             CAST(GREATEST(1, LEN(regexp_extract_all(text, '[.!?]+')))
                  AS BIGINT) AS n_sentences
      FROM documents
    )
    SELECT doc_id, n_words, n_syllables,
           CAST(FLOOR((206.835
                - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
                - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words))
                * 1000000000.0 + 0.5) AS BIGINT) AS flesch_q
    FROM feats WHERE n_words > 0
    """,
    category="text",
)
def flesch_reading_ease_documents(spark, sf_dir):
    """Flesch reading-ease per document with the standard vowel-group
    syllable heuristic — the classic text-quality feature next to the
    Gopher gates. Words/syllables/sentences are single regexp passes
    (JVM-side, codegen'd into the scan); sentence count floors at 1 for
    punctuation-free corpora. One fixed IEEE expression closes it."""
    t = load_tables(spark, sf_dir)
    words = F.size(F.filter(R.tokens("text"), lambda x: x != ""))
    syll = F.size(
        F.regexp_extract_all("text", F.lit(r"[aeiouyAEIOUY]+"), F.lit(0))
    )
    sents = F.greatest(
        F.lit(1),
        F.size(F.regexp_extract_all("text", F.lit(r"[.!?]+"), F.lit(0))),
    )
    feats = spread(t["documents"], spark).select(
        "doc_id",
        words.cast("long").alias("n_words"),
        syll.cast("long").alias("n_syllables"),
        sents.cast("long").alias("n_sentences"),
    )
    return feats.filter(F.col("n_words") > 0).select(
        "doc_id",
        "n_words",
        "n_syllables",
        F.floor(
            (
                F.lit(206.835)
                - F.lit(1.015)
                * (F.col("n_words").cast("double") / F.col("n_sentences"))
                - F.lit(84.6)
                * (F.col("n_syllables").cast("double") / F.col("n_words"))
            )
            * F.lit(1000000000.0)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("flesch_q"),
    )


@workload(
    "doc_prefix_duplicates_documents",
    rf"""
    WITH p AS (
      SELECT doc_id,
             ARRAY_TO_STRING(LIST_FILTER({_TOK}, x -> x <> '')[1:2], ' ')
               AS prefix
      FROM documents
    )
    SELECT prefix, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc_id
    FROM p GROUP BY prefix HAVING COUNT(*) > 1
    """,
    category="dedup",
)
def doc_prefix_duplicates_documents(spark, sf_dir):
    """Positional prefix dedup: documents sharing their first two tokens
    — the boilerplate-header detector (crawled pages repeat nav/footer
    prefixes long before their bodies near-duplicate). Complements the
    sliding n-gram boilerplate miner (corpus_ngram_boilerplate): this is
    POSITION-anchored, one hash-agg on the prefix, no window fan-out."""
    t = load_tables(spark, sf_dir)
    toks = F.filter(R.tokens("text"), lambda x: x != "")
    # a zero-token document has NO prefix (NULL, like the oracle's
    # ARRAY_TO_STRING of an empty slice), not the '' prefix
    prefix = F.when(F.size(toks) > 0, F.array_join(F.slice(toks, 1, 2), " "))
    return (
        spread(t["documents"], spark)
        .select("doc_id", prefix.alias("prefix"))
        .groupBy("prefix")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("doc_id").cast("long").alias("min_doc_id"),
        )
        .filter(F.col("n_docs") > 1)
    )


@workload(
    "percent_rank_orders_per_customer",
    """
    SELECT o_orderkey, o_custkey,
           PERCENT_RANK() OVER
             (PARTITION BY o_custkey
              ORDER BY o_totalprice NULLS FIRST, o_orderkey NULLS FIRST)
             AS pr,
           CUME_DIST() OVER
             (PARTITION BY o_custkey
              ORDER BY o_totalprice NULLS FIRST, o_orderkey NULLS FIRST)
             AS cd
    FROM orders
    """,
    category="window",
)
def percent_rank_orders_per_customer(spark, sf_dir):
    """PERCENT_RANK and CUME_DIST of each order's price within its
    customer — the remaining two ANSI rank functions the window family
    hadn't covered. Partitioned on o_custkey (groups stay small as data
    grows — one hash exchange, no global sort); both outputs are exact
    small-integer ratios, bitwise-identical across engines."""
    t = load_tables(spark, sf_dir)
    w = Window.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    return t["orders"].select(
        "o_orderkey",
        "o_custkey",
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
    )


@workload(
    "conditional_entropy_event_chain",
    """
    WITH seq AS (
      SELECT event_type AS prev,
             LEAD(event_type) OVER
               (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST) AS nxt
      FROM events WHERE ts IS NOT NULL
    ),
    pairs AS (
      SELECT prev, nxt, CAST(COUNT(*) AS BIGINT) AS c
      FROM seq WHERE nxt IS NOT NULL GROUP BY prev, nxt
    ),
    pv AS (SELECT prev, CAST(SUM(c) AS BIGINT) AS cp FROM pairs GROUP BY prev),
    n AS (SELECT CAST(SUM(c) AS BIGINT) AS nt FROM pairs),
    terms AS (
      SELECT CAST(FLOOR(CAST(c AS DOUBLE) / nt
                        * LOG2(CAST(cp AS DOUBLE) / c)
                        * 1000000000.0 + 0.5) AS BIGINT) AS t_q
      FROM pairs JOIN pv USING (prev) CROSS JOIN n
    )
    SELECT nt AS n_transitions, cond_entropy_q
    FROM (SELECT CAST(SUM(t_q) AS BIGINT) AS cond_entropy_q FROM terms)
    CROSS JOIN n
    """,
    category="events",
)
def conditional_entropy_event_chain(spark, sf_dir):
    """Conditional entropy H(next | prev) of the per-user event chain —
    the single number that says how predictable user behavior is (0 =
    deterministic funnels, log₂5 ≈ 2.32 = uniform chaos); the companion
    scalar to the full transition matrix (event_transition_matrix).
    Per-user LEAD windows (partitioned), then each (prev,next) term
    quantizes BEFORE the order-free integer sum."""
    t = load_tables(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # no event time -> no position in the chain (both sides)
    seq = t["events"].filter(F.col("ts").isNotNull()).select(
        F.col("event_type").alias("prev"),
        F.lead("event_type").over(w).alias("nxt"),
    )
    pairs = (
        seq.filter(F.col("nxt").isNotNull())
        .groupBy("prev", "nxt")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        # |types|²-bounded transition counts consumed by three branches
        # (row totals, grand total, terms) — one fact pass, not three (§8)
        .localCheckpoint(eager=True)
    )
    pv = pairs.groupBy("prev").agg(F.sum("c").cast("long").alias("cp"))
    n = pairs.groupBy().agg(F.sum("c").cast("long").alias("nt"))
    terms = (
        pairs.join(F.broadcast(pv), on="prev")
        .crossJoin(F.broadcast(n))
        .select(
            F.floor(
                F.col("c").cast("double")
                / F.col("nt")
                * F.log2(F.col("cp").cast("double") / F.col("c"))
                * F.lit(1000000000.0)
                + F.lit(0.5)
            )
            .cast("long")
            .alias("t_q")
        )
    )
    s = terms.groupBy().agg(
        F.sum("t_q").cast("long").alias("cond_entropy_q")
    )
    return s.crossJoin(F.broadcast(n)).select(
        F.col("nt").alias("n_transitions"), "cond_entropy_q"
    )


@workload(
    "norm_quartiles_embeddings_label",
    """
    WITH norms AS (
      SELECT label,
             CAST(FLOOR(SQRT(LIST_AGGREGATE(
                    LIST_TRANSFORM(CAST(embedding AS DOUBLE[]),
                                   x -> x * x), 'sum'))
                  * 1000000000.0 + 0.5) AS BIGINT) AS norm_q
      FROM embeddings
    )
    SELECT CAST(label AS INTEGER) AS label,
           CAST(COUNT(*) AS BIGINT) AS n,
           quantile_cont(norm_q, 0.25) AS q1,
           quantile_cont(norm_q, 0.5) AS med,
           quantile_cont(norm_q, 0.75) AS q3
    FROM norms GROUP BY label
    """,
    category="statistics",
)
def norm_quartiles_embeddings_label(spark, sf_dir):
    """Per-label quartiles of the embedding L2 norm — the drift check
    run before any cosine search (un-normalized clusters poison inner-
    product shortcuts). The per-row norm is a sequential in-row fold
    (identical order both engines), quantized to an integer so the
    quartile interpolation between neighbors is exact IEEE."""
    t = load_tables(spark, sf_dir)
    sumsq = F.aggregate(
        F.transform(
            F.col("embedding"), lambda x: x.cast("double") * x.cast("double")
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norms = spread(t["embeddings"], spark).select(
        F.col("label").cast("int").alias("label"),
        F.floor(F.sqrt(sumsq) * F.lit(1000000000.0) + F.lit(0.5))
        .cast("long")
        .alias("norm_q"),
    )
    # distributed rank-quantile operator (operators/quantiles.py): the
    # per-label norm domain is near-unique, so the built-in percentile's
    # per-group buffer grows with the data; the CDF formulation bounds
    # memory by the range-partition slice and interpolates identically
    return grouped_exact_percentiles(
        norms,
        ["label"],
        "norm_q",
        {"q1": 0.25, "med": 0.5, "q3": 0.75},
        count_name="n",
    )


# --------------------------------------------------------------------- #
# rank-based hypothesis tests (round 6, batch 2)


@workload(
    "mannwhitney_view_vs_click",
    """
    WITH pool AS (
      -- NULL values are unrankable; the test is over observed values
      SELECT event_type, value FROM events
      WHERE event_type IN ('view', 'click') AND value IS NOT NULL
    ),
    vc AS (
      SELECT value AS v, CAST(COUNT(*) AS BIGINT) AS c FROM pool GROUP BY 1
    ),
    r AS (
      SELECT v, c,
             CAST(2 * (SUM(c) OVER (ORDER BY v NULLS FIRST)) - c + 1 AS BIGINT) AS r2
      FROM vc
    ),
    ranked AS (
      SELECT p.event_type, r.r2 FROM pool p JOIN r ON r.v = p.value
    ),
    agg AS (
      SELECT
        CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT)
          AS n1,
        CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT)
          AS n2,
        CAST(SUM(CASE WHEN event_type = 'view'
                 THEN CAST(r2 AS DECIMAL(19,0)) END) AS BIGINT) AS r1_2
      FROM ranked
    ),
    ties AS (
      SELECT CAST(SUM(CAST(c AS DECIMAL(19,0)) * CAST(c AS DECIMAL(19,0))
                      * CAST(c AS DECIMAL(19,0))
                      - CAST(c AS DECIMAL(19,0))) AS DOUBLE) AS tie_t
      FROM vc
    )
    SELECT n1 AS n_view, n2 AS n_click,
           CAST(r1_2 - n1 * (n1 + 1) AS BIGINT) AS u1_2,
           CAST(FLOOR(
             (CAST(r1_2 - n1 * (n1 + 1) AS DOUBLE) - CAST(n1 AS DOUBLE) * n2)
             / (2.0 * SQRT(CAST(n1 AS DOUBLE) * n2 / 12.0
                 * ((CAST(n1 + n2 AS DOUBLE) + 1.0)
                    - tie_t / (CAST(n1 + n2 AS DOUBLE)
                               * (CAST(n1 + n2 AS DOUBLE) - 1.0)))))
             * 1000000000.0 + 0.5) AS BIGINT) AS z_q
    FROM agg CROSS JOIN ties
    """,
    category="statistics",
)
def mannwhitney_view_vs_click(spark, sf_dir):
    """Mann–Whitney U rank-sum test: do 'view' and 'click' events draw
    their values from the same distribution? — the non-parametric twin
    of welch_t_view_vs_click (no normality assumption). Tie-aware:
    average ranks come DOUBLED from the distinct-value count table (so
    they stay integers), the U statistic is exact integer arithmetic,
    and the tie-corrected normal approximation's z is ONE closing IEEE
    expression over integer-derived doubles, quantized.

    Scale shape: ranks per DISTINCT value via the two-phase
    ordered_cumsum (never a row-level global sort), one value-key join
    back, one scalar aggregate. Same contract as Spearman/KS."""
    t = load_tables(spark, sf_dir)
    pool = t["events"].filter(
        F.col("event_type").isin("view", "click")
        & F.col("value").isNotNull()
    ).select("event_type", "value")
    r = _avg_rank2(pool, "value", "r2", keep_count="_vc_c")
    ranked = pool.join(r.select("value", "r2"), on="value").select(
        "event_type", "r2"
    )
    agg = ranked.agg(
        F.sum(F.when(F.col("event_type") == "view", 1).otherwise(0))
        .cast("long")
        .alias("n1"),
        F.sum(F.when(F.col("event_type") == "click", 1).otherwise(0))
        .cast("long")
        .alias("n2"),
        F.sum(
            F.when(
                F.col("event_type") == "view",
                F.col("r2").cast("decimal(19,0)"),
            )
        )
        .cast("long")
        .alias("r1_2"),
    )
    # tie stat off the rank table's checkpointed value-count column
    # (round 11) — re-deriving (v, c) from pool re-planned a second
    # parquet scan of events
    c19 = F.col("_vc_c").cast("decimal(19,0)")
    ties = r.agg(
        F.sum(c19 * c19 * c19 - c19).cast("double").alias("tie_t")
    )
    n1, n2 = F.col("n1"), F.col("n2")
    nd = (n1 + n2).cast("double")
    u1_2 = F.col("r1_2") - n1 * (n1 + 1)
    return agg.crossJoin(F.broadcast(ties)).select(
        n1.alias("n_view"),
        n2.alias("n_click"),
        u1_2.cast("long").alias("u1_2"),
        # try_divide twice: an empty class (n1 or n2 = 0) zeroes the
        # variance, and n <= 1 zeroes the tie-correction denominator -
        # NULL like the oracle's x/0
        F.floor(
            F.try_divide(
                u1_2.cast("double") - n1.cast("double") * n2,
                F.lit(2.0)
                * F.sqrt(
                    n1.cast("double") * n2 / F.lit(12.0)
                    * (
                        (nd + F.lit(1.0))
                        - F.try_divide(
                            F.col("tie_t"), nd * (nd - F.lit(1.0))
                        )
                    )
                ),
            )
            * F.lit(1000000000.0)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("z_q"),
    )


@workload(
    "kruskal_wallis_value_by_type",
    """
    WITH vc AS (
      SELECT value AS v, CAST(COUNT(*) AS BIGINT) AS c FROM events
      WHERE value IS NOT NULL GROUP BY 1
    ),
    r AS (
      SELECT v, c,
             CAST(2 * (SUM(c) OVER (ORDER BY v NULLS FIRST)) - c + 1 AS BIGINT) AS r2
      FROM vc
    ),
    grp AS (
      SELECT e.event_type,
             CAST(COUNT(*) AS BIGINT) AS nj,
             CAST(SUM(CAST(r.r2 AS DECIMAL(19,0))) AS DECIMAL(19,0)) AS rj2
      FROM events e JOIN r ON r.v = e.value
      GROUP BY e.event_type
    ),
    terms AS (
      SELECT CAST(SUM(CAST(FLOOR(
               CAST(rj2 * rj2 AS DOUBLE) / nj + 0.5) AS BIGINT)) AS BIGINT)
               AS sum_terms,
             CAST(SUM(nj) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS k
      FROM grp
    ),
    ties AS (
      SELECT CAST(SUM(CAST(c AS DECIMAL(19,0)) * CAST(c AS DECIMAL(19,0))
                      * CAST(c AS DECIMAL(19,0))
                      - CAST(c AS DECIMAL(19,0))) AS DOUBLE) AS tie_t
      FROM vc
    )
    SELECT n AS n_events, k AS k_groups,
           CAST(FLOOR(
             (3.0 * sum_terms / (CAST(n AS DOUBLE) * (n + 1.0))
              - 3.0 * (CAST(n AS DOUBLE) + 1.0))
             * 1000000000.0 + 0.5) AS BIGINT) AS h_q,
           CAST(FLOOR(
             (3.0 * sum_terms / (CAST(n AS DOUBLE) * (n + 1.0))
              - 3.0 * (CAST(n AS DOUBLE) + 1.0))
             / (1.0 - tie_t / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                               * CAST(n AS DOUBLE) - CAST(n AS DOUBLE)))
             * 1000000000.0 + 0.5) AS BIGINT) AS h_adj_q
    FROM terms CROSS JOIN ties
    """,
    category="statistics",
)
def kruskal_wallis_value_by_type(spark, sf_dir):
    """Kruskal–Wallis H: one-way ANOVA on RANKS across all event types
    (k-sample generalization of Mann–Whitney). Doubled average ranks
    from the distinct-value table keep every rank-sum integer; the
    per-group Σ(Rj²/nj) terms are rounded to integers from IDENTICAL
    doubles in both engines so the k-term sum is order-free; H and its
    tie-corrected form are closing IEEE expressions, quantized.

    Scale shape: ranks per DISTINCT value (two-phase cumsum), one join
    back on the value key, a |types|-key aggregate — identical shuffle
    budget to a plain GROUP BY."""
    t = load_tables(spark, sf_dir)
    # NULL values are unrankable (and the engines disagree on where NULL
    # sorts in the rank CDF) - exclude them from the test on BOTH sides
    ev = (
        t["events"]
        .filter(F.col("value").isNotNull())
        .select("event_type", "value")
    )
    r = _avg_rank2(ev, "value", "r2", keep_count="_vc_c")
    grp = (
        ev.join(r.select("value", "r2"), on="value")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("nj"),
            F.sum(F.col("r2").cast("decimal(19,0)"))
            .cast("decimal(19,0)")
            .alias("rj2"),
        )
    )
    terms = grp.agg(
        F.sum(
            F.floor(
                (F.col("rj2") * F.col("rj2")).cast("double") / F.col("nj")
                + F.lit(0.5)
            ).cast("long")
        )
        .cast("long")
        .alias("sum_terms"),
        F.sum("nj").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    # tie stat off the rank table's checkpointed value-count column
    # (round 11) — re-deriving (v, c) from ev re-planned a second
    # parquet scan of events
    c19 = F.col("_vc_c").cast("decimal(19,0)")
    ties = r.agg(
        F.sum(c19 * c19 * c19 - c19).cast("double").alias("tie_t")
    )
    nD = F.col("n").cast("double")
    # try_divide: n = 0 (no rankable rows) zeroes the H denominator and
    # n <= 1 zeroes the tie-correction one - NULL like the oracle's x/0
    h = (
        F.lit(3.0)
        * F.try_divide(F.col("sum_terms"), nD * (F.col("n") + F.lit(1.0)))
        - F.lit(3.0) * (nD + F.lit(1.0))
    )
    d = F.lit(1.0) - F.try_divide(F.col("tie_t"), nD * nD * nD - nD)
    q = lambda col: F.floor(col * F.lit(1000000000.0) + F.lit(0.5)).cast(
        "long"
    )
    return terms.crossJoin(F.broadcast(ties)).select(
        F.col("n").alias("n_events"),
        F.col("k").alias("k_groups"),
        q(h).alias("h_q"),
        q(F.try_divide(h, d)).alias("h_adj_q"),
    )


# --------------------------------------------------------------------- #
# clustering quality (centroid-based silhouette)


@workload(
    "silhouette_embeddings_labels",
    """
    WITH flat AS (
      SELECT label,
             UNNEST(list_transform(range(len(embedding)),
               i -> {'dim': i,
                     'xq': CAST(FLOOR(CAST(embedding[i+1] AS DOUBLE)
                            * 1000000000.0 + 0.5) AS BIGINT)})) AS u
      FROM embeddings
    ),
    cent AS (
      SELECT label AS clabel, u.dim AS dim,
             CAST(SUM(u.xq) AS BIGINT) AS sq,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM flat GROUP BY label, u.dim
    ),
    cvecs AS (
      SELECT clabel,
             LIST(CAST(sq AS DOUBLE) / (n * 1000000000.0) ORDER BY dim)
               AS cvec
      FROM cent GROUP BY clabel
    ),
    dists AS (
      SELECT e.vec_id, e.label, c.clabel,
             SQRT(LIST_AGGREGATE(
               list_transform(range(len(e.embedding)),
                 i -> (CAST(e.embedding[i+1] AS DOUBLE) - c.cvec[i+1])
                      * (CAST(e.embedding[i+1] AS DOUBLE) - c.cvec[i+1])),
               'sum')) AS dist
      FROM embeddings e CROSS JOIN cvecs c
    ),
    ab AS (
      SELECT vec_id, label,
             MIN(CASE WHEN clabel = label THEN dist END) AS a,
             MIN(CASE WHEN clabel <> label THEN dist END) AS b
      FROM dists GROUP BY vec_id, label
    ),
    s AS (
      SELECT label,
             CAST(FLOOR((b - a) / GREATEST(a, b) * 1000000000.0 + 0.5)
               AS BIGINT) AS s_q
      FROM ab
    )
    SELECT CAST(label AS INTEGER) AS label,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(FLOOR(CAST(SUM(s_q) AS DOUBLE) / COUNT(*) + 0.5) AS BIGINT)
             AS mean_s_q,
           CAST(MIN(s_q) AS BIGINT) AS min_s_q
    FROM s GROUP BY label
    """,
    category="statistics",
)
def silhouette_embeddings_labels(spark, sf_dir):
    """Per-label simplified silhouette over the embedding space:
    a = distance to the OWN label centroid, b = distance to the nearest
    OTHER centroid, s = (b−a)/max(a,b) — the standard clustering-quality
    score in its centroid form (exact-SQL-expressible, O(n·k) instead of
    the O(n²) pairwise original). Centroids are exact: per-dim values
    nano-quantize to int64 BEFORE the cross-row sum (order-free), and
    the per-row distance is a sequential in-row fold over identical
    doubles in both engines (the norm_quartiles idiom).

    Scale shape: one explode → (label, dim) hash-agg for centroids
    (|labels|·dims keys), a broadcast of the k-row centroid table, one
    map-side distance computation, one (vec_id)-key aggregate. No
    pairwise anything."""
    t = load_tables(spark, sf_dir)
    emb = spread(t["embeddings"], spark)
    flat = emb.select(
        "label", F.posexplode("embedding").alias("dim", "x")
    ).select(
        "label",
        "dim",
        F.floor(F.col("x").cast("double") * F.lit(1000000000.0) + F.lit(0.5))
        .cast("long")
        .alias("xq"),
    )
    cent = flat.groupBy(
        F.col("label").alias("clabel"), "dim"
    ).agg(
        F.sum("xq").cast("long").alias("sq"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    cvecs = cent.groupBy("clabel").agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("dim"),
                        (
                            F.col("sq").cast("double")
                            / (F.col("n") * F.lit(1000000000.0))
                        ).alias("c"),
                    )
                )
            ),
            lambda s: s["c"],
        ).alias("cvec")
    )
    dists = emb.crossJoin(F.broadcast(cvecs)).select(
        "vec_id",
        "label",
        "clabel",
        F.sqrt(
            F.aggregate(
                F.zip_with(
                    F.col("embedding"),
                    F.col("cvec"),
                    lambda x, c: (x.cast("double") - c)
                    * (x.cast("double") - c),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
        ).alias("dist"),
    )
    ab = dists.groupBy("vec_id", "label").agg(
        F.min(
            F.when(F.col("clabel") == F.col("label"), F.col("dist"))
        ).alias("a"),
        F.min(
            F.when(F.col("clabel") != F.col("label"), F.col("dist"))
        ).alias("b"),
    )
    # try_divide: a point sitting exactly ON both its own and the nearest
    # other centroid (identical vectors under different labels) zeroes
    # max(a, b) — NULL like the oracle's x/0, not an ANSI error
    s = ab.select(
        "label",
        F.floor(
            F.try_divide(
                F.col("b") - F.col("a"), F.greatest(F.col("a"), F.col("b"))
            )
            * F.lit(1000000000.0)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("s_q"),
    )
    return s.groupBy(F.col("label").cast("int").alias("label")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.floor(
            F.sum("s_q").cast("double") / F.count(F.lit(1)) + F.lit(0.5)
        )
        .cast("long")
        .alias("mean_s_q"),
        F.min("s_q").cast("long").alias("min_s_q"),
    )


# --------------------------------------------------------------------- #
# triple-exponential smoothing (Holt–Winters additive)


@workload(
    "holt_winters_daily_by_type",
    """
    WITH RECURSIVE daily AS (
      -- ts IS NOT NULL: a row with no event time belongs to no day;
      -- v IS NOT NULL (below): an all-NULL day is a missing sample the
      -- fold skips (operators/timeseries.py _foldable_values)
      SELECT event_type, CAST(DATE_TRUNC('day', ts) AS DATE) AS day,
             CAST(CAST(FLOOR(CAST(SUM(CAST(value AS DECIMAL(18,2)))
                    AS DOUBLE) / COUNT(*) * 1000000000.0 + 0.5) AS BIGINT)
               AS DOUBLE) / 1000000000.0 AS v
      FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    ),
    numbered AS (
      SELECT event_type, day, v,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day NULLS FIRST) AS rn
      FROM daily WHERE v IS NOT NULL
    ),
    fold AS (
      SELECT event_type, day, rn,
             v AS l, CAST(0.0 AS DOUBLE) AS b, CAST(0.0 AS DOUBLE) AS s,
             [CAST(0.0 AS DOUBLE)] AS ring
      FROM numbered WHERE rn = 1
      UNION ALL
      SELECT n.event_type, n.day, n.rn,
             0.5 * (n.v - (CASE WHEN len(f.ring) >= 7
                                THEN f.ring[1] ELSE 0.0 END))
               + 0.5 * (f.l + f.b),
             0.5 * ((0.5 * (n.v - (CASE WHEN len(f.ring) >= 7
                                        THEN f.ring[1] ELSE 0.0 END))
                     + 0.5 * (f.l + f.b)) - f.l) + 0.5 * f.b,
             0.5 * (n.v - (0.5 * (n.v - (CASE WHEN len(f.ring) >= 7
                                              THEN f.ring[1] ELSE 0.0 END))
                           + 0.5 * (f.l + f.b)))
               + 0.5 * (CASE WHEN len(f.ring) >= 7
                             THEN f.ring[1] ELSE 0.0 END),
             list_append(
               CASE WHEN len(f.ring) >= 7 THEN f.ring[2:] ELSE f.ring END,
               0.5 * (n.v - (0.5 * (n.v - (CASE WHEN len(f.ring) >= 7
                                                THEN f.ring[1] ELSE 0.0 END))
                             + 0.5 * (f.l + f.b)))
                 + 0.5 * (CASE WHEN len(f.ring) >= 7
                               THEN f.ring[1] ELSE 0.0 END))
      FROM numbered n JOIN fold f
        ON n.event_type IS NOT DISTINCT FROM f.event_type AND n.rn = f.rn + 1
    )
    SELECT event_type, day,
           CAST(FLOOR(l * 1000000000.0 + 0.5) AS BIGINT) AS level_q,
           CAST(FLOOR(b * 1000000000.0 + 0.5) AS BIGINT) AS trend_q,
           CAST(FLOOR(s * 1000000000.0 + 0.5) AS BIGINT) AS seasonal_q
    FROM fold
    """,
    category="timeseries",
)
def holt_winters_daily_by_type(spark, sf_dir):
    """Holt–Winters ADDITIVE smoothing of each event type's daily mean
    (operators/timeseries.py: holt_winters_additive_per_key) — level +
    trend + a 7-slot weekly seasonal cycle, completing the exponential-
    smoothing family (EWMA → Holt → Holt–Winters). α=β=γ=½ keeps every
    product an exponent shift; the input series is the nano-quantized
    daily mean (integer-derived, identical in both engines); and the
    oracle replays the literal recurrences in a recursive CTE whose
    seasonal ring travels as a LIST column (slot drop + append each
    step), producing bitwise-identical doubles. Shape: one shuffle on
    the series key, sorted-stream Arrow fold with 2 doubles + a 7-slot
    ring of state."""
    from etl_manager_spark.operators.timeseries import (
        holt_winters_additive_per_key,
    )

    t = load_tables(spark, sf_dir)
    daily = (
        t["events"]
        .groupBy(
            "event_type",
            F.date_trunc("day", "ts").cast("date").alias("day"),
        )
        .agg(
            (
                F.floor(
                    F.sum(F.col("value").cast("decimal(18,2)"))
                    .cast("double")
                    / F.count(F.lit(1))
                    * F.lit(1000000000.0)
                    + F.lit(0.5)
                )
                .cast("long")
                .cast("double")
                / F.lit(1000000000.0)
            ).alias("v")
        )
    )
    return holt_winters_additive_per_key(
        daily, key_col="event_type", ts_col="day", id_col="day",
        value_col="v", period=7,
    )


# --------------------------------------------------------------------- #
# density clustering (DBSCAN classification over a bounded sub-corpus)

_DBSCAN_EPS2_Q = 1330000000  # eps^2 = 1.33 in nano-quantized units
_DBSCAN_MINPTS = 4  # core = >= 4 neighbors (self excluded)


@workload(
    "dbscan_core_border_noise_embeddings",
    f"""
    WITH RECURSIVE sub AS MATERIALIZED (
      SELECT vec_id, embedding FROM embeddings WHERE vec_id < 500
    ),
    pairs AS MATERIALIZED (
      SELECT a.vec_id AS ia, b.vec_id AS ib,
             CAST(FLOOR(LIST_AGGREGATE(
               list_transform(range(len(a.embedding)),
                 i -> (CAST(a.embedding[i+1] AS DOUBLE)
                       - CAST(b.embedding[i+1] AS DOUBLE))
                    * (CAST(a.embedding[i+1] AS DOUBLE)
                       - CAST(b.embedding[i+1] AS DOUBLE))),
               'sum') * 1000000000.0 + 0.5) AS BIGINT) AS d2_q
      FROM sub a JOIN sub b ON a.vec_id < b.vec_id
    ),
    nbrs AS MATERIALIZED (
      SELECT ia AS id, ib AS nb FROM pairs WHERE d2_q <= {_DBSCAN_EPS2_Q}
      UNION ALL
      SELECT ib, ia FROM pairs WHERE d2_q <= {_DBSCAN_EPS2_Q}
    ),
    deg AS MATERIALIZED (
      SELECT id, CAST(COUNT(*) AS BIGINT) AS n FROM nbrs GROUP BY id
    ),
    core AS MATERIALIZED (
      SELECT id FROM deg WHERE n >= {_DBSCAN_MINPTS}
    ),
    core_edges AS MATERIALIZED (
      SELECT n.id AS a, n.nb AS b FROM nbrs n
      WHERE n.id IN (SELECT id FROM core)
        AND n.nb IN (SELECT id FROM core)
    ),
    reach(id, root) AS (
      SELECT id, id FROM core
      UNION
      SELECT e.b, r.root FROM core_edges e JOIN reach r ON e.a = r.id
    ),
    clusters AS MATERIALIZED (
      SELECT id, CAST(MIN(root) AS BIGINT) AS cid FROM reach GROUP BY id
    ),
    bord AS (
      SELECT n.id, CAST(MIN(c.cid) AS BIGINT) AS cid
      FROM nbrs n JOIN clusters c ON c.id = n.nb
      WHERE n.id NOT IN (SELECT id FROM core)
      GROUP BY n.id
    )
    SELECT s.vec_id,
           CAST(COALESCE(d.n, 0) AS BIGINT) AS n_neighbors,
           CASE WHEN cl.cid IS NOT NULL THEN 'core'
                WHEN b.cid IS NOT NULL THEN 'border'
                ELSE 'noise' END AS role,
           COALESCE(cl.cid, b.cid) AS cluster_id
    FROM sub s
    LEFT JOIN deg d ON d.id = s.vec_id
    LEFT JOIN clusters cl ON cl.id = s.vec_id
    LEFT JOIN bord b ON b.id = s.vec_id
    """,
    category="clustering",
)
def dbscan_core_border_noise_embeddings(spark, sf_dir):
    """DBSCAN point classification over the embedding space: core
    (>= minPts eps-neighbors), border (non-core within eps of a core),
    noise — plus the density cluster id (connected components of the
    core-core eps-graph, min-id canonical, borders adopting the
    smallest adjacent core cluster). Completes the clustering family
    next to k-means and the silhouette score with the density-based
    member. Exact: pair distances are the shared sequential in-row fold
    over identical doubles, nano-quantized BEFORE the eps comparison so
    the boundary decision is engine-independent; every later step is
    integer/set logic.

    Scale shape: exact distances run on a BOUNDED sub-corpus (vec_id <
    500 — the same bounded-window contract as the minhash pair mining's
    doc_id < 200); at production scale candidate pairs come from the
    LSH/IVF index maintained by the similarity pipeline instead of the
    quadratic join, and everything downstream of ``pairs`` is unchanged
    (degree count, core filter, CC on the core graph)."""
    from etl_manager_spark.operators.dedup import connected_components_local

    t = load_tables(spark, sf_dir)
    sub = (
        t["embeddings"]
        .filter(F.col("vec_id") < 500)
        .select("vec_id", "embedding")
        # single-file fixture → 1 partition; the <-join below streams the
        # pair fan-out over THIS side's partitions, so spread it or all
        # |sub|²/2 distance folds run on one core (3.3 s → 1.6 s at sf0.1)
        .repartition(16)
        .localCheckpoint(eager=True)
    )
    a, b = sub.alias("a"), sub.alias("b")
    d2 = F.aggregate(
        F.zip_with(
            F.col("a.embedding"),
            F.col("b.embedding"),
            lambda x, y: (x.cast("double") - y.cast("double"))
            * (x.cast("double") - y.cast("double")),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    pairs = a.join(b, F.col("a.vec_id") < F.col("b.vec_id")).select(
        F.col("a.vec_id").alias("ia"),
        F.col("b.vec_id").alias("ib"),
        F.floor(d2 * F.lit(1000000000.0) + F.lit(0.5))
        .cast("long")
        .alias("d2_q"),
    )
    near = pairs.filter(F.col("d2_q") <= _DBSCAN_EPS2_Q).localCheckpoint(
        eager=True
    )
    nbrs = near.select(
        F.col("ia").alias("id"), F.col("ib").alias("nb")
    ).unionAll(near.select(F.col("ib").alias("id"), F.col("ia").alias("nb")))
    deg = nbrs.groupBy("id").agg(F.count(F.lit(1)).cast("long").alias("n"))
    core = deg.filter(F.col("n") >= _DBSCAN_MINPTS).select("id")
    core_edges = (
        near.join(core.withColumnRenamed("id", "ia"), on="ia", how="semi")
        .join(core.withColumnRenamed("id", "ib"), on="ib", how="semi")
        .select(F.col("ia").alias("id_a"), F.col("ib").alias("id_b"))
    )
    # The core graph is the eps-filtered subset of an already-bounded
    # pair set — solve its components on the driver (bounded collect,
    # raises past the budget) instead of paying per-round scheduling
    # overhead for a graph this small.
    cc = connected_components_local(core_edges)
    clusters = (
        core.join(cc, on="id", how="left")
        .select(
            "id",
            F.coalesce("cluster_id", F.col("id")).cast("long").alias("cid"),
        )
        .localCheckpoint(eager=True)
    )
    bord = (
        nbrs.join(core, on="id", how="anti")
        .join(clusters.withColumnRenamed("id", "nb"), on="nb")
        .groupBy("id")
        .agg(F.min("cid").cast("long").alias("bcid"))
    )
    return (
        sub.select("vec_id")
        .join(deg.withColumnRenamed("id", "vec_id"), on="vec_id", how="left")
        .join(
            clusters.select(
                F.col("id").alias("vec_id"), F.col("cid").alias("core_cid")
            ),
            on="vec_id",
            how="left",
        )
        .join(
            bord.withColumnRenamed("id", "vec_id"), on="vec_id", how="left"
        )
        .select(
            "vec_id",
            F.coalesce("n", F.lit(0)).cast("long").alias("n_neighbors"),
            F.when(F.col("core_cid").isNotNull(), "core")
            .when(F.col("bcid").isNotNull(), "border")
            .otherwise("noise")
            .alias("role"),
            F.coalesce("core_cid", "bcid").alias("cluster_id"),
        )
    )


# --------------------------------------------------------------------- #
# robust means (winsorized / trimmed)


@workload(
    "winsorized_mean_value_by_type",
    """
    WITH q AS (
      SELECT event_type,
             CAST(FLOOR(value * 1000000000.0 + 0.5) AS BIGINT) AS vq
      FROM events
    ),
    bounds AS (
      SELECT event_type,
             quantile_cont(vq, 0.1) AS lo,
             quantile_cont(vq, 0.9) AS hi
      FROM q GROUP BY event_type
    )
    SELECT q.event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CASE WHEN CAST(q.vq AS DOUBLE) >= b.lo
                          AND CAST(q.vq AS DOUBLE) <= b.hi
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(FLOOR(CAST(SUM(CASE WHEN CAST(q.vq AS DOUBLE) >= b.lo
                                     AND CAST(q.vq AS DOUBLE) <= b.hi
                                    THEN q.vq END) AS DOUBLE)
                      / SUM(CASE WHEN CAST(q.vq AS DOUBLE) >= b.lo
                                  AND CAST(q.vq AS DOUBLE) <= b.hi
                                 THEN 1 ELSE 0 END) + 0.5) AS BIGINT)
             AS trimmed_mean_q,
           CAST(FLOOR(CAST(SUM(CAST(FLOOR(
                  LEAST(GREATEST(CAST(q.vq AS DOUBLE), b.lo), b.hi) + 0.5)
                  AS BIGINT)) AS DOUBLE) / COUNT(*) + 0.5) AS BIGINT)
             AS winsorized_mean_q
    FROM q JOIN bounds b ON b.event_type = q.event_type
    GROUP BY q.event_type
    """,
    category="statistics",
)
def winsorized_mean_value_by_type(spark, sf_dir):
    """Robust per-type means: 10%-TRIMMED (drop beyond the P10/P90
    fence) and WINSORIZED (clamp to the fence) — the outlier-resistant
    location estimates next to the MAD/IQR spread family. Values are
    nano-quantized BEFORE the percentile (the norm_quartiles idiom, so
    both engines interpolate between identical integers); clamped
    values round to integers from identical doubles; every sum is exact
    int64; one closing division each, quantized to integer means.

    Round-10 scale shape (guide §8: decide on a small proxy, touch the
    facts once): ONE hash-agg builds the per-type distinct value-count
    table; the P10/P90 bounds AND the trimmed/winsorized aggregates are
    all derived from it (weighted by the distinct counts — the same
    integer vq values at the same multiplicities, so every sum is the
    identical exact int64), replacing the former second full pass over
    events. The per-type output is re-anchored on the authoritative
    group table so all-null-value groups keep their (n, 0, NULL, NULL)
    row exactly as before. vq→double→long round-trips are exact in the
    nano-quantized catalog domain (|vq| ≤ 2^53 — the same bound the CDF
    machinery itself already relies on)."""
    from etl_manager_spark.operators.quantiles import (
        grouped_value_cdf,
        percentiles_from_cdf,
        unwrap_group,
    )

    t = load_tables(spark, sf_dir)
    # the oracle's `q JOIN bounds ON b.event_type = q.event_type` never
    # matches a NULL key, so the NULL-event_type group is absent from its
    # output; groups are independent, so dropping those rows at the scan
    # is exact
    q = t["events"].filter(F.col("event_type").isNotNull()).select(
        "event_type",
        F.floor(F.col("value") * F.lit(1000000000.0) + F.lit(0.5))
        .cast("long")
        .alias("vq"),
    )
    # distributed rank-quantile CDF (operators/quantiles.py) — per-type
    # nano-quantized domains are near-unique, so the built-in exact
    # percentile's per-group buffer grows with the data
    cdf, groups = grouped_value_cdf(q, ["event_type"], "vq")
    bounds = percentiles_from_cdf(
        cdf, groups, ["event_type"], {"lo": 0.1, "hi": 0.9}
    )
    vc = unwrap_group(cdf, ["event_type"]).select("event_type", "_qv", "_qc")
    j = vc.join(F.broadcast(bounds), on="event_type")
    vqd = F.col("_qv")  # IS cast(vq as double) — identical comparisons
    kept = (vqd >= F.col("lo")) & (vqd <= F.col("hi"))
    clamped = (
        F.floor(
            F.least(F.greatest(vqd, F.col("lo")), F.col("hi")) + F.lit(0.5)
        ).cast("long")
    )
    agg = j.groupBy("event_type").agg(
        F.sum(F.when(kept, F.col("_qc")).otherwise(F.lit(0)))
        .cast("long")
        .alias("_nk"),
        F.sum(F.when(kept, F.col("_qv").cast("long") * F.col("_qc")))
        .cast("long")
        .alias("_ks"),
        F.sum(clamped * F.col("_qc")).cast("long").alias("_cs"),
    )
    anchor = unwrap_group(groups, ["event_type"]).select(
        "event_type", F.col("_qrows").alias("n"), F.col("_qn").alias("_qnn")
    )
    out = anchor.join(agg, on="event_type", how="left").join(
        F.broadcast(bounds.select("event_type", F.col("lo").alias("_lo"))),
        on="event_type",
        how="left",
    )
    n_kept = F.coalesce(F.col("_nk"), F.lit(0)).cast("long")
    # NULL-vq rows DO contribute to the oracle's winsorized sum: both
    # engines' GREATEST/LEAST skip NULL arguments, so the oracle clamps a
    # NULL value to lo (GREATEST(NULL, lo) = lo, LEAST(lo, hi) = lo) —
    # the distinct-value table excludes them, so add the (n − non-null)
    # rows back as floor(lo + 0.5) each (exact int64: identical doubles
    # through the identical FLOOR). An all-null group has lo = NULL, so
    # the whole sum stays NULL exactly like the oracle's SUM of NULLs.
    cs_total = F.col("_cs") + (F.col("n") - F.col("_qnn")) * F.floor(
        F.col("_lo") + F.lit(0.5)
    ).cast("long")
    return out.select(
        "event_type",
        F.col("n"),
        n_kept.alias("n_kept"),
        F.floor(F.col("_ks").cast("double") / n_kept + F.lit(0.5))
        .cast("long")
        .alias("trimmed_mean_q"),
        F.floor(cs_total.cast("double") / F.col("n") + F.lit(0.5))
        .cast("long")
        .alias("winsorized_mean_q"),
    )


# --------------------------------------------------------------------- #
# survival analysis (Kaplan–Meier)


@workload(
    "kaplan_meier_first_purchase",
    """
    WITH per_user AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'purchase'
                      THEN CAST(DATE_TRUNC('day', ts) AS DATE) END)
               AS death_day,
             MAX(CAST(DATE_TRUNC('day', ts) AS DATE)) AS last_day
      FROM events GROUP BY user_id
    ),
    obs AS (
      SELECT user_id,
             COALESCE(death_day, last_day) AS x,
             (death_day IS NOT NULL) AS is_death
      FROM per_user
    ),
    rd AS (
      SELECT x AS t,
             CAST(SUM(CASE WHEN is_death THEN 1 ELSE 0 END) AS BIGINT) AS d,
             CAST(COUNT(*) AS BIGINT) AS e
      FROM obs GROUP BY x
    ),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM obs),
    a1 AS (
      -- NULLS FIRST: Spark's array_sort orders the NULL-t struct (an
      -- all-NULL-ts user's censor entry) before every dated exit day
      SELECT LIST({'t': t, 'd': d, 'e': e} ORDER BY t NULLS FIRST) AS arr, nn.n
      FROM rd CROSS JOIN nn GROUP BY nn.n
    ),
    a2 AS (
      SELECT arr, n,
             list_transform(range(len(arr)),
               i -> n - COALESCE(LIST_AGGREGATE(
                      list_transform(arr[1:i], x -> x.e), 'sum'), 0)) AS r
      FROM a1
    ),
    a3 AS (
      SELECT arr, r,
             list_transform(range(len(arr)),
               i -> CAST(r[i+1] - arr[i+1].d AS DOUBLE) / r[i+1]) AS f
      FROM a2
    ),
    a4 AS (
      SELECT arr, r,
             list_transform(range(len(arr)),
               i -> LIST_AGGREGATE(f[1:i+1], 'product')) AS s
      FROM a3
    ),
    idx AS (
      SELECT UNNEST(range(len(arr))) AS i, arr, r, s FROM a4
    )
    SELECT arr[i+1].t AS day,
           CAST(r[i+1] AS BIGINT) AS at_risk,
           CAST(arr[i+1].d AS BIGINT) AS deaths,
           CAST(arr[i+1].e - arr[i+1].d AS BIGINT) AS censored,
           CAST(FLOOR(s[i+1] * 1000000000.0 + 0.5) AS BIGINT) AS surv_q
    FROM idx
    """,
    category="survival",
)
def kaplan_meier_first_purchase(spark, sf_dir):
    """Kaplan–Meier survival curve for time-to-first-purchase with
    right-censoring at each user's last observed day (lost to
    follow-up) — the survival-analysis member of the catalog:
    S(t) = Π_{s≤t} (1 − d_s/r_s) over the observed exit days. With
    interim censoring the product does NOT telescope to an empirical
    CDF, so this is the genuine estimator.

    Exactness: d/r are small exact integers; each step factor is the
    same double in both engines; the running product is a sequential
    fold over the ORDERED factor array — the whole curve lives in ONE
    row of arrays (the exit-day domain is calendar-bounded), so there
    is no window, no global sort, and no cross-row float reduction
    anywhere. Scale shape: one (user)-key aggregate over the fact
    table, one |days|-key aggregate, then O(days²) in-row array math on
    a single row."""
    t = load_tables(spark, sf_dir)
    day = F.date_trunc("day", "ts").cast("date")
    per_user = t["events"].groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "purchase", day)).alias(
            "death_day"
        ),
        F.max(day).alias("last_day"),
    )
    obs = per_user.select(
        F.coalesce("death_day", "last_day").alias("x"),
        F.col("death_day").isNotNull().alias("is_death"),
    )
    rd = obs.groupBy(F.col("x").alias("t")).agg(
        F.sum(F.when(F.col("is_death"), 1).otherwise(0))
        .cast("long")
        .alias("d"),
        F.count(F.lit(1)).cast("long").alias("e"),
    )
    nn = obs.agg(F.count(F.lit(1)).cast("long").alias("n"))
    a1 = rd.agg(
        F.array_sort(F.collect_list(F.struct("t", "d", "e"))).alias("arr")
    ).crossJoin(F.broadcast(nn))
    # index-lambda transform, not transform(sequence(0, size(arr)-1), …):
    # on an EMPTY exit-day array, sequence(0, -1) is the DESCENDING
    # two-element array [0, -1] (step defaults to -1), which feeds
    # slice(…, -1) → INVALID_PARAMETER_VALUE.LENGTH and two phantom rows
    # where the oracle (range(0) = []) has none
    a2 = a1.withColumn(
        "r",
        F.expr(
            "transform(arr,"
            " (x, i) -> n - aggregate(slice(arr, 1, i), 0L, (a, y) -> a + y.e))"
        ),
    )
    a3 = a2.withColumn(
        "f",
        F.expr(
            "transform(arr, (x, i) -> CAST(r[i] - x.d AS DOUBLE) / r[i])"
        ),
    )
    a4 = a3.withColumn(
        "s",
        F.expr(
            "transform(arr,"
            " (x, i) -> aggregate(slice(f, 1, i+1), CAST(1.0 AS DOUBLE),"
            " (a, y) -> a * y))"
        ),
    )
    return a4.select(
        F.posexplode("arr").alias("i", "_x"),
        "r",
        "s",
    ).select(
        F.expr("_x.t").alias("day"),
        F.expr("r[i]").cast("long").alias("at_risk"),
        F.expr("_x.d").cast("long").alias("deaths"),
        F.expr("_x.e - _x.d").cast("long").alias("censored"),
        F.floor(
            F.expr("s[i]") * F.lit(1000000000.0) + F.lit(0.5)
        )
        .cast("long")
        .alias("surv_q"),
    )


# --------------------------------------------------------------------- #
# Classifier evaluation: calibration / ROC-AUC of a deterministic
# quality-style score against the language label (round 6)

# The "classifier": p = min(1, 3·stopword_ratio) — the English-stopword
# fraction is genuinely predictive of lang='en', and the score is one
# division + one multiply + one min over integer counts, so it is
# bitwise-portable across engines (no transcendentals).
_P_SQL = r"""LEAST(1.0, 3.0 * (CAST(LEN(LIST_FILTER(
        LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\s+'), x -> x <> ''),
        t -> LOWER(t) IN ('the','a','an','of','and','to','in','is','it','that')
      )) AS DOUBLE)
      / CAST(LEN(LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\s+'), x -> x <> '')) AS DOUBLE)))"""


def _p_col():
    from etl_manager_spark.operators import text as X

    return F.least(F.lit(1.0), F.lit(3.0) * X.stopword_ratio("text"))


@workload(
    "calibration_bins_documents",
    f"""
    WITH scored AS (
      SELECT {_P_SQL} AS p,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      FROM documents
    ),
    rows_q AS (
      SELECT CAST(LEAST(9, CAST(FLOOR(p * 10.0) AS INT)) AS INT) AS bin,
             CAST(FLOOR(p * 1000000000.0 + 0.5) AS BIGINT) AS p_q,
             CAST(FLOOR((p - y) * (p - y) * 1000000000.0 + 0.5) AS BIGINT) AS sq_q,
             y
      FROM scored
    )
    SELECT bin,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(y) AS BIGINT) AS n_pos,
           CAST(FLOOR(CAST(SUM(p_q) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                / 1000000000.0 * 1000000000.0 + 0.5) AS BIGINT) AS mean_p_q,
           CAST(FLOOR(CAST(SUM(y) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                * 1000000000.0 + 0.5) AS BIGINT) AS frac_pos_q,
           CAST(FLOOR(CAST(SUM(sq_q) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                / 1000000000.0 * 1000000000.0 + 0.5) AS BIGINT) AS brier_q
    FROM rows_q GROUP BY bin
    """,
    category="evaluation",
)
def calibration_bins_documents(spark, sf_dir):
    """Reliability diagram + per-bin Brier score for a deterministic text
    classifier (p = min(1, 3·stopword_ratio) vs lang='en'). Fixed-width
    probability bins → a single map-side-combined groupBy, NO ranking
    window (the ntile-based alternative is the single-partition-window
    anti-pattern). Per-row nano-quantization before the integer sums keeps
    the bin means order-free; Brier contributions are quantized per row
    for the same reason."""
    t = load_tables(spark, sf_dir)
    # stage p once: the stopword-ratio expression costs a regex split per
    # evaluation, and bin/p_q/sq_q would otherwise evaluate it 4× per row
    staged = spread(t["documents"], spark).select(
        _p_col().alias("p"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    p, y = F.col("p"), F.col("y")
    rows = staged.select(
        F.least(F.lit(9), F.floor(p * F.lit(10.0)).cast("int")).cast("int").alias("bin"),
        R.quantize(p).alias("p_q"),
        R.quantize(
            (p - y.cast("double")) * (p - y.cast("double"))
        ).alias("sq_q"),
        "y",
    )
    n_d = F.count(F.lit(1)).cast("double")
    return rows.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("y").cast("long").alias("n_pos"),
        F.floor(
            F.sum("p_q").cast("double") / n_d / F.lit(1000000000.0)
            * F.lit(1000000000.0) + F.lit(0.5)
        ).cast("long").alias("mean_p_q"),
        F.floor(
            F.sum("y").cast("double") / n_d * F.lit(1000000000.0) + F.lit(0.5)
        ).cast("long").alias("frac_pos_q"),
        F.floor(
            F.sum("sq_q").cast("double") / n_d / F.lit(1000000000.0)
            * F.lit(1000000000.0) + F.lit(0.5)
        ).cast("long").alias("brier_q"),
    )


@workload(
    "roc_auc_stopword_lang_documents",
    f"""
    WITH scored AS (
      SELECT CAST(FLOOR({_P_SQL} * 1000.0) AS INT) AS p_m,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      FROM documents
    ),
    lv AS (
      SELECT p_m, CAST(SUM(y) AS BIGINT) AS pos_at,
             CAST(COUNT(*) - SUM(y) AS BIGINT) AS neg_at
      FROM scored GROUP BY p_m
    ),
    cum AS (
      SELECT a.p_m, a.pos_at, a.neg_at,
             CAST(COALESCE(SUM(b.neg_at), 0) AS BIGINT) AS neg_below
      FROM lv a LEFT JOIN lv b ON b.p_m < a.p_m
      GROUP BY a.p_m, a.pos_at, a.neg_at
    )
    SELECT CAST(SUM(pos_at) AS BIGINT) AS n_pos,
           CAST(SUM(neg_at) AS BIGINT) AS n_neg,
           CAST(FLOOR(CAST(SUM(pos_at * (2 * neg_below + neg_at)) AS DOUBLE)
                / CAST(2 * SUM(pos_at) * SUM(neg_at) AS DOUBLE)
                * 1000000000.0 + 0.5) AS BIGINT) AS auc_q
    FROM cum
    """,
    category="evaluation",
)
def roc_auc_stopword_lang_documents(spark, sf_dir):
    """ROC-AUC via the tie-corrected Mann-Whitney identity on a
    MILLI-QUANTIZED score domain: AUC·2·n⁺·n⁻ = Σ_levels pos·(2·neg_below
    + neg_at). Quantizing to ≤1001 levels bounds the cumulative step to a
    constant-size level table at any corpus size, and the below-count is
    a broadcast theta-join over that table — no global ranking window
    (the classic rank-sum formulation is a corpus-wide sort). Integer
    numerator/denominator → one final division."""
    t = load_tables(spark, sf_dir)
    p = _p_col()
    y = F.when(F.col("lang") == "en", 1).otherwise(0)
    lv = (
        spread(t["documents"], spark)
        .select(
            F.floor(p * F.lit(1000.0)).cast("int").alias("p_m"),
            y.alias("y"),
        )
        .groupBy("p_m")
        .agg(
            F.sum("y").cast("long").alias("pos_at"),
            (F.count(F.lit(1)) - F.sum("y")).cast("long").alias("neg_at"),
        )
        # ≤1001 score-bucket rows consumed by both sides of the
        # cumulative self-join — one corpus pass, not two (§8)
        .localCheckpoint(eager=True)
    )
    b = lv.select(
        F.col("p_m").alias("b_p_m"), F.col("neg_at").alias("b_neg_at")
    )
    cum = (
        lv.join(F.broadcast(b), F.col("b_p_m") < F.col("p_m"), "left")
        .groupBy("p_m", "pos_at", "neg_at")
        .agg(F.coalesce(F.sum("b_neg_at"), F.lit(0)).cast("long").alias("neg_below"))
    )
    return cum.agg(
        F.sum("pos_at").cast("long").alias("n_pos"),
        F.sum("neg_at").cast("long").alias("n_neg"),
        F.floor(
            F.sum(F.col("pos_at") * (F.lit(2) * F.col("neg_below") + F.col("neg_at")))
            .cast("double")
            / (F.lit(2) * F.sum("pos_at") * F.sum("neg_at")).cast("double")
            * F.lit(1000000000.0) + F.lit(0.5)
        ).cast("long").alias("auc_q"),
    )


# --------------------------------------------------------------------- #
# Resampling + influence diagnostics (round 6)

# Poisson(1) CDF thresholds on a 1e6 grid (exact literals shared by both
# engines; approximation error is irrelevant — only parity matters).
_POIS_SQL = """CASE WHEN u < 367879 THEN 0 WHEN u < 735759 THEN 1
               WHEN u < 919699 THEN 2 WHEN u < 981012 THEN 3
               WHEN u < 996340 THEN 4 WHEN u < 999406 THEN 5
               ELSE 6 END"""


@workload(
    "bootstrap_poisson_ci_events",
    f"""
    WITH ev AS (
      SELECT CAST(FLOOR(value * 1000000000.0 + 0.5) AS BIGINT) AS y_q,
             event_id % 100003 AS k FROM events
    ),
    ex AS (
      SELECT y_q, ((k * 2654435761 + b * 97003) % 1000000) AS u, b
      FROM ev CROSS JOIN (SELECT UNNEST(range(200)) AS b)
    ),
    m AS (
      SELECT b,
             CAST(SUM(({_POIS_SQL}) * y_q) AS DOUBLE)
               / CAST(SUM({_POIS_SQL}) AS DOUBLE) AS mean_v
      FROM ex GROUP BY b HAVING SUM({_POIS_SQL}) > 0
    ),
    s AS (SELECT LIST_SORT(LIST(mean_v)) AS arr, COUNT(*) AS n FROM m),
    f AS (
      SELECT CAST(FLOOR(CAST(SUM(y_q) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                  / 1000000000.0 * 1000000000.0 + 0.5) AS BIGINT) AS full_mean_q
      FROM ev
    )
    SELECT CAST(s.n AS BIGINT) AS n_resamples,
           CAST(FLOOR(arr[6] / 1000000000.0 * 1000000000.0 + 0.5)
                AS BIGINT) AS boot_lo_q,
           CAST(FLOOR(arr[195] / 1000000000.0 * 1000000000.0 + 0.5)
                AS BIGINT) AS boot_hi_q,
           f.full_mean_q
    FROM s CROSS JOIN f
    """,
    category="evaluation",
)
def bootstrap_poisson_ci_events(spark, sf_dir):
    """95% percentile-bootstrap CI for mean(value) via the POISSON
    bootstrap — the resampling scheme that actually distributes: instead
    of drawing indices (which needs a global row order), every row gets a
    deterministic pseudo-Poisson(1) weight per resample b, so the whole
    thing is one explode (×B) + one map-side-combined groupBy(b). B=200
    resample means (exact integer numerators over nano-quantized values),
    sorted once (200-element array, driver-side cost zero) — order stats
    6/195 are the 2.5%/97.5% bounds. No window, no collect of data rows;
    at 100 TB the ×200 fan-out happens in the scan stage and the shuffle
    carries 200 partial sums per partition."""
    t = load_tables(spark, sf_dir)
    ev = spread(t["events"], spark).select(
        R.quantize(F.col("value")).alias("y_q"),
        (F.col("event_id") % F.lit(100003)).alias("k"),
    )
    # explode the resample ids in the scan stage (×B fan-out, no join)
    ex = ev.select(
        "y_q", "k", F.explode(F.sequence(F.lit(0), F.lit(199))).alias("b")
    ).select(
        "y_q", "b",
        ((F.col("k") * F.lit(2654435761) + F.col("b") * F.lit(97003))
         % F.lit(1000000)).alias("u"),
    )
    w = F.expr(_POIS_SQL)
    m = (
        ex.groupBy("b")
        .agg(
            F.sum(w * F.col("y_q")).alias("num"),
            F.sum(w).alias("den"),
        )
        .filter(F.col("den") > 0)
        .select((F.col("num").cast("double") / F.col("den").cast("double")).alias("mean_v"))
    )
    s = m.agg(
        F.sort_array(F.collect_list("mean_v")).alias("arr"),
        F.count(F.lit(1)).cast("long").alias("n_resamples"),
    ).select(
        "n_resamples",
        F.floor(
            F.try_element_at("arr", F.lit(6)) / F.lit(1000000000.0)
            * F.lit(1000000000.0) + F.lit(0.5)
        ).cast("long").alias("boot_lo_q"),
        F.floor(
            F.try_element_at("arr", F.lit(195)) / F.lit(1000000000.0)
            * F.lit(1000000000.0) + F.lit(0.5)
        ).cast("long").alias("boot_hi_q"),
    )
    f = ev.agg(
        F.floor(
            F.sum("y_q").cast("double") / F.count(F.lit(1)).cast("double")
            / F.lit(1000000000.0) * F.lit(1000000000.0) + F.lit(0.5)
        ).cast("long").alias("full_mean_q")
    )
    return s.crossJoin(F.broadcast(f))


@workload(
    "logo_slope_influence_events",
    """
    WITH g AS (
      SELECT event_type,
             COUNT(*) AS n,
             CAST(SUM(CAST(DATE_PART('hour', ts) AS DECIMAL(18,2))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(DATE_PART('hour', ts) AS DECIMAL(18,2))
                      * CAST(DATE_PART('hour', ts) AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(DATE_PART('hour', ts) AS DECIMAL(18,2))
                      * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sxy
      FROM events GROUP BY event_type
    ),
    tot AS (
      SELECT COUNT(*) AS tn,
             CAST(SUM(CAST(DATE_PART('hour', ts) AS DECIMAL(18,2))) AS DOUBLE) AS tsx,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS tsy,
             CAST(SUM(CAST(DATE_PART('hour', ts) AS DECIMAL(18,2))
                      * CAST(DATE_PART('hour', ts) AS DECIMAL(18,2))) AS DOUBLE) AS tsxx,
             CAST(SUM(CAST(DATE_PART('hour', ts) AS DECIMAL(18,2))
                      * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS tsxy
      FROM events
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n_g,
           CAST(FLOOR((tn * tsxy - tsx * tsy) / (tn * tsxx - tsx * tsx)
                * 1000000000.0 + 0.5) AS BIGINT) AS slope_full_q,
           CAST(FLOOR(((tn - n) * (tsxy - sxy) - (tsx - sx) * (tsy - sy))
                / ((tn - n) * (tsxx - sxx) - (tsx - sx) * (tsx - sx))
                * 1000000000.0 + 0.5) AS BIGINT) AS slope_wo_q,
           CAST(FLOOR((((tn - n) * (tsxy - sxy) - (tsx - sx) * (tsy - sy))
                / ((tn - n) * (tsxx - sxx) - (tsx - sx) * (tsx - sx))
                - (tn * tsxy - tsx * tsy) / (tn * tsxx - tsx * tsx))
                * 1000000000.0 + 0.5) AS BIGINT) AS delta_q
    FROM g CROSS JOIN tot
    """,
    category="evaluation",
)
def logo_slope_influence_events(spark, sf_dir):
    """Leave-one-group-out influence of each event_type on the global
    OLS slope value~hour: closed-form from sufficient statistics, so the
    'retrain without group g' is totals-minus-group arithmetic — one
    decimal-exact aggregate per grouping plus a 1-row broadcast, never a
    per-group re-scan (the naive LOGO is |groups| passes over the corpus).
    The moment sums follow regression_price_by_quantity's exact-decimal
    discipline; slopes are single IEEE expressions over those doubles."""
    from etl_manager_spark.functions.exact import dec_sum, dec_sumprod, dec_sumsq

    t = load_tables(spark, sf_dir)
    ev = spread(t["events"], spark).select(
        "event_type", F.hour("ts").alias("x"), "value"
    )
    g = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        dec_sum("x").alias("sx"),
        dec_sum("value").alias("sy"),
        dec_sumsq("x").alias("sxx"),
        dec_sumprod("x", "value").alias("sxy"),
    )
    tot = ev.agg(
        F.count(F.lit(1)).alias("tn"),
        dec_sum("x").alias("tsx"),
        dec_sum("value").alias("tsy"),
        dec_sumsq("x").alias("tsxx"),
        dec_sumprod("x", "value").alias("tsxy"),
    )
    j = g.crossJoin(F.broadcast(tot))
    tn, tsx, tsy = F.col("tn"), F.col("tsx"), F.col("tsy")
    tsxx, tsxy = F.col("tsxx"), F.col("tsxy")
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, sxy = F.col("sxx"), F.col("sxy")
    # try_divide: degenerate x-variance (single day overall, or a group
    # that IS the whole series) zeroes either denominator - NULL like
    # the oracle's x/0
    slope_full = F.try_divide(tn * tsxy - tsx * tsy, tn * tsxx - tsx * tsx)
    slope_wo = F.try_divide(
        (tn - n) * (tsxy - sxy) - (tsx - sx) * (tsy - sy),
        (tn - n) * (tsxx - sxx) - (tsx - sx) * (tsx - sx),
    )
    return j.select(
        "event_type",
        n.cast("long").alias("n_g"),
        R.quantize(slope_full).alias("slope_full_q"),
        R.quantize(slope_wo).alias("slope_wo_q"),
        R.quantize(slope_wo - slope_full).alias("delta_q"),
    )


# --------------------------------------------------------------------- #
# Corpus power-law + feature-relevance diagnostics (round 6)


@workload(
    "zipf_fit_documents",
    r"""
    WITH top AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq
      FROM (SELECT LOWER(UNNEST(LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\s+'), x -> x <> ''))) AS tok
            FROM documents)
      GROUP BY tok ORDER BY freq DESC, tok LIMIT 1000
    ),
    ranked AS (
      SELECT a.tok, a.freq,
             1 + COUNT(b.tok) AS rnk
      FROM top a LEFT JOIN top b
        ON b.freq > a.freq OR (b.freq = a.freq AND b.tok < a.tok)
      GROUP BY a.tok, a.freq
    ),
    q AS (
      SELECT CAST(FLOOR(LN(CAST(rnk AS DOUBLE)) * 1000000000.0 + 0.5) AS BIGINT) AS x_q,
             CAST(FLOOR(LN(CAST(freq AS DOUBLE)) * 1000000000.0 + 0.5) AS BIGINT) AS y_q,
             CAST(FLOOR(LN(CAST(rnk AS DOUBLE)) * LN(CAST(rnk AS DOUBLE))
                  * 1000000000.0 + 0.5) AS BIGINT) AS xx_q,
             CAST(FLOOR(LN(CAST(rnk AS DOUBLE)) * LN(CAST(freq AS DOUBLE))
                  * 1000000000.0 + 0.5) AS BIGINT) AS xy_q
      FROM ranked
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_terms,
           CAST(FLOOR((COUNT(*) * (CAST(SUM(xy_q) AS DOUBLE) / 1000000000.0)
                       - (CAST(SUM(x_q) AS DOUBLE) / 1000000000.0)
                         * (CAST(SUM(y_q) AS DOUBLE) / 1000000000.0))
                / (COUNT(*) * (CAST(SUM(xx_q) AS DOUBLE) / 1000000000.0)
                   - (CAST(SUM(x_q) AS DOUBLE) / 1000000000.0)
                     * (CAST(SUM(x_q) AS DOUBLE) / 1000000000.0))
                * 1000000000.0 + 0.5) AS BIGINT) AS slope_q,
           CAST(FLOOR(((CAST(SUM(y_q) AS DOUBLE) / 1000000000.0)
                       - (COUNT(*) * (CAST(SUM(xy_q) AS DOUBLE) / 1000000000.0)
                          - (CAST(SUM(x_q) AS DOUBLE) / 1000000000.0)
                            * (CAST(SUM(y_q) AS DOUBLE) / 1000000000.0))
                         / (COUNT(*) * (CAST(SUM(xx_q) AS DOUBLE) / 1000000000.0)
                            - (CAST(SUM(x_q) AS DOUBLE) / 1000000000.0)
                              * (CAST(SUM(x_q) AS DOUBLE) / 1000000000.0))
                         * (CAST(SUM(x_q) AS DOUBLE) / 1000000000.0))
                / COUNT(*) * 1000000000.0 + 0.5) AS BIGINT) AS intercept_q
    FROM q
    """,
    category="evaluation",
)
def zipf_fit_documents(spark, sf_dir):
    """Zipf power-law fit: OLS of ln(freq) on ln(rank) over the top-1000
    token table (slope ≈ -1 for natural text — a corpus-health gate that
    catches boilerplate floods and tokenizer damage). Ranks come from a
    broadcast theta-join COUNT over the bounded 1000-row table — no
    global ranking window; the log moments are nano-quantized per row so
    the sums are order-free integers, and slope/intercept are single IEEE
    expressions written identically in both engines."""
    t = load_tables(spark, sf_dir)
    top = (
        spread(t["documents"], spark)
        .select(F.explode(F.filter(F.split("text", r"\s+"), lambda x: x != "")).alias("tok0"))
        .select(F.lower("tok0").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
        # vocabulary-bounded counts checkpointed BEFORE the top-k: both
        # sides of the rank theta-join read them — one tokenize pass, not
        # two (§8) — while the heap top-k itself stays in the lazy plan
        # (TakeOrderedAndProject over the tiny vocab table, never a
        # global sort), re-run per consumer at vocab cost
        .localCheckpoint(eager=True)
        .orderBy(F.desc("freq"), F.asc("tok"))
        .limit(1000)
    )
    b = top.select(F.col("tok").alias("b_tok"), F.col("freq").alias("b_freq"))
    ranked = (
        top.join(
            F.broadcast(b),
            (F.col("b_freq") > F.col("freq"))
            | ((F.col("b_freq") == F.col("freq")) & (F.col("b_tok") < F.col("tok"))),
            "left",
        )
        .groupBy("tok", "freq")
        .agg((F.lit(1) + F.count("b_tok")).alias("rnk"))
    )
    lx = F.log(F.col("rnk").cast("double"))
    ly = F.log(F.col("freq").cast("double"))
    q = ranked.select(
        R.quantize(lx).alias("x_q"),
        R.quantize(ly).alias("y_q"),
        R.quantize(lx * lx).alias("xx_q"),
        R.quantize(lx * ly).alias("xy_q"),
    )
    n = F.count(F.lit(1))
    sx = F.sum("x_q").cast("double") / F.lit(1000000000.0)
    sy = F.sum("y_q").cast("double") / F.lit(1000000000.0)
    sxx = F.sum("xx_q").cast("double") / F.lit(1000000000.0)
    sxy = F.sum("xy_q").cast("double") / F.lit(1000000000.0)
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return q.agg(
        n.cast("long").alias("n_terms"),
        R.quantize(slope).alias("slope_q"),
        R.quantize((sy - slope * sx) / n).alias("intercept_q"),
    )


@workload(
    "feature_mi_documents",
    r"""
    WITH feats AS (
      SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
             CAST(LEAST(9, CAST(FLOOR(CAST(n_chars AS DOUBLE) / 400.0) AS INT)) AS INT) AS len_bin,
             CAST(LEAST(9, CAST(FLOOR(
               CAST(LEN(LIST_FILTER(LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\s+'), x -> x <> ''),
                 t -> LOWER(t) IN ('the','a','an','of','and','to','in','is','it','that')
               )) AS DOUBLE)
               / CAST(LEN(LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\s+'), x -> x <> '')) AS DOUBLE)
               * 20.0) AS INT)) AS INT) AS stop_bin,
             CAST(LEAST(9, CAST(FLOOR(
               CAST(LEN(LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\s+'), x -> x <> '')) AS DOUBLE) / 40.0
             ) AS INT)) AS INT) AS nword_bin
      FROM documents
    ),
    melted AS (
      SELECT 'len_bin' AS feature, len_bin AS bin, y FROM feats
      UNION ALL SELECT 'stop_bin', stop_bin, y FROM feats
      UNION ALL SELECT 'nword_bin', nword_bin, y FROM feats
    ),
    cells AS (
      SELECT feature, bin, y, CAST(COUNT(*) AS BIGINT) AS c
      FROM melted GROUP BY feature, bin, y
    ),
    mb AS (SELECT feature, bin, CAST(SUM(c) AS BIGINT) AS rb FROM cells GROUP BY 1, 2),
    my AS (SELECT feature, y, CAST(SUM(c) AS BIGINT) AS ry FROM cells GROUP BY 1, 2),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM feats)
    SELECT c.feature,
           CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(SUM(CAST(FLOOR(
             (CAST(c.c AS DOUBLE) / CAST(nn.n AS DOUBLE))
             * LN((CAST(c.c AS DOUBLE) * CAST(nn.n AS DOUBLE))
                  / (CAST(mb.rb AS DOUBLE) * CAST(my.ry AS DOUBLE)))
             * 1000000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS mi_scaled
    FROM cells c
    JOIN mb ON mb.feature = c.feature AND mb.bin = c.bin
    JOIN my ON my.feature = c.feature AND my.y = c.y
    CROSS JOIN nn
    GROUP BY c.feature
    """,
    category="evaluation",
)
def feature_mi_documents(spark, sf_dir):
    """Mutual information I(feature_bin; lang='en') for three bounded-bin
    document features — the feature-selection primitive for quality
    classifiers. One melt (explode, ×3 in the scan stage) + one
    groupBy(feature, bin, y) over a ≤|features|·10·2-cell table; the
    marginals join back as broadcasts. Per-cell contributions are
    nano-quantized before the (≤20-term) integer sum, so the result is
    order-free (the vocab_kl_drift discipline)."""
    from etl_manager_spark.operators import text as X

    t = load_tables(spark, sf_dir)
    # stage the token array once — stop_bin and nword_bin would otherwise
    # re-run the regex split 3× per row (same math as stopword_ratio)
    staged = spread(t["documents"], spark).select(
        "lang",
        "n_chars",
        F.filter(F.split("text", r"\s+"), lambda x: x != "").alias("arr"),
    )
    y = F.when(F.col("lang") == "en", 1).otherwise(0)
    len_bin = F.least(
        F.lit(9), F.floor(F.col("n_chars").cast("double") / F.lit(400.0)).cast("int")
    ).cast("int")
    stop = F.size(
        F.filter(F.col("arr"), lambda tk: F.lower(tk).isin(*X.STOPWORDS))
    )
    # try_divide: a zero-token document has no stopword ratio — NULL bin
    # on both sides (the oracle's x/0 → NULL), never an ANSI error
    stop_bin = F.least(
        F.lit(9),
        F.floor(
            F.try_divide(stop.cast("double"), F.size("arr").cast("double"))
            * F.lit(20.0)
        ).cast("int"),
    ).cast("int")
    nword_bin = F.least(
        F.lit(9),
        F.floor(F.size("arr").cast("double") / F.lit(40.0)).cast("int"),
    ).cast("int")
    feats = staged.select(
        y.alias("y"),
        len_bin.alias("len_bin"),
        stop_bin.alias("stop_bin"),
        nword_bin.alias("nword_bin"),
    )
    melted = feats.select(
        F.explode(
            F.array(
                F.struct(F.lit("len_bin").alias("feature"), F.col("len_bin").alias("bin")),
                F.struct(F.lit("stop_bin").alias("feature"), F.col("stop_bin").alias("bin")),
                F.struct(F.lit("nword_bin").alias("feature"), F.col("nword_bin").alias("bin")),
            )
        ).alias("f"),
        "y",
    ).select(F.col("f.feature").alias("feature"), F.col("f.bin").alias("bin"), "y")
    cells = melted.groupBy("feature", "bin", "y").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    # ≤60-cell contingency table consumed by four branches (row/col
    # margins, total, terms) — one regex-heavy corpus pass, not four (§8)
    ).localCheckpoint(eager=True)
    mb = cells.groupBy("feature", "bin").agg(F.sum("c").cast("long").alias("rb"))
    my = cells.groupBy("feature", "y").agg(F.sum("c").cast("long").alias("ry"))
    # every document lands in exactly one len_bin cell (NULL bins group
    # too), so this marginal IS the document count — no extra corpus pass
    nn = cells.filter(F.col("feature") == "len_bin").agg(
        F.sum("c").cast("long").alias("n")
    )
    j = (
        cells.join(F.broadcast(mb), ["feature", "bin"])
        .join(F.broadcast(my), ["feature", "y"])
        .crossJoin(F.broadcast(nn))
    )
    term = (F.col("c").cast("double") / F.col("n").cast("double")) * F.log(
        (F.col("c").cast("double") * F.col("n").cast("double"))
        / (F.col("rb").cast("double") * F.col("ry").cast("double"))
    )
    return j.groupBy("feature").agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.sum(R.quantize(term)).cast("long").alias("mi_scaled"),
    )


@workload(
    "conformal_interval_events",
    """
    WITH ev AS (
      SELECT event_type, value,
             CAST(FLOOR(value * 1000000000.0 + 0.5) AS BIGINT) AS y_q,
             event_id % 2 = 0 AS is_cal
      FROM events
    ),
    m AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_cal,
             CAST(SUM(y_q) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
               / 1000000000.0 AS mean_v
      FROM ev WHERE is_cal GROUP BY event_type
    ),
    r AS (
      SELECT ev.event_type, ev.is_cal,
             CAST(FLOOR(ABS(ev.value - m.mean_v) * 1000000000.0 + 0.5)
                  AS BIGINT) AS r_q
      FROM ev JOIN m ON m.event_type = ev.event_type
    ),
    qh AS (
      SELECT event_type, quantile_cont(r_q, 0.9) AS q_hat
      FROM r WHERE is_cal GROUP BY event_type
    ),
    cov AS (
      SELECT r.event_type,
             CAST(COUNT(*) AS BIGINT) AS n_test,
             CAST(FLOOR(CAST(SUM(CASE WHEN r.r_q <= qh.q_hat THEN 1 ELSE 0 END)
                             AS DOUBLE)
                  / CAST(COUNT(*) AS DOUBLE) * 1000000000.0 + 0.5)
                  AS BIGINT) AS coverage_q
      FROM r JOIN qh ON qh.event_type = r.event_type
      WHERE NOT r.is_cal GROUP BY r.event_type
    )
    SELECT m.event_type, m.n_cal, cov.n_test, qh.q_hat, cov.coverage_q
    FROM m JOIN qh ON qh.event_type = m.event_type
    JOIN cov ON cov.event_type = m.event_type
    """,
    category="evaluation",
)
def conformal_interval_events(spark, sf_dir):
    """Split-conformal prediction intervals: per-type mean predictor fit
    on the calibration half (even event_id), 90th-percentile residual
    radius q̂ from the calibration residuals (exact interpolated
    percentile over nano-quantized ints via the distributed
    rank-quantile CDF — operators/quantiles.py), then the marginal
    coverage audit on the held-out half (should be ≈0.9). Per-type
    aggregates with 5-row broadcast joins; no global sort, no window,
    no data-proportional percentile buffer."""
    t = load_tables(spark, sf_dir)
    ev = spread(t["events"], spark).select(
        "event_type",
        "value",
        R.quantize(F.col("value")).alias("y_q"),
        (F.col("event_id") % 2 == 0).alias("is_cal"),
    )
    # Round 11 (driver-measured 0.42× regression in round 10 — eager
    # barrier waves): the |types|-row mean table m is NOT checkpointed
    # separately anymore. It rides as a broadcast subtree INSIDE rc's one
    # checkpoint job (two parallel fact-scan branches in one job — the
    # same two fact passes the separate wave paid, minus one sequential
    # barrier), and the final join's n_cal is derived back FROM rc
    # (sum of calibration multiplicities per type — identical COUNT(*)),
    # so m has no consumer outside this job.
    m = (
        ev.filter("is_cal")
        .groupBy("event_type")
        .agg(
            (
                F.sum("y_q").cast("double") / F.count(F.lit(1)).cast("double")
                / F.lit(1000000000.0)
            ).alias("mean_v"),
        )
    )
    r = ev.join(F.broadcast(m), "event_type").select(
        "event_type",
        "is_cal",
        F.floor(
            F.abs(F.col("value") - F.col("mean_v")) * F.lit(1000000000.0)
            + F.lit(0.5)
        ).cast("long").alias("r_q"),
    )
    # round 10 (guide §8): ONE hash-agg collapses the residual stream to
    # per-(type, half, residual) counts; the calibration quantile AND the
    # held-out coverage audit are both derived from that distinct table
    # (same values, same multiplicities), so the residual side of the
    # query reads the fact rows once instead of twice — and the shared
    # aggregate exchange is planned once (ReusedExchange)
    rc = r.groupBy("event_type", "is_cal", "r_q").agg(
        F.count(F.lit(1)).cast("long").alias("_rc")
    ).localCheckpoint(eager=True)
    # n_cal per type, re-derived from the residual count table: rc was
    # built from ev JOIN m (NULL types already dropped by the equi-join),
    # and summing calibration multiplicities — NULL-residual groups
    # included — is exactly the oracle's COUNT(*) per calibration group
    ncal = (
        rc.filter("is_cal")
        .groupBy("event_type")
        .agg(F.sum("_rc").cast("long").alias("n_cal"))
    )
    # distributed rank-quantile CDF (operators/quantiles.py): calibration
    # residuals are a near-unique nano-quantized domain per type — the
    # built-in percentile's single-task buffer is the 100 TB cliff here.
    # qh (|types| rows) is consumed by the coverage branch AND the final
    # join: pin it once, at ONE partition — round 10 materialized this
    # (and m, and the machinery's internal totals) at 32 partitions,
    # billing a full task wave per barrier for ~empty partitions.
    qh = grouped_exact_percentiles(
        rc.filter("is_cal"),
        ["event_type"],
        "r_q",
        {"q_hat": 0.9},
        weight_col="_rc",
    ).coalesce(1).localCheckpoint(eager=True)
    cov = (
        rc.filter(~F.col("is_cal"))
        .join(F.broadcast(qh), "event_type")
        .groupBy("event_type")
        .agg(
            F.sum("_rc").cast("long").alias("n_test"),
            F.floor(
                F.sum(
                    F.when(
                        F.col("r_q") <= F.col("q_hat"), F.col("_rc")
                    ).otherwise(F.lit(0))
                ).cast("double")
                / F.sum("_rc").cast("double")
                * F.lit(1000000000.0) + F.lit(0.5)
            ).cast("long").alias("coverage_q"),
        )
    )
    return (
        ncal.join(F.broadcast(qh), "event_type")
        .join(F.broadcast(cov), "event_type")
        .select("event_type", "n_cal", "n_test", "q_hat", "coverage_q")
    )


@workload(
    "mase_seasonal_naive_daily",
    """
    WITH daily AS (
      -- ts IS NOT NULL: a day-indexed series has no slot for rows with
      -- no event time, and the NULL day would sit FIRST in Spark's
      -- window order but LAST in DuckDB's, shifting every LAG/LEAD
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(FLOOR(value * 1000000000.0 + 0.5) AS BIGINT))
                  AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1000000000.0 AS m
      FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    ),
    lagged AS (
      SELECT event_type, day, m,
             LAG(m, 7) OVER (PARTITION BY event_type ORDER BY day NULLS FIRST) AS f,
             LAG(m, 1) OVER (PARTITION BY event_type ORDER BY day NULLS FIRST) AS prev
      FROM daily
    ),
    q AS (
      SELECT event_type,
             CAST(FLOOR(ABS(m - f) * 1000000000.0 + 0.5) AS BIGINT) AS e_q,
             CAST(FLOOR(ABS(m - prev) * 1000000000.0 + 0.5) AS BIGINT) AS n_q
      FROM lagged WHERE f IS NOT NULL AND prev IS NOT NULL
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(FLOOR((CAST(SUM(e_q) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))
                / (CAST(SUM(n_q) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))
                * 1000000000.0 + 0.5) AS BIGINT) AS mase_q
    FROM q GROUP BY event_type
    """,
    category="evaluation",
)
def mase_seasonal_naive_daily(spark, sf_dir):
    """Forecast backtest: MASE of the weekly seasonal-naive forecast
    (ŷ_d = y_{d-7 obs}) against the one-step naive baseline, per event
    type on the daily mean-value series. Windows are partitioned by
    event_type and bounded by the calendar (the kaplan_meier contract);
    daily means are exact-integer sums, per-day errors nano-quantized
    before the order-free MASE sums. MASE < 1e9 (i.e. < 1.0) means the
    seasonal forecast beats naive — the standard drift gate before
    trusting a seasonality assumption at scale."""
    t = load_tables(spark, sf_dir)
    daily = (
        spread(t["events"], spark)
        .filter(F.col("ts").isNotNull())
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(
            (
                F.sum(R.quantize(F.col("value"))).cast("double")
                / F.count(F.lit(1)).cast("double")
                / F.lit(1000000000.0)
            ).alias("m")
        )
    )
    w = Window.partitionBy("event_type").orderBy("day")
    lagged = daily.select(
        "event_type",
        F.lag("m", 7).over(w).alias("f"),
        F.lag("m", 1).over(w).alias("prev"),
        "m",
    ).filter(F.col("f").isNotNull() & F.col("prev").isNotNull())
    q = lagged.select(
        "event_type",
        F.floor(F.abs(F.col("m") - F.col("f")) * F.lit(1000000000.0) + F.lit(0.5))
        .cast("long").alias("e_q"),
        F.floor(F.abs(F.col("m") - F.col("prev")) * F.lit(1000000000.0) + F.lit(0.5))
        .cast("long").alias("n_q"),
    )
    cnt = F.count(F.lit(1))
    return q.groupBy("event_type").agg(
        cnt.cast("long").alias("n_days"),
        F.floor(
            (F.sum("e_q").cast("double") / cnt.cast("double"))
            / (F.sum("n_q").cast("double") / cnt.cast("double"))
            * F.lit(1000000000.0) + F.lit(0.5)
        ).cast("long").alias("mase_q"),
    )


@workload(
    "bootstrap_lift_ci_events",
    f"""
    WITH ev AS (
      SELECT CAST(FLOOR(value * 1000000000.0 + 0.5) AS BIGINT) AS y_q,
             event_type = 'click' AS is_click,
             event_id % 100003 AS k
      FROM events WHERE event_type IN ('view', 'click')
    ),
    ex AS (
      SELECT y_q, is_click,
             ((k * 2654435761 + b * 97003) % 1000000) AS u, b
      FROM ev CROSS JOIN (SELECT UNNEST(range(200)) AS b)
    ),
    m AS (
      SELECT b,
             CAST(SUM(CASE WHEN is_click THEN ({_POIS_SQL}) * y_q ELSE 0 END)
                  AS DOUBLE)
               / CAST(SUM(CASE WHEN is_click THEN {_POIS_SQL} ELSE 0 END)
                  AS DOUBLE)
             - CAST(SUM(CASE WHEN NOT is_click THEN ({_POIS_SQL}) * y_q ELSE 0 END)
                  AS DOUBLE)
               / CAST(SUM(CASE WHEN NOT is_click THEN {_POIS_SQL} ELSE 0 END)
                  AS DOUBLE) AS lift_v
      FROM ex GROUP BY b
      HAVING SUM(CASE WHEN is_click THEN {_POIS_SQL} ELSE 0 END) > 0
         AND SUM(CASE WHEN NOT is_click THEN {_POIS_SQL} ELSE 0 END) > 0
    ),
    s AS (SELECT LIST_SORT(LIST(lift_v)) AS arr, COUNT(*) AS n FROM m),
    f AS (
      SELECT CAST(FLOOR((CAST(SUM(CASE WHEN is_click THEN y_q ELSE 0 END) AS DOUBLE)
                   / CAST(SUM(CASE WHEN is_click THEN 1 ELSE 0 END) AS DOUBLE)
                   - CAST(SUM(CASE WHEN NOT is_click THEN y_q ELSE 0 END) AS DOUBLE)
                   / CAST(SUM(CASE WHEN NOT is_click THEN 1 ELSE 0 END) AS DOUBLE))
                  / 1000000000.0 * 1000000000.0 + 0.5) AS BIGINT) AS lift_full_q
      FROM ev
    )
    SELECT CAST(s.n AS BIGINT) AS n_resamples,
           CAST(FLOOR(arr[6] / 1000000000.0 * 1000000000.0 + 0.5)
                AS BIGINT) AS lift_lo_q,
           CAST(FLOOR(arr[195] / 1000000000.0 * 1000000000.0 + 0.5)
                AS BIGINT) AS lift_hi_q,
           f.lift_full_q
    FROM s CROSS JOIN f
    """,
    category="evaluation",
)
def bootstrap_lift_ci_events(spark, sf_dir):
    """A/B lift with uncertainty: 95% Poisson-bootstrap CI for
    mean(click value) − mean(view value) — the resampling complement to
    welch_t / mannwhitney. Same distributed shape as
    bootstrap_poisson_ci_events (deterministic pseudo-Poisson weight per
    row × resample, one explode + one map-combined groupBy(b)); each
    resample's lift is a difference of two exact-integer-ratio means. A
    CI excluding 0 is the decision gate."""
    t = load_tables(spark, sf_dir)
    ev = (
        spread(t["events"], spark)
        .filter(F.col("event_type").isin("view", "click"))
        .select(
            R.quantize(F.col("value")).alias("y_q"),
            (F.col("event_type") == "click").alias("is_click"),
            (F.col("event_id") % F.lit(100003)).alias("k"),
        )
    )
    ex = ev.select(
        "y_q", "is_click", "k",
        F.explode(F.sequence(F.lit(0), F.lit(199))).alias("b"),
    ).select(
        "y_q", "is_click", "b",
        ((F.col("k") * F.lit(2654435761) + F.col("b") * F.lit(97003))
         % F.lit(1000000)).alias("u"),
    )
    w = F.expr(_POIS_SQL)
    ck = F.when(F.col("is_click"), w).otherwise(F.lit(0))
    vw = F.when(~F.col("is_click"), w).otherwise(F.lit(0))
    m = (
        ex.groupBy("b")
        .agg(
            F.sum(ck * F.col("y_q")).alias("cnum"),
            F.sum(ck).alias("cden"),
            F.sum(vw * F.col("y_q")).alias("vnum"),
            F.sum(vw).alias("vden"),
        )
        .filter((F.col("cden") > 0) & (F.col("vden") > 0))
        .select(
            (
                F.col("cnum").cast("double") / F.col("cden").cast("double")
                - F.col("vnum").cast("double") / F.col("vden").cast("double")
            ).alias("lift_v")
        )
    )
    s = m.agg(
        F.sort_array(F.collect_list("lift_v")).alias("arr"),
        F.count(F.lit(1)).cast("long").alias("n_resamples"),
    ).select(
        "n_resamples",
        F.floor(
            F.try_element_at("arr", F.lit(6)) / F.lit(1000000000.0)
            * F.lit(1000000000.0) + F.lit(0.5)
        ).cast("long").alias("lift_lo_q"),
        F.floor(
            F.try_element_at("arr", F.lit(195)) / F.lit(1000000000.0)
            * F.lit(1000000000.0) + F.lit(0.5)
        ).cast("long").alias("lift_hi_q"),
    )
    ic = F.when(F.col("is_click"), 1).otherwise(0)
    iv = F.when(~F.col("is_click"), 1).otherwise(0)
    # try_divide: a corpus with zero clicks (or zero views) has no full
    # lift - NULL like the oracle's x/0
    f = ev.agg(
        F.floor(
            (
                F.try_divide(
                    F.sum(ic * F.col("y_q")).cast("double"),
                    F.sum(ic).cast("double"),
                )
                - F.try_divide(
                    F.sum(iv * F.col("y_q")).cast("double"),
                    F.sum(iv).cast("double"),
                )
            )
            / F.lit(1000000000.0) * F.lit(1000000000.0) + F.lit(0.5)
        ).cast("long").alias("lift_full_q")
    )
    return s.crossJoin(F.broadcast(f))


@workload(
    "ccf_click_purchase_daily",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(FLOOR(value * 1000000000.0 + 0.5) AS BIGINT))
                  AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1000000000.0 AS m
      FROM events WHERE event_type IN ('click', 'purchase')
      GROUP BY 1, 2
    ),
    c AS (SELECT day, m FROM daily WHERE event_type = 'click'),
    p AS (SELECT day, m FROM daily WHERE event_type = 'purchase'),
    pairs AS (
      SELECT l.lag, c.m AS x, p.m AS y
      FROM c
      CROSS JOIN (SELECT UNNEST(range(-3, 4)) AS lag) l
      JOIN p ON p.day = c.day + CAST(l.lag AS INTEGER)
    ),
    q AS (
      SELECT lag,
             CAST(FLOOR(x * 1000000000.0 + 0.5) AS BIGINT) AS x_q,
             CAST(FLOOR(y * 1000000000.0 + 0.5) AS BIGINT) AS y_q,
             CAST(FLOOR(x * x * 1000000000.0 + 0.5) AS BIGINT) AS xx_q,
             CAST(FLOOR(y * y * 1000000000.0 + 0.5) AS BIGINT) AS yy_q,
             CAST(FLOOR(x * y * 1000000000.0 + 0.5) AS BIGINT) AS xy_q
      FROM pairs
    )
    SELECT CAST(lag AS INTEGER) AS lag,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(FLOOR((COUNT(*) * (CAST(SUM(xy_q) AS DOUBLE) / 1000000000.0)
                       - (CAST(SUM(x_q) AS DOUBLE) / 1000000000.0)
                         * (CAST(SUM(y_q) AS DOUBLE) / 1000000000.0))
                / (SQRT(COUNT(*) * (CAST(SUM(xx_q) AS DOUBLE) / 1000000000.0)
                        - (CAST(SUM(x_q) AS DOUBLE) / 1000000000.0)
                          * (CAST(SUM(x_q) AS DOUBLE) / 1000000000.0))
                   * SQRT(COUNT(*) * (CAST(SUM(yy_q) AS DOUBLE) / 1000000000.0)
                          - (CAST(SUM(y_q) AS DOUBLE) / 1000000000.0)
                            * (CAST(SUM(y_q) AS DOUBLE) / 1000000000.0)))
                * 1000000000.0 + 0.5) AS BIGINT) AS ccf_q
    FROM q GROUP BY lag
    """,
    category="statistics",
)
def ccf_click_purchase_daily(spark, sf_dir):
    """Lead-lag discovery: cross-correlation of the click and purchase
    daily mean series at lags −3…+3 — does click activity anticipate
    purchases? Lags come from a 7-element explode + a DAY EQUIJOIN
    (day = day + lag), never a window; the log... moments are quantized
    per (lag, day) pair so the per-lag Pearson sums are order-free, and
    the closing correlation is one IEEE expression shared with the
    oracle. The series is calendar-bounded per type."""
    t = load_tables(spark, sf_dir)
    daily = (
        spread(t["events"], spark)
        .filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(
            (
                F.sum(R.quantize(F.col("value"))).cast("double")
                / F.count(F.lit(1)).cast("double") / F.lit(1000000000.0)
            ).alias("m")
        )
        # days-bounded series consumed by both the click and purchase
        # branches — materialize once instead of two fact passes (§8)
        .localCheckpoint(eager=True)
    )
    c = daily.filter(F.col("event_type") == "click").select("day", F.col("m").alias("x"))
    p = daily.filter(F.col("event_type") == "purchase").select(
        F.col("day").alias("p_day"), F.col("m").alias("y")
    )
    pairs = (
        c.select("day", "x", F.explode(F.sequence(F.lit(-3), F.lit(3))).alias("lag"))
        .join(
            F.broadcast(p),
            F.col("p_day") == F.date_add(F.col("day"), F.col("lag")),
        )
    )
    q = pairs.select(
        "lag",
        R.quantize(F.col("x")).alias("x_q"),
        R.quantize(F.col("y")).alias("y_q"),
        R.quantize(F.col("x") * F.col("x")).alias("xx_q"),
        R.quantize(F.col("y") * F.col("y")).alias("yy_q"),
        R.quantize(F.col("x") * F.col("y")).alias("xy_q"),
    )
    n = F.count(F.lit(1))
    sx = F.sum("x_q").cast("double") / F.lit(1000000000.0)
    sy = F.sum("y_q").cast("double") / F.lit(1000000000.0)
    sxx = F.sum("xx_q").cast("double") / F.lit(1000000000.0)
    syy = F.sum("yy_q").cast("double") / F.lit(1000000000.0)
    sxy = F.sum("xy_q").cast("double") / F.lit(1000000000.0)
    # try_divide: a lag with a single overlapping day (or a constant
    # series) has zero variance — NULL like the oracle's x/0
    return q.groupBy(F.col("lag").cast("int").alias("lag")).agg(
        n.cast("long").alias("n_days"),
        R.quantize(
            F.try_divide(
                n * sxy - sx * sy,
                F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy),
            )
        ).alias("ccf_q"),
    )


@workload(
    "cmh_odds_ratio_events",
    """
    WITH cells AS (
      SELECT CAST(EXTRACT(dow FROM ts) AS INTEGER) AS stratum,
             CAST(SUM(CASE WHEN EXTRACT(hour FROM ts) < 12
                            AND event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS a,
             CAST(SUM(CASE WHEN EXTRACT(hour FROM ts) < 12
                            AND event_type <> 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS b,
             CAST(SUM(CASE WHEN EXTRACT(hour FROM ts) >= 12
                            AND event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS c,
             CAST(SUM(CASE WHEN EXTRACT(hour FROM ts) >= 12
                            AND event_type <> 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS d
      FROM events GROUP BY 1
    ),
    terms AS (
      SELECT CAST(FLOOR(CAST(a AS DOUBLE) * CAST(d AS DOUBLE)
                  / CAST(a + b + c + d AS DOUBLE)
                  * 1000000000.0 + 0.5) AS BIGINT) AS num_q,
             CAST(FLOOR(CAST(b AS DOUBLE) * CAST(c AS DOUBLE)
                  / CAST(a + b + c + d AS DOUBLE)
                  * 1000000000.0 + 0.5) AS BIGINT) AS den_q
      FROM cells
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
           CAST(FLOOR(CAST(SUM(num_q) AS DOUBLE) / CAST(SUM(den_q) AS DOUBLE)
                * 1000000000.0 + 0.5) AS BIGINT) AS cmh_or_q
    FROM terms
    """,
    category="statistics",
)
def cmh_odds_ratio_events(spark, sf_dir):
    """Cochran–Mantel–Haenszel pooled odds ratio: association between
    morning activity (hour < 12) and purchasing, stratified by
    day-of-week so weekly traffic mix can't confound it — the stratified
    2×2 analysis plain odds ratios get wrong (Simpson's trap). One
    groupBy(dow) of conditional counts; per-stratum a·d/n and b·c/n terms
    quantized before the 7-term sums; one closing division. Strata are
    domain-bounded, so this is a constant-size reduction at any scale."""
    t = load_tables(spark, sf_dir)
    am = F.hour("ts") < 12
    purch = F.col("event_type") == "purchase"
    cells = (
        spread(t["events"], spark)
        .groupBy(F.dayofweek("ts").alias("dow_spark"))
        .agg(
            F.sum((am & purch).cast("int")).cast("long").alias("a"),
            F.sum((am & ~purch).cast("int")).cast("long").alias("b"),
            F.sum((~am & purch).cast("int")).cast("long").alias("c"),
            F.sum((~am & ~purch).cast("int")).cast("long").alias("d"),
        )
    )
    n_all = (F.col("a") + F.col("b") + F.col("c") + F.col("d")).cast("double")
    # try_divide: a stratum whose rows all have NULL flags lands in no
    # cell — n_all is then 0 and ANSI division throws; NULL matches the
    # oracle's NULL on the degenerate stratum
    terms = cells.select(
        F.floor(
            F.try_divide(
                F.col("a").cast("double") * F.col("d").cast("double"), n_all
            )
            * F.lit(1000000000.0) + F.lit(0.5)
        ).cast("long").alias("num_q"),
        F.floor(
            F.try_divide(
                F.col("b").cast("double") * F.col("c").cast("double"), n_all
            )
            * F.lit(1000000000.0) + F.lit(0.5)
        ).cast("long").alias("den_q"),
    )
    # try_divide: a corpus with no afternoon purchases anywhere zeroes
    # Σ(b·c/n) — NULL like the oracle's x/0, not an ANSI DIVIDE_BY_ZERO
    return terms.agg(
        F.count(F.lit(1)).cast("long").alias("n_strata"),
        F.floor(
            F.try_divide(
                F.sum("num_q").cast("double"), F.sum("den_q").cast("double")
            )
            * F.lit(1000000000.0) + F.lit(0.5)
        ).cast("long").alias("cmh_or_q"),
    )


@workload(
    "did_estimator_events",
    """
    WITH bounds AS (
      SELECT MIN(epoch_us(ts)) AS us0, MAX(epoch_us(ts)) AS us1 FROM events
    ),
    cells AS (
      SELECT CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END AS treated,
             CASE WHEN epoch_us(ts) * 2 >= us0 + us1 THEN 1 ELSE 0 END AS post,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s,
             CAST(SUM(CAST(value AS DECIMAL(18,2))
                      * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS ss
      FROM events CROSS JOIN bounds
      GROUP BY 1, 2
    ),
    wide AS (
      SELECT
        MAX(CASE WHEN treated = 1 AND post = 1 THEN s / n END) AS m_t1,
        MAX(CASE WHEN treated = 1 AND post = 0 THEN s / n END) AS m_t0,
        MAX(CASE WHEN treated = 0 AND post = 1 THEN s / n END) AS m_c1,
        MAX(CASE WHEN treated = 0 AND post = 0 THEN s / n END) AS m_c0,
        MAX(CASE WHEN treated = 1 AND post = 1
                 THEN (ss - s * s / n) / (n - 1) / n END) AS v_t1,
        MAX(CASE WHEN treated = 1 AND post = 0
                 THEN (ss - s * s / n) / (n - 1) / n END) AS v_t0,
        MAX(CASE WHEN treated = 0 AND post = 1
                 THEN (ss - s * s / n) / (n - 1) / n END) AS v_c1,
        MAX(CASE WHEN treated = 0 AND post = 0
                 THEN (ss - s * s / n) / (n - 1) / n END) AS v_c0,
        CAST(SUM(n) AS BIGINT) AS n_total
      FROM cells
    )
    SELECT n_total,
           CAST(FLOOR(((m_t1 - m_t0) - (m_c1 - m_c0)) * 1000000000.0 + 0.5)
                AS BIGINT) AS did_q,
           CAST(FLOOR(SQRT(v_t1 + v_t0 + v_c1 + v_c0) * 1000000000.0 + 0.5)
                AS BIGINT) AS se_q,
           CAST(FLOOR(((m_t1 - m_t0) - (m_c1 - m_c0))
                / SQRT(v_t1 + v_t0 + v_c1 + v_c0)
                * 1000000000.0 + 0.5) AS BIGINT) AS z_q
    FROM wide
    """,
    category="statistics",
)
def did_estimator_events(spark, sf_dir):
    """Difference-in-differences: the causal workhorse for natural
    experiments. Synthetic assignment (treated = odd user_id; post = the
    integer-µs time midpoint, the psi_drift idiom) over a 2×2 of
    decimal-exact cell moments; DiD, its standard error
    (√Σ var_i/n_i over the four cells), and the z statistic are single
    IEEE expressions over those exact doubles. One map-combined groupBy
    and a 4-row pivot — nothing scales with data but the scan."""
    from etl_manager_spark.functions.exact import dec_sum, dec_sumsq

    t = load_tables(spark, sf_dir)
    ev = spread(t["events"], spark)
    b = ev.agg(
        F.min(F.unix_micros(F.col("ts").cast("timestamp"))).alias("us0"),
        F.max(F.unix_micros(F.col("ts").cast("timestamp"))).alias("us1"),
    )
    cells = (
        ev.crossJoin(F.broadcast(b))
        .groupBy(
            F.when(F.col("user_id") % 2 == 1, 1).otherwise(0).alias("treated"),
            F.when(
                F.unix_micros(F.col("ts").cast("timestamp")) * 2
                >= F.col("us0") + F.col("us1"),
                1,
            ).otherwise(0).alias("post"),
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            dec_sum("value").alias("s"),
            dec_sumsq("value").alias("ss"),
        )
    )
    mean = F.col("s") / F.col("n")
    # try_divide: a single-row cell (n = 1) has no sample variance —
    # NULL like the oracle's x/0, not an ANSI DIVIDE_BY_ZERO
    varm = F.try_divide(
        F.col("ss") - F.col("s") * F.col("s") / F.col("n"), F.col("n") - 1
    ) / F.col("n")

    def cell(tr, po, expr):
        return F.max(
            F.when((F.col("treated") == tr) & (F.col("post") == po), expr)
        )

    wide = cells.agg(
        cell(1, 1, mean).alias("m_t1"),
        cell(1, 0, mean).alias("m_t0"),
        cell(0, 1, mean).alias("m_c1"),
        cell(0, 0, mean).alias("m_c0"),
        cell(1, 1, varm).alias("v_t1"),
        cell(1, 0, varm).alias("v_t0"),
        cell(0, 1, varm).alias("v_c1"),
        cell(0, 0, varm).alias("v_c0"),
        F.sum("n").cast("long").alias("n_total"),
    )
    did = (F.col("m_t1") - F.col("m_t0")) - (F.col("m_c1") - F.col("m_c0"))
    se = F.sqrt(F.col("v_t1") + F.col("v_t0") + F.col("v_c1") + F.col("v_c0"))
    return wide.select(
        "n_total",
        R.quantize(did).alias("did_q"),
        R.quantize(se).alias("se_q"),
        R.quantize(F.try_divide(did, se)).alias("z_q"),
    )


@workload(
    "peak_detection_daily_events",
    """
    WITH daily AS (
      -- ts IS NOT NULL: a day-indexed series has no slot for rows with
      -- no event time, and the NULL day would sit FIRST in Spark's
      -- window order but LAST in DuckDB's, shifting every LAG/LEAD
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(FLOOR(value * 1000000000.0 + 0.5) AS BIGINT))
                  AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1000000000.0 AS m
      FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    ),
    lagged AS (
      SELECT event_type, day, m,
             LAG(m) OVER (PARTITION BY event_type ORDER BY day NULLS FIRST) AS prev,
             LEAD(m) OVER (PARTITION BY event_type ORDER BY day NULLS FIRST) AS nxt
      FROM daily
    )
    SELECT event_type, day,
           CAST(FLOOR(m * 1000000000.0 + 0.5) AS BIGINT) AS m_q,
           CAST(FLOOR((m - GREATEST(prev, nxt)) * 1000000000.0 + 0.5)
                AS BIGINT) AS margin_q
    FROM lagged
    WHERE prev IS NOT NULL AND nxt IS NOT NULL
      AND m > prev AND m >= nxt
    """,
    category="statistics",
)
def peak_detection_daily_events(spark, sf_dir):
    """Local-maximum peaks on the per-type daily mean series (plateau
    leading edge: strictly above the previous day, at-or-above the next)
    with the margin over the taller neighbor — the alerting primitive
    behind spike detection. Per-type calendar-bounded windows (the
    kaplan_meier contract); daily means are exact-integer ratios so the
    peak predicate compares identical doubles in both engines."""
    t = load_tables(spark, sf_dir)
    daily = (
        spread(t["events"], spark)
        .filter(F.col("ts").isNotNull())
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(
            (
                F.sum(R.quantize(F.col("value"))).cast("double")
                / F.count(F.lit(1)).cast("double") / F.lit(1000000000.0)
            ).alias("m")
        )
    )
    w = Window.partitionBy("event_type").orderBy("day")
    lagged = daily.select(
        "event_type", "day", "m",
        F.lag("m").over(w).alias("prev"),
        F.lead("m").over(w).alias("nxt"),
    )
    return lagged.filter(
        F.col("prev").isNotNull()
        & F.col("nxt").isNotNull()
        & (F.col("m") > F.col("prev"))
        & (F.col("m") >= F.col("nxt"))
    ).select(
        "event_type", "day",
        R.quantize(F.col("m")).alias("m_q"),
        R.quantize(F.col("m") - F.greatest("prev", "nxt")).alias("margin_q"),
    )


@workload(
    "record_highs_daily_events",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(FLOOR(value * 1000000000.0 + 0.5) AS BIGINT))
                  AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1000000000.0 AS m
      FROM events GROUP BY 1, 2
    )
    SELECT a.event_type, a.day,
           CAST(FLOOR(a.m * 1000000000.0 + 0.5) AS BIGINT) AS m_q
    FROM daily a
    WHERE NOT EXISTS (
      SELECT 1 FROM daily b
      WHERE b.event_type = a.event_type AND b.day < a.day AND b.m >= a.m
    ) AND EXISTS (
      SELECT 1 FROM daily b WHERE b.event_type = a.event_type AND b.day < a.day
    )
    """,
    category="statistics",
)
def record_highs_daily_events(spark, sf_dir):
    """Running-record days: dates whose daily mean strictly beats every
    earlier day of the same type (the monitoring 'new all-time high'
    signal; day 1 excluded — a record needs history). Expressed as a
    per-type anti-join against earlier-and-not-lower days — an equijoin
    on event_type with a date/value theta residual, NOT a running-max
    window, so nothing serializes; per-type daily series are
    calendar-bounded."""
    t = load_tables(spark, sf_dir)
    daily = _daily_type_mean(spark, sf_dir).localCheckpoint(eager=True)
    b = daily.select(
        F.col("event_type").alias("b_type"),
        F.col("day").alias("b_day"),
        F.col("m").alias("b_m"),
    )
    beaten = daily.join(
        F.broadcast(b),
        (F.col("b_type") == F.col("event_type"))
        & (F.col("b_day") < F.col("day"))
        & (F.col("b_m") >= F.col("m")),
        "left_anti",
    )
    has_history = daily.groupBy("event_type").agg(F.min("day").alias("day0"))
    return (
        beaten.join(F.broadcast(has_history), "event_type")
        .filter(F.col("day") > F.col("day0"))
        .select("event_type", "day", R.quantize(F.col("m")).alias("m_q"))
    )


@workload(
    "haar_energy_daily_events",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(FLOOR(value * 1000000000.0 + 0.5) AS BIGINT))
                  AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1000000000.0 AS m
      FROM events GROUP BY 1, 2
    ),
    d0 AS (
      SELECT d.event_type,
             DATEDIFF('day', t0.day0, d.day) AS i, d.m
      FROM daily d
      JOIN (SELECT event_type, MIN(day) AS day0 FROM daily GROUP BY 1) t0
        ON t0.event_type = d.event_type
    ),
    l1 AS (
      SELECT event_type, i // 2 AS j,
             MAX(CASE WHEN i % 2 = 1 THEN m END)
               - MAX(CASE WHEN i % 2 = 0 THEN m END) AS diff,
             (MAX(CASE WHEN i % 2 = 0 THEN m END)
               + MAX(CASE WHEN i % 2 = 1 THEN m END)) / 2 AS avg2,
             COUNT(*) AS cnt
      FROM d0 GROUP BY 1, 2
    ),
    l2 AS (
      SELECT event_type, j // 2 AS j,
             MAX(CASE WHEN j % 2 = 1 THEN avg2 END)
               - MAX(CASE WHEN j % 2 = 0 THEN avg2 END) AS diff,
             (MAX(CASE WHEN j % 2 = 0 THEN avg2 END)
               + MAX(CASE WHEN j % 2 = 1 THEN avg2 END)) / 2 AS avg2,
             COUNT(*) AS cnt
      FROM l1 WHERE cnt = 2 GROUP BY 1, 2
    ),
    l3 AS (
      SELECT event_type, j // 2 AS j,
             MAX(CASE WHEN j % 2 = 1 THEN avg2 END)
               - MAX(CASE WHEN j % 2 = 0 THEN avg2 END) AS diff,
             COUNT(*) AS cnt
      FROM l2 WHERE cnt = 2 GROUP BY 1, 2
    )
    SELECT event_type, level,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(CAST(FLOOR(diff * diff / 2.0 * 1000000000.0 + 0.5)
                AS BIGINT)) AS BIGINT) AS energy_q
    FROM (
      SELECT event_type, 1 AS level, diff FROM l1 WHERE cnt = 2
      UNION ALL SELECT event_type, 2, diff FROM l2 WHERE cnt = 2
      UNION ALL SELECT event_type, 3, diff FROM l3 WHERE cnt = 2
    )
    GROUP BY event_type, level
    """,
    category="statistics",
)
def haar_energy_daily_events(spark, sf_dir):
    """Haar wavelet energy per dyadic level (1=2-day, 2=4-day, 3=8-day
    detail) of the per-type daily mean series — which timescale carries
    the variance (daily noise vs weekly structure). Each level is one
    bounded groupBy on integer buckets (i//2 with conditional
    aggregates), never a window or sort; incomplete trailing pairs drop
    (cnt=2 guard) identically in both engines. Per-pair energies are
    nano-quantized before the order-free sums."""
    t = load_tables(spark, sf_dir)
    daily = _daily_type_mean(spark, sf_dir).localCheckpoint(eager=True)
    t0 = daily.groupBy("event_type").agg(F.min("day").alias("day0"))
    d0 = daily.join(F.broadcast(t0), "event_type").select(
        "event_type", F.datediff("day", "day0").alias("i"), "m"
    )

    def halve(df, idx, val):
        even = F.max(F.when(F.col(idx) % 2 == 0, F.col(val)))
        odd = F.max(F.when(F.col(idx) % 2 == 1, F.col(val)))
        return df.groupBy(
            "event_type", (F.col(idx) - F.col(idx) % 2).alias("_p")
        ).agg(
            (odd - even).alias("diff"),
            ((even + odd) / 2).alias("avg2"),
            F.count(F.lit(1)).alias("cnt"),
        ).select(
            "event_type", (F.col("_p") / 2).cast("long").alias("j"),
            "diff", "avg2", "cnt",
        )

    l1 = halve(d0, "i", "m")
    l2 = halve(l1.filter("cnt = 2"), "j", "avg2")
    l3 = halve(l2.filter("cnt = 2"), "j", "avg2")
    stacked = (
        l1.filter("cnt = 2").select("event_type", F.lit(1).alias("level"), "diff")
        .unionByName(
            l2.filter("cnt = 2").select("event_type", F.lit(2).alias("level"), "diff")
        )
        .unionByName(
            l3.filter("cnt = 2").select("event_type", F.lit(3).alias("level"), "diff")
        )
    )
    return stacked.groupBy("event_type", "level").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        F.sum(
            F.floor(
                F.col("diff") * F.col("diff") / F.lit(2.0)
                * F.lit(1000000000.0) + F.lit(0.5)
            ).cast("long")
        ).cast("long").alias("energy_q"),
    )


@workload(
    "newey_west_trend_daily",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(FLOOR(value * 1000000000.0 + 0.5) AS BIGINT))
                  AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1000000000.0 AS m
      FROM events GROUP BY 1, 2
    ),
    d0 AS (
      SELECT d.event_type, DATEDIFF('day', t0.day0, d.day) AS t, d.m
      FROM daily d
      JOIN (SELECT event_type, MIN(day) AS day0 FROM daily GROUP BY 1) t0
        ON t0.event_type = d.event_type
    ),
    mom AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(t) AS BIGINT) AS sx,
             CAST(SUM(t * t) AS BIGINT) AS sxx,
             CAST(SUM(CAST(FLOOR(m * 1000000000.0 + 0.5) AS BIGINT))
                  AS BIGINT) AS sy_q,
             CAST(SUM(CAST(FLOOR(t * m * 1000000000.0 + 0.5) AS BIGINT))
                  AS BIGINT) AS sxy_q
      FROM d0 GROUP BY event_type
    ),
    fit AS (
      SELECT event_type, n, sx, sxx,
             (n * (CAST(sxy_q AS DOUBLE) / 1000000000.0)
              - sx * (CAST(sy_q AS DOUBLE) / 1000000000.0))
             / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx) AS b,
             ((CAST(sy_q AS DOUBLE) / 1000000000.0)
              - (n * (CAST(sxy_q AS DOUBLE) / 1000000000.0)
                 - sx * (CAST(sy_q AS DOUBLE) / 1000000000.0))
                / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
                * sx) / n AS a
      FROM mom
    ),
    resid AS (
      SELECT d.event_type, d.t, d.m - (f.a + f.b * d.t) AS e
      FROM d0 d JOIN fit f ON f.event_type = d.event_type
    ),
    gam AS (
      SELECT r1.event_type, l.lag,
             CAST(SUM(CAST(FLOOR(r1.e * r2.e * 1000000000.0 + 0.5)
                  AS BIGINT)) AS BIGINT) AS g_q,
             CAST(COUNT(*) AS BIGINT) AS npairs
      FROM resid r1
      CROSS JOIN (SELECT UNNEST(range(0, 4)) AS lag) l
      JOIN resid r2 ON r2.event_type = r1.event_type
                   AND r2.t = r1.t + CAST(l.lag AS INTEGER)
      GROUP BY 1, 2
    ),
    lrv AS (
      SELECT g.event_type,
             CAST(SUM(CAST(FLOOR(
               (CASE WHEN g.lag = 0
                     THEN CAST(g.g_q AS DOUBLE) / 1000000000.0 / m.n
                     ELSE 2.0 * (1.0 - CAST(g.lag AS DOUBLE) / 4.0)
                          * (CAST(g.g_q AS DOUBLE) / 1000000000.0 / m.n)
                END) * 1000000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
               / 1000000000.0 AS v
      FROM gam g JOIN mom m ON m.event_type = g.event_type
      GROUP BY g.event_type
    )
    SELECT f.event_type, f.n AS n_days,
           CAST(FLOOR(f.b * 1000000000.0 + 0.5) AS BIGINT) AS slope_q,
           CAST(FLOOR(SQRT(l.v * f.n
                / (f.n * CAST(f.sxx AS DOUBLE) - CAST(f.sx AS DOUBLE) * f.sx))
                * 1000000000.0 + 0.5) AS BIGINT) AS se_nw_q
    FROM fit f JOIN lrv l ON l.event_type = f.event_type
    """,
    category="statistics",
)
def newey_west_trend_daily(spark, sf_dir):
    """Daily-trend slope with a Newey-West (HAC, Bartlett window, L=3)
    standard error per event type — the autocorrelation-robust SE plain
    OLS gets wrong on serially-correlated series. Residual
    autocovariances come from LAG EQUIJOINS (t = t + lag), never a
    window; the day index is datediff from the per-type minimum (one
    bounded join, no ranking). Per-pair residual products are
    nano-quantized before the order-free sums; slope/SE are single IEEE
    expressions over the exact moments, shared with the oracle.
    Bartlett long-run variance: γ0 + 2·Σ(1 − l/4)·γl."""
    t = load_tables(spark, sf_dir)
    daily = _daily_type_mean(spark, sf_dir).localCheckpoint(eager=True)
    t0 = daily.groupBy("event_type").agg(F.min("day").alias("day0"))
    d0 = daily.join(F.broadcast(t0), "event_type").select(
        "event_type", F.datediff("day", "day0").alias("t"), "m"
    )
    mom = d0.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("t").cast("long").alias("sx"),
        F.sum(F.col("t") * F.col("t")).cast("long").alias("sxx"),
        F.sum(R.quantize(F.col("m"))).cast("long").alias("sy_q"),
        F.sum(R.quantize(F.col("t") * F.col("m"))).cast("long").alias("sxy_q"),
    )
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    sy = F.col("sy_q").cast("double") / F.lit(1000000000.0)
    sxy = F.col("sxy_q").cast("double") / F.lit(1000000000.0)
    # try_divide: a type observed on a single day has zero x-variance —
    # no slope is estimable; NULL like the oracle's x/0
    den = n * sxx.cast("double") - sx.cast("double") * sx
    b = F.try_divide(n * sxy - sx * sy, den)
    fit = mom.select(
        "event_type", "n", "sx", "sxx",
        b.alias("b"),
        ((sy - b * sx) / n).alias("a"),
    )
    resid = d0.join(F.broadcast(fit), "event_type").select(
        "event_type", "t",
        (F.col("m") - (F.col("a") + F.col("b") * F.col("t"))).alias("e"),
    )
    r2 = resid.select(
        F.col("event_type").alias("r2_type"),
        F.col("t").alias("r2_t"),
        F.col("e").alias("r2_e"),
    )
    gam = (
        resid.select(
            "event_type", "t", "e",
            F.explode(F.sequence(F.lit(0), F.lit(3))).alias("lag"),
        )
        .join(
            F.broadcast(r2),
            (F.col("r2_type") == F.col("event_type"))
            & (F.col("r2_t") == F.col("t") + F.col("lag")),
        )
        .groupBy("event_type", "lag")
        .agg(
            F.sum(R.quantize(F.col("e") * F.col("r2_e")))
            .cast("long").alias("g_q")
        )
    )
    lrv = (
        gam.join(F.broadcast(mom.select("event_type", "n")), "event_type")
        .groupBy("event_type")
        .agg(
            (
                F.sum(
                    R.quantize(
                        F.when(
                            F.col("lag") == 0,
                            F.col("g_q").cast("double")
                            / F.lit(1000000000.0) / F.col("n"),
                        ).otherwise(
                            F.lit(2.0)
                            * (F.lit(1.0)
                               - F.col("lag").cast("double") / F.lit(4.0))
                            * (F.col("g_q").cast("double")
                               / F.lit(1000000000.0) / F.col("n"))
                        )
                    )
                ).cast("double") / F.lit(1000000000.0)
            ).alias("v")
        )
    )
    out = fit.join(lrv, "event_type")
    se = F.sqrt(
        F.try_divide(
            F.col("v") * F.col("n"),
            F.col("n") * F.col("sxx").cast("double")
            - F.col("sx").cast("double") * F.col("sx"),
        )
    )
    return out.select(
        "event_type",
        F.col("n").alias("n_days"),
        R.quantize(F.col("b")).alias("slope_q"),
        R.quantize(se).alias("se_nw_q"),
    )


def _rs_sql() -> str:
    """R/S of one block: arr is the block's day-ordered mean list; the
    range of cumulative deviations over the population std, every
    reduction a positional in-row fold (w ≤ 16, O(w²) is free)."""
    s1 = "LIST_AGGREGATE(arr, 'sum')"
    mu = f"({s1} / LEN(arr))"
    cums = (
        f"LIST_TRANSFORM(RANGE(1, LEN(arr) + 1), i -> "
        f"LIST_AGGREGATE(arr[1:i], 'sum') - i * {mu})"
    )
    s2 = f"LIST_AGGREGATE(LIST_TRANSFORM(arr, v -> (v - {mu}) * (v - {mu})), 'sum')"
    return (
        f"(LIST_MAX({cums}) - LIST_MIN({cums})) / SQRT({s2} / LEN(arr))"
    )


@workload(
    "hurst_rs_daily_events",
    f"""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(FLOOR(value * 1000000000.0 + 0.5) AS BIGINT))
                  AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1000000000.0 AS m
      FROM events GROUP BY 1, 2
    ),
    d0 AS (
      SELECT d.event_type, DATEDIFF('day', t0.day0, d.day) AS t, d.m
      FROM daily d
      JOIN (SELECT event_type, MIN(day) AS day0 FROM daily GROUP BY 1) t0
        ON t0.event_type = d.event_type
    ),
    blocks AS (
      SELECT d.event_type, w.w, d.t // w.w AS b,
             LIST(d.m ORDER BY d.t) AS arr
      FROM d0 d CROSS JOIN (SELECT UNNEST([4, 8, 16]) AS w) w
      GROUP BY 1, 2, 3
      HAVING COUNT(*) = w.w
    ),
    rs AS (
      SELECT event_type, w,
             CAST(FLOOR({_rs_sql()} * 1000000000.0 + 0.5) AS BIGINT) AS rs_q
      FROM blocks
      WHERE {_rs_sql()} > 0
    ),
    pts AS (
      SELECT event_type, w,
             CAST(SUM(rs_q) AS DOUBLE) / COUNT(*) / 1000000000.0 AS mean_rs
      FROM rs GROUP BY 1, 2
    ),
    q AS (
      SELECT event_type,
             CAST(FLOOR(LN(CAST(w AS DOUBLE)) * 1000000000.0 + 0.5) AS BIGINT) AS x_q,
             CAST(FLOOR(LN(mean_rs) * 1000000000.0 + 0.5) AS BIGINT) AS y_q,
             CAST(FLOOR(LN(CAST(w AS DOUBLE)) * LN(CAST(w AS DOUBLE))
                  * 1000000000.0 + 0.5) AS BIGINT) AS xx_q,
             CAST(FLOOR(LN(CAST(w AS DOUBLE)) * LN(mean_rs)
                  * 1000000000.0 + 0.5) AS BIGINT) AS xy_q
      FROM pts
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(FLOOR((COUNT(*) * (CAST(SUM(xy_q) AS DOUBLE) / 1000000000.0)
                       - (CAST(SUM(x_q) AS DOUBLE) / 1000000000.0)
                         * (CAST(SUM(y_q) AS DOUBLE) / 1000000000.0))
                / (COUNT(*) * (CAST(SUM(xx_q) AS DOUBLE) / 1000000000.0)
                   - (CAST(SUM(x_q) AS DOUBLE) / 1000000000.0)
                     * (CAST(SUM(x_q) AS DOUBLE) / 1000000000.0))
                * 1000000000.0 + 0.5) AS BIGINT) AS hurst_q
    FROM q GROUP BY event_type
    """,
    category="statistics",
)
def hurst_rs_daily_events(spark, sf_dir):
    """Hurst exponent by rescaled-range (R/S) analysis of the per-type
    daily mean series: H ≈ 0.5 = random walk, > 0.5 = long-memory
    persistence, < 0.5 = mean reversion. Complete dyadic blocks at
    w ∈ {{4, 8, 16}} (integer-bucket groupBy, never a window); each
    block's R/S is computed over its day-ORDERED in-row array with the
    shared sequential folds, quantized per block; H is the ln-ln OLS
    slope of mean R/S on w (the zipf/heaps discipline)."""
    t = load_tables(spark, sf_dir)
    daily = _daily_type_mean(spark, sf_dir).localCheckpoint(eager=True)
    t0 = daily.groupBy("event_type").agg(F.min("day").alias("day0"))
    d0 = daily.join(F.broadcast(t0), "event_type").select(
        "event_type", F.datediff("day", "day0").alias("t"), "m"
    )
    blocks = (
        d0.select(
            "event_type", "t", "m",
            F.explode(F.array(F.lit(4), F.lit(8), F.lit(16))).alias("w"),
        )
        .groupBy("event_type", "w", F.floor(F.col("t") / F.col("w")).alias("b"))
        .agg(
            F.expr("transform(sort_array(collect_list(struct(t, m))), s -> s.m)")
            .alias("arr"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .filter(F.col("cnt") == F.col("w"))
    )
    s1 = "aggregate(arr, cast(0.0 as double), (acc, v) -> acc + v)"
    mu = f"({s1} / size(arr))"
    cums = (
        f"transform(sequence(1, size(arr)), i -> "
        f"aggregate(slice(arr, 1, i), cast(0.0 as double), (acc, v) -> acc + v)"
        f" - i * {mu})"
    )
    s2 = (
        f"aggregate(transform(arr, v -> (v - {mu}) * (v - {mu})), "
        "cast(0.0 as double), (acc, v) -> acc + v)"
    )
    rs_expr = (
        f"(array_max({cums}) - array_min({cums})) / sqrt({s2} / size(arr))"
    )
    rs = blocks.select(
        "event_type", "w", F.expr(rs_expr).alias("rs_v")
    ).filter(F.col("rs_v") > 0).select(
        "event_type", "w", R.quantize(F.col("rs_v")).alias("rs_q")
    )
    pts = rs.groupBy("event_type", "w").agg(
        (
            F.sum("rs_q").cast("double") / F.count(F.lit(1)) / F.lit(1000000000.0)
        ).alias("mean_rs")
    )
    lx = F.log(F.col("w").cast("double"))
    ly = F.log(F.col("mean_rs"))
    q = pts.select(
        "event_type",
        R.quantize(lx).alias("x_q"),
        R.quantize(ly).alias("y_q"),
        R.quantize(lx * lx).alias("xx_q"),
        R.quantize(lx * ly).alias("xy_q"),
    )
    n = F.count(F.lit(1))
    sx = F.sum("x_q").cast("double") / F.lit(1000000000.0)
    sy = F.sum("y_q").cast("double") / F.lit(1000000000.0)
    sxx = F.sum("xx_q").cast("double") / F.lit(1000000000.0)
    sxy = F.sum("xy_q").cast("double") / F.lit(1000000000.0)
    return q.groupBy("event_type").agg(
        n.cast("long").alias("n_points"),
        R.quantize((n * sxy - sx * sy) / (n * sxx - sx * sx)).alias("hurst_q"),
    )


@workload(
    "weekly_spectral_power_events",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(FLOOR(value * 1000000000.0 + 0.5) AS BIGINT))
                  AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1000000000.0 AS m
      FROM events GROUP BY 1, 2
    ),
    d0 AS (
      SELECT d.event_type, DATEDIFF('day', t0.day0, d.day) AS t, d.m
      FROM daily d
      JOIN (SELECT event_type, MIN(day) AS day0 FROM daily GROUP BY 1) t0
        ON t0.event_type = d.event_type
    ),
    terms AS (
      SELECT event_type,
             CAST(FLOOR(m * COS(2 * PI() * t / 7.0) * 1000000000.0 + 0.5)
                  AS BIGINT) AS c_q,
             CAST(FLOOR(m * SIN(2 * PI() * t / 7.0) * 1000000000.0 + 0.5)
                  AS BIGINT) AS s_q,
             CAST(FLOOR(m * 1000000000.0 + 0.5) AS BIGINT) AS m_q,
             CAST(FLOOR(m * m * 1000000000.0 + 0.5) AS BIGINT) AS mm_q
      FROM d0
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(FLOOR(
             ((CAST(SUM(c_q) AS DOUBLE) / 1000000000.0)
                * (CAST(SUM(c_q) AS DOUBLE) / 1000000000.0)
              + (CAST(SUM(s_q) AS DOUBLE) / 1000000000.0)
                * (CAST(SUM(s_q) AS DOUBLE) / 1000000000.0))
             / COUNT(*)
             / ((CAST(SUM(mm_q) AS DOUBLE) / 1000000000.0)
                - (CAST(SUM(m_q) AS DOUBLE) / 1000000000.0)
                  * (CAST(SUM(m_q) AS DOUBLE) / 1000000000.0) / COUNT(*))
             * 1000000000.0 + 0.5) AS BIGINT) AS weekly_power_ratio_q
    FROM terms GROUP BY event_type
    """,
    category="statistics",
)
def weekly_spectral_power_events(spark, sf_dir):
    """Single-bin spectral test at the 7-day period (Goertzel form):
    |Σ m_t·e^(−2πit/7)|² / n over the series' total variance — how much
    of the variance is a weekly cycle. Pure per-row trig + one
    map-combined groupBy per type: the frequency-domain seasonality
    check without an FFT (one bin is all the gate needs). Per-row
    cos/sin terms nano-quantized before the order-free sums."""
    t = load_tables(spark, sf_dir)
    daily = _daily_type_mean(spark, sf_dir).localCheckpoint(eager=True)
    t0 = daily.groupBy("event_type").agg(F.min("day").alias("day0"))
    d0 = daily.join(F.broadcast(t0), "event_type").select(
        "event_type", F.datediff("day", "day0").alias("t"), "m"
    )
    ang = F.lit(2.0) * F.lit(math.pi) * F.col("t") / F.lit(7.0)
    terms = d0.select(
        "event_type",
        R.quantize(F.col("m") * F.cos(ang)).alias("c_q"),
        R.quantize(F.col("m") * F.sin(ang)).alias("s_q"),
        R.quantize(F.col("m")).alias("m_q"),
        R.quantize(F.col("m") * F.col("m")).alias("mm_q"),
    )
    n = F.count(F.lit(1))
    sc = F.sum("c_q").cast("double") / F.lit(1000000000.0)
    ss = F.sum("s_q").cast("double") / F.lit(1000000000.0)
    sm = F.sum("m_q").cast("double") / F.lit(1000000000.0)
    smm = F.sum("mm_q").cast("double") / F.lit(1000000000.0)
    power = (sc * sc + ss * ss) / n
    var = smm - sm * sm / n
    # try_divide: a constant (or single-day) series has zero variance —
    # the ratio is undefined; NULL like the oracle's x/0
    return terms.groupBy("event_type").agg(
        n.cast("long").alias("n_days"),
        R.quantize(F.try_divide(power, var)).alias("weekly_power_ratio_q"),
    )


@workload(
    "pacf_daily_events",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(FLOOR(value * 1000000000.0 + 0.5) AS BIGINT))
                  AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1000000000.0 AS m
      FROM events GROUP BY 1, 2
    ),
    d0 AS (
      SELECT d.event_type, DATEDIFF('day', t0.day0, d.day) AS t,
             d.m - a.mu AS e
      FROM daily d
      JOIN (SELECT event_type, MIN(day) AS day0 FROM daily GROUP BY 1) t0
        ON t0.event_type = d.event_type
      JOIN (SELECT event_type,
                   CAST(SUM(CAST(FLOOR(m * 1000000000.0 + 0.5) AS BIGINT))
                        AS DOUBLE) / COUNT(*) / 1000000000.0 AS mu
            FROM daily GROUP BY 1) a
        ON a.event_type = d.event_type
    ),
    gam AS (
      SELECT r1.event_type, l.lag,
             CAST(SUM(CAST(FLOOR(r1.e * r2.e * 1000000000.0 + 0.5) AS BIGINT))
                  AS DOUBLE) / 1000000000.0 AS g
      FROM d0 r1
      CROSS JOIN (SELECT UNNEST(range(0, 4)) AS lag) l
      JOIN d0 r2 ON r2.event_type = r1.event_type
                AND r2.t = r1.t + CAST(l.lag AS INTEGER)
      GROUP BY 1, 2
    ),
    rho AS (
      SELECT event_type,
             MAX(CASE WHEN lag = 1 THEN g END)
               / MAX(CASE WHEN lag = 0 THEN g END) AS r1,
             MAX(CASE WHEN lag = 2 THEN g END)
               / MAX(CASE WHEN lag = 0 THEN g END) AS r2,
             MAX(CASE WHEN lag = 3 THEN g END)
               / MAX(CASE WHEN lag = 0 THEN g END) AS r3
      FROM gam GROUP BY event_type
    )
    SELECT event_type,
           CAST(FLOOR(r1 * 1000000000.0 + 0.5) AS BIGINT) AS pacf1_q,
           CAST(FLOOR((r2 - r1 * r1) / (1 - r1 * r1)
                * 1000000000.0 + 0.5) AS BIGINT) AS pacf2_q,
           CAST(FLOOR(
             (r3 - (r1 - ((r2 - r1 * r1) / (1 - r1 * r1)) * r1) * r2
                 - ((r2 - r1 * r1) / (1 - r1 * r1)) * r1)
             / (1 - (r1 - ((r2 - r1 * r1) / (1 - r1 * r1)) * r1) * r1
                  - ((r2 - r1 * r1) / (1 - r1 * r1)) * r2)
             * 1000000000.0 + 0.5) AS BIGINT) AS pacf3_q
    FROM rho
    """,
    category="statistics",
)
def pacf_daily_events(spark, sf_dir):
    """Partial autocorrelation at lags 1-3 via the Durbin-Levinson
    recursion — the AR-order diagnostic the raw ACF can't give (ACF at
    lag 2 conflates direct and propagated correlation; PACF isolates the
    direct part). Autocovariances come from lag EQUIJOINS on the day
    index (the newey_west shape, no windows); the recursion is scalar
    algebra over ρ1..ρ3, written as one identical expression tree in
    both engines. φ22=(ρ2−ρ1²)/(1−ρ1²); φ21=ρ1−φ22ρ1;
    φ33=(ρ3−φ21ρ2−φ22ρ1)/(1−φ21ρ1−φ22ρ2)."""
    t = load_tables(spark, sf_dir)
    daily = _daily_type_mean(spark, sf_dir).localCheckpoint(eager=True)
    t0 = daily.groupBy("event_type").agg(F.min("day").alias("day0"))
    mu = daily.groupBy("event_type").agg(
        (
            F.sum(R.quantize(F.col("m"))).cast("double")
            / F.count(F.lit(1)) / F.lit(1000000000.0)
        ).alias("mu")
    )
    d0 = (
        daily.join(F.broadcast(t0), "event_type")
        .join(F.broadcast(mu), "event_type")
        .select(
            "event_type",
            F.datediff("day", "day0").alias("t"),
            (F.col("m") - F.col("mu")).alias("e"),
        )
    )
    r2c = d0.select(
        F.col("event_type").alias("r2_type"),
        F.col("t").alias("r2_t"),
        F.col("e").alias("r2_e"),
    )
    gam = (
        d0.select(
            "event_type", "t", "e",
            F.explode(F.sequence(F.lit(0), F.lit(3))).alias("lag"),
        )
        .join(
            F.broadcast(r2c),
            (F.col("r2_type") == F.col("event_type"))
            & (F.col("r2_t") == F.col("t") + F.col("lag")),
        )
        .groupBy("event_type", "lag")
        .agg(
            (
                F.sum(R.quantize(F.col("e") * F.col("r2_e"))).cast("double")
                / F.lit(1000000000.0)
            ).alias("g")
        )
    )

    def at(lag):
        return F.max(F.when(F.col("lag") == lag, F.col("g")))

    rho = gam.groupBy("event_type").agg(
        (at(1) / at(0)).alias("r1"),
        (at(2) / at(0)).alias("r2"),
        (at(3) / at(0)).alias("r3"),
    )
    r1, r2_, r3 = F.col("r1"), F.col("r2"), F.col("r3")
    phi22 = (r2_ - r1 * r1) / (1 - r1 * r1)
    phi21 = r1 - phi22 * r1
    phi33 = (r3 - phi21 * r2_ - phi22 * r1) / (1 - phi21 * r1 - phi22 * r2_)
    return rho.select(
        "event_type",
        R.quantize(r1).alias("pacf1_q"),
        R.quantize(phi22).alias("pacf2_q"),
        R.quantize(phi33).alias("pacf3_q"),
    )


@workload(
    "rolling_origin_backtest_daily",
    """
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(SUM(CAST(FLOOR(value * 1000000000.0 + 0.5) AS BIGINT))
                  AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) / 1000000000.0 AS m
      FROM events GROUP BY 1, 2
    ),
    d0 AS (
      SELECT d.event_type, DATEDIFF('day', t0.day0, d.day) AS t, d.m
      FROM daily d
      JOIN (SELECT event_type, MIN(day) AS day0 FROM daily GROUP BY 1) t0
        ON t0.event_type = d.event_type
    ),
    origins AS (SELECT UNNEST([14, 17, 20, 23, 26]) AS c),
    train AS (
      SELECT d.event_type, o.c,
             CAST(COUNT(*) AS BIGINT) AS n_train,
             CAST(SUM(CAST(FLOOR(d.m * 1000000000.0 + 0.5) AS BIGINT))
                  AS DOUBLE) / COUNT(*) / 1000000000.0 AS fc
      FROM d0 d CROSS JOIN origins o
      WHERE d.t < o.c
      GROUP BY 1, 2
    ),
    test AS (
      SELECT d.event_type, o.c,
             CAST(COUNT(*) AS BIGINT) AS n_test,
             CAST(SUM(CAST(FLOOR(ABS(d.m - tr.fc) * 1000000000.0 + 0.5)
                  AS BIGINT)) AS BIGINT) AS ae_q
      FROM d0 d
      CROSS JOIN origins o
      JOIN train tr ON tr.event_type = d.event_type AND tr.c = o.c
      WHERE d.t >= o.c AND d.t < o.c + 4
      GROUP BY 1, 2
    )
    SELECT tr.event_type, CAST(tr.c AS INTEGER) AS origin,
           tr.n_train, te.n_test,
           CAST(FLOOR(CAST(te.ae_q AS DOUBLE) / te.n_test / 1000000000.0
                * 1000000000.0 + 0.5) AS BIGINT) AS mae_q
    FROM train tr JOIN test te
      ON te.event_type = tr.event_type AND te.c = tr.c
    """,
    category="evaluation",
)
def rolling_origin_backtest_daily(spark, sf_dir):
    """Rolling-origin (expanding-window) forecast backtest: at five
    cutoffs, fit the mean forecast on days before the origin and score
    MAE on the next 4 days — the cross-validation scheme that respects
    time (random k-fold leaks the future). Origins are a literal spine
    joined against the day index (the heaps-checkpoint pattern); no
    windows, per-day absolute errors quantized before the sums."""
    t = load_tables(spark, sf_dir)
    daily = _daily_type_mean(spark, sf_dir).localCheckpoint(eager=True)
    t0 = daily.groupBy("event_type").agg(F.min("day").alias("day0"))
    d0 = daily.join(F.broadcast(t0), "event_type").select(
        "event_type", F.datediff("day", "day0").alias("t"), "m"
    )
    origins = spark.createDataFrame([(c,) for c in (14, 17, 20, 23, 26)], "c int")
    train = (
        d0.crossJoin(F.broadcast(origins))
        .filter(F.col("t") < F.col("c"))
        .groupBy("event_type", "c")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_train"),
            (
                F.sum(R.quantize(F.col("m"))).cast("double")
                / F.count(F.lit(1)) / F.lit(1000000000.0)
            ).alias("fc"),
        )
    )
    test = (
        d0.crossJoin(F.broadcast(origins))
        .filter((F.col("t") >= F.col("c")) & (F.col("t") < F.col("c") + 4))
        .join(F.broadcast(train), ["event_type", "c"])
        .groupBy("event_type", "c")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.sum(R.quantize(F.abs(F.col("m") - F.col("fc"))))
            .cast("long").alias("ae_q"),
        )
    )
    return (
        train.join(test.select("event_type", "c", "n_test", "ae_q"), ["event_type", "c"])
        .select(
            "event_type",
            F.col("c").cast("int").alias("origin"),
            "n_train",
            "n_test",
            F.floor(
                F.col("ae_q").cast("double") / F.col("n_test")
                / F.lit(1000000000.0) * F.lit(1000000000.0) + F.lit(0.5)
            ).cast("long").alias("mae_q"),
        )
    )


@workload(
    "gamma_fit_interpurchase_events",
    """
    WITH p AS (
      SELECT user_id, epoch_us(ts) AS us,
             LAG(epoch_us(ts)) OVER (PARTITION BY user_id
                                     ORDER BY ts NULLS FIRST, event_id NULLS FIRST) AS prev
      FROM events WHERE event_type = 'purchase'
    ),
    gaps AS (
      SELECT us - prev AS g FROM p WHERE prev IS NOT NULL AND us > prev
    ),
    mom AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(g AS DECIMAL(38,0))) AS DOUBLE) AS s1,
             CAST(SUM(CAST(g AS DECIMAL(38,0)) * CAST(g AS DECIMAL(38,0)))
                  AS DOUBLE) AS s2
      FROM gaps
    )
    SELECT n AS n_gaps,
           CAST(FLOOR((s1 / n) * (s1 / n)
                / ((s2 - s1 * s1 / n) / (n - 1))
                * 1000000000.0 + 0.5) AS BIGINT) AS shape_k_q,
           CAST(FLOOR(((s2 - s1 * s1 / n) / (n - 1)) / (s1 / n) / 1000000.0
                * 1000000000.0 + 0.5) AS BIGINT) AS scale_theta_s_q
    FROM mom
    """,
    category="statistics",
)
def gamma_fit_interpurchase_events(spark, sf_dir):
    """Method-of-moments gamma fit of inter-purchase times: shape
    k = μ²/σ², scale θ = σ²/μ (seconds) — k < 1 means bursty purchasing,
    k > 1 regular cadence; the parametric summary a mean alone hides.
    Gaps come from a per-user lag window under the (ts, event_id) total
    order (the burstiness contract); moments are DECIMAL(38,0)-exact
    (µs² products overflow int64); k and θ are single IEEE expressions
    over the exact doubles."""
    t = load_tables(spark, sf_dir)
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    p = (
        spread(t["events"], spark)
        .filter(F.col("event_type") == "purchase")
        .select("user_id", us.alias("us"), F.lag(us).over(w).alias("prev"))
    )
    gaps = p.filter(
        F.col("prev").isNotNull() & (F.col("us") > F.col("prev"))
    ).select((F.col("us") - F.col("prev")).alias("g"))
    mom = gaps.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.col("g").cast("decimal(38,0)")).cast("double").alias("s1"),
        F.sum(
            F.col("g").cast("decimal(38,0)") * F.col("g").cast("decimal(38,0)")
        ).cast("double").alias("s2"),
    )
    n, s1, s2 = F.col("n"), F.col("s1"), F.col("s2")
    # try_divide throughout: a single gap (n=1) has no variance, a
    # constant gap zeroes it, and simultaneous purchases zero the mean -
    # NULL like the oracle's x/0
    mu = F.try_divide(s1, n)
    var = F.try_divide(s2 - s1 * s1 / n, n - 1)
    return mom.select(
        n.alias("n_gaps"),
        R.quantize(F.try_divide(mu * mu, var)).alias("shape_k_q"),
        R.quantize(
            F.try_divide(var, mu) / F.lit(1000000.0)
        ).alias("scale_theta_s_q"),
    )


@workload(
    "qq_distance_view_click",
    """
    WITH q AS (
      SELECT event_type,
             CAST(FLOOR(value * 1000000000.0 + 0.5) AS BIGINT) AS v_q
      FROM events WHERE event_type IN ('view', 'click')
    ),
    dec AS (
      SELECT event_type,
             quantile_cont(v_q, 0.1) AS d1, quantile_cont(v_q, 0.2) AS d2,
             quantile_cont(v_q, 0.3) AS d3, quantile_cont(v_q, 0.4) AS d4,
             quantile_cont(v_q, 0.5) AS d5, quantile_cont(v_q, 0.6) AS d6,
             quantile_cont(v_q, 0.7) AS d7, quantile_cont(v_q, 0.8) AS d8,
             quantile_cont(v_q, 0.9) AS d9
      FROM q GROUP BY event_type
    )
    SELECT CAST(FLOOR((ABS(a.d1 - b.d1) + ABS(a.d2 - b.d2) + ABS(a.d3 - b.d3)
                 + ABS(a.d4 - b.d4) + ABS(a.d5 - b.d5) + ABS(a.d6 - b.d6)
                 + ABS(a.d7 - b.d7) + ABS(a.d8 - b.d8) + ABS(a.d9 - b.d9))
                / 9.0 / 1000000000.0 * 1000000000.0 + 0.5) AS BIGINT)
             AS qq_dist_q,
           CAST(FLOOR(GREATEST(ABS(a.d1 - b.d1), ABS(a.d2 - b.d2),
                 ABS(a.d3 - b.d3), ABS(a.d4 - b.d4), ABS(a.d5 - b.d5),
                 ABS(a.d6 - b.d6), ABS(a.d7 - b.d7), ABS(a.d8 - b.d8),
                 ABS(a.d9 - b.d9)) / 1000000000.0 * 1000000000.0 + 0.5)
                AS BIGINT) AS qq_max_q
    FROM dec a CROSS JOIN dec b
    WHERE a.event_type = 'view' AND b.event_type = 'click'
    """,
    category="statistics",
)
def qq_distance_view_click(spark, sf_dir):
    """Q-Q distance between the view and click value distributions: mean
    and max absolute decile gap — the location-aware complement to the KS
    statistic (KS sees only the worst CDF gap; deciles localize WHERE the
    distributions diverge). Exact interpolated deciles over nano-quantized
    ints per group via the distributed rank-quantile CDF
    (operators/quantiles.py — both groups span the whole fact table, the
    regime where the built-in percentile buffer is the 100 TB cliff),
    then a 2-row pivot and one closing expression — no global sort."""
    t = load_tables(spark, sf_dir)
    q = (
        spread(t["events"], spark)
        .filter(F.col("event_type").isin("view", "click"))
        .select("event_type", R.quantize(F.col("value")).alias("v_q"))
    )
    # distributed rank-quantile CDF (operators/quantiles.py): two groups
    # spanning the whole fact table — exactly the few-huge-groups regime
    # where the built-in percentile's per-group buffer grows linearly
    # the 2-row decile table is consumed twice (view side, click side):
    # eager-checkpoint it so the rank/bracket machinery runs once
    dec = grouped_exact_percentiles(
        q, ["event_type"], "v_q", {f"d{p}": p / 10.0 for p in range(1, 10)}
    ).localCheckpoint(eager=True)
    a = dec.filter(F.col("event_type") == "view").drop("event_type")
    bcols = [F.col(f"d{p}").alias(f"b{p}") for p in range(1, 10)]
    b = dec.filter(F.col("event_type") == "click").select(*bcols)
    diffs = [F.abs(F.col(f"d{p}") - F.col(f"b{p}")) for p in range(1, 10)]
    total = diffs[0]
    for d in diffs[1:]:
        total = total + d
    return a.crossJoin(F.broadcast(b)).select(
        F.floor(
            total / F.lit(9.0) / F.lit(1000000000.0)
            * F.lit(1000000000.0) + F.lit(0.5)
        ).cast("long").alias("qq_dist_q"),
        F.floor(
            F.greatest(*diffs) / F.lit(1000000000.0)
            * F.lit(1000000000.0) + F.lit(0.5)
        ).cast("long").alias("qq_max_q"),
    )


@workload(
    "hill_tail_index_orders",
    """
    WITH topk AS (
      SELECT CAST(FLOOR(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
               AS v_c
      FROM orders WHERE o_totalprice > 0
      ORDER BY v_c DESC, o_orderkey LIMIT 101
    ),
    thr AS (SELECT MIN(v_c) AS vmin FROM topk),
    terms AS (
      SELECT CAST(FLOOR(LN(CAST(t.v_c AS DOUBLE) / CAST(thr.vmin AS DOUBLE))
                   * 1000000000.0 + 0.5) AS BIGINT) AS ln_q,
             t.v_c
      FROM topk t CROSS JOIN thr
      WHERE t.v_c > thr.vmin
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS k_used,
           CAST(FLOOR(CAST(COUNT(*) AS DOUBLE)
                / (CAST(SUM(ln_q) AS DOUBLE) / 1000000000.0)
                * 1000000000.0 + 0.5) AS BIGINT) AS hill_alpha_q
    FROM terms
    """,
    category="statistics",
)
def hill_tail_index_orders(spark, sf_dir):
    """Hill estimator of the heavy-tail index α over the top-100 order
    values: α = k / Σ ln(x_i / x_threshold) — small α means a fat tail
    where a handful of orders dominate revenue (the risk gate behind the
    pareto/gini views, but parametric). Top-(k+1) via a TakeOrdered heap
    with a deterministic tie-break, the (k+1)-th value as the threshold,
    per-order log ratios quantized before the exact sum — no global
    sort, no window. Exact-cent integers remove float compare risk in
    the heap."""
    t = load_tables(spark, sf_dir)
    # positive amounts only, on BOTH sides: the Hill estimator is defined
    # over a positive tail (a refund row would feed LN a negative ratio -
    # a loud error in DuckDB, a silent NULL in Spark)
    topk = (
        t["orders"]
        .filter(F.col("o_totalprice") > 0)
        .select(
            F.floor(F.col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long").alias("v_c"),
            "o_orderkey",
        )
        .orderBy(F.desc("v_c"), F.asc("o_orderkey"))
        .limit(101)
        .select("v_c")
    )
    thr = topk.agg(F.min("v_c").alias("vmin"))
    terms = (
        topk.crossJoin(F.broadcast(thr))
        .filter(F.col("v_c") > F.col("vmin"))
        .select(
            R.quantize(
                F.log(F.col("v_c").cast("double") / F.col("vmin").cast("double"))
            ).alias("ln_q")
        )
    )
    return terms.agg(
        F.count(F.lit(1)).cast("long").alias("k_used"),
        F.floor(
            F.count(F.lit(1)).cast("double")
            / (F.sum("ln_q").cast("double") / F.lit(1000000000.0))
            * F.lit(1000000000.0) + F.lit(0.5)
        ).cast("long").alias("hill_alpha_q"),
    )


@workload(
    "brier_decomposition_documents",
    f"""
    WITH scored AS (
      SELECT {_P_SQL} AS p,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      FROM documents
    ),
    binned AS (
      SELECT CAST(LEAST(9, CAST(FLOOR(p * 10.0) AS INT)) AS INT) AS bin,
             CAST(FLOOR(p * 1000000000.0 + 0.5) AS BIGINT) AS p_q, y
      FROM scored
    ),
    bins AS (
      SELECT bin, CAST(COUNT(*) AS BIGINT) AS nb,
             CAST(SUM(p_q) AS DOUBLE) / COUNT(*) / 1000000000.0 AS conf,
             CAST(SUM(y) AS DOUBLE) / COUNT(*) AS acc
      FROM binned GROUP BY bin
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS DOUBLE) / COUNT(*) AS base
      FROM binned
    )
    SELECT tot.n AS n_docs,
           CAST(FLOOR(SUM(CAST(FLOOR(
             (CAST(nb AS DOUBLE) / tot.n) * (conf - acc) * (conf - acc)
             * 1000000000.0 + 0.5) AS BIGINT)) / 1000000000.0
             * 1000000000.0 + 0.5) AS BIGINT) AS reliability_q,
           CAST(FLOOR(SUM(CAST(FLOOR(
             (CAST(nb AS DOUBLE) / tot.n) * (acc - tot.base) * (acc - tot.base)
             * 1000000000.0 + 0.5) AS BIGINT)) / 1000000000.0
             * 1000000000.0 + 0.5) AS BIGINT) AS resolution_q,
           CAST(FLOOR(tot.base * (1.0 - tot.base) * 1000000000.0 + 0.5)
                AS BIGINT) AS uncertainty_q
    FROM bins CROSS JOIN tot
    GROUP BY tot.n, tot.base
    """,
    category="evaluation",
)
def brier_decomposition_documents(spark, sf_dir):
    """Murphy decomposition of the Brier score over the stopword
    classifier's 10 fixed-width bins: Brier ≈ RELIABILITY (calibration
    gap, lower better) − RESOLUTION (discrimination, higher better) +
    UNCERTAINTY (base-rate entropy, fixed) — the standard forecast
    verification that says WHY a probabilistic classifier is bad.
    Per-bin terms are nano-quantized before the ≤10-term sums; the bin
    table reuses calibration_bins_documents' window-free shape."""
    t = load_tables(spark, sf_dir)
    staged = spread(t["documents"], spark).select(
        _p_col().alias("p"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    binned = staged.select(
        F.least(F.lit(9), F.floor(F.col("p") * F.lit(10.0)).cast("int"))
        .cast("int").alias("bin"),
        R.quantize(F.col("p")).alias("p_q"),
        "y",
    )
    bins = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("nb"),
        (F.sum("p_q").cast("double") / F.count(F.lit(1)) / F.lit(1000000000.0))
        .alias("conf"),
        (F.sum("y").cast("double") / F.count(F.lit(1))).alias("acc"),
    )
    tot = binned.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        (F.sum("y").cast("double") / F.count(F.lit(1))).alias("base"),
    )
    j = bins.crossJoin(F.broadcast(tot))
    rel_t = R.quantize(
        (F.col("nb").cast("double") / F.col("n"))
        * (F.col("conf") - F.col("acc")) * (F.col("conf") - F.col("acc"))
    )
    res_t = R.quantize(
        (F.col("nb").cast("double") / F.col("n"))
        * (F.col("acc") - F.col("base")) * (F.col("acc") - F.col("base"))
    )
    return j.groupBy("n", "base").agg(
        F.floor(
            F.sum(rel_t) / F.lit(1000000000.0) * F.lit(1000000000.0) + F.lit(0.5)
        ).cast("long").alias("reliability_q"),
        F.floor(
            F.sum(res_t) / F.lit(1000000000.0) * F.lit(1000000000.0) + F.lit(0.5)
        ).cast("long").alias("resolution_q"),
    ).select(
        F.col("n").alias("n_docs"),
        "reliability_q",
        "resolution_q",
        R.quantize(F.col("base") * (F.lit(1.0) - F.col("base")))
        .alias("uncertainty_q"),
    )
