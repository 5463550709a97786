"""Retrieval-ranking + event-sequence analytics workloads (round 4).

Each entry pairs the Spark operator (operators/ranking.py,
operators/behavior.py) with a DuckDB oracle that replays the identical
semantics in ANSI-ish SQL. Float discipline follows the established
house rules: fixed-order floating sums, nano-quantized score columns
(``floor(x·1e9+0.5)`` BIGINT), decimal-exact money sums, INTEGER casts
where Spark emits int32.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_manager_spark.functions.exact import dec_sum
from etl_manager_spark.operators import behavior as B
from etl_manager_spark.operators import ranking as R
from etl_manager_spark.workloads import workload
from etl_manager_spark.workloads.tables import load_tables, spread

_TOK = r"LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\s+'), x -> x <> '')"


@workload(
    "tfidf_top_terms_documents",
    rf"""
    WITH tf AS (
      SELECT id, term, COUNT(*) AS tf
      FROM (SELECT doc_id AS id, UNNEST({_TOK}) AS term FROM documents)
      WHERE term <> '' GROUP BY id, term
    ),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents),
    scored AS (
      SELECT tf.id, tf.term, tf.tf, dfreq.df,
             CAST(FLOOR(CAST(tf.tf AS DOUBLE)
                        * LN(CAST(n.n AS DOUBLE) / CAST(dfreq.df AS DOUBLE))
                        * 1000000000.0 + 0.5) AS BIGINT) AS tfidf_q
      FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN n
    )
    SELECT id, rank, term, tf, df, tfidf_q
    FROM (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY id
                         ORDER BY tfidf_q DESC NULLS LAST, term ASC NULLS FIRST) AS INTEGER) AS rank
          FROM scored)
    WHERE rank <= 5
    """,
    category="text",
)
def tfidf_top_terms_documents(spark, sf_dir):
    """Top-5 TF-IDF terms per document (operators/ranking.py:
    tfidf_top_terms): tf · ln(N/df), vocabulary-sized df table broadcast,
    per-doc top-k window. Score emitted nano-quantized."""
    t = load_tables(spark, sf_dir)
    return R.tfidf_top_terms(spread(t["documents"], spark), k=5)


_BM25_TERMS = ["join", "scan", "sort", "window"]

# Shared BM25 CTE chain (ends in a `bm25(id, score_q)` relation) — used by
# the ranking workload AND the nDCG evaluation oracle so they cannot drift.
_BM25_CTES = rf"""lens AS (
      SELECT doc_id AS id,
             LEN(LIST_FILTER({_TOK}, x -> x <> '')) AS dl
      FROM documents
    ),
    stats AS (SELECT AVG(CAST(dl AS DOUBLE)) AS avgdl FROM lens),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents),
    tf AS (
      SELECT id, term, COUNT(*) AS tf
      FROM (SELECT doc_id AS id, UNNEST({_TOK}) AS term FROM documents)
      WHERE term IN ('join', 'scan', 'sort', 'window') GROUP BY id, term
    ),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    per_term AS (
      SELECT tf.id, tf.term,
             LN(1.0 + (CAST(n.n AS DOUBLE) - dfreq.df + 0.5) / (dfreq.df + 0.5))
               * (tf.tf * 2.2)
               / (tf.tf + 1.2 * (0.25 + 0.75 * CAST(lens.dl AS DOUBLE) / stats.avgdl))
               AS contrib
      FROM tf JOIN dfreq ON tf.term = dfreq.term
      JOIN lens ON lens.id = tf.id
      CROSS JOIN stats CROSS JOIN n
    ),
    pivoted AS (
      SELECT id,
             MAX(CASE WHEN term = 'join' THEN contrib END) AS c0,
             MAX(CASE WHEN term = 'scan' THEN contrib END) AS c1,
             MAX(CASE WHEN term = 'sort' THEN contrib END) AS c2,
             MAX(CASE WHEN term = 'window' THEN contrib END) AS c3
      FROM per_term GROUP BY id
    ),
    bm25 AS (
      SELECT id,
             CAST(FLOOR((COALESCE(c0, 0.0) + COALESCE(c1, 0.0)
                         + COALESCE(c2, 0.0) + COALESCE(c3, 0.0))
                        * 1000000000.0 + 0.5) AS BIGINT) AS score_q
      FROM pivoted
    )"""


@workload(
    "bm25_rank_documents",
    f"""
    WITH {_BM25_CTES}
    SELECT id, score_q FROM bm25
    """,
    category="text",
)
def bm25_rank_documents(spark, sf_dir):
    """BM25 scores for a fixed 4-term query (operators/ranking.py:
    bm25_scores, k1=1.2 b=0.75): per-term contributions pivoted to fixed
    columns and summed left-to-right in sorted term order so the floating
    sum has one defined evaluation order on both engines."""
    t = load_tables(spark, sf_dir)
    return R.bm25_scores(spread(t["documents"], spark), _BM25_TERMS)


@workload(
    "inverted_index_documents",
    rf"""
    SELECT term, COUNT(*) AS df,
           TO_JSON((LIST(id ORDER BY id))[1:20]) AS postings
    FROM (SELECT DISTINCT doc_id AS id, UNNEST({_TOK}) AS term FROM documents)
    WHERE term <> ''
    GROUP BY term
    """,
    category="text",
)
def inverted_index_documents(spark, sf_dir):
    """Inverted index (operators/ranking.py: inverted_index): term → df +
    first-20 posting ids as JSON (sorted post-collect for determinism;
    df counts all postings, not just the kept prefix)."""
    t = load_tables(spark, sf_dir)
    return R.inverted_index(spread(t["documents"], spark), max_postings=20)


@workload(
    "decontaminate_train_vs_eval",
    rf"""
    WITH toks AS (
      SELECT doc_id, LIST_FILTER({_TOK}, x -> x <> '') AS tt FROM documents
    ),
    grams AS (
      SELECT doc_id,
             UNNEST(LIST_TRANSFORM(RANGE(1, LEN(tt) - 6),
                    i -> ARRAY_TO_STRING(tt[i:i+7], ' '))) AS ngram
      FROM toks WHERE LEN(tt) >= 8
    ),
    eval_grams AS (SELECT DISTINCT ngram FROM grams WHERE doc_id % 10 = 0),
    train_grams AS (SELECT DISTINCT doc_id AS id, ngram FROM grams
                    WHERE doc_id % 10 != 0)
    SELECT id, COUNT(*) AS n_shared
    FROM train_grams JOIN eval_grams USING (ngram)
    GROUP BY id
    """,
    category="text",
)
def decontaminate_train_vs_eval(spark, sf_dir):
    """Benchmark decontamination (operators/ranking.py:
    ngram_decontaminate, n=8): every 10th document plays the eval set;
    training docs sharing any 8-gram with it are flagged with their
    distinct shared-gram count. Eval n-gram set broadcasts (benchmarks
    are tiny next to a corpus); the corpus side is one explode + one
    hash-agg."""
    t = load_tables(spark, sf_dir)
    docs = spread(t["documents"], spark)
    train = docs.filter(F.col("doc_id") % 10 != 0)
    ev = docs.filter(F.col("doc_id") % 10 == 0)
    return R.ngram_decontaminate(train, ev, n=8)


_FUNNEL_STEPS = ["view", "click", "purchase"]


@workload(
    "funnel_view_click_purchase",
    """
    WITH s1 AS (
      -- ts IS NOT NULL: a NULL-ts event can't arrive anywhere in a
      -- min-after-previous funnel (the operator's pinned contract); the
      -- later steps' strict ts > t comparisons exclude NULL implicitly
      SELECT user_id, MIN(ts) AS t FROM events
      WHERE event_type = 'view' AND ts IS NOT NULL GROUP BY user_id),
    -- IS NOT DISTINCT FROM: the NULL-id group is a series like any
    -- other (the ewma/groupBy rule) — a plain = join would freeze the
    -- anonymous group at step 1
    s2 AS (SELECT e.user_id, MIN(e.ts) AS t FROM events e
           JOIN s1 ON e.user_id IS NOT DISTINCT FROM s1.user_id
           WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY e.user_id),
    s3 AS (SELECT e.user_id, MIN(e.ts) AS t FROM events e
           JOIN s2 ON e.user_id IS NOT DISTINCT FROM s2.user_id
           WHERE e.event_type = 'purchase' AND e.ts > s2.t GROUP BY e.user_id)
    SELECT CAST(1 AS INTEGER) AS step, 'view' AS step_name,
           COUNT(*) AS n_users FROM s1
    UNION ALL
    SELECT CAST(2 AS INTEGER), 'click', COUNT(*) FROM s2
    UNION ALL
    SELECT CAST(3 AS INTEGER), 'purchase', COUNT(*) FROM s3
    """,
    category="events",
)
def funnel_view_click_purchase(spark, sf_dir):
    """Ordered funnel view→click→purchase (operators/behavior.py: funnel,
    min-after-previous semantics): per step one filtered min-agg per user
    + one join to the previous step's arrivals, all shuffles on user_id."""
    t = load_tables(spark, sf_dir)
    return B.funnel(t["events"], _FUNNEL_STEPS)


@workload(
    "cohort_retention_events",
    """
    WITH first_seen AS (
      SELECT user_id,
             CAST(DATE_TRUNC('day', MIN(ts)) AS DATE) AS cohort_day
      FROM events GROUP BY user_id
    )
    SELECT cohort_day, day_offset, COUNT(*) AS n_users
    FROM (
      SELECT DISTINCT e.user_id, f.cohort_day,
             CAST(DATEDIFF('day', f.cohort_day,
                  CAST(DATE_TRUNC('day', e.ts) AS DATE)) AS INTEGER)
               AS day_offset
      FROM events e JOIN first_seen f ON e.user_id = f.user_id
    )
    GROUP BY cohort_day, day_offset
    """,
    category="events",
)
def cohort_retention_events(spark, sf_dir):
    """Cohort retention triangle (operators/behavior.py:
    cohort_retention): users cohorted by first-event day, activity
    counted per (cohort_day, day_offset). Output is O(days²)."""
    t = load_tables(spark, sf_dir)
    return B.cohort_retention(t["events"])


@workload(
    "histogram_events_value",
    """
    SELECT bucket,
           CAST(bucket * 50.0 AS DOUBLE) AS bucket_lo,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM (
      SELECT value,
             LEAST(GREATEST(CAST(FLOOR(value / 50.0) AS INTEGER), 0), 9)
               AS bucket
      FROM events
    )
    GROUP BY bucket
    """,
    category="events",
)
def histogram_events_value(spark, sf_dir):
    """Fixed-width histogram over events.value: 10 buckets of width 50,
    clamped — floor of an IEEE division is deterministic, and the
    per-bucket money sum follows the decimal-exact discipline. One
    hash-agg; the bucket expression is codegen'd into the scan."""
    t = load_tables(spark, sf_dir)
    bucket = F.least(
        F.greatest(F.floor(F.col("value") / F.lit(50.0)).cast("int"), F.lit(0)),
        F.lit(9),
    )
    return (
        t["events"]
        .select(F.col("value"), bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dec_sum("value").alias("total_value"),
        )
        .select(
            "bucket",
            (F.col("bucket").cast("double") * F.lit(50.0)).alias("bucket_lo"),
            "n",
            "total_value",
        )
    )


@workload(
    "kmeans_assign_embeddings",
    """
    WITH c AS (SELECT vec_id AS centroid_id,
                      CAST(embedding AS DOUBLE[]) AS cv
               FROM embeddings
               WHERE vec_id < 8 AND embedding IS NOT NULL),
    v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
    scored AS (
      SELECT v.vec_id, c.centroid_id,
             LIST_AGGREGATE(LIST_TRANSFORM(RANGE(1, LEN(vv) + 1),
                            i -> (vv[i] - cv[i]) * (vv[i] - cv[i])),
                            'sum') AS dist2
      FROM v CROSS JOIN c
    )
    , winners AS (
      SELECT vec_id, centroid_id,
             CAST(FLOOR(dist2 * 1000000000.0 + 0.5) AS BIGINT) AS dist2_q
      FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                      ORDER BY dist2 ASC NULLS FIRST, centroid_id ASC NULLS FIRST) AS rn FROM scored)
      WHERE rn = 1
    )
    -- re-join per corpus ROW: the Spark side is a map-only projection
    -- (one output row per input row), so a duplicated vec_id keeps its
    -- duplicated assignment rows rather than collapsing to one
    SELECT v.vec_id, w.centroid_id, w.dist2_q
    FROM v JOIN winners w ON w.vec_id = v.vec_id
    """,
    category="similarity",
)
def kmeans_assign_embeddings(spark, sf_dir):
    """K-means assignment step against 8 deterministic centroids (the
    vectors with vec_id < 8): nearest centroid by squared L2, computed
    dimension-sequentially (bitwise-portable), distance nano-quantized.

    Zero-shuffle plan — the production shape of one Lloyd E-step: the
    centroid set is tiny by construction (k × dims doubles), so it is
    collected driver-side and folded into the projection as literals;
    the corpus is then a single map-only scan (no join, no window, no
    exchange). The argmin is ``array_min`` over (dist2, centroid_id)
    structs — struct ordering compares fields left-to-right, giving the
    deterministic tie-break for free."""
    t = load_tables(spark, sf_dir)
    emb = t["embeddings"]
    # a centroid must BE a vector - NULL embeddings cannot anchor a list
    cents = sorted(
        emb.filter((F.col("vec_id") < 8) & F.col("embedding").isNotNull())
        .select("vec_id", "embedding")
        .collect(),
        key=lambda r: r.vec_id,
    )
    v = emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("vv"),
    )
    if not cents:
        # no centroids (empty corpus / no vec_id < 8): the oracle's CROSS
        # JOIN against an empty centroid set yields zero rows; an empty
        # F.array() would type as VOID and fail analysis instead
        return v.select(
            "vec_id",
            F.lit(None).cast("long").alias("centroid_id"),
            F.lit(None).cast("long").alias("dist2_q"),
        ).filter(F.lit(False))

    def dist2(c) -> F.Column:
        from etl_manager_spark.functions.exact import lit_double_array

        cv = lit_double_array(c.embedding)
        return F.aggregate(
            F.zip_with("vv", cv, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    best = F.array_min(
        F.array(
            *[
                F.struct(
                    dist2(c).alias("dist2"),
                    F.lit(int(c.vec_id)).cast("long").alias("centroid_id"),
                )
                for c in cents
            ]
        )
    )
    return v.select(
        "vec_id",
        best["centroid_id"].alias("centroid_id"),
        R.quantize(best["dist2"]).alias("dist2_q"),
    )


@workload(
    "schema_evolution_events_union",
    """
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(user_id) AS BIGINT) AS sum_user,
           MIN(ts) AS min_ts,
           MAX(ts) AS max_ts,
           -- legacy membership mirrors the split: pmod (engine % keeps
           -- the dividend's sign, losing negative odd ids), NULL ids to
           -- v2, and rows whose user_id out-ranges the legacy batch's
           -- int32 column belong to the NEW generation — that being the
           -- reason the schema widened
           CAST(SUM(CASE WHEN ((event_id % 2) + 2) % 2 = 0
                          AND (user_id IS NULL OR user_id
                               BETWEEN -2147483648 AND 2147483647)
                         THEN 1 ELSE 0 END) AS BIGINT)
             AS n_legacy
    FROM events GROUP BY event_type
    """,
    category="etl",
)
def schema_evolution_events_union(spark, sf_dir):
    """Schema-evolution round-trip (sources/evolution.py:
    read_parquet_evolved): events is split into a LEGACY batch (ts
    re-encoded as raw int64 nanos, user_id narrowed to int32, props
    column absent) and a V2 batch (current schema plus a new
    schema_version column), each written as its own parquet generation.
    The evolved reader must reassemble them into one table — ts
    normalized to TIMESTAMP_NTZ, user_id widened back to long, props
    NULL-filled for legacy rows — with content identical to the
    original. The oracle aggregates the ORIGINAL events table: counts,
    user-id sums and exact min/max timestamps must survive the
    encode/decode round-trip, and the rows missing props must be exactly
    the even event_ids (the legacy batch)."""
    from etl_manager_spark.sources.evolution import read_parquet_evolved
    from etl_manager_spark.workloads.scratch import scratch_dir

    t = load_tables(spark, sf_dir)
    ev = t["events"]
    base = scratch_dir("schema_evo_")
    legacy_path = f"{base}/batch_legacy"
    v2_path = f"{base}/batch_v2"
    # split membership must be TOTAL: pmod handles negative ids (plain %
    # keeps the dividend's sign, so negative odd ids matched NEITHER
    # branch and vanished), NULL ids route to v2, and a user_id that
    # out-ranges the legacy schema's int32 column belongs to the NEW
    # generation — that being the reason the schema widened (narrowing
    # it would ANSI-throw / corrupt)
    legacy_cond = (F.pmod(F.col("event_id"), 2) == 0) & (
        F.col("user_id").isNull()
        | F.col("user_id").between(-(2**31), 2**31 - 1)
    )
    (
        ev.filter(legacy_cond)
        .select(
            "event_id",
            (F.unix_micros(F.col("ts").cast("timestamp")) * F.lit(1000)).alias("ts"),
            F.col("user_id").cast("int").alias("user_id"),
            "event_type",
            "value",
        )
        .write.mode("overwrite")
        .parquet(legacy_path)
    )
    (
        ev.filter(~F.coalesce(legacy_cond, F.lit(False)))
        .withColumn("schema_version", F.lit(2))
        .write.mode("overwrite")
        .parquet(v2_path)
    )
    merged = read_parquet_evolved(spark, [legacy_path, v2_path], ts_columns=("ts",))
    return merged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("user_id").alias("sum_user"),
        F.min("ts").alias("min_ts"),
        F.max("ts").alias("max_ts"),
        # provenance via the schema_version column the v2 batch ALWAYS
        # carries - a v2 row whose props happens to be NULL must not be
        # miscounted as legacy
        F.sum(
            F.when(F.col("schema_version").isNull(), 1).otherwise(0)
        ).alias("n_legacy"),
    )


@workload(
    "bigram_lm_score_documents",
    rf"""
    WITH toks AS (
      SELECT doc_id, LIST_FILTER({_TOK}, x -> x <> '') AS tt FROM documents
    ),
    pairs AS (
      SELECT doc_id AS id,
             UNNEST(tt[1:LEN(tt)-1]) AS w1,
             UNNEST(tt[2:LEN(tt)]) AS w2
      FROM toks WHERE LEN(tt) >= 2
    ),
    bc AS (SELECT w1, w2, COUNT(*) AS c12 FROM pairs GROUP BY w1, w2),
    uc AS (SELECT t AS w1, COUNT(*) AS c1
           FROM (SELECT UNNEST(tt) AS t FROM toks) GROUP BY t),
    v AS (SELECT COUNT(*) AS v FROM uc),
    scored AS (
      SELECT id,
             CAST(FLOOR(LN((c12 + 1.0) / (c1 + 1.0 * v.v))
                        * 1000000000.0 + 0.5) AS BIGINT) AS logp_q
      FROM pairs JOIN bc USING (w1, w2) JOIN uc USING (w1) CROSS JOIN v
    )
    SELECT id, COUNT(*) AS n_bigrams,
           CAST(SUM(logp_q) AS BIGINT) AS sum_logp_q
    FROM scored GROUP BY id
    """,
    category="text",
)
def bigram_lm_score_documents(spark, sf_dir):
    """Corpus-trained bigram LM quality scoring (operators/ranking.py:
    bigram_lm_scores, add-1 smoothing): the perplexity-style filter of
    CCNet-like pipelines. Per-bigram log-probs are nano-quantized to
    int64 BEFORE summation, so the per-doc total is an exact integer
    sum — identical under any partitioning and across engines."""
    t = load_tables(spark, sf_dir)
    return R.bigram_lm_scores(spread(t["documents"], spark))


@workload(
    "corpus_stats_documents",
    rf"""
    WITH tc AS (
      SELECT t AS term, COUNT(*) AS n
      FROM (SELECT UNNEST(LIST_FILTER({_TOK}, x -> x <> '')) AS t
            FROM documents)
      GROUP BY t
    )
    SELECT CAST(SUM(n) AS BIGINT) AS total_tokens,
           COUNT(*) AS vocab_size,
           CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS hapax_count,
           CAST(FLOOR(CAST(COUNT(*) AS DOUBLE) / CAST(SUM(n) AS DOUBLE)
                      * 1000000000.0 + 0.5) AS BIGINT) AS type_token_ratio_q
    FROM tc
    """,
    category="text",
)
def corpus_stats_documents(spark, sf_dir):
    """One-row corpus report card (operators/ranking.py: corpus_stats):
    total tokens, vocabulary size, hapax count, quantized type/token
    ratio — two hash-aggs, single-row output at any corpus size."""
    t = load_tables(spark, sf_dir)
    return R.corpus_stats(spread(t["documents"], spark))


@workload(
    "scalar_null_semantics",
    """
    WITH o AS (
      SELECT o_orderkey,
             NULLIF(o_orderpriority, '1-URGENT') AS prio_or_null,
             NULLIF(o_orderstatus, 'O') AS status_or_null
      FROM orders WHERE o_orderkey < 2000
    )
    SELECT COUNT(*) AS n_rows,
           COUNT(prio_or_null) AS n_prio_nonnull,
           CAST(SUM(CASE WHEN prio_or_null IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_prio_null,
           CAST(SUM(CASE WHEN prio_or_null IS NOT DISTINCT FROM status_or_null
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_nullsafe_eq,
           CAST(SUM(CASE WHEN COALESCE(prio_or_null, status_or_null,
                                       'fallback') = 'fallback'
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_both_null,
           COUNT(DISTINCT prio_or_null) AS n_distinct_prio
    FROM o
    """,
    category="scalar",
)
def scalar_null_semantics(spark, sf_dir):
    """Three-valued-logic parity: NULLIF-generated NULLs pushed through
    COUNT(col) vs COUNT(*), null-safe equality (Spark ``<=>`` ≡ SQL
    ``IS NOT DISTINCT FROM``), COALESCE fallback chains, and
    COUNT(DISTINCT) NULL-skipping — the semantics corner where engines
    classically diverge, pinned value-exact against the oracle."""
    t = load_tables(spark, sf_dir)
    o = (
        t["orders"]
        .filter(F.col("o_orderkey") < 2000)
        .select(
            "o_orderkey",
            F.nullif(F.col("o_orderpriority"), F.lit("1-URGENT")).alias(
                "prio_or_null"
            ),
            F.nullif(F.col("o_orderstatus"), F.lit("O")).alias("status_or_null"),
        )
    )
    return o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count("prio_or_null").alias("n_prio_nonnull"),
        F.sum(
            F.when(F.col("prio_or_null").isNull(), 1).otherwise(0)
        ).alias("n_prio_null"),
        F.sum(
            F.when(
                F.col("prio_or_null").eqNullSafe(F.col("status_or_null")), 1
            ).otherwise(0)
        ).alias("n_nullsafe_eq"),
        F.sum(
            F.when(
                F.coalesce(
                    F.col("prio_or_null"),
                    F.col("status_or_null"),
                    F.lit("fallback"),
                )
                == "fallback",
                1,
            ).otherwise(0)
        ).alias("n_both_null"),
        F.count_distinct(F.col("prio_or_null")).alias("n_distinct_prio"),
    )


@workload(
    "events_value_outliers",
    """
    WITH stats AS (
      SELECT event_type,
             COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS s,
             CAST(SUM(CAST(value AS DECIMAL(18,2))
                      * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS ss
      FROM events GROUP BY event_type
    ),
    m AS (
      SELECT event_type, n,
             s / n AS mean,
             CASE WHEN n > 1
                  THEN SQRT((ss - s * s / n) / (n - 1)) END AS std
      FROM stats
    )
    SELECT m.event_type, m.n,
           CAST(FLOOR(m.mean * 1000000000.0 + 0.5) AS BIGINT) AS mean_q,
           CAST(FLOOR(m.std * 1000000000.0 + 0.5) AS BIGINT) AS std_q,
           COALESCE(o.n_outliers, 0) AS n_outliers
    FROM m LEFT JOIN (
      SELECT e.event_type, COUNT(*) AS n_outliers
      FROM events e JOIN m ON e.event_type = m.event_type
      WHERE ABS(e.value - m.mean) > 3.0 * m.std
      GROUP BY e.event_type
    ) o ON m.event_type = o.event_type
    """,
    category="events",
)
def events_value_outliers(spark, sf_dir):
    """Per-group z-score outlier detection with DETERMINISTIC moments:
    mean and stddev are derived from decimal-exact first/second moments
    (functions/exact.py: dec_sum / dec_sumsq — no float accumulation
    order anywhere), so the 3-sigma gate evaluates identical doubles on
    both engines. Two scans: one grouped moment pass, one broadcast-join
    flag pass — the standard shape for any per-group normalization at
    scale (z-scoring features, outlier gates, min-max scaling)."""
    from etl_manager_spark.functions.exact import dec_sum, dec_sumsq

    t = load_tables(spark, sf_dir)
    ev = t["events"]
    stats = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        dec_sum("value").alias("s"),
        dec_sumsq("value").alias("ss"),
    )
    m = stats.select(
        "event_type",
        "n",
        (F.col("s") / F.col("n")).alias("mean"),
        # n == 1 → NULL std on BOTH sides: Spark's 0/0 would give NULL but
        # DuckDB's IEEE division gives NaN/inf — the explicit guard keeps
        # the engines (and the 3σ gate, which drops NULL-std groups) aligned
        F.when(
            F.col("n") > 1,
            F.sqrt(
                (F.col("ss") - F.col("s") * F.col("s") / F.col("n"))
                / (F.col("n") - F.lit(1))
            ),
        ).alias("std"),
    # §8: the |types|-bounded moment table feeds the flag join AND the
    # final projection — one moment pass, not two
    ).localCheckpoint(eager=True)
    outliers = (
        ev.join(F.broadcast(m), on="event_type")
        .filter(F.abs(F.col("value") - F.col("mean")) > F.lit(3.0) * F.col("std"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_outliers"))
    )
    return (
        m.join(outliers, on="event_type", how="left")
        .select(
            "event_type",
            "n",
            R.quantize(F.col("mean")).alias("mean_q"),
            R.quantize(F.col("std")).alias("std_q"),
            F.coalesce(F.col("n_outliers"), F.lit(0)).alias("n_outliers"),
        )
    )


@workload(
    "ewma_user_values",
    """
    WITH RECURSIVE numbered AS (
      -- NULL value rows are missing samples (no state update, no output,
      -- see ewma_per_key); NULL ts rows have no place in event-time order
      SELECT user_id, event_id, CAST(value AS DOUBLE) AS v,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts NULLS FIRST, event_id NULLS FIRST) AS rn
      FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
    ),
    fold AS (
      SELECT user_id, event_id, rn, v AS e FROM numbered WHERE rn = 1
      UNION ALL
      SELECT n.user_id, n.event_id, n.rn, 0.5 * f.e + 0.5 * n.v
      FROM numbered n JOIN fold f
        ON n.user_id IS NOT DISTINCT FROM f.user_id AND n.rn = f.rn + 1
    )
    SELECT user_id, event_id,
           CAST(FLOOR(e * 1000000000.0 + 0.5) AS BIGINT) AS ewma_q
    FROM fold
    """,
    category="analytics",
)
def ewma_user_values(spark, sf_dir):
    """Per-user EWMA of event values in event-time order
    (operators/timeseries.py: ewma_per_key, α = 0.5) — the recurrence
    e_i = ½e_{i-1} + ½v_i that SQL windows cannot express because it
    references the previous OUTPUT. One shuffle on user_id; the fold is
    sequential only within a user's (small) history. The oracle replays
    the identical recurrence as a DuckDB recursive CTE stepping one
    event per user per iteration; α = ½ keeps every product an exponent
    shift, and both engines emit the same nano-quantized int64."""
    from etl_manager_spark.operators.timeseries import ewma_per_key

    t = load_tables(spark, sf_dir)
    return ewma_per_key(t["events"], alpha=0.5)


@workload(
    "regression_price_by_quantity",
    """
    WITH s AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                      * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                      * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                      * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           CAST(FLOOR((n * sxy - sx * sy) / (n * sxx - sx * sx)
                      * 1000000000.0 + 0.5) AS BIGINT) AS slope_q,
           CAST(FLOOR((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n
                      * 1000000000.0 + 0.5) AS BIGINT) AS intercept_q,
           CAST(FLOOR((n * sxy - sx * sy)
                      / (SQRT(n * sxx - sx * sx) * SQRT(n * syy - sy * sy))
                      * 1000000000.0 + 0.5) AS BIGINT) AS corr_q
    FROM s
    """,
    category="analytics",
)
def regression_price_by_quantity(spark, sf_dir):
    """Per-group least-squares regression + Pearson correlation (the
    regr_slope / regr_intercept / corr aggregate family) with
    DETERMINISTIC results: the five moments (Σx, Σy, Σx², Σy², Σxy) are
    decimal-exact aggregates (functions/exact.py — associative, no float
    accumulation order), and slope/intercept/corr are each ONE fixed
    IEEE expression over those exact doubles, identical text on both
    engines. The double-sum formulations Spark ships (regr_*, corr)
    are order-dependent under shuffle and can't be oracle-checked
    bitwise; this shape can, and is the 100 TB way to get reproducible
    model-fit statistics (one map-combined hash aggregate, 3 groups)."""
    from etl_manager_spark.functions.exact import dec_sum, dec_sumprod, dec_sumsq

    t = load_tables(spark, sf_dir)
    # spread(): the five decimal moments are per-row-heavy (scale-4
    # Decimal(38) products exceed the compact-long range, so each row
    # allocates BigDecimals) and sf0.1 lineitem is one parquet split —
    # unspread, the whole map-side aggregate serialized onto one core.
    # Decimal aggregation is exact/associative, so partitioning cannot
    # change the result. No-op at production layouts (guarded helper).
    s = spread(t["lineitem"], spark).groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        dec_sum("l_quantity").alias("sx"),
        dec_sum("l_extendedprice").alias("sy"),
        dec_sumsq("l_quantity").alias("sxx"),
        dec_sumsq("l_extendedprice").alias("syy"),
        dec_sumprod("l_quantity", "l_extendedprice").alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    # try_divide: a degenerate group (n = 1, or constant x / constant y)
    # zeroes the variance denominators — NULL like the oracle, not an
    # ANSI DIVIDE_BY_ZERO
    slope = F.try_divide(n * sxy - sx * sy, n * sxx - sx * sx)
    return s.select(
        "l_returnflag",
        "n",
        R.quantize(slope).alias("slope_q"),
        R.quantize((sy - slope * sx) / n).alias("intercept_q"),
        R.quantize(
            F.try_divide(
                n * sxy - sx * sy,
                F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy),
            )
        ).alias("corr_q"),
    )


@workload(
    "mode_event_type_per_user",
    """
    -- NULL is not a VALUE: the statistical mode is over observed types
    -- (and the engines disagree on where NULL sorts in the tiebreak)
    SELECT user_id, event_type AS modal_event_type, cnt
    FROM (
      SELECT user_id, event_type, COUNT(*) AS cnt,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY COUNT(*) DESC NULLS LAST, event_type ASC NULLS FIRST) AS rn
      FROM events WHERE user_id < 200 AND event_type IS NOT NULL
      GROUP BY user_id, event_type
    ) WHERE rn = 1
    """,
    category="analytics",
)
def mode_event_type_per_user(spark, sf_dir):
    """Per-key statistical mode with a deterministic tie-break (highest
    count, then lexicographically smallest value) — Spark's ``mode()``
    aggregate is explicitly non-deterministic on ties, so reproducible
    pipelines need this count+window form. One hash aggregate on
    (user, type) — map-side combined, so the shuffle carries counts —
    then a tiny window over ≤|event_types| rows per user."""
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir)
    counts = (
        t["events"]
        # NULL is not a value: the mode is over observed types (both sides)
        .filter((F.col("user_id") < 200) & F.col("event_type").isNotNull())
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    w = Window.partitionBy("user_id").orderBy(
        F.desc("cnt"), F.asc("event_type")
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", F.col("event_type").alias("modal_event_type"), "cnt")
    )


@workload(
    "string_agg_nations_per_region",
    """
    SELECT r.r_name, COUNT(*) AS n_nations,
           STRING_AGG(n.n_name, ',' ORDER BY n.n_name) AS nations
    FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
    category="relational",
)
def string_agg_nations_per_region(spark, sf_dir):
    """Ordered string aggregation (STRING_AGG / LISTAGG ... WITHIN GROUP):
    Spark has no ordered string_agg, so the deterministic equivalent is
    collect_list → array_sort → array_join — the sort happens per group
    AFTER the aggregate, so results are independent of input partitioning
    (a bare collect_list order is not reproducible). Group sizes here are
    bounded (nations per region), which is the only regime where ordered
    string aggregation is sane at scale anyway."""
    t = load_tables(spark, sf_dir)
    return (
        t["nation"]
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_nations"),
            # a group whose every name is NULL aggregates to NULL (ANSI
            # STRING_AGG), not '' — collect_list skips NULLs, so guard
            # the empty list before joining
            F.when(
                F.size(F.collect_list("n_name")) > 0,
                F.array_join(F.array_sort(F.collect_list("n_name")), ","),
            ).alias("nations"),
        )
    )


@workload(
    "weighted_sample_documents",
    """
    WITH keyed AS (
      SELECT doc_id, n_chars,
             LN((CAST('0x' || SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 8)
                      AS UBIGINT) + 1) / 4294967296.0)
               / n_chars AS k
      FROM documents
    )
    SELECT doc_id, n_chars,
           CAST(FLOOR(k * 1000000000.0 + 0.5) AS BIGINT) AS key_q,
           CAST("rank" AS INTEGER) AS rank
    FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY k DESC NULLS LAST, doc_id ASC NULLS FIRST) AS "rank"
          FROM keyed)
    WHERE "rank" <= 50
    """,
    category="sampling",
)
def weighted_sample_documents(spark, sf_dir):
    """Weighted sampling WITHOUT replacement, Efraimidis–Spirakis A-ES:
    each row draws u ∈ (0,1] and competes with key ln(u)/w (monotone in
    u^(1/w); w = n_chars, so longer documents are proportionally likelier)
    — the global top-k by key IS a weighted sample without replacement.
    The draw is derandomized: u comes from the md5 of the row id (first 8
    hex chars + 1, over 2^32 — a dyadic rational, exactly representable),
    so the sample is reproducible across engines, runs, and partitionings
    — how you sample 100 TB consistently. Plan: one scan + a TakeOrdered
    heap (top-k never sorts the corpus; tests pin this for topk ops)."""
    t = load_tables(spark, sf_dir)
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10)
        .cast("long")
        + 1
    ) / F.lit(4294967296.0)
    # try_divide: a zero-weight row (n_chars = 0) keys NULL — the ln(u)/w
    # limit w→0 is −inf, so NULL (sorted last, never sampled) is the
    # faithful outcome and matches the oracle's x/0 → NULL
    keyed = t["documents"].select(
        "doc_id", "n_chars", F.try_divide(F.log(u), F.col("n_chars")).alias("k")
    )
    top = keyed.orderBy(F.desc("k"), F.asc("doc_id")).limit(50)
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("k"), F.asc("doc_id"))
    return top.select(
        "doc_id",
        "n_chars",
        R.quantize(F.col("k")).alias("key_q"),
        F.row_number().over(w).alias("rank"),
    )


@workload(
    "gapfill_locf_user_hours",
    """
    WITH hourly AS (
      SELECT user_id, DATE_TRUNC('hour', ts) AS h,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
      FROM events WHERE user_id < 10
      GROUP BY user_id, DATE_TRUNC('hour', ts)
    ),
    bounds AS (SELECT user_id, MIN(h) AS mn, MAX(h) AS mx FROM hourly GROUP BY user_id),
    slots AS (
      SELECT user_id, UNNEST(generate_series(mn, mx, INTERVAL 1 HOUR)) AS hour_ts
      FROM bounds
    ),
    j AS (
      SELECT s.user_id, s.hour_ts, h.v
      FROM slots s LEFT JOIN hourly h
        ON h.user_id = s.user_id AND h.h = s.hour_ts
    ),
    g AS (
      SELECT *, COUNT(v) OVER (PARTITION BY user_id ORDER BY hour_ts NULLS FIRST) AS grp
      FROM j
    )
    SELECT user_id, hour_ts,
           MAX(v) OVER (PARTITION BY user_id, grp) AS v_filled,
           v IS NOT NULL AS is_observed
    FROM g
    """,
    category="timeseries",
)
def gapfill_locf_user_hours(spark, sf_dir):
    """Time-series regularization: per-user hourly resampling with
    last-observation-carried-forward fill — the gap-fill step before any
    window-based feature extraction over irregular event streams. Hour
    slots come from exploding a per-user ``sequence(first, last,
    1 hour)`` (JVM generator, fan-out stays in the scan stage); observed
    hours carry a decimal-exact value sum; gaps take the previous
    observation via ``last(ignorenulls)`` over an ordered per-user
    window. Slots start at each user's first observation, so LOCF never
    reads before it has state. The oracle reproduces the fill with the
    standard gap-group trick (COUNT(v) OVER as group id, MAX within
    group). One shuffle on user_id end-to-end."""
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir)
    hourly = (
        t["events"]
        .filter(F.col("user_id") < 10)
        .groupBy("user_id", F.date_trunc("hour", "ts").alias("hour_ts"))
        .agg(dec_sum("value").alias("v"))
        # hours×10-users-bounded series consumed by the bounds pass AND
        # the grid join — one fact pass, not two (§8)
        .localCheckpoint(eager=True)
    )
    bounds = hourly.groupBy("user_id").agg(
        F.min("hour_ts").alias("mn"), F.max("hour_ts").alias("mx")
    )
    slots = bounds.select(
        "user_id",
        F.explode(
            F.sequence("mn", "mx", F.expr("INTERVAL 1 HOUR"))
        ).alias("hour_ts"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("hour_ts")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        slots.join(hourly, on=["user_id", "hour_ts"], how="left")
        .select(
            "user_id",
            "hour_ts",
            F.last("v", ignorenulls=True).over(w).alias("v_filled"),
            F.col("v").isNotNull().alias("is_observed"),
        )
    )


@workload(
    "mad_robust_outliers_events",
    """
    WITH med AS (
      SELECT event_type, MEDIAN(value) AS med
      FROM events GROUP BY event_type
    ),
    mad AS (
      SELECT e.event_type, MEDIAN(ABS(e.value - m.med)) AS mad
      FROM events e JOIN med m ON e.event_type = m.event_type
      GROUP BY e.event_type
    ),
    flagged AS (
      SELECT e.event_type, COUNT(*) AS n_outliers
      FROM events e
      JOIN med m ON e.event_type = m.event_type
      JOIN mad d ON e.event_type = d.event_type
      WHERE ABS(e.value - m.med) > 3.0 * 1.4826 * d.mad
      GROUP BY e.event_type
    )
    SELECT m.event_type,
           CAST(FLOOR(m.med * 1000000000.0 + 0.5) AS BIGINT) AS med_q,
           CAST(FLOOR(d.mad * 1000000000.0 + 0.5) AS BIGINT) AS mad_q,
           COALESCE(f.n_outliers, 0) AS n_outliers
    FROM med m
    JOIN mad d ON d.event_type = m.event_type
    LEFT JOIN flagged f ON f.event_type = m.event_type
    """,
    category="analytics",
)
def mad_robust_outliers_events(spark, sf_dir):
    """Robust (median/MAD) outlier detection per group — the z-score
    gate's heavy-tail-safe sibling: center = exact median, spread =
    median absolute deviation, outlier iff |v − med| > 3·1.4826·MAD.
    Medians are exact interpolated percentiles computed by the
    distributed rank-quantile operator (operators/quantiles.py) — the
    built-in ``median`` buffers every distinct value of a group in one
    task, and with ~5 event types over a continuous domain that buffer
    grows linearly with the data.

    Round-10 shape (guide §8: decide on a small proxy, touch the facts
    once): the fact rows are hash-aggregated to the per-type DISTINCT
    value-count table EXACTLY ONCE; the |v − med| distribution for the
    MAD pass and the outlier flag counts are both derived FROM that
    table (weighted by the distinct counts — identical doubles, identical
    totals), replacing the former second and third full passes over
    events. The every-branch-reads-one-exchange plan makes the whole
    query a single job; joins on mad/flagged are LEFT so all-null-value
    groups keep their row exactly as the inner-join-over-NULL-median
    oracle emits it."""
    from etl_manager_spark.operators.quantiles import (
        grouped_exact_percentiles,
        grouped_value_cdf,
        percentiles_from_cdf,
        unwrap_group,
    )

    t = load_tables(spark, sf_dir)
    # the oracle's final `med m JOIN mad d ON d.event_type = m.event_type`
    # never matches a NULL key, so the NULL-event_type group is absent
    # from its output; groups are independent, so dropping those rows at
    # the scan (pushed filter) is exact — the null-safe groups table
    # would otherwise emit an extra row for them
    ev = t["events"].filter(F.col("event_type").isNotNull())
    cdf, groups = grouped_value_cdf(ev, ["event_type"], "value")
    # the |types|-row med/mad tables are each consumed by THREE plan
    # branches (derived table, flag pass, final join); eager-checkpoint
    # the tiny frames so the bracket/interpolation machinery runs once
    # instead of once per consumer (round-10 profile: 74 jobs → ~30)
    med = percentiles_from_cdf(
        cdf, groups, ["event_type"], {"med": 0.5}
    ).coalesce(1).localCheckpoint(eager=True)
    # |v − med| value-count table derived from the distinct-value table:
    # same doubles (_qv IS cast(value as double)), same multiplicities
    # (_qc), one fact pass total instead of three
    vc = unwrap_group(cdf, ["event_type"]).select("event_type", "_qv", "_qc")
    adev = vc.join(F.broadcast(med), on="event_type").select(
        "event_type",
        F.abs(F.col("_qv") - F.col("med")).alias("_adev"),
        "_qc",
    )
    mad = grouped_exact_percentiles(
        adev, ["event_type"], "_adev", {"mad": 0.5}, weight_col="_qc"
    ).coalesce(1).localCheckpoint(eager=True)
    flagged = (
        vc.join(F.broadcast(med), on="event_type")
        .join(F.broadcast(mad), on="event_type")
        .filter(
            F.abs(F.col("_qv") - F.col("med"))
            > F.lit(3.0) * F.lit(1.4826) * F.col("mad")
        )
        .groupBy("event_type")
        .agg(F.sum("_qc").alias("n_outliers"))
    )
    return (
        med.join(mad, on="event_type", how="left")
        .join(flagged, on="event_type", how="left")
        .select(
            "event_type",
            R.quantize(F.col("med")).alias("med_q"),
            R.quantize(F.col("mad")).alias("mad_q"),
            F.coalesce(F.col("n_outliers"), F.lit(0)).alias("n_outliers"),
        )
    )


@workload(
    "vocab_coverage_documents",
    rf"""
    WITH counts AS (
      SELECT term, COUNT(*) AS cnt
      FROM (SELECT UNNEST({_TOK}) AS term FROM documents)
      WHERE term <> '' GROUP BY term
    ),
    total AS (SELECT SUM(cnt) AS total FROM counts),
    top AS (
      SELECT term, cnt,
             CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC NULLS LAST, term ASC NULLS FIRST) AS INTEGER)
               AS rank
      FROM counts
      QUALIFY rank <= 100
    )
    SELECT term, cnt, rank,
           CAST(FLOOR(CAST(SUM(cnt) OVER (ORDER BY rank NULLS FIRST) AS DOUBLE)
                      / total * 1000000000.0 + 0.5) AS BIGINT) AS coverage_q
    FROM top CROSS JOIN total
    """,
    category="text",
)
def vocab_coverage_documents(spark, sf_dir):
    """Vocabulary truncation analysis: the top-100 tokens by frequency
    with the CUMULATIVE fraction of all token instances they cover — the
    curve that decides a tokenizer's vocab size / UNK budget. Counts are
    one explode + hash-agg; the top-100 is a TakeOrdered heap (never a
    full vocabulary sort); the cumulative sum is integer-exact and the
    coverage ratio one int/int→double division, so the emitted curve is
    engine-portable. The corpus-total rides along as a broadcast one-row
    aggregate (no driver action)."""
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir)
    counts = (
        t["documents"]
        .select(F.explode(R.tokens("text")).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
        # vocabulary-bounded counts consumed by the total AND the top-100
        # rank — one tokenize pass, not two (§8)
        .localCheckpoint(eager=True)
    )
    total = counts.agg(F.sum("cnt").alias("total"))
    top = counts.orderBy(F.desc("cnt"), F.asc("term")).limit(100)
    w_rank = Window.orderBy(F.desc("cnt"), F.asc("term"))
    return (
        top.crossJoin(F.broadcast(total))
        .withColumn("rank", F.row_number().over(w_rank))
        .withColumn(
            "coverage_q",
            R.quantize(
                F.sum("cnt").over(w_rank.rowsBetween(Window.unboundedPreceding, 0)).cast("double")
                / F.col("total")
            ),
        )
        .select("term", "cnt", "rank", "coverage_q")
    )


@workload(
    "welch_t_view_vs_click",
    """
    WITH s AS (
      SELECT event_type,
             COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sv,
             CAST(SUM(CAST(value AS DECIMAL(18,2))
                      * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS ss
      FROM events WHERE event_type IN ('view', 'click')
      GROUP BY event_type
    ),
    m AS (
      SELECT event_type, n, sv / n AS mean,
             (ss - sv * sv / n) / (n - 1) AS var
      FROM s
    )
    SELECT a.n AS n_view, b.n AS n_click,
           CAST(FLOOR(a.mean * 1000000000.0 + 0.5) AS BIGINT) AS mean_view_q,
           CAST(FLOOR(b.mean * 1000000000.0 + 0.5) AS BIGINT) AS mean_click_q,
           CAST(FLOOR((a.mean - b.mean)
                      / SQRT(a.var / a.n + b.var / b.n)
                      * 1000000000.0 + 0.5) AS BIGINT) AS t_stat_q
    FROM (SELECT * FROM m WHERE event_type = 'view') a
    CROSS JOIN (SELECT * FROM m WHERE event_type = 'click') b
    """,
    category="analytics",
)
def welch_t_view_vs_click(spark, sf_dir):
    """Two-sample Welch's t statistic between the 'view' and 'click'
    value distributions — the A/B-test primitive, built from the same
    decimal-exact moment discipline as the regression workload: n, Σv,
    Σv² per arm are exact, then mean/variance/t are fixed IEEE
    expressions evaluated identically on both engines. One grouped
    aggregate over a 2-value-pruned scan + a 1×1 cross join."""
    from etl_manager_spark.functions.exact import dec_sum, dec_sumsq

    t = load_tables(spark, sf_dir)
    s = (
        t["events"]
        .filter(F.col("event_type").isin("view", "click"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dec_sum("value").alias("sv"),
            dec_sumsq("value").alias("ss"),
        )
    )
    # try_divide: an arm with a single row has no sample variance -
    # NULL like the oracle's x/0
    m = s.select(
        "event_type",
        "n",
        (F.col("sv") / F.col("n")).alias("mean"),
        F.try_divide(
            F.col("ss") - F.col("sv") * F.col("sv") / F.col("n"),
            F.col("n") - F.lit(1),
        ).alias("var"),
    )
    # round 11 (§2.4): pivot the <=2-row moment table to one row in a
    # single pass — the former per-arm filter branches each re-planned
    # the whole aggregate (2 parquet scans of events), and the 1x1 cross
    # join is gone. min(when) is an exact passthrough (one row per arm);
    # the existence filter on the never-NULL per-arm counts reproduces
    # the oracle's empty-cross-join result when either arm is missing.
    def arm(t, col, name):
        return F.min(F.when(F.col("event_type") == t, F.col(col))).alias(name)

    ab = m.groupBy().agg(
        arm("view", "n", "n_view"),
        arm("view", "mean", "mean_a"),
        arm("view", "var", "var_a"),
        arm("click", "n", "n_click"),
        arm("click", "mean", "mean_b"),
        arm("click", "var", "var_b"),
    ).filter(F.col("n_view").isNotNull() & F.col("n_click").isNotNull())
    return ab.select(
        "n_view",
        "n_click",
        R.quantize(F.col("mean_a")).alias("mean_view_q"),
        R.quantize(F.col("mean_b")).alias("mean_click_q"),
        R.quantize(
            F.try_divide(
                F.col("mean_a") - F.col("mean_b"),
                F.sqrt(
                    F.col("var_a") / F.col("n_view")
                    + F.col("var_b") / F.col("n_click")
                ),
            )
        ).alias("t_stat_q"),
    )


@workload(
    "quantile_normalize_events",
    """
    SELECT event_id, event_type,
           CAST(FLOOR(PERCENT_RANK() OVER (
                  PARTITION BY event_type ORDER BY value NULLS FIRST, event_id NULLS FIRST)
                * 1000000000.0 + 0.5) AS BIGINT) AS pr_q
    FROM events WHERE user_id < 50 AND value IS NOT NULL
    """,
    category="analytics",
)
def quantile_normalize_events(spark, sf_dir):
    """Rank-based feature normalization: each value mapped to its
    percent-rank within its event type — the distribution-free scaling
    step (quantile normalization) before mixing heterogeneous feature
    columns. The (value, event_id) order is total, so ranks — and the
    (rank−1)/(n−1) division, one IEEE op from integer operands — are
    deterministic and identical across engines. One shuffle on
    event_type; per-group sort only (the window's natural shape)."""
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return (
        t["events"]
        # a NULL value has no rank to normalize to (both sides)
        .filter((F.col("user_id") < 50) & F.col("value").isNotNull())
        .select(
            "event_id",
            "event_type",
            R.quantize(F.percent_rank().over(w)).alias("pr_q"),
        )
    )


_TOK_NONEMPTY = (
    "LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\\s+'), x -> x <> '')"
)


@workload(
    "top_ngram_char_frac_documents",
    rf"""
    WITH base AS (
      SELECT doc_id AS id, {_TOK_NONEMPTY} AS toks FROM documents
    ),
    b2 AS (
      SELECT id, toks, LENGTH(ARRAY_TO_STRING(toks, ' ')) AS norm_chars
      FROM base WHERE LEN(toks) >= 2
    ),
    grams AS (
      SELECT id, norm_chars,
             UNNEST([toks[i] || ' ' || toks[i+1] for i in range(1, LEN(toks))])
               AS gram
      FROM b2
    ),
    counts AS (
      SELECT id, norm_chars, gram, COUNT(*) AS gram_count
      FROM grams GROUP BY id, norm_chars, gram
    )
    SELECT id, gram AS top_gram, gram_count,
           CAST(FLOOR(gram_count * CAST(LENGTH(gram) AS DOUBLE)
                      / CAST(norm_chars AS DOUBLE)
                      * 1000000000.0 + 0.5) AS BIGINT) AS top_gram_char_frac_q
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY id
                    ORDER BY gram_count DESC NULLS LAST, gram ASC NULLS FIRST) AS rn
          FROM counts)
    WHERE rn = 1
    """,
    category="text",
)
def top_ngram_char_frac_documents(spark, sf_dir):
    """Gopher/Dolma top-bigram character coverage per document
    (operators/text.py: top_ngram_char_fraction): explode → (doc, gram)
    hash-agg → per-doc argmax window with a deterministic
    (count DESC, gram ASC) tie-break."""
    from etl_manager_spark.operators.text import top_ngram_char_fraction

    t = load_tables(spark, sf_dir)
    return top_ngram_char_fraction(spread(t["documents"], spark), n=2)


@workload(
    "gapfill_linear_user_hours",
    """
    WITH hourly AS (
      SELECT user_id, DATE_TRUNC('hour', ts) AS h,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v
      FROM events WHERE user_id < 10
      GROUP BY user_id, DATE_TRUNC('hour', ts)
    ),
    bounds AS (SELECT user_id, MIN(h) AS mn, MAX(h) AS mx FROM hourly GROUP BY user_id),
    slots AS (
      SELECT user_id, UNNEST(generate_series(mn, mx, INTERVAL 1 HOUR)) AS hour_ts
      FROM bounds
    ),
    j AS (
      SELECT s.user_id, s.hour_ts, h.v
      FROM slots s LEFT JOIN hourly h
        ON h.user_id = s.user_id AND h.h = s.hour_ts
    ),
    g AS (
      SELECT user_id, hour_ts, v,
        last_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY hour_ts NULLS FIRST
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_v,
        last_value(CASE WHEN v IS NOT NULL THEN hour_ts END IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY hour_ts NULLS FIRST
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_t,
        first_value(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY hour_ts NULLS FIRST
          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v,
        first_value(CASE WHEN v IS NOT NULL THEN hour_ts END IGNORE NULLS)
          OVER (PARTITION BY user_id ORDER BY hour_ts NULLS FIRST
          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_t
      FROM j
    )
    SELECT user_id, hour_ts,
           CAST(FLOOR((CASE WHEN v IS NOT NULL THEN v
                 ELSE prev_v + (next_v - prev_v) *
                      (CAST(DATE_DIFF('hour', prev_t, hour_ts) AS DOUBLE)
                       / CAST(DATE_DIFF('hour', prev_t, next_t) AS DOUBLE))
                 END) * 1000000000.0 + 0.5) AS BIGINT) AS v_interp_q,
           v IS NOT NULL AS is_observed
    FROM g
    """,
    category="timeseries",
)
def gapfill_linear_user_hours(spark, sf_dir):
    """Per-user hourly resampling with LINEAR interpolation across gaps —
    the companion to gapfill_locf_user_hours when the signal is a level,
    not a step function. Slots span each user's [first, last] observed
    hour, so every gap has both neighbors; observed hours carry the
    decimal-exact hourly sum, gaps take
    ``prev + (next-prev)·Δh/(span_h)`` with the hour offsets as exact
    integers (timestampdiff), so both engines evaluate the identical
    IEEE expression. One shuffle on user_id: the slot explode is a JVM
    generator in the scan stage and all four neighbor lookups are
    windows over the same (user_id, hour_ts) sort."""
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir)
    hourly = (
        t["events"]
        .filter(F.col("user_id") < 10)
        .groupBy("user_id", F.date_trunc("hour", "ts").alias("hour_ts"))
        .agg(dec_sum("value").alias("v"))
        # hours×10-users-bounded series consumed by the bounds pass AND
        # the grid join — one fact pass, not two (§8)
        .localCheckpoint(eager=True)
    )
    bounds = hourly.groupBy("user_id").agg(
        F.min("hour_ts").alias("mn"), F.max("hour_ts").alias("mx")
    )
    slots = bounds.select(
        "user_id",
        F.explode(F.sequence("mn", "mx", F.expr("INTERVAL 1 HOUR"))).alias(
            "hour_ts"
        ),
    )
    wp = (
        Window.partitionBy("user_id")
        .orderBy("hour_ts")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # next-observed lookup as a RUNNING frame over the REVERSED order:
    # first(...) over [currentRow, unboundedFollowing] is a shrinking
    # frame Spark re-aggregates from every row to partition end — O(n²)
    # per user, a multi-year hourly span (~500k slots) ran for hours.
    # last(...) over reversed-order [unboundedPreceding, currentRow] is
    # the same value in O(n); hour_ts is unique per user so the reversed
    # order is total.
    wn = (
        Window.partitionBy("user_id")
        .orderBy(F.col("hour_ts").desc())
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    obs_ts = F.when(F.col("v").isNotNull(), F.col("hour_ts"))
    j = slots.join(hourly, on=["user_id", "hour_ts"], how="left")
    g = j.select(
        "user_id",
        "hour_ts",
        "v",
        F.last("v", ignorenulls=True).over(wp).alias("prev_v"),
        F.last(obs_ts, ignorenulls=True).over(wp).alias("prev_t"),
        F.last("v", ignorenulls=True).over(wn).alias("next_v"),
        F.last(obs_ts, ignorenulls=True).over(wn).alias("next_t"),
    )
    frac = F.expr(
        "CAST(timestampdiff(HOUR, prev_t, hour_ts) AS DOUBLE)"
        " / CAST(timestampdiff(HOUR, prev_t, next_t) AS DOUBLE)"
    )
    interp = F.col("prev_v") + (F.col("next_v") - F.col("prev_v")) * frac
    return g.select(
        "user_id",
        "hour_ts",
        R.quantize(
            F.when(F.col("v").isNotNull(), F.col("v")).otherwise(interp)
        ).alias("v_interp_q"),
        F.col("v").isNotNull().alias("is_observed"),
    )


@workload(
    "window_navigation_orders",
    """
    SELECT o_orderkey, o_custkey,
           lead(o_totalprice, 1) OVER w AS next_price,
           lag(o_totalprice, 2) OVER w AS prev2_price,
           first_value(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END
                       IGNORE NULLS) OVER wf AS first_f_price,
           last_value(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END
                      IGNORE NULLS) OVER wf AS last_f_price,
           nth_value(o_totalprice, 2) OVER wf AS second_price,
           percent_rank() OVER w AS pct_rank,
           cume_dist() OVER w AS cum_dist
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY o_orderdate NULLS FIRST, o_orderkey NULLS FIRST),
           wf AS (PARTITION BY o_custkey
                  ORDER BY o_orderdate NULLS FIRST, o_orderkey
                  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
    category="window",
)
def window_navigation_orders(spark, sf_dir):
    """Window-navigation completeness: lead/lag with offsets,
    first_value/last_value IGNORE NULLS (earliest/latest finished-order
    price per customer), nth_value over the full frame, percent_rank and
    cume_dist — all over ONE (o_custkey, o_orderdate, o_orderkey) sort,
    so the whole query is a single shuffle + single in-partition sort
    (orderkey makes the order total: rank ties are impossible and every
    navigation column is deterministic). percent_rank/cume_dist emit the
    raw (k-1)/(n-1), k/n doubles — identical IEEE divisions in both
    engines."""
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir)
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wf = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    f_price = F.when(F.col("o_orderstatus") == "F", F.col("o_totalprice"))
    return t["orders"].select(
        "o_orderkey",
        "o_custkey",
        F.lead("o_totalprice", 1).over(w).alias("next_price"),
        F.lag("o_totalprice", 2).over(w).alias("prev2_price"),
        F.first(f_price, ignorenulls=True).over(wf).alias("first_f_price"),
        F.last(f_price, ignorenulls=True).over(wf).alias("last_f_price"),
        F.nth_value("o_totalprice", 2).over(wf).alias("second_price"),
        F.percent_rank().over(w).alias("pct_rank"),
        F.cume_dist().over(w).alias("cum_dist"),
    )


@workload(
    "map_functions_events",
    """
    WITH per AS (
      SELECT user_id, event_type, COUNT(*) AS c
      FROM events WHERE event_type IS NOT NULL
      GROUP BY user_id, event_type
    )
    SELECT user_id,
           CAST(COUNT(*) AS INTEGER) AS n_types,
           STRING_AGG(event_type, ',' ORDER BY event_type) AS types_csv,
           CAST(COALESCE(SUM(CASE WHEN event_type = 'click' THEN c END), 0)
                AS BIGINT) AS click_count,
           CAST(SUM(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS INTEGER)
             AS n_types_ge2,
           CAST(SUM(c) * 2 AS BIGINT) AS double_total
    FROM per GROUP BY user_id
    """,
    category="scalar",
)
def map_functions_events(spark, sf_dir):
    """MapType end-to-end: per-user event_type→count maps built with
    map_from_entries over a sorted collect_list, then probed with
    element_at, pruned with map_filter, rewritten with transform_values
    and folded with aggregate — the full map-function surface in one
    projection. The map stays JVM-side throughout; the only shuffles are
    the two hash-aggs ((user, type) then user). The oracle flattens the
    same facts with conditional aggregation — maps are an engine
    representation, not a semantic."""
    t = load_tables(spark, sf_dir)
    # NULL event_type is excluded on BOTH sides: a map cannot hold a NULL
    # key (Spark raises NULL_MAP_KEY), so the contract drops those rows
    # explicitly rather than crashing on the first null at scale
    per = (
        t["events"]
        .filter(F.col("event_type").isNotNull())
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    m = per.groupBy("user_id").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("event_type", "c")))
        ).alias("m")
    )
    return m.select(
        "user_id",
        F.size("m").alias("n_types"),
        F.array_join(F.array_sort(F.map_keys("m")), ",").alias("types_csv"),
        F.coalesce(F.element_at("m", F.lit("click")), F.lit(0).cast("long")).alias(
            "click_count"
        ),
        F.size(F.map_filter("m", lambda k, v: v >= 2)).alias("n_types_ge2"),
        F.aggregate(
            F.map_values(F.transform_values("m", lambda k, v: v * 2)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("double_total"),
    )


@workload(
    "iqr_outlier_fences_events",
    """
    WITH ranked AS (
      -- quartiles are over observed values only (NULL is unrankable)
      SELECT event_type, value,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value NULLS FIRST) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM events WHERE value IS NOT NULL
    ),
    stats AS (
      SELECT event_type, MAX(n) AS n,
             MAX(CASE WHEN rn = CAST(CEIL(n * 0.25) AS BIGINT) THEN value END) AS q1,
             MAX(CASE WHEN rn = CAST(CEIL(n * 0.75) AS BIGINT) THEN value END) AS q3
      FROM ranked GROUP BY event_type
    ),
    fences AS (
      SELECT event_type, n, q1, q3,
             q1 - 1.5 * (q3 - q1) AS lo_fence,
             q3 + 1.5 * (q3 - q1) AS hi_fence
      FROM stats
    )
    SELECT f.event_type, CAST(f.n AS BIGINT) AS n, f.q1, f.q3,
           f.lo_fence, f.hi_fence,
           CAST(COALESCE(SUM(CASE WHEN e.value < f.lo_fence
                                    OR e.value > f.hi_fence THEN 1 END), 0)
                AS BIGINT) AS n_outliers
    FROM fences f JOIN events e ON e.event_type = f.event_type
    GROUP BY f.event_type, f.n, f.q1, f.q3, f.lo_fence, f.hi_fence
    """,
    category="statistics",
)
def iqr_outlier_fences_events(spark, sf_dir):
    """Tukey-fence outlier audit with DISCRETE (type-1) quartiles: q1/q3
    are the actual data values at sorted index ceil(p·n) — no
    interpolation, so the quartiles (and therefore the 1.5·IQR fences
    and the outlier counts) are bitwise engine-portable where
    interpolated quantiles would differ in the last ulp. Two passes over
    events: a per-type sort for the quartile ranks, then a broadcast of
    the 5-row fence table back over the scan for the counts. The
    per-type sort is the honest cost of exact quantiles at scale — for
    a sketch-based alternative see profile_approx_quantiles_orders."""
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir)
    events = t["events"]
    # quartiles over observed values only (both sides); the outlier
    # probe below still scans every row (NULL value is never an outlier)
    ranked_src = events.filter(F.col("value").isNotNull())
    wr = Window.partitionBy("event_type").orderBy("value")
    wn = Window.partitionBy("event_type")
    ranked = ranked_src.select(
        "event_type",
        "value",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    q1_rn = F.ceil(F.col("n") * F.lit(0.25))
    q3_rn = F.ceil(F.col("n") * F.lit(0.75))
    stats = ranked.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.max(F.when(F.col("rn") == q1_rn, F.col("value"))).alias("q1"),
        F.max(F.when(F.col("rn") == q3_rn, F.col("value"))).alias("q3"),
    )
    fences = stats.select(
        "event_type",
        "n",
        "q1",
        "q3",
        (F.col("q1") - F.lit(1.5) * (F.col("q3") - F.col("q1"))).alias("lo_fence"),
        (F.col("q3") + F.lit(1.5) * (F.col("q3") - F.col("q1"))).alias("hi_fence"),
    )
    return (
        events.join(F.broadcast(fences), on="event_type")
        .groupBy("event_type", "n", "q1", "q3", "lo_fence", "hi_fence")
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        (F.col("value") < F.col("lo_fence"))
                        | (F.col("value") > F.col("hi_fence")),
                        1,
                    )
                ),
                F.lit(0),
            )
            .cast("long")
            .alias("n_outliers")
        )
        .select(
            "event_type",
            F.col("n").cast("long").alias("n"),
            "q1",
            "q3",
            "lo_fence",
            "hi_fence",
            "n_outliers",
        )
    )


@workload(
    "udtf_event_runs_per_user",
    """
    WITH ordered AS (
      -- NULLS FIRST replays Spark's ASC default (DuckDB defaults to
      -- NULLS LAST): a NULL-ts event sorts BEFORE the timed stream in
      -- the UDTF's PARTITION BY ... ORDER BY, so placing it last here
      -- would stitch it onto the wrong run (fuzz8 found exactly this)
      SELECT user_id, ts, event_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts NULLS FIRST,
                                         event_id NULLS FIRST) AS rn,
             ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                ORDER BY ts NULLS FIRST,
                                         event_id NULLS FIRST) AS rnt
      FROM events WHERE user_id < 50
    )
    SELECT user_id,
           -- the UDTF reports the run's FIRST row's ts, NULL included
           -- (a run opening with a timeless row starts at NULL) — MIN
           -- would skip to the first timed row
           FIRST(ts ORDER BY rn) AS run_start, event_type AS run_type,
           CAST(COUNT(*) AS INTEGER) AS run_len
    FROM ordered
    GROUP BY user_id, event_type, rn - rnt
    """,
    category="udf",
)
def udtf_event_runs_per_user(spark, sf_dir):
    """Stateful partition-ordered UDTF (functions/udfs.py:
    event_runs_udtf): ``event_runs(TABLE(...) PARTITION BY user_id
    ORDER BY ts, event_id)`` walks each user's stream in order and
    emits consecutive same-type runs. The oracle is the pure-SQL
    gaps-and-islands equivalent (row_number difference) — also the
    recommended form at scale; the UDTF covers Spark's stateful
    table-function API. Input bounded (user_id < 50): row-at-a-time
    Python is deliberately the slow path."""
    from etl_manager_spark.functions.udfs import event_runs_udtf

    t = load_tables(spark, sf_dir)
    t["events"].filter(F.col("user_id") < 50).select(
        "user_id", "ts", "event_id", "event_type"
    ).createOrReplaceTempView("_runs_events")
    spark.udtf.register("event_runs", event_runs_udtf())
    return spark.sql(
        """
        SELECT * FROM event_runs(
          TABLE(SELECT user_id, ts, event_id, event_type
                FROM _runs_events)
          PARTITION BY user_id ORDER BY (ts, event_id)
        )
        """
    )


@workload(
    "multitouch_attribution_events",
    """
    WITH pairs AS (
      SELECT p.event_id AS purchase_id, t.event_type AS touch_type
      FROM events p
      JOIN events t
        ON t.user_id = p.user_id
       AND t.event_type IN ('view', 'click')
       AND t.ts <= p.ts
       AND t.ts > p.ts - INTERVAL 7 DAY
      WHERE p.event_type = 'purchase'
    ),
    credited AS (
      SELECT purchase_id, touch_type,
             CAST(FLOOR(1.0 / (COUNT(*) OVER (PARTITION BY purchase_id))
                        * 1000000000.0 + 0.5) AS BIGINT) AS credit_q
      FROM pairs
    )
    SELECT touch_type, CAST(COUNT(*) AS BIGINT) AS n_touches,
           CAST(SUM(credit_q) AS BIGINT) AS credit_q_total
    FROM credited GROUP BY touch_type
    """,
    category="analytics",
)
def multitouch_attribution_events(spark, sf_dir):
    """Linear multi-touch attribution: every purchase splits one unit of
    credit equally across the user's view/click touches in the 7 days
    up to (and including) the purchase instant. The per-touch share is
    nano-quantized BEFORE the integer rollup, so totals are order-free
    and engine-portable. Shape: one self-join on user_id (hash join +
    range residual — no range explosion beyond each user's 7-day touch
    density), one window on purchase_id (same shuffle key family), one
    tiny rollup on the 2-value touch_type domain."""
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir)
    e = t["events"]
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    touches = e.filter(F.col("event_type").isin("view", "click")).select(
        F.col("user_id").alias("t_user"),
        F.col("ts").alias("t_ts"),
        F.col("event_type").alias("touch_type"),
    )
    pairs = purchases.join(
        touches,
        (F.col("t_user") == F.col("p_user"))
        & (F.col("t_ts") <= F.col("p_ts"))
        & (F.col("t_ts") > F.col("p_ts") - F.expr("INTERVAL 7 DAYS")),
    )
    w = Window.partitionBy("purchase_id")
    credited = pairs.select(
        "purchase_id",
        "touch_type",
        R.quantize(F.lit(1.0) / F.count(F.lit(1)).over(w)).alias("credit_q"),
    )
    return credited.groupBy("touch_type").agg(
        F.count(F.lit(1)).alias("n_touches"),
        F.sum("credit_q").cast("long").alias("credit_q_total"),
    )


@workload(
    "char_entropy_documents",
    """
    WITH chars AS (
      SELECT doc_id AS id,
             UNNEST([text[i] for i in range(1, LEN(text) + 1)]) AS ch
      FROM documents
    ),
    counts AS (
      SELECT id, ch, COUNT(*) AS c FROM chars GROUP BY id, ch
    ),
    per_doc AS (
      SELECT id, ch, c, SUM(c) OVER (PARTITION BY id) AS total,
             COUNT(*) OVER (PARTITION BY id) AS distinct_chars
      FROM counts
    )
    SELECT id,
           CAST(MAX(total) AS BIGINT) AS n_chars,
           CAST(MAX(distinct_chars) AS INTEGER) AS distinct_chars,
           CAST(SUM(CAST(FLOOR(-(CAST(c AS DOUBLE) / CAST(total AS DOUBLE))
                   * LOG2(CAST(c AS DOUBLE) / CAST(total AS DOUBLE))
                   * 1000000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS entropy_q
    FROM per_doc GROUP BY id
    """,
    category="text",
)
def char_entropy_documents(spark, sf_dir):
    """Shannon character entropy per document — the classic
    garbled-text / compression-quality signal (low entropy = repetitive
    boilerplate, implausibly high = binary junk). Each character's
    −p·log₂p contribution is nano-quantized to int64 BEFORE the per-doc
    sum, so the total is an order-free integer aggregate and bitwise
    identical across engines and partitionings. Shape: char explode
    stays in the scan stage; one hash-agg on (doc, char) with map-side
    combine; one window + rollup on the doc id."""
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir)
    # split('') emits the character array in ONE linear pass;
    # substring(i,1) per transform(sequence(...)) index re-seeks the
    # UTF-8 string from the front each call — O(len²) per document
    # split('', '') returns [''] — an empty document must contribute NO
    # character rows (the oracle's range(1, 0+1) is empty), not one
    # phantom '' char
    chars = t["documents"].select(
        F.col("doc_id").alias("id"),
        F.explode(F.split("text", "")).alias("ch"),
    ).filter(F.col("ch") != "")
    counts = chars.groupBy("id", "ch").agg(F.count(F.lit(1)).alias("c"))
    w = Window.partitionBy("id")
    per_doc = counts.select(
        "id",
        "c",
        F.sum("c").over(w).alias("total"),
        F.count(F.lit(1)).over(w).alias("distinct_chars"),
    )
    p = F.col("c").cast("double") / F.col("total").cast("double")
    return per_doc.groupBy("id").agg(
        F.max("total").cast("long").alias("n_chars"),
        F.max("distinct_chars").cast("int").alias("distinct_chars"),
        F.sum(R.quantize(-p * F.log2(p))).cast("long").alias("entropy_q"),
    )


@workload(
    "assoc_rules_event_pairs",
    """
    WITH baskets AS (
      SELECT DISTINCT user_id, event_type FROM events
    ),
    n_users AS (SELECT COUNT(DISTINCT user_id) AS n FROM baskets),
    singles AS (
      SELECT event_type, COUNT(*) AS n_single FROM baskets GROUP BY event_type
    ),
    pairs AS (
      SELECT a.event_type AS antecedent, b.event_type AS consequent,
             COUNT(*) AS n_both
      FROM baskets a JOIN baskets b
        ON a.user_id = b.user_id AND a.event_type <> b.event_type
      GROUP BY a.event_type, b.event_type
    )
    SELECT p.antecedent, p.consequent,
           CAST(sa.n_single AS BIGINT) AS n_antecedent,
           CAST(p.n_both AS BIGINT) AS n_both,
           CAST(FLOOR(CAST(p.n_both AS DOUBLE) / CAST(sa.n_single AS DOUBLE)
                      * 1000000000.0 + 0.5) AS BIGINT) AS confidence_q,
           CAST(FLOOR(CAST(p.n_both AS DOUBLE) * CAST(u.n AS DOUBLE)
                      / (CAST(sa.n_single AS DOUBLE) * CAST(sc.n_single AS DOUBLE))
                      * 1000000000.0 + 0.5) AS BIGINT) AS lift_q
    FROM pairs p
    JOIN singles sa ON p.antecedent = sa.event_type
    JOIN singles sc ON p.consequent = sc.event_type
    CROSS JOIN n_users u
    """,
    category="analytics",
)
def assoc_rules_event_pairs(spark, sf_dir):
    """Association rules over per-user event-type baskets: for every
    ordered type pair, support counts plus nano-quantized confidence
    P(B|A) and lift — the market-basket primitive (a 2-itemset FP-growth
    pass). Shape: one distinct on (user, type) — the basket build, the
    only data-sized shuffle — then a self-join on user_id whose output
    is bounded by users × types², and a rollup to the types² result.
    The count tables are domain-sized and broadcast back for the
    ratios. Both ratio factors are exact integers rendered through the
    identical double expression in both engines."""
    t = load_tables(spark, sf_dir)
    # users×|types|-bounded basket table consumed by four branches
    # (user count, singles, both self-join sides) — one fact pass, not
    # four re-distincts of events (§8)
    baskets = (
        t["events"].select("user_id", "event_type").distinct()
        .localCheckpoint(eager=True)
    )
    n_users = baskets.agg(
        F.countDistinct("user_id").alias("_n_users")
    )
    singles = baskets.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_single")
    )
    a = baskets.select(
        F.col("user_id").alias("u"), F.col("event_type").alias("antecedent")
    )
    b = baskets.select(
        F.col("user_id").alias("u"), F.col("event_type").alias("consequent")
    )
    pairs = (
        a.join(b, on="u")
        .filter(F.col("antecedent") != F.col("consequent"))
        .groupBy("antecedent", "consequent")
        .agg(F.count(F.lit(1)).alias("n_both"))
    )
    sa = singles.select(
        F.col("event_type").alias("antecedent"),
        F.col("n_single").alias("n_antecedent"),
    )
    sc = singles.select(
        F.col("event_type").alias("consequent"),
        F.col("n_single").alias("_n_consequent"),
    )
    return (
        pairs.join(F.broadcast(sa), on="antecedent")
        .join(F.broadcast(sc), on="consequent")
        .crossJoin(F.broadcast(n_users))
        .select(
            "antecedent",
            "consequent",
            F.col("n_antecedent").cast("long").alias("n_antecedent"),
            F.col("n_both").cast("long").alias("n_both"),
            R.quantize(
                F.col("n_both").cast("double")
                / F.col("n_antecedent").cast("double")
            ).alias("confidence_q"),
            R.quantize(
                F.col("n_both").cast("double")
                * F.col("_n_users").cast("double")
                / (
                    F.col("n_antecedent").cast("double")
                    * F.col("_n_consequent").cast("double")
                )
            ).alias("lift_q"),
        )
    )


@workload(
    "sequence_pattern_events",
    """
    WITH paths AS (
      SELECT user_id,
             STRING_AGG(event_type, ',' ORDER BY ts, event_id) AS path,
             COUNT(*) AS n_events
      FROM events WHERE ts IS NOT NULL GROUP BY user_id
    )
    SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
           CAST(LEN(regexp_extract_all(path, 'view,click,purchase'))
                AS INTEGER) AS n_vcp_runs,
           regexp_matches(path, 'signup.*purchase') AS converted
    FROM paths
    """,
    category="analytics",
)
def sequence_pattern_events(spark, sf_dir):
    """Sequence-pattern mining (the MATCH_RECOGNIZE-shaped query): each
    user's ordered event-type path is rendered once as a delimited
    string — deterministic under the (ts, event_id) total order — and
    regex-matched for (a) immediate view→click→purchase runs
    (non-overlapping count) and (b) an eventual signup→…→purchase
    conversion. One shuffle on user_id (sorted collect), then
    scan-local regex — no self-joins, no per-step passes; pattern
    complexity changes the regex, not the plan. Per-user state is the
    path string (bounded by per-user event count; cap with a slice for
    adversarial users)."""
    t = load_tables(spark, sf_dir)
    # no event time -> no position in the path (both sides)
    paths = (
        t["events"]
        .filter(F.col("ts").isNotNull())
        .select(
            "user_id",
            F.struct("ts", "event_id", "event_type").alias("e"),
        )
        .groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list("e")), lambda x: x["event_type"]
                ),
                ",",
            ).alias("path"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    return paths.select(
        "user_id",
        F.col("n_events").cast("long").alias("n_events"),
        F.regexp_count(F.col("path"), F.lit("view,click,purchase"))
        .cast("int")
        .alias("n_vcp_runs"),
        F.col("path").rlike("signup.*purchase").alias("converted"),
    )


@workload(
    "calendar_functions_events",
    """
    SELECT event_id,
           CAST(EXTRACT(isoyear FROM ts) AS INTEGER) AS iso_year,
           CAST(EXTRACT(week FROM ts) AS INTEGER) AS iso_week,
           CAST(EXTRACT(isodow FROM ts) AS INTEGER) AS iso_dow,
           CAST(EXTRACT(quarter FROM ts) AS INTEGER) AS qtr,
           CAST(EXTRACT(doy FROM ts) AS INTEGER) AS day_of_year,
           CAST(DATE_TRUNC('quarter', ts) AS DATE) AS quarter_start,
           LAST_DAY(CAST(ts AS DATE)) AS month_end
    FROM events WHERE user_id < 5
    """,
    category="scalar",
)
def calendar_functions_events(spark, sf_dir):
    """Calendar-semantics parity: the extract fields whose conventions
    differ across engines — ISO week-numbering year and week (week 1 =
    the week holding the first Thursday; Jan 1 can belong to the PRIOR
    iso-year), ISO day-of-week (1=Monday..7=Sunday — Spark's default
    dayofweek is 1=Sunday, so the ISO variant is the portable one),
    quarter, day-of-year, quarter start, and month end. Scan-local
    projections; the value of the workload is pinning that both engines
    agree on the edge dates (year boundaries, leap days)."""
    t = load_tables(spark, sf_dir)
    return t["events"].filter(F.col("user_id") < 5).select(
        "event_id",
        F.expr("extract(YEAROFWEEK FROM ts)").cast("int").alias("iso_year"),
        F.weekofyear("ts").cast("int").alias("iso_week"),
        F.expr("extract(DAYOFWEEK_ISO FROM ts)").cast("int").alias("iso_dow"),
        F.quarter("ts").cast("int").alias("qtr"),
        F.dayofyear("ts").cast("int").alias("day_of_year"),
        F.date_trunc("quarter", "ts").cast("date").alias("quarter_start"),
        F.last_day("ts").alias("month_end"),
    )


@workload(
    "sessionized_funnel_events",
    """
    WITH ordered AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN EPOCH_US(ts) - LAG(EPOCH_US(ts))
                    OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST)
                  IS NULL
                  OR EPOCH_US(ts) - LAG(EPOCH_US(ts))
                    OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST)
                     > 1800000000
             THEN 1 ELSE 0 END AS new_session
      FROM events WHERE ts IS NOT NULL
    ),
    sess AS (
      SELECT user_id, ts, event_type,
             SUM(new_session) OVER (PARTITION BY user_id
                                    ORDER BY ts NULLS FIRST, event_id NULLS FIRST) AS session_id
      FROM ordered
    ),
    s1 AS (SELECT user_id, session_id, MIN(ts) AS t FROM sess
           WHERE event_type = 'view' GROUP BY user_id, session_id),
    s2 AS (SELECT e.user_id, e.session_id, MIN(e.ts) AS t FROM sess e
           JOIN s1 ON e.user_id = s1.user_id
                  AND e.session_id = s1.session_id
           WHERE e.event_type = 'click' AND e.ts > s1.t
           GROUP BY e.user_id, e.session_id),
    s3 AS (SELECT e.user_id, e.session_id, MIN(e.ts) AS t FROM sess e
           JOIN s2 ON e.user_id = s2.user_id
                  AND e.session_id = s2.session_id
           WHERE e.event_type = 'purchase' AND e.ts > s2.t
           GROUP BY e.user_id, e.session_id)
    SELECT CAST(1 AS INTEGER) AS step, 'view' AS step_name,
           COUNT(*) AS n_sessions FROM s1
    UNION ALL
    SELECT CAST(2 AS INTEGER), 'click', COUNT(*) FROM s2
    UNION ALL
    SELECT CAST(3 AS INTEGER), 'purchase', COUNT(*) FROM s3
    """,
    category="events",
)
def sessionized_funnel_events(spark, sf_dir):
    """Within-session funnel: view→click→purchase must complete inside
    ONE 30-minute-inactivity session — the composite of sessionization
    (gap flag + running sum, one user_id shuffle) and the
    single-shuffle funnel walk, keyed on (user, session) instead of
    user. Steps in different sessions do NOT chain: the conversion
    credit resets at every session boundary, which is the standard
    product-analytics definition. Both shuffles key on user_id first,
    so a user-bucketed source runs the whole query with one exchange."""
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = us - F.lag(us).over(w)
    # no event time -> no place in the session timeline (both sides)
    sess = t["events"].filter(F.col("ts").isNotNull()).select(
        "user_id",
        "ts",
        "event_type",
        F.sum(
            F.when(gap.isNull() | (gap > 1800000000), 1).otherwise(0)
        ).over(w).alias("session_id"),
    )
    keyed = sess.select(
        F.concat_ws("#", "user_id", "session_id").alias("usid"),
        "ts",
        "event_type",
    )
    return B.funnel(keyed, _FUNNEL_STEPS, id_col="usid").withColumnRenamed(
        "n_users", "n_sessions"
    )


@workload(
    "rolling_7d_active_users",
    """
    WITH daily AS (
      SELECT DISTINCT CAST(DATE_TRUNC('day', ts) AS DATE) AS d, user_id
      FROM events
    ),
    days AS (SELECT DISTINCT d FROM daily)
    SELECT g.d AS day,
           CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS active_users_7d
    FROM days g JOIN daily a
      ON a.d BETWEEN g.d - INTERVAL 6 DAY AND g.d
    GROUP BY g.d
    """,
    category="events",
)
def rolling_7d_active_users(spark, sf_dir):
    """Rolling 7-day active users — the canonical engagement metric that
    a naive window can't express (COUNT(DISTINCT) OVER RANGE is
    unsupported, and per-day HLL merges are approximate). Exact shape:
    dedup events to (day, user) pairs FIRST (one hash-agg — the only
    data-sized shuffle; at 100 TB this is days × active-users rows, a
    tiny fraction of events), then each pair fans out to the ≤7 grid
    days it covers via the broadcast day-grid range join, and a
    distinct-count per grid day finishes. Fan-out is bounded by the
    window length, never by data volume."""
    t = load_tables(spark, sf_dir)
    daily = (
        t["events"]
        .select(
            F.date_trunc("day", "ts").cast("date").alias("d"),
            "user_id",
        )
        .distinct()
        # days×active-users-bounded proxy consumed by the day grid AND
        # the range join — one fact pass, not two (§8)
        .localCheckpoint(eager=True)
    )
    days = daily.select("d").distinct().select(F.col("d").alias("day"))
    return (
        daily.join(
            F.broadcast(days),
            (F.col("d") <= F.col("day"))
            & (F.col("d") >= F.date_sub(F.col("day"), 6)),
        )
        .groupBy("day")
        .agg(F.countDistinct("user_id").alias("active_users_7d"))
    )


@workload(
    "churn_labels_events",
    """
    WITH cutoff AS (
      SELECT DATE_TRUNC('day', MAX(ts)) - INTERVAL 7 DAY AS c FROM events
    ),
    w1 AS (
      SELECT user_id,
             COUNT(DISTINCT DATE_TRUNC('day', ts)) AS active_days_w1
      FROM events, cutoff WHERE ts < c GROUP BY user_id
    ),
    w2 AS (
      SELECT user_id,
             COUNT(DISTINCT DATE_TRUNC('day', ts)) AS active_days_w2
      FROM events, cutoff WHERE ts >= c GROUP BY user_id
    )
    SELECT w1.user_id,
           CAST(w1.active_days_w1 AS INTEGER) AS active_days_w1,
           CAST(COALESCE(w2.active_days_w2, 0) AS INTEGER) AS active_days_w2,
           w2.user_id IS NULL AS churned
    FROM w1 LEFT JOIN w2 ON w1.user_id = w2.user_id
    """,
    category="analytics",
)
def churn_labels_events(spark, sf_dir):
    """Label engineering for churn modeling: users active before the
    cutoff (max event day − 7) labeled by whether they disappear in the
    final week — the canonical supervised-training label builder. The
    cutoff is derived from the data (1-row aggregate broadcast back),
    so the query is scale- and refresh-stable; two partial-agg passes
    on user_id plus a same-key left join (one exchange on a
    user-bucketed source)."""
    t = load_tables(spark, sf_dir)
    events = t["events"]
    cutoff = events.agg(
        F.date_sub(F.date_trunc("day", F.max("ts")), 7).alias("_c")
    )
    with_c = events.crossJoin(F.broadcast(cutoff))
    # §8: ONE conditional-count pass replaces the two per-window
    # aggregates + left join (4 fact scans → 2: cutoff, counts). The
    # join semantics survive exactly: a user entered w1 iff they had an
    # event with ts < cutoff, and such a user always has ≥1 distinct
    # non-NULL day, so `active_days_w1 >= 1` IS the old w1 membership;
    # likewise `_w2 = 0` ⟺ the old left join found no w2 row (churned).
    both = with_c.groupBy("user_id").agg(
        F.count_distinct(
            F.when(F.col("ts") < F.col("_c"), F.date_trunc("day", "ts"))
        ).alias("active_days_w1"),
        F.count_distinct(
            F.when(F.col("ts") >= F.col("_c"), F.date_trunc("day", "ts"))
        ).alias("_w2"),
    )
    # ... with ONE carve-out the fused pass must reproduce by hand: the
    # oracle's `w1 LEFT JOIN w2 ON w1.user_id = w2.user_id` never matches
    # a NULL key (NULL = NULL is UNKNOWN), so the NULL-user w1 row always
    # reads (active_days_w2 = 0, churned = TRUE) even when NULL-user w2
    # events exist — the groupBy, which unifies NULLs, must not count them.
    w2 = F.when(F.col("user_id").isNull(), F.lit(0)).otherwise(F.col("_w2"))
    return both.filter(F.col("active_days_w1") >= 1).select(
        "user_id",
        F.col("active_days_w1").cast("int").alias("active_days_w1"),
        w2.cast("int").alias("active_days_w2"),
        (w2 == 0).alias("churned"),
    )


@workload(
    "negative_sampling_documents",
    """
    WITH q AS (SELECT DISTINCT doc_id AS qid, source AS qsource
               FROM documents WHERE doc_id < 20),
    cand AS (
      -- DISTINCT + a source tiebreak: duplicate doc ids (possibly with
      -- different sources) must yield one deterministic candidate row
      -- per (query, id, source), never a hash tie broken arbitrarily
      SELECT DISTINCT q.qid, d.doc_id AS neg_doc_id, d.source AS neg_source
      FROM q JOIN documents d
        ON d.doc_id <> q.qid AND d.source <> q.qsource
    ),
    ranked AS (
      SELECT qid, neg_doc_id, neg_source,
             ROW_NUMBER() OVER (
               PARTITION BY qid
               ORDER BY MD5(CAST(qid AS VARCHAR) || '#' ||
                            CAST(neg_doc_id AS VARCHAR)) ASC NULLS FIRST,
                        neg_doc_id ASC NULLS FIRST, neg_source ASC NULLS FIRST) AS neg_rank
      FROM cand
    )
    SELECT qid AS query_doc_id, CAST(neg_rank AS INTEGER) AS neg_rank,
           neg_doc_id, neg_source
    FROM ranked WHERE neg_rank <= 5
    """,
    category="analytics",
)
def negative_sampling_documents(spark, sf_dir):
    """Deterministic negative sampling for contrastive retrieval
    training: each query document draws 5 pseudo-random negatives from
    OTHER sources (the standard in-batch-negative exclusion) ranked by
    md5(query#candidate) — a pure function of the pair, so the sample
    reproduces under any partitioning, any engine, and incremental
    reruns. Shape: the query set broadcasts; the corpus is scanned once
    and only (queries × corpus) hash ranks flow into the per-query
    top-k window."""
    t = load_tables(spark, sf_dir)
    docs = t["documents"]
    q = docs.filter(F.col("doc_id") < 20).select(
        F.col("doc_id").alias("qid"), F.col("source").alias("qsource")
    )
    from pyspark.sql import Window

    ranked = (
        F.broadcast(q.distinct())
        .join(
            docs.select(
                F.col("doc_id").alias("neg_doc_id"),
                F.col("source").alias("neg_source"),
            ),
            (F.col("neg_doc_id") != F.col("qid"))
            & (F.col("neg_source") != F.col("qsource")),
        )
        .select("qid", "neg_doc_id", "neg_source")
        .distinct()
        .withColumn(
            "_h",
            F.md5(
                F.concat_ws(
                    "#",
                    F.col("qid").cast("string"),
                    F.col("neg_doc_id").cast("string"),
                )
            ),
        )
    )
    w = Window.partitionBy("qid").orderBy(
        F.col("_h").asc(), F.col("neg_doc_id").asc(), F.col("neg_source").asc()
    )
    return (
        ranked.withColumn("neg_rank", F.row_number().over(w))
        .filter(F.col("neg_rank") <= 5)
        .select(
            F.col("qid").alias("query_doc_id"),
            F.col("neg_rank").cast("int").alias("neg_rank"),
            "neg_doc_id",
            "neg_source",
        )
    )


@workload(
    "acf_lag_events_value",
    """
    WITH lagged AS (
      -- order pinned to Spark's ASC (NULLS FIRST); the value itself is
      -- the final tie-break so duplicate (ts, event_id) rows — which DO
      -- occur in hostile data — pair identically on both engines
      -- (remaining ties are equal-value rows, interchangeable in every
      -- pairing product)
      SELECT event_type,
             CAST(value AS DECIMAL(18,2)) AS a,
             LAG(CAST(value AS DECIMAL(18,2)), 1) OVER (
               PARTITION BY event_type
               ORDER BY ts ASC NULLS FIRST, event_id ASC NULLS FIRST,
                        CAST(value AS DECIMAL(18,2)) ASC NULLS FIRST) AS b
      FROM events
    ),
    m AS (
      SELECT event_type,
             COUNT(*) AS n,
             CAST(SUM(a) AS DOUBLE) AS sa,
             CAST(SUM(b) AS DOUBLE) AS sb,
             CAST(SUM(a * b) AS DOUBLE) AS sab,
             CAST(SUM(a * a) AS DOUBLE) AS saa,
             CAST(SUM(b * b) AS DOUBLE) AS sbb
      FROM lagged WHERE b IS NOT NULL
      GROUP BY event_type
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_pairs,
           CAST(FLOOR((n * sab - sa * sb)
                      / SQRT((n * saa - sa * sa) * (n * sbb - sb * sb))
                      * 1000000000.0 + 0.5) AS BIGINT) AS acf1_q
    FROM m
    WHERE n > 1 AND (n * saa - sa * sa) * (n * sbb - sb * sb) > 0
    """,
    category="timeseries",
)
def acf_lag_events_value(spark, sf_dir):
    """Lag-1 autocorrelation of `value` per event_type — the
    time-series diagnostic (is the metric mean-reverting / trending /
    white noise?) behind seasonality detection and anomaly baselines.
    Pairs come from one LAG window ordered (ts, event_id) — unique tie
    break, so the pairing is total-order deterministic — and all six
    moments (n, Σa, Σb, Σab, Σa², Σb²) are decimal-exact sums, so the
    Pearson ratio is one fixed IEEE expression per group, bitwise equal
    on both engines. Shape: one shuffle on event_type for the window,
    then the moments fold map-side into 5 rows; the window state is a
    single previous row, so memory is O(1) per partition at any scale."""
    from pyspark.sql import Window

    from etl_manager_spark.functions.exact import dec
    from etl_manager_spark.operators.ranking import quantize

    t = load_tables(spark, sf_dir)
    # value as final tie-break: duplicate (ts, event_id) rows must pair
    # identically on both engines (asc = NULLS FIRST, matching the
    # oracle's pinned NULLS FIRST)
    w = Window.partitionBy("event_type").orderBy(
        F.col("ts").asc(), F.col("event_id").asc(), dec("value").asc()
    )
    lagged = t["events"].select(
        "event_type",
        dec("value").alias("a"),
        F.lag(dec("value"), 1).over(w).alias("b"),
    ).filter(F.col("b").isNotNull())
    m = lagged.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("a").cast("double").alias("sa"),
        F.sum("b").cast("double").alias("sb"),
        F.sum(F.col("a") * F.col("b")).cast("double").alias("sab"),
        F.sum(F.col("a") * F.col("a")).cast("double").alias("saa"),
        F.sum(F.col("b") * F.col("b")).cast("double").alias("sbb"),
    )
    n, sa, sb = F.col("n"), F.col("sa"), F.col("sb")
    sab, saa, sbb = F.col("sab"), F.col("saa"), F.col("sbb")
    varprod = (n * saa - sa * sa) * (n * sbb - sb * sb)
    return (
        m.filter((n > 1) & (varprod > 0))
        .select(
            "event_type",
            n.cast("long").alias("n_pairs"),
            quantize((n * sab - sa * sb) / F.sqrt(varprod)).alias("acf1_q"),
        )
    )


# Shared BM25 + TF-IDF top-100 rank-list CTE chain (ends in btop/ttop) —
# used by the RRF fusion workload and the RBO overlap evaluation.
_RANK_LISTS_CTES = rf"""lens AS (
      SELECT doc_id AS id,
             LEN(LIST_FILTER({_TOK}, x -> x <> '')) AS dl
      FROM documents
    ),
    stats AS (SELECT AVG(CAST(dl AS DOUBLE)) AS avgdl FROM lens),
    n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents),
    tf AS (
      SELECT id, term, COUNT(*) AS tf
      FROM (SELECT doc_id AS id, UNNEST({_TOK}) AS term FROM documents)
      WHERE term IN ('join', 'scan', 'sort', 'window') GROUP BY id, term
    ),
    dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY term),
    per_term AS (
      SELECT tf.id, tf.term,
             LN(1.0 + (CAST(n.n AS DOUBLE) - dfreq.df + 0.5) / (dfreq.df + 0.5))
               * (tf.tf * 2.2)
               / (tf.tf + 1.2 * (0.25 + 0.75 * CAST(lens.dl AS DOUBLE) / stats.avgdl))
               AS contrib
      FROM tf JOIN dfreq ON tf.term = dfreq.term
      JOIN lens ON lens.id = tf.id
      CROSS JOIN stats CROSS JOIN n
    ),
    bpiv AS (
      SELECT id,
             MAX(CASE WHEN term = 'join' THEN contrib END) AS c0,
             MAX(CASE WHEN term = 'scan' THEN contrib END) AS c1,
             MAX(CASE WHEN term = 'sort' THEN contrib END) AS c2,
             MAX(CASE WHEN term = 'window' THEN contrib END) AS c3
      FROM per_term GROUP BY id
    ),
    bscore AS (
      SELECT id, CAST(FLOOR((COALESCE(c0, 0.0) + COALESCE(c1, 0.0)
                             + COALESCE(c2, 0.0) + COALESCE(c3, 0.0))
                            * 1000000000.0 + 0.5) AS BIGINT) AS s
      FROM bpiv
    ),
    btop AS (
      SELECT id, ROW_NUMBER() OVER (ORDER BY s DESC NULLS LAST, id ASC NULLS FIRST) AS r
      FROM bscore QUALIFY r <= 100
    ),
    tcontrib AS (
      SELECT tf.id, tf.term,
             CAST(tf.tf AS DOUBLE) * LN(CAST(n.n AS DOUBLE) / dfreq.df)
               AS contrib
      FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN n
    ),
    tpiv AS (
      SELECT id,
             MAX(CASE WHEN term = 'join' THEN contrib END) AS c0,
             MAX(CASE WHEN term = 'scan' THEN contrib END) AS c1,
             MAX(CASE WHEN term = 'sort' THEN contrib END) AS c2,
             MAX(CASE WHEN term = 'window' THEN contrib END) AS c3
      FROM tcontrib GROUP BY id
    ),
    tscore AS (
      SELECT id, CAST(FLOOR((COALESCE(c0, 0.0) + COALESCE(c1, 0.0)
                             + COALESCE(c2, 0.0) + COALESCE(c3, 0.0))
                            * 1000000000.0 + 0.5) AS BIGINT) AS s
      FROM tpiv
    ),
    ttop AS (
      SELECT id, ROW_NUMBER() OVER (ORDER BY s DESC NULLS LAST, id ASC NULLS FIRST) AS r
      FROM tscore QUALIFY r <= 100
    )"""


@workload(
    "rrf_fuse_bm25_tfidf_documents",
    f"""
    WITH {_RANK_LISTS_CTES},
    fused AS (
      SELECT COALESCE(b.id, t.id) AS doc_id, b.r AS br, t.r AS tr,
             (0.0 + COALESCE(1.0 / (60 + b.r), 0.0)
                  + COALESCE(1.0 / (60 + t.r), 0.0)) AS rrf
      FROM btop b FULL OUTER JOIN ttop t ON b.id = t.id
    )
    SELECT doc_id, CAST(br AS INTEGER) AS bm25_rank,
           CAST(tr AS INTEGER) AS tfidf_rank,
           CAST(FLOOR(rrf * 1000000000.0 + 0.5) AS BIGINT) AS rrf_q
    FROM fused
    ORDER BY rrf_q DESC, doc_id ASC LIMIT 20
    """,
    category="text",
)
def rrf_fuse_bm25_tfidf_documents(spark, sf_dir):
    """Reciprocal-rank fusion (operators/ranking.py rrf_fuse) of the
    BM25 and TF-IDF top-100 lists for the same 4-term query — the
    standard hybrid-retrieval merge (k0=60) that needs no score
    calibration between the two scorers. Both lists rank by their
    nano-quantized scores with id tie-break, so ranks — and therefore
    every 1/(60+r) term — are integer-deterministic across engines;
    the fused score is two exact reciprocals added in list order.
    Shape: both scorers share one tf table (term-filtered explode +
    hash agg); the rank windows run over the 100-row capped lists, not
    the corpus; the fusion join is 100×100 ids."""
    from etl_manager_spark.operators import ranking as R

    t = load_tables(spark, sf_dir)
    docs = t["documents"]
    qterms = sorted(set(_BM25_TERMS))
    # round 10: the BM25 scorer shares this tf table (one tokenize pass
    # for both scorers — eagerly checkpointed, so the explode+agg runs
    # once, not once per ranker) and the distinct-doc count rides
    # in-plan as a broadcast scalar instead of an eager driver count
    tf = R.term_frequencies(docs).filter(
        F.col("term").isin(qterms)
    ).localCheckpoint(eager=True)
    bm = R.bm25_scores(docs, _BM25_TERMS, top=100, tf=tf)
    dfreq = R.document_frequencies(tf)
    ndocs = (
        docs.select(F.col("doc_id").alias("id"))
        .distinct()
        .agg(F.count(F.lit(1)).cast("long").alias("_ndocs"))
    )
    from etl_manager_spark.operators.ranking import _attach_scalar

    per = _attach_scalar(
        tf.join(F.broadcast(dfreq), on="term"), ndocs
    ).withColumn(
        "contrib",
        F.col("tf").cast("double")
        * F.log(F.col("_ndocs").cast("double") / F.col("df")),
    )
    piv = per.groupBy("id").agg(
        *[
            F.max(F.when(F.col("term") == q, F.col("contrib"))).alias(
                f"_c{i}"
            )
            for i, q in enumerate(qterms)
        ]
    )
    score = F.lit(0.0)
    for i in range(len(qterms)):
        score = score + F.coalesce(F.col(f"_c{i}"), F.lit(0.0))
    from etl_manager_spark.operators.ranking import quantize

    ti = (
        piv.select("id", quantize(score).alias("score_q"))
        .orderBy(F.desc("score_q"), F.asc("id"))
        .limit(100)
    )
    fused = R.rrf_fuse([bm, ti], top=20)
    return fused.select(
        F.col("id").alias("doc_id"),
        F.col("rank_0").alias("bm25_rank"),
        F.col("rank_1").alias("tfidf_rank"),
        "rrf_q",
    )


@workload(
    "temporal_split_events",
    """
    WITH ev AS (
      SELECT CAST(DATE_TRUNC('day', ts) AS DATE) AS day, user_id
      FROM events
    ),
    b AS (
      SELECT MIN(day) AS mind,
             DATE_DIFF('day', MIN(day), MAX(day)) AS span
      FROM ev
    ),
    bb AS (
      SELECT mind + CAST((span * 7) // 10 AS INTEGER) AS t1,
             mind + CAST((span * 17) // 20 AS INTEGER) AS t2
      FROM b
    ),
    lab AS (
      SELECT CASE WHEN day < t1 THEN 'train'
                  WHEN day < t2 THEN 'val'
                  ELSE 'test' END AS split,
             user_id, day
      FROM ev CROSS JOIN bb
    )
    SELECT split, CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           MIN(day) AS first_day, MAX(day) AS last_day
    FROM lab GROUP BY split
    """,
    category="etl",
)
def temporal_split_events(spark, sf_dir):
    """Leakage-safe TEMPORAL train/val/test split: boundaries at 70% /
    85% of the observed day span, so validation and test are strictly
    in the future of training — the split hash-based splitting gets
    wrong for forecasting/churn models (random splits leak future
    events into train). All arithmetic is integer days ((span·7) DIV
    10), so boundaries are engine-exact; the bounds row is a 1-row
    aggregate broadcast back (same pattern as churn_labels), making the
    split refresh-stable: re-running on a grown corpus moves the
    boundaries deterministically with max(ts)."""
    t = load_tables(spark, sf_dir)
    ev = t["events"].select(
        F.to_date(F.date_trunc("day", "ts")).alias("day"), "user_id"
    )
    b = ev.agg(
        F.min("day").alias("_mind"),
        F.datediff(F.max("day"), F.min("day")).alias("_span"),
    ).select(
        F.date_add(
            "_mind", F.expr("CAST((_span * 7) DIV 10 AS INT)")
        ).alias("_t1"),
        F.date_add(
            "_mind", F.expr("CAST((_span * 17) DIV 20 AS INT)")
        ).alias("_t2"),
    )
    lab = ev.crossJoin(F.broadcast(b)).withColumn(
        "split",
        F.when(F.col("day") < F.col("_t1"), "train")
        .when(F.col("day") < F.col("_t2"), "val")
        .otherwise("test"),
    )
    return lab.groupBy("split").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.min("day").alias("first_day"),
        F.max("day").alias("last_day"),
    )


@workload(
    "pmi_collocations_documents",
    rf"""
    WITH toks AS (
      SELECT LIST_FILTER({_TOK}, x -> x <> '') AS tk FROM documents
    ),
    uni AS (
      SELECT t AS w, COUNT(*) AS c
      FROM (SELECT UNNEST(tk) AS t FROM toks) GROUP BY t
    ),
    tot AS (SELECT SUM(c) AS t_total FROM uni),
    pairs AS (
      SELECT UNNEST([tk[i] || ' ' || tk[i + 1]
                     for i in range(1, LEN(tk))]) AS p
      FROM toks
    ),
    big AS (
      SELECT SPLIT_PART(p, ' ', 1) AS w1, SPLIT_PART(p, ' ', 2) AS w2,
             COUNT(*) AS cab
      FROM pairs GROUP BY 1, 2
    ),
    btot AS (SELECT SUM(cab) AS b_total FROM big),
    scored AS (
      SELECT w1, w2, cab,
             LN((CAST(cab AS DOUBLE) * t_total * t_total)
                / (CAST(b_total AS DOUBLE) * a.c * b.c)) AS pmi
      FROM big JOIN uni a ON big.w1 = a.w
      JOIN uni b ON big.w2 = b.w
      CROSS JOIN tot CROSS JOIN btot
      WHERE cab >= 5
    )
    SELECT w1, w2, CAST(cab AS BIGINT) AS pair_count,
           CAST(FLOOR(pmi * 1000000000.0 + 0.5) AS BIGINT) AS pmi_q
    FROM scored ORDER BY pmi_q DESC, w1 ASC, w2 ASC LIMIT 20
    """,
    category="text",
)
def pmi_collocations_documents(spark, sf_dir):
    """Pointwise-mutual-information collocation mining: the top
    corpus bigrams by ``ln(P(a,b) / (P(a)·P(b)))`` with a min-count
    gate — the classic phrase/compound detector (word2vec's phrase
    pass, quality-signal n-grams). Count tables are vocabulary-bounded
    hash aggregates; unigram counts broadcast onto the bigram table
    (two broadcast probes, no pair-stream shuffle beyond the count
    agg); totals attach as 1-row broadcast scalars. The PMI ratio is
    one fixed double expression — (cab·T·T)/(B·ca·cb) left-to-right —
    so both engines emit bitwise-equal scores. Top-20 is a TakeOrdered
    heap on the quantized score with (w1, w2) tie-break."""
    from etl_manager_spark.operators.ranking import quantize, tokens

    t = load_tables(spark, sf_dir)
    tk = F.filter(tokens("text"), lambda x: x != "")
    docs2 = spread(t["documents"], spark).select(tk.alias("tk"))
    # vocabulary-bounded count table consumed by three branches (total,
    # both unigram probes) — one tokenize pass, not three (§8)
    uni = (
        docs2.select(F.explode("tk").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )
    tot = uni.agg(F.sum("c").alias("_t"))
    pair_structs = F.when(
        F.size("tk") > 1,
        F.transform(
            F.sequence(F.lit(1), F.size("tk") - 1),
            lambda i: F.struct(
                F.element_at(F.col("tk"), i).alias("w1"),
                F.element_at(F.col("tk"), i + F.lit(1)).alias("w2"),
            ),
        ),
    ).otherwise(F.array())
    # bigram-vocabulary-bounded table consumed by the total AND the
    # scored probe — one pair-explode pass, not two (§8)
    big = (
        docs2.select(F.explode(pair_structs).alias("pr"))
        .select(F.col("pr.w1").alias("w1"), F.col("pr.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("cab"))
        .localCheckpoint(eager=True)
    )
    # B is the UNFILTERED bigram total (P(a,b) denominators are corpus
    # probabilities); the min-count gate only prunes which pairs score
    btot = big.agg(F.sum("cab").alias("_b"))
    ua = F.broadcast(uni.select(F.col("w").alias("w1"), F.col("c").alias("_ca")))
    ub = F.broadcast(uni.select(F.col("w").alias("w2"), F.col("c").alias("_cb")))
    scored = (
        big.filter(F.col("cab") >= 5)
        .join(ua, on="w1")
        .join(ub, on="w2")
        .crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(btot))
        .withColumn(
            "pmi",
            F.log(
                (F.col("cab").cast("double") * F.col("_t") * F.col("_t"))
                / (F.col("_b").cast("double") * F.col("_ca") * F.col("_cb"))
            ),
        )
    )
    return (
        scored.select(
            "w1",
            "w2",
            F.col("cab").alias("pair_count"),
            quantize(F.col("pmi")).alias("pmi_q"),
        )
        .orderBy(F.desc("pmi_q"), F.asc("w1"), F.asc("w2"))
        .limit(20)
    )


@workload(
    "cusum_changepoint_events",
    """
    WITH ts_events AS (
      -- ts IS NOT NULL: a day-indexed series has no slot for rows with
      -- no event time (the ewma/holt exclusion rule); leaving them in
      -- put the NULL day FIRST in Spark's cumulative order but LAST in
      -- DuckDB's, shifting the whole CUSUM trajectory
      SELECT * FROM events WHERE ts IS NOT NULL
    ),
    daily AS (
      SELECT event_type, CAST(DATE_TRUNC('day', ts) AS DATE) AS day,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
               AS mean_day
      FROM ts_events GROUP BY event_type, day
    ),
    mu AS (
      SELECT event_type,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
               AS mu
      FROM ts_events GROUP BY event_type
    ),
    dev AS (
      SELECT d.event_type, d.day,
             CAST(FLOOR((d.mean_day - m.mu) * 1000000000.0 + 0.5)
                  AS BIGINT) AS dev_q
      FROM daily d JOIN mu m ON d.event_type = m.event_type
    ),
    cs AS (
      SELECT event_type, day,
             SUM(dev_q) OVER (
               PARTITION BY event_type ORDER BY day NULLS FIRST
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cusum_q
      FROM dev
    ),
    r AS (
      SELECT event_type, day, cusum_q,
             ROW_NUMBER() OVER (
               PARTITION BY event_type
               ORDER BY ABS(cusum_q) DESC NULLS LAST, day ASC NULLS FIRST) AS rn
      FROM cs
    )
    SELECT event_type, day AS change_day,
           CAST(cusum_q AS BIGINT) AS cusum_q
    FROM r WHERE rn = 1
    """,
    category="timeseries",
)
def cusum_changepoint_events(spark, sf_dir):
    """CUSUM change-point detection per event_type: cumulative sum of
    (daily mean − series mean) peaks at the most likely level-shift
    day — the classic drift detector for metric monitoring. Float
    discipline: daily and global means are decimal-exact-sum / count;
    each day's deviation is nano-quantized BEFORE the cumulative sum,
    so the running CUSUM is integer arithmetic — immune to the
    engines' different windowed-sum trees (DuckDB's segment tree vs
    Spark's sequential accumulator would diverge on raw doubles).
    Shape: two partial-agg passes over events, then windows over the
    days-per-type table (tiny); the argmax is a rank window with
    (|cusum|, day) tie-break."""
    from pyspark.sql import Window

    from etl_manager_spark.functions.exact import dec_sum
    from etl_manager_spark.operators.ranking import quantize

    t = load_tables(spark, sf_dir)
    # ts IS NOT NULL mirrors the oracle: no-event-time rows have no day
    # slot in the series (and NULL-day ordering differs across engines)
    ev = t["events"].filter(F.col("ts").isNotNull()).select(
        "event_type",
        F.to_date(F.date_trunc("day", "ts")).alias("day"),
        "value",
    )
    daily = ev.groupBy("event_type", "day").agg(
        (dec_sum("value") / F.count(F.lit(1))).alias("mean_day")
    )
    mu = ev.groupBy("event_type").agg(
        (dec_sum("value") / F.count(F.lit(1))).alias("mu")
    )
    dev = daily.join(F.broadcast(mu), on="event_type").select(
        "event_type",
        "day",
        quantize(F.col("mean_day") - F.col("mu")).alias("dev_q"),
    )
    cw = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cs = dev.select(
        "event_type", "day", F.sum("dev_q").over(cw).alias("cusum_q")
    )
    rw = Window.partitionBy("event_type").orderBy(
        F.abs(F.col("cusum_q")).desc(), F.col("day").asc()
    )
    return (
        cs.withColumn("rn", F.row_number().over(rw))
        .filter(F.col("rn") == 1)
        .select("event_type", F.col("day").alias("change_day"), "cusum_q")
    )


@workload(
    "holt_linear_events",
    """
    WITH RECURSIVE numbered AS (
      -- same missing-sample / no-event-time exclusions as ewma
      SELECT user_id, event_id, CAST(value AS DOUBLE) AS v,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts NULLS FIRST, event_id NULLS FIRST) AS rn
      FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
    ),
    fold AS (
      SELECT user_id, event_id, rn, v AS l, CAST(0.0 AS DOUBLE) AS b
      FROM numbered WHERE rn = 1
      UNION ALL
      SELECT n.user_id, n.event_id, n.rn,
             0.5 * n.v + 0.5 * (f.l + f.b),
             0.5 * ((0.5 * n.v + 0.5 * (f.l + f.b)) - f.l) + 0.5 * f.b
      FROM numbered n JOIN fold f
        ON n.user_id IS NOT DISTINCT FROM f.user_id AND n.rn = f.rn + 1
    )
    SELECT user_id, event_id,
           CAST(FLOOR(l * 1000000000.0 + 0.5) AS BIGINT) AS level_q,
           CAST(FLOOR(b * 1000000000.0 + 0.5) AS BIGINT) AS trend_q
    FROM fold
    """,
    category="timeseries",
)
def holt_linear_events(spark, sf_dir):
    """Holt linear (level+trend) smoothing per user in event-time order
    (operators/timeseries.py: holt_per_key) — the double-exponential
    forecaster next to the EWMA baseline; the trend term catches users
    whose engagement is accelerating, which a flat EWMA lags. α = β = ½
    makes every product an exponent shift, and the oracle replays the
    literal recurrence (the new level re-derived inline for the trend
    update) as a recursive CTE stepping one event per user per round —
    bitwise-identical doubles, nano-quantized. Shape: one shuffle on
    user_id, sorted-stream Arrow fold with two doubles of state."""
    from etl_manager_spark.operators.timeseries import holt_per_key

    t = load_tables(spark, sf_dir)
    return holt_per_key(t["events"])


@workload(
    "heavy_hitter_tokens_documents",
    rf"""
    WITH t2 AS (
      SELECT tok FROM (SELECT UNNEST({_TOK}) AS tok FROM documents)
      WHERE tok <> ''
    ),
    total AS (SELECT COUNT(*) AS n FROM t2),
    counts AS (SELECT tok, COUNT(*) AS cnt FROM t2 GROUP BY tok)
    SELECT tok, cnt,
           CAST(FLOOR(CAST(cnt AS DOUBLE) / CAST(n AS DOUBLE)
                      * 1000000000.0 + 0.5) AS BIGINT) AS share_q
    FROM counts CROSS JOIN total
    WHERE CAST(cnt AS DOUBLE) > CAST(n AS DOUBLE) / 51.0
    """,
    category="text",
)
def heavy_hitter_tokens_documents(spark, sf_dir):
    """Exact heavy hitters over the token stream WITHOUT shuffling the
    full vocabulary (operators/frequency.py: heavy_hitters_two_pass,
    k=50): per-partition candidate generation in the scan stage (zero
    shuffle — the averaging argument guarantees every global >N/51
    token locally exceeds n_p/51 somewhere), then an exact recount
    map-side-filtered to the broadcast candidate set. The output is
    exact, so the oracle is the plain GROUP BY + HAVING it replaces —
    the two-pass shape only changes WHERE the work happens, which is
    the entire point at 100 TB vocabulary cardinality."""
    from etl_manager_spark.operators.frequency import heavy_hitters_two_pass

    t = load_tables(spark, sf_dir)
    toks = (
        spread(t["documents"], spark)
        .select(F.explode(R.tokens("text")).alias("tok"))
        .filter(F.col("tok") != "")
    )
    return heavy_hitters_two_pass(toks, "tok", k=50)


@workload(
    "vocab_kl_drift_documents",
    rf"""
    WITH toks AS (
      SELECT doc_id, tok
      FROM (SELECT doc_id, UNNEST({_TOK}) AS tok FROM documents)
      WHERE tok <> ''
    ),
    ca AS (SELECT tok, COUNT(*) AS c FROM toks WHERE doc_id < 250 GROUP BY tok),
    cb AS (SELECT tok, COUNT(*) AS c FROM toks WHERE doc_id >= 250 GROUP BY tok),
    vocab AS (
      SELECT COALESCE(ca.tok, cb.tok) AS tok,
             COALESCE(ca.c, 0) AS cnt_a, COALESCE(cb.c, 0) AS cnt_b
      FROM ca FULL OUTER JOIN cb ON ca.tok = cb.tok
    ),
    tot AS (
      SELECT SUM(cnt_a) AS na, SUM(cnt_b) AS nb, COUNT(*) AS v FROM vocab
    ),
    scored AS (
      SELECT tok, cnt_a, cnt_b,
             (CAST(cnt_a + 1 AS DOUBLE) / CAST(na + v AS DOUBLE))
               * LOG2((CAST(cnt_a + 1 AS DOUBLE) / CAST(na + v AS DOUBLE))
                      / (CAST(cnt_b + 1 AS DOUBLE) / CAST(nb + v AS DOUBLE)))
               AS contrib
      FROM vocab CROSS JOIN tot
    )
    SELECT tok, cnt_a, cnt_b,
           CAST(FLOOR(contrib * 1000000000.0 + 0.5) AS BIGINT) AS contrib_q
    FROM scored
    ORDER BY contrib DESC, tok ASC
    LIMIT 50
    """,
    category="text",
)
def vocab_kl_drift_documents(spark, sf_dir):
    """Corpus drift detection: the top-50 per-token contributions to
    KL(P‖Q) between the unigram distributions of two corpus halves
    (doc_id < 250 vs the rest) under add-one smoothing over the union
    vocabulary — the standard monitor for "did the crawl distribution
    shift between snapshots", and the tokens it surfaces are the drift
    explanation. Counts are exact integers; p and q are one division
    each; the contribution is quantized after one log2 — the same float
    discipline the entropy and bigram-LM queries follow. Shape: two
    hash-aggs + one full outer join on token, one broadcast 1-row
    total, and a top-50 heap — no full sort anywhere."""
    t = load_tables(spark, sf_dir)
    toks = (
        spread(t["documents"], spark)
        .select("doc_id", F.explode(R.tokens("text")).alias("tok"))
        .filter(F.col("tok") != "")
    )
    # §8: ONE conditional-count pass replaces the two per-half aggregates
    # + full outer join — same vocabulary rows (the NULL-doc_id filter
    # reproduces the oracle's two-CTE semantics, where a NULL id lands in
    # neither half and its tokens vanish from the union vocabulary; both
    # halves partition the remaining rows, so (0,0) rows cannot arise),
    # and the vocabulary-bounded table is checkpointed for its two
    # consumers (totals, scored top-50) — 4 corpus tokenizes → 1.
    vocab = (
        toks.filter(F.col("doc_id").isNotNull())
        .groupBy("tok")
        .agg(
            F.count(F.when(F.col("doc_id") < 250, 1)).alias("cnt_a"),
            F.count(F.when(F.col("doc_id") >= 250, 1)).alias("cnt_b"),
        )
        .localCheckpoint(eager=True)
    )
    tot = vocab.groupBy().agg(
        F.sum("cnt_a").alias("na"),
        F.sum("cnt_b").alias("nb"),
        F.count(F.lit(1)).alias("v"),
    )
    p = (F.col("cnt_a") + 1).cast("double") / (
        F.col("na") + F.col("v")
    ).cast("double")
    q = (F.col("cnt_b") + 1).cast("double") / (
        F.col("nb") + F.col("v")
    ).cast("double")
    return (
        vocab.crossJoin(F.broadcast(tot))
        .select(
            "tok",
            "cnt_a",
            "cnt_b",
            R.quantize(p * F.log2(p / q)).alias("contrib_q"),
            (p * F.log2(p / q)).alias("_contrib"),
        )
        .orderBy(F.desc("_contrib"), F.asc("tok"))
        .limit(50)
        .select("tok", "cnt_a", "cnt_b", "contrib_q")
    )


@workload(
    "equidepth_bins_orders_price",
    """
    WITH vc AS (
      SELECT o_totalprice AS v, COUNT(*) AS c FROM orders
      WHERE o_totalprice IS NOT NULL GROUP BY 1
    ),
    cum AS (
      SELECT v, c, SUM(c) OVER (ORDER BY v NULLS FIRST) AS cum,
             SUM(c) OVER () AS n
      FROM vc
    ),
    edges AS (
      SELECT d, MIN(v) AS edge
      FROM cum CROSS JOIN (SELECT UNNEST(range(1, 10)) AS d) t
      WHERE cum >= CAST(CEIL(n * d / 10.0) AS BIGINT)
      GROUP BY d
    ),
    binned AS (
      SELECT vc.v, vc.c,
             CAST(1 + (SELECT COUNT(*) FROM edges e
                       WHERE vc.v > e.edge) AS INTEGER) AS bin
      FROM vc
    )
    SELECT bin, CAST(SUM(c) AS BIGINT) AS n_orders,
           MIN(v) AS min_price, MAX(v) AS max_price
    FROM binned GROUP BY bin
    """,
    category="statistics",
)
def equidepth_bins_orders_price(spark, sf_dir):
    """Equi-depth (decile) discretization with STORED edges — the
    train/broadcast/apply shape every feature pipeline uses: exact
    decile edges from the cumulative distribution of DISTINCT values
    (sort the value-count table, not the fact table — and the running
    count is the two-phase range-partitioned ``ordered_cumsum``, so
    even a near-unique domain like o_totalprice never funnels into
    one task), broadcast the 9-row edge table, and assign
    each order its bin as 1 + edges-strictly-below, a map-side
    broadcast-count with no tie ambiguity (value-based, so engines
    can't disagree on equal ranks). Emits per-bin counts and bounds.
    The oracle replays edges and assignment with a correlated COUNT."""
    from etl_manager_spark.operators.prefix import ordered_cumsum

    t = load_tables(spark, sf_dir)
    orders = t["orders"]
    # NULL prices are not values: they cannot sit in the CDF (and the
    # engines disagree on where NULL sorts), so the distribution -- and
    # therefore the bins -- covers non-null rows only, on BOTH sides
    vc = (
        orders.filter(F.col("o_totalprice").isNotNull())
        .groupBy(F.col("o_totalprice").alias("v"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    # round 11 (§6): every consumer below reads ordered_cumsum's
    # checkpointed distinct-value table — the former shape re-aggregated
    # the lazy vc for the grand total AND for the binning pass, planning
    # TWO extra parquet scans of the fact table. The total is SUM(c)
    # over the checkpointed table (exact integers, NULL on an empty
    # table, matching the oracle's SUM() OVER ()); the tot and binned
    # branches touch only (v, c), so column pruning drops the cumsum
    # window from both — only the edges branch pays it.
    cum = ordered_cumsum(vc, [F.asc("v")], ["c"]).select(
        "v", "c", F.col("c_cum").alias("cum")
    )
    tot = cum.groupBy().agg(F.sum("c").cast("long").alias("n"))
    deciles = spark.range(1, 10).select(F.col("id").alias("d"))
    edges = (
        cum.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(deciles))
        .filter(
            F.col("cum")
            >= F.ceil(F.col("n") * F.col("d") / F.lit(10.0)).cast("long")
        )
        .groupBy("d")
        .agg(F.min("v").alias("edge"))
    )
    # bin the DISTINCT-value table, not the fact table: the ≤9-way
    # edge fan-out touches |distinct| rows; the fact table is only ever
    # hash-aggregated (once, inside the cumsum checkpoint)
    binned = (
        cum.select("v", "c")
        .join(F.broadcast(edges), F.col("v") > F.col("edge"), "left")
        .groupBy("v", "c")
        .agg((F.lit(1) + F.count("edge")).cast("int").alias("bin"))
    )
    return binned.groupBy("bin").agg(
        F.sum("c").alias("n_orders"),
        F.min("v").alias("min_price"),
        F.max("v").alias("max_price"),
    )


@workload(
    "pareto_revenue_concentration",
    """
    WITH per_cust AS (
      SELECT o_custkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
               AS rev_c
      FROM orders GROUP BY o_custkey
    ),
    tot AS (SELECT SUM(rev_c) AS total_c FROM per_cust),
    ranked AS (
      SELECT rev_c,
             SUM(rev_c) OVER (ORDER BY rev_c DESC NULLS LAST, o_custkey ASC NULLS FIRST) AS cum_c,
             ROW_NUMBER() OVER (ORDER BY rev_c DESC NULLS LAST, o_custkey ASC NULLS FIRST) AS rnk
      FROM per_cust
    )
    SELECT CAST(MIN(CASE WHEN cum_c * 5 >= total_c * 4 THEN rnk END)
                AS BIGINT) AS customers_to_80pct,
           CAST(COUNT(*) AS BIGINT) AS total_customers,
           CAST(FLOOR(CAST(MIN(CASE WHEN cum_c * 5 >= total_c * 4
                                    THEN rnk END) AS DOUBLE)
                      / COUNT(*) * 1000000000.0 + 0.5) AS BIGINT)
             AS share_of_customers_q
    FROM ranked CROSS JOIN tot
    """,
    category="statistics",
)
def pareto_revenue_concentration(spark, sf_dir):
    """Pareto (80/20) revenue-concentration: how many customers' 
    cumulative revenue first reaches 80% of the total — the
    concentration metric behind "how skewed is this key space", which
    feeds the salting/broadcast decisions elsewhere in the engine.
    EVERYTHING stays integer: per-customer revenue in exact cents
    (decimal sum ×100), the cumulative sum an associative integer
    running total over the CUSTOMER aggregate (|customers| rows,
    custkey tiebreak) via the two-phase range-partitioned
    ``ordered_cumsum`` — per-partition windows + driver prefix-summed
    offsets, NO Exchange SinglePartition even when customers outgrow
    one task — and the 80% test the cross-multiplied ``5·cum ≥
    4·total``: no float enters until the final share ratio, so
    engines cannot disagree on the boundary row."""
    from etl_manager_spark.operators.prefix import ordered_cumsum

    t = load_tables(spark, sf_dir)
    per_cust = t["orders"].groupBy("o_custkey").agg(
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("long")
        .alias("rev_c")
    )
    ranked = ordered_cumsum(
        per_cust,
        [F.desc("rev_c"), F.asc("o_custkey")],
        ["rev_c"],
        rank_name="rnk",
    ).select("rev_c", F.col("rev_c_cum").alias("cum_c"), "rnk")
    # round 11 (§6): the grand total reads the cumsum's checkpointed
    # per-customer table (the tot branch touches only rev_c, so column
    # pruning drops the window) — totalling the LAZY per_cust re-planned
    # a second full parquet scan of orders per invocation
    tot = ranked.groupBy().agg(F.sum("rev_c").alias("total_c"))
    hit = F.when(
        F.col("cum_c") * 5 >= F.col("total_c") * 4, F.col("rnk")
    )
    return ranked.crossJoin(F.broadcast(tot)).groupBy().agg(
        F.min(hit).cast("long").alias("customers_to_80pct"),
        F.count(F.lit(1)).cast("long").alias("total_customers"),
        F.floor(
            F.min(hit).cast("double")
            / F.count(F.lit(1))
            * F.lit(1000000000.0)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("share_of_customers_q"),
    )


@workload(
    "time_decay_engagement_events",
    """
    WITH mx AS (SELECT MAX(ts) AS tmax FROM events),
    scored AS (
      SELECT user_id,
             CAST(FLOOR(CAST(value AS DOUBLE)
                  * POW(2.0, -(epoch_us(tmax - ts) // 86400000000))
                  * 1000000000.0 + 0.5) AS BIGINT) AS w_q
      FROM events CROSS JOIN mx
    )
    SELECT user_id, CAST(SUM(w_q) AS BIGINT) AS engagement_q,
           COUNT(*) AS n_events
    FROM scored GROUP BY user_id
    """,
    category="timeseries",
)
def time_decay_engagement_events(spark, sf_dir):
    """Recency-weighted engagement score per user: each event's value is
    damped by 2^(−age-in-whole-days) relative to the corpus max
    timestamp (a one-day half-life), then summed. The WHOLE-day
    exponent makes every weight an exact power of two, each
    contribution one exact multiply + quantize, and the per-user sum an
    order-free integer reduction — the decayed aggregate stays bitwise
    deterministic under any partitioning, which a raw float Σv·2^(−Δ)
    would not. Shape: broadcast 1-row max, map-side weight, one
    hash-agg on user_id."""
    t = load_tables(spark, sf_dir)
    ev = t["events"]
    mx = ev.groupBy().agg(F.max("ts").alias("tmax"))
    # whole-day age via INTEGER microsecond division — a double epoch
    # subtraction rounds differently between engines at day boundaries
    age_days = F.expr(
        "(unix_micros(CAST(tmax AS TIMESTAMP))"
        " - unix_micros(CAST(ts AS TIMESTAMP))) DIV 86400000000"
    )
    w_q = F.floor(
        F.col("value").cast("double")
        * F.pow(F.lit(2.0), -age_days)
        * F.lit(1000000000.0)
        + F.lit(0.5)
    ).cast("long")
    return (
        ev.crossJoin(F.broadcast(mx))
        .select("user_id", w_q.alias("w_q"))
        .groupBy("user_id")
        .agg(
            F.sum("w_q").alias("engagement_q"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@workload(
    "ratio_to_report_nation_revenue",
    """
    WITH per_nation AS (
      SELECT n.n_regionkey AS regionkey, n.n_name AS nation,
             CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
               AS rev_c
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY 1, 2
    )
    SELECT r.r_name AS region, nation,
           CAST(rev_c AS BIGINT) AS revenue_cents,
           CAST(FLOOR(CAST(rev_c AS DOUBLE)
                / CAST(SUM(rev_c) OVER (PARTITION BY regionkey) AS DOUBLE)
                * 1000000000.0 + 0.5) AS BIGINT) AS share_of_region_q,
           CAST(FLOOR(CAST(rev_c AS DOUBLE)
                / CAST(SUM(rev_c) OVER () AS DOUBLE)
                * 1000000000.0 + 0.5) AS BIGINT) AS share_of_total_q
    FROM per_nation pn JOIN region r ON r.r_regionkey = pn.regionkey
    """,
    category="window",
)
def ratio_to_report_nation_revenue(spark, sf_dir):
    """Ratio-to-report at two grouping levels: each nation's revenue as
    a share of its region and of the grand total — the window/aggregate
    composition every BI rollup needs (a window over an AGGREGATE, 25
    rows, not the fact table). Revenue is integer cents (decimal sum
    ×100) so the totals are exact integer reductions regardless of
    accumulation order; each share is one int→double division,
    quantized. The region total is a partitioned window (hash on
    regionkey); the GRAND total is a broadcast 1-row aggregate rather
    than an unpartitioned window, so no Exchange SinglePartition.
    Dimensions broadcast; the single fact shuffle is the
    customer⋈orders key join."""
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir)
    per_nation = (
        t["orders"]
        .join(
            F.broadcast(t["customer"].select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(t["nation"]),
            F.col("n_nationkey") == F.col("c_nationkey"),
        )
        .groupBy(
            F.col("n_regionkey").alias("regionkey"),
            F.col("n_name").alias("nation"),
        )
        .agg(
            (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
            .cast("long")
            .alias("rev_c")
        )
    )
    wr = Window.partitionBy("regionkey")
    # grand total over the REPORT rows (post region join), matching the
    # oracle's SUM(...) OVER (): a nation that doesn't join to a region
    # is not in the report and must not sit in the denominator
    joined = per_nation.join(
        F.broadcast(t["region"]),
        F.col("r_regionkey") == F.col("regionkey"),
    )
    grand = joined.groupBy().agg(
        F.sum("rev_c").cast("long").alias("_total_c")
    )
    share = lambda denom: F.floor(
        F.col("rev_c").cast("double")
        / denom.cast("double")
        * F.lit(1000000000.0)
        + F.lit(0.5)
    ).cast("long")
    return (
        joined.crossJoin(F.broadcast(grand))
        .select(
            F.col("r_name").alias("region"),
            "nation",
            F.col("rev_c").alias("revenue_cents"),
            share(F.sum("rev_c").over(wr)).alias("share_of_region_q"),
            share(F.col("_total_c")).alias("share_of_total_q"),
        )
    )


@workload(
    "mom_revenue_growth",
    """
    WITH monthly AS (
      -- an order with no date belongs to no month (both sides)
      SELECT DATE_TRUNC('month', o_orderdate) AS month,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
               AS rev_c
      FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1
    )
    SELECT CAST(month AS DATE) AS month,
           rev_c AS revenue_cents,
           LAG(rev_c) OVER (ORDER BY month NULLS FIRST) AS prev_cents,
           CASE WHEN LAG(rev_c) OVER (ORDER BY month NULLS FIRST) IS NULL THEN NULL
                ELSE CAST(FLOOR(
                  (CAST(rev_c AS DOUBLE)
                   / CAST(LAG(rev_c) OVER (ORDER BY month NULLS FIRST) AS DOUBLE) - 1.0)
                  * 1000000000.0 + 0.5) AS BIGINT)
           END AS growth_q
    FROM monthly
    """,
    category="window",
)
def mom_revenue_growth(spark, sf_dir):
    """Month-over-month growth: monthly revenue (integer cents), LAG to
    the prior month, growth = rev/prev − 1 quantized — the standard
    period-over-period report. The lag runs over the MONTH aggregate
    via the two-phase range-partitioned ``ordered_lag`` (per-partition
    lag + tail replication across range boundaries — no
    single-partition window even over a centuries-long series); first
    month emits NULL growth rather than a fake 0 so downstream charts
    can distinguish 'no prior' from 'flat'."""
    from etl_manager_spark.operators.prefix import ordered_lag

    t = load_tables(spark, sf_dir)
    monthly = t["orders"].filter(F.col("o_orderdate").isNotNull()).groupBy(
        F.date_trunc("month", "o_orderdate").alias("month")
    ).agg(
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("long")
        .alias("rev_c")
    )
    lagged = ordered_lag(monthly, [("month", "asc")], "rev_c", "prev_cents")
    prev = F.col("prev_cents")
    growth = F.when(
        prev.isNull(), F.lit(None).cast("long")
    ).otherwise(
        F.floor(
            # try_divide: a zero-revenue month as the lag base would ANSI-
            # throw; NULL growth matches the oracle's NULL on that month
            (
                F.try_divide(F.col("rev_c").cast("double"), prev.cast("double"))
                - F.lit(1.0)
            )
            * F.lit(1000000000.0)
            + F.lit(0.5)
        ).cast("long")
    )
    return lagged.select(
        F.col("month").cast("date").alias("month"),
        F.col("rev_c").alias("revenue_cents"),
        "prev_cents",
        growth.alias("growth_q"),
    )


@workload(
    "spatial_join_customer_supplier",
    """
    WITH c AS (
      SELECT c_custkey,
             (c_custkey * 37) % 12000 / 100.0 - 60 AS c_lat,
             (c_custkey * 73) % 36000 / 100.0 - 180 AS c_lon
      FROM customer
    ),
    s AS (
      SELECT s_suppkey,
             (s_suppkey * 41) % 12000 / 100.0 - 60 AS s_lat,
             (s_suppkey * 97) % 36000 / 100.0 - 180 AS s_lon
      FROM supplier
    ),
    scored AS (
      SELECT c_custkey, s_suppkey,
             12742.0 * ASIN(SQRT(
               SIN(RADIANS(c_lat - s_lat) / 2)
                 * SIN(RADIANS(c_lat - s_lat) / 2)
               + COS(RADIANS(s_lat)) * COS(RADIANS(c_lat))
                 * SIN(RADIANS(c_lon - s_lon) / 2)
                 * SIN(RADIANS(c_lon - s_lon) / 2)
             )) AS d
      FROM s CROSS JOIN c
    )
    SELECT c_custkey, s_suppkey,
           CAST(FLOOR(d * 1000000.0 + 0.5) AS BIGINT) AS distance_q
    FROM scored WHERE d <= 50.0
    """,
    category="join",
)
def spatial_join_customer_supplier(spark, sf_dir):
    """Spatial distance join (operators/spatial.py:
    within_distance_join): customer/supplier sites (deterministic
    synthetic coordinates in ±60° latitude) paired within 50 km via the
    grid-prefilter pattern — the supplier side explodes to its 3×3
    1°-cell neighborhood, both sides equi-join on the cell key (hash
    shuffle, never a cross join), and the exact haversine verifies
    candidates. The ORACLE is the brute-force all-pairs distance
    filter, so a prefilter that lost any true pair would hash-mismatch
    — the completeness bound (1° ≥ 55 km at |lat| ≤ 60°) is verified,
    not assumed. Distance quantized at 1e6 (mm) to absorb libm ulp
    noise in the trig chain."""
    from etl_manager_spark.operators.spatial import within_distance_join

    t = load_tables(spark, sf_dir)
    cust = t["customer"].select(
        "c_custkey",
        ((F.col("c_custkey") * 37) % 12000 / F.lit(100.0) - 60).alias("c_lat"),
        ((F.col("c_custkey") * 73) % 36000 / F.lit(100.0) - 180).alias("c_lon"),
    )
    supp = t["supplier"].select(
        "s_suppkey",
        ((F.col("s_suppkey") * 41) % 12000 / F.lit(100.0) - 60).alias("s_lat"),
        ((F.col("s_suppkey") * 97) % 36000 / F.lit(100.0) - 180).alias("s_lon"),
    )
    joined = within_distance_join(
        supp,
        cust,
        max_km=50,
        left_cols=("s_lat", "s_lon"),
        right_cols=("c_lat", "c_lon"),
    )
    return joined.select(
        "c_custkey",
        "s_suppkey",
        F.floor(F.col("distance_km") * F.lit(1000000.0) + F.lit(0.5))
        .cast("long")
        .alias("distance_q"),
    )


@workload(
    "gini_revenue_customers",
    """
    WITH per_cust AS (
      SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
               AS rev_c,
             o_custkey
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT rev_c,
             ROW_NUMBER() OVER (ORDER BY rev_c ASC NULLS FIRST,
                                o_custkey ASC NULLS FIRST) AS i
      FROM per_cust WHERE rev_c IS NOT NULL
    ),
    m AS (
      SELECT COUNT(*) AS n, SUM(rev_c) AS s, SUM(i * rev_c) AS si
      FROM ranked
    )
    SELECT CAST(n AS BIGINT) AS n_customers,
           CAST(FLOOR((2.0 * CAST(si AS DOUBLE)
                       / (CAST(n AS DOUBLE) * CAST(s AS DOUBLE))
                       - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE))
                      * 1000000000.0 + 0.5) AS BIGINT) AS gini_q
    FROM m
    """,
    category="statistics",
)
def gini_revenue_customers(spark, sf_dir):
    """Gini coefficient of customer revenue — the Lorenz-curve summary
    next to the Pareto cut: G = 2·Σi·xᵢ/(n·Σx) − (n+1)/n over
    ascending-sorted values. Every moment is integer (cents, ranks,
    rank×cents products — all exact in BIGINT at any realistic scale);
    the coefficient is one fixed IEEE expression. The rank runs over
    the customer AGGREGATE; ties in revenue break by custkey so the
    rank-weighted sum is identical in both engines. Rank is the
    two-phase range-partitioned ``ordered_cumsum`` (per-partition
    row_number + driver offsets) — no single-partition window even
    when the customer dimension outgrows one task."""
    from etl_manager_spark.operators.prefix import ordered_cumsum

    t = load_tables(spark, sf_dir)
    per_cust = t["orders"].groupBy("o_custkey").agg(
        (F.sum(F.col("o_totalprice").cast("decimal(18,2)")) * 100)
        .cast("long")
        .alias("rev_c")
    )
    # a customer whose every price is NULL has no revenue VALUE - it
    # cannot sit on the Lorenz curve; excluded on BOTH sides
    per_cust = per_cust.filter(F.col("rev_c").isNotNull())
    ranked = ordered_cumsum(
        per_cust, [F.asc("rev_c"), F.asc("o_custkey")], rank_name="i"
    ).select("rev_c", "i")
    m = ranked.groupBy().agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("rev_c").alias("s"),
        F.sum(F.col("i") * F.col("rev_c")).alias("si"),
    )
    n_d = F.col("n").cast("double")
    gini = (
        F.lit(2.0) * F.col("si").cast("double") / (n_d * F.col("s").cast("double"))
        - (n_d + F.lit(1.0)) / n_d
    )
    return m.select(
        F.col("n").cast("long").alias("n_customers"),
        F.floor(gini * F.lit(1000000000.0) + F.lit(0.5))
        .cast("long")
        .alias("gini_q"),
    )


@workload(
    "feature_hash_documents",
    rf"""
    WITH toks AS (
      SELECT doc_id, tok
      FROM (SELECT doc_id, UNNEST({_TOK}) AS tok FROM documents)
      WHERE tok <> ''
    )
    SELECT doc_id,
           CAST(('0x' || SUBSTR(MD5(tok), 1, 8))::BIGINT % 16 AS INTEGER)
             AS dim,
           COUNT(*) AS cnt
    FROM toks
    GROUP BY doc_id, dim
    """,
    category="text",
)
def feature_hash_documents(spark, sf_dir):
    """The hashing trick: bag-of-words folded into 16 dimensions via
    dim = md5(token)[:8] mod 16 — fixed-width features with no
    vocabulary table, the standard when the vocab is unbounded (URLs,
    n-grams) and exact ids don't matter. md5-prefix hashing is the
    house cross-engine hash (same as the MinHash chain — xxhash64 has
    no DuckDB twin); the fold is one explode + hash-agg on
    (doc, dim), map-side combinable. Emits sparse (doc_id, dim, cnt)
    rows — the join-friendly layout; densify with a 16-slot pivot when
    a model wants arrays."""
    t = load_tables(spark, sf_dir)
    toks = (
        spread(t["documents"], spark)
        .select("doc_id", F.explode(R.tokens("text")).alias("tok"))
        .filter(F.col("tok") != "")
    )
    dim = (
        F.conv(F.substring(F.md5(F.col("tok")), 1, 8), 16, 10)
        .cast("long")
        % 16
    ).cast("int")
    return toks.groupBy("doc_id", dim.alias("dim")).agg(
        F.count(F.lit(1)).alias("cnt")
    )


@workload(
    "balanced_downsample_events",
    """
    WITH m AS (
      SELECT MIN(c) AS target FROM (
        SELECT COUNT(*) AS c FROM events GROUP BY event_type
      )
    ),
    ranked AS (
      SELECT event_type, event_id,
             ROW_NUMBER() OVER (
               PARTITION BY event_type
               ORDER BY SUBSTR(MD5(CAST(event_id AS VARCHAR)), 1, 16) NULLS FIRST,
                        event_id NULLS FIRST
             ) AS rn
      FROM events
    )
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_kept,
           CAST(SUM(event_id) AS BIGINT) AS id_checksum
    FROM ranked CROSS JOIN m
    WHERE rn <= target
    GROUP BY event_type
    """,
    category="sampling",
)
def balanced_downsample_events(spark, sf_dir):
    """Balanced class downsampling: every event_type is cut to the
    MINORITY class size, choosing rows by their md5(event_id) hash
    order — a deterministic shuffle, so the 'random' subset is
    reproducible anywhere and the oracle replays it exactly. The
    per-class quota is a broadcast 1-row MIN over the class counts;
    selection is one window over event_type (rank in hash order,
    event_id tiebreak). Emits per-class kept-count (all equal to the
    minority size — the balance proof) plus an id checksum pinning THE
    SAME rows were chosen, not merely the same number."""
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir)
    ev = t["events"]
    target = (
        ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("c"))
        .groupBy()
        .agg(F.min("c").alias("target"))
    )
    w = Window.partitionBy("event_type").orderBy(
        F.substring(F.md5(F.col("event_id").cast("string")), 1, 16),
        F.col("event_id"),
    )
    ranked = ev.select(
        "event_type", "event_id", F.row_number().over(w).alias("rn")
    )
    return (
        ranked.crossJoin(F.broadcast(target))
        .filter(F.col("rn") <= F.col("target"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_kept"),
            F.sum("event_id").cast("long").alias("id_checksum"),
        )
    )


@workload(
    "countmin_calibration_events",
    """
    WITH exact AS (
      SELECT user_id, COUNT(*) AS c FROM events GROUP BY user_id
    ),
    rows_ AS (SELECT UNNEST(range(0, 3)) AS d),
    cells AS (
      SELECT d,
             ('0x' || SUBSTR(MD5(CAST(d AS VARCHAR) || ':'
                                 || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
               % 64 AS w,
             SUM(c) AS cell
      FROM exact CROSS JOIN rows_
      GROUP BY 1, 2
    ),
    est AS (
      SELECT e.user_id, e.c AS exact_c,
             MIN(cl.cell) AS est_c
      FROM exact e
      CROSS JOIN rows_ r
      JOIN cells cl
        ON cl.d = r.d
       AND cl.w = ('0x' || SUBSTR(MD5(CAST(r.d AS VARCHAR) || ':'
                                      || CAST(e.user_id AS VARCHAR)), 1, 8))::BIGINT % 64
      GROUP BY e.user_id, e.c
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(CASE WHEN est_c = exact_c THEN 1 ELSE 0 END) AS BIGINT)
             AS n_exact,
           CAST(MAX(est_c - exact_c) AS BIGINT) AS max_overestimate,
           CAST(SUM(est_c - exact_c) AS BIGINT) AS total_overestimate
    FROM est
    """,
    category="sketch",
)
def countmin_calibration_events(spark, sf_dir):
    """Count-min sketch calibration: build a 3×64 CMS of per-user event
    counts with the house md5-prefix hash (cross-engine), read every
    key back (estimate = MIN over the 3 hashed cells) and report the
    overestimate against exact counts — sketches only ever OVERcount,
    and this audit measures by how much at this key cardinality. The
    sketch build is the real distributed shape: one exact pre-aggregate
    on user_id, then a 3-row explode and a (row, cell) hash-agg —
    192 cells total, mergeable across partitions/streams by addition.
    The readback joins keys to their cells by recomputing the hash
    (no sketch state on the driver)."""
    t = load_tables(spark, sf_dir)
    # users-bounded exact counts consumed by the sketch build AND the
    # estimate probe — one fact pass, not two (§8)
    exact = t["events"].groupBy("user_id").agg(
        F.count(F.lit(1)).alias("c")
    ).localCheckpoint(eager=True)

    def cell_of(d_col, key_col):
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            d_col.cast("string"),
                            F.lit(":"),
                            key_col.cast("string"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 64
        )

    rows = spark.range(3).select(F.col("id").alias("d"))
    cells = (
        exact.crossJoin(F.broadcast(rows))
        .groupBy("d", cell_of(F.col("d"), F.col("user_id")).alias("w"))
        .agg(F.sum("c").alias("cell"))
    )
    est = (
        exact.crossJoin(F.broadcast(rows))
        .withColumn("w", cell_of(F.col("d"), F.col("user_id")))
        .join(F.broadcast(cells), on=["d", "w"])
        .groupBy("user_id", F.col("c").alias("exact_c"))
        .agg(F.min("cell").alias("est_c"))
    )
    diff = F.col("est_c") - F.col("exact_c")
    return est.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum(F.when(diff == 0, 1).otherwise(0)).cast("long").alias("n_exact"),
        F.max(diff).cast("long").alias("max_overestimate"),
        F.sum(diff).cast("long").alias("total_overestimate"),
    )


@workload(
    "conversion_latency_events",
    """
    WITH fv AS (
      SELECT user_id, MIN(ts) AS first_view
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    fp AS (
      SELECT e.user_id, MIN(e.ts) AS first_purchase
      FROM events e JOIN fv ON fv.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= fv.first_view
      GROUP BY e.user_id
    )
    SELECT EPOCH_US(fp.first_purchase - fv.first_view) // 3600000000
             AS latency_bucket_h,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM fv JOIN fp ON fp.user_id = fv.user_id
    GROUP BY 1
    """,
    category="events",
)
def conversion_latency_events(spark, sf_dir):
    """Conversion-latency distribution: hours between a user's first
    view and their first subsequent purchase, bucketed to whole hours —
    the time-to-convert histogram next to the funnel's count view.
    Latency is INTEGER microsecond arithmetic end to end (min
    timestamps, difference, integer division), so bucket boundaries
    cannot drift between engines. Shape: two min-aggregates on user_id
    and one join on the same key — a bucketed-by-user layout runs the
    whole thing exchange-free after the first shuffle."""
    t = load_tables(spark, sf_dir)
    ev = t["events"]
    # users-bounded first-view table consumed by the purchase probe AND
    # the closing join — one view-scan, not two (§8)
    fv = ev.filter(F.col("event_type") == "view").groupBy("user_id").agg(
        F.min("ts").alias("first_view")
    ).localCheckpoint(eager=True)
    fp = (
        ev.filter(F.col("event_type") == "purchase")
        .join(fv, on="user_id")
        .filter(F.col("ts") >= F.col("first_view"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase"))
    )
    bucket = F.expr(
        "(unix_micros(CAST(first_purchase AS TIMESTAMP))"
        " - unix_micros(CAST(first_view AS TIMESTAMP))) DIV 3600000000"
    )
    return (
        fv.join(fp, on="user_id")
        .groupBy(bucket.alias("latency_bucket_h"))
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@workload(
    "bounce_rate_sessions",
    """
    WITH ordered AS (
      SELECT user_id, ts, event_id,
             CASE WHEN EPOCH_US(ts) - LAG(EPOCH_US(ts))
                    OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST)
                    > 1800000000
                  OR LAG(ts) OVER (PARTITION BY user_id
                                   ORDER BY ts NULLS FIRST, event_id NULLS FIRST) IS NULL
             THEN 1 ELSE 0 END AS new_session
      FROM events WHERE ts IS NOT NULL
    ),
    numbered AS (
      SELECT user_id,
             SUM(new_session) OVER (PARTITION BY user_id
                                    ORDER BY ts NULLS FIRST, event_id NULLS FIRST
                                    ROWS UNBOUNDED PRECEDING) AS sid
      FROM ordered
    ),
    sessions AS (
      SELECT user_id, sid, COUNT(*) AS n_events
      FROM numbered GROUP BY user_id, sid
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bounces,
           CAST(FLOOR(CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)
                           AS DOUBLE) / COUNT(*)
                      * 1000000000.0 + 0.5) AS BIGINT) AS bounce_rate_q
    FROM sessions
    """,
    category="events",
)
def bounce_rate_sessions(spark, sf_dir):
    """Bounce rate: the share of 30-minute-gap sessions containing a
    single event — the engagement-quality headline next to the
    sessionization and concurrency views. Same gap/flag-sum
    sessionization as events_sessionization (event_id tiebreak for
    simultaneous events), session sizes are integers, and the rate is
    one int/int division quantized at the end."""
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir)
    # events without a timestamp cannot be placed in a session timeline
    # (and the engines disagree on where NULL sorts) - excluded both sides
    ev = t["events"].filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    micros = F.expr("unix_micros(CAST(ts AS TIMESTAMP))")
    new_session = F.when(
        F.lag("ts").over(w).isNull()
        | ((micros - F.lag(micros).over(w)) > 1800000000),
        1,
    ).otherwise(0)
    # the flag-sum window must walk the SAME (ts, event_id) total order
    # the flag was computed in — ts alone is ambiguous on simultaneous
    # events and would let engines split phantom sessions differently
    wsum = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    numbered = ev.select(
        "user_id", new_session.alias("new_session"), "ts", "event_id"
    ).select("user_id", F.sum("new_session").over(wsum).alias("sid"))
    sessions = numbered.groupBy("user_id", "sid").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    bounces = F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
    return sessions.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        bounces.cast("long").alias("n_bounces"),
        F.floor(
            bounces.cast("double")
            / F.count(F.lit(1))
            * F.lit(1000000000.0)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("bounce_rate_q"),
    )


@workload(
    "ushape_attribution_events",
    """
    WITH pairs AS (
      SELECT p.event_id AS purchase_id, t.event_id AS touch_id,
             t.event_type AS touch_type, t.ts AS t_ts
      FROM events p
      JOIN events t
        ON t.user_id = p.user_id
       AND t.event_type IN ('view', 'click')
       AND t.ts <= p.ts
       AND t.ts > p.ts - INTERVAL 7 DAY
      WHERE p.event_type = 'purchase'
    ),
    positioned AS (
      SELECT purchase_id, touch_type,
             ROW_NUMBER() OVER (PARTITION BY purchase_id
                                ORDER BY t_ts NULLS FIRST, touch_id NULLS FIRST) AS pos,
             COUNT(*) OVER (PARTITION BY purchase_id) AS n
      FROM pairs
    ),
    credited AS (
      SELECT purchase_id, touch_type,
             CAST(FLOOR(
               CASE WHEN n = 1 THEN 1.0
                    WHEN n = 2 THEN 0.5
                    WHEN pos = 1 OR pos = n THEN 0.4
                    ELSE 0.2 / (n - 2) END
               * 1000000000.0 + 0.5) AS BIGINT) AS credit_q
      FROM positioned
    )
    SELECT touch_type, CAST(COUNT(*) AS BIGINT) AS n_touches,
           CAST(SUM(credit_q) AS BIGINT) AS credit_q_total
    FROM credited GROUP BY touch_type
    """,
    category="analytics",
)
def ushape_attribution_events(spark, sf_dir):
    """Position-based (U-shaped, 40/20/40) attribution next to the
    linear model: first and last touch of each purchase's 7-day path
    take 0.4 each, the middles share 0.2 (n=1 → 1.0, n=2 → 0.5/0.5).
    Touch order is the total (t_ts, touch_id) order, so position
    assignment is identical in both engines; each credit is one fixed
    CASE expression, nano-quantized before the integer rollup. Same
    join/window shuffle shape as the linear model — only the credit
    formula changes, which is the point of keeping attribution models
    as expressions, not pipelines."""
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir)
    e = t["events"]
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    touches = e.filter(F.col("event_type").isin("view", "click")).select(
        F.col("user_id").alias("t_user"),
        F.col("ts").alias("t_ts"),
        F.col("event_id").alias("touch_id"),
        F.col("event_type").alias("touch_type"),
    )
    pairs = purchases.join(
        touches,
        (F.col("t_user") == F.col("p_user"))
        & (F.col("t_ts") <= F.col("p_ts"))
        & (F.col("t_ts") > F.col("p_ts") - F.expr("INTERVAL 7 DAYS")),
    )
    wp = Window.partitionBy("purchase_id")
    wo = wp.orderBy("t_ts", "touch_id")
    n = F.count(F.lit(1)).over(wp)
    pos = F.row_number().over(wo)
    credit = (
        F.when(n == 1, F.lit(1.0))
        .when(n == 2, F.lit(0.5))
        .when((pos == 1) | (pos == n), F.lit(0.4))
        .otherwise(F.lit(0.2) / (n - 2))
    )
    credited = pairs.select(
        "purchase_id", "touch_type", R.quantize(credit).alias("credit_q")
    )
    return credited.groupBy("touch_type").agg(
        F.count(F.lit(1)).alias("n_touches"),
        F.sum("credit_q").cast("long").alias("credit_q_total"),
    )


@workload(
    "daily_value_percentiles_events",
    """
    WITH d AS (
      -- NULL values are unrankable (and the engines disagree on where
      -- NULL sorts) - percentiles are over observed values only.
      -- ts IS NOT NULL: a daily table has no slot for rows with no event
      -- time (the day-series house rule) — and a NULL DATE_TRUNC window
      -- partition key trips a DuckDB 1.0 optimizer bug (wrong not-null
      -- inference: `WHERE day IS NULL` over this CTE returns 0 rows
      -- while GROUP BY day counts 13, and the windowed COUNT flaps
      -- nondeterministically across runs)
      SELECT DATE_TRUNC('day', ts) AS day, event_type, value, event_id
      FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
    ),
    ranked AS (
      SELECT day, event_type, value,
             ROW_NUMBER() OVER (PARTITION BY day, event_type
                                ORDER BY value NULLS FIRST, event_id NULLS FIRST) AS rn,
             COUNT(*) OVER (PARTITION BY day, event_type) AS n
      FROM d
    )
    SELECT CAST(day AS DATE) AS day, event_type,
           CAST(MAX(n) AS BIGINT) AS n_events,
           CAST(FLOOR(MAX(CASE WHEN rn = CAST(CEIL(n * 0.5) AS BIGINT)
                               THEN value END) * 1000000.0 + 0.5) AS BIGINT)
             AS p50_q,
           CAST(FLOOR(MAX(CASE WHEN rn = CAST(CEIL(n * 0.9) AS BIGINT)
                               THEN value END) * 1000000.0 + 0.5) AS BIGINT)
             AS p90_q
    FROM ranked GROUP BY day, event_type
    """,
    category="statistics",
)
def daily_value_percentiles_events(spark, sf_dir):
    """Daily P50/P90 value bands per event type — the operational-
    dashboard percentile query, computed EXACTLY by rank selection
    (value at rank ⌈q·n⌉ under the total (value, event_id) order)
    rather than an interpolating percentile whose midpoint arithmetic
    engines disagree on. One window per (day, type) partition + one
    rollup on the same key — a single shuffle family. n·0.5 / n·0.9
    are exact doubles for any realistic n, so ⌈·⌉ is engine-stable."""
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir)
    # observed values only, with an event time (see the oracle note)
    d = t["events"].filter(
        F.col("value").isNotNull() & F.col("ts").isNotNull()
    ).select(
        F.date_trunc("day", "ts").alias("day_ts"),
        "event_type",
        "value",
        "event_id",
    )
    wp = Window.partitionBy("day_ts", "event_type")
    wo = wp.orderBy("value", "event_id")
    ranked = d.select(
        "day_ts",
        "event_type",
        "value",
        F.row_number().over(wo).alias("rn"),
        F.count(F.lit(1)).over(wp).alias("n"),
    )

    def pick(q):
        at = F.ceil(F.col("n") * F.lit(q)).cast("long")
        return F.floor(
            F.max(F.when(F.col("rn") == at, F.col("value")))
            * F.lit(1000000.0)
            + F.lit(0.5)
        ).cast("long")

    return ranked.groupBy("day_ts", "event_type").agg(
        F.max("n").cast("long").alias("n_events"),
        pick(0.5).alias("p50_q"),
        pick(0.9).alias("p90_q"),
    ).select(
        F.col("day_ts").cast("date").alias("day"),
        "event_type",
        "n_events",
        "p50_q",
        "p90_q",
    )


@workload(
    "ndcg_bm25_documents",
    f"""
    WITH {_BM25_CTES},
    rel AS (
      SELECT id, SUM(tf) AS rel FROM tf GROUP BY id
    ),
    joined AS (
      SELECT b.id, b.score_q, r.rel FROM bm25 b JOIN rel r ON r.id = b.id
    ),
    by_score AS (
      SELECT rel, ROW_NUMBER() OVER (ORDER BY score_q DESC NULLS LAST, id ASC NULLS FIRST) AS rnk
      FROM joined QUALIFY rnk <= 10
    ),
    by_rel AS (
      SELECT rel, ROW_NUMBER() OVER (ORDER BY rel DESC NULLS LAST, id ASC NULLS FIRST) AS rnk
      FROM joined QUALIFY rnk <= 10
    ),
    dcg AS (
      SELECT CAST(SUM(CAST(FLOOR(CAST(rel AS DOUBLE) / LOG2(rnk + 1.0)
                            * 1000000000.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS dcg_q
      FROM by_score
    ),
    idcg AS (
      SELECT CAST(SUM(CAST(FLOOR(CAST(rel AS DOUBLE) / LOG2(rnk + 1.0)
                            * 1000000000.0 + 0.5) AS BIGINT)) AS BIGINT)
               AS idcg_q
      FROM by_rel
    )
    SELECT dcg_q, idcg_q,
           CAST(FLOOR(CAST(dcg_q AS DOUBLE) / CAST(idcg_q AS DOUBLE)
                      * 1000000000.0 + 0.5) AS BIGINT) AS ndcg_q
    FROM dcg CROSS JOIN idcg
    """,
    category="text",
)
def ndcg_bm25_documents(spark, sf_dir):
    """nDCG@10 of the BM25 ranking against graded relevance (relevance
    = total query-term occurrences) — the retrieval-evaluation metric
    next to the rankers themselves; the eval harness every retrieval
    pipeline needs is just more columns. Each rank's rel/log₂(rank+1)
    term is nano-quantized BEFORE the 10-term sum (order-free integer
    DCG), the ideal ranking reuses the same quantization, and nDCG is
    one int/int division. The oracle shares the BM25 CTE chain with the
    ranking workload so scorer and evaluator cannot drift. Top-10
    selection is ``orderBy().limit(10)`` (TakeOrdered heap — never a
    corpus-wide single-partition sort); ranks are then assigned to the
    bounded 10-row frame windowlessly via ``rank_bounded``.

    Round 10: scorer and relevance grade share ONE (id, term, tf) table
    — ``rel`` is Σtf over the query terms, identical to counting the
    exploded instances, so the corpus is tokenized once instead of
    twice. The query-term tf table and the joined score/rel frame are
    each consumed by TWO downstream branches (scorer+grade, actual+ideal
    ranking); both are small (query-term postings / scored docs) and are
    eagerly checkpointed so the tokenize and scoring chains run once,
    not once per consumer."""
    from etl_manager_spark.operators.ranking import term_frequencies
    from etl_manager_spark.operators.topk import rank_bounded

    t = load_tables(spark, sf_dir)
    docs = spread(t["documents"], spark)
    tf = term_frequencies(docs).filter(
        F.col("term").isin(sorted(set(_BM25_TERMS)))
    ).localCheckpoint(eager=True)
    scores = R.bm25_scores(docs, _BM25_TERMS, tf=tf)
    rel = tf.groupBy("id").agg(F.sum("tf").cast("long").alias("rel"))
    joined = scores.join(rel, on="id").localCheckpoint(eager=True)
    term_q = lambda: F.floor(
        F.col("rel").cast("double")
        / F.log2(F.col("rnk") + F.lit(1.0))
        * F.lit(1000000000.0)
        + F.lit(0.5)
    ).cast("long")
    by_score = (
        rank_bounded(
            joined.orderBy(F.desc("score_q"), F.asc("id")).limit(10),
            [("score_q", "desc"), ("id", "asc")],
        )
        .select(term_q().alias("t"))
        .groupBy()
        .agg(F.sum("t").alias("dcg_q"))
    )
    by_rel = (
        rank_bounded(
            joined.orderBy(F.desc("rel"), F.asc("id")).limit(10),
            [("rel", "desc"), ("id", "asc")],
        )
        .select(term_q().alias("t"))
        .groupBy()
        .agg(F.sum("t").alias("idcg_q"))
    )
    return (
        by_score.crossJoin(F.broadcast(by_rel))
        .select(
            "dcg_q",
            "idcg_q",
            F.floor(
                F.col("dcg_q").cast("double")
                / F.col("idcg_q").cast("double")
                * F.lit(1000000000.0)
                + F.lit(0.5)
            )
            .cast("long")
            .alias("ndcg_q"),
        )
    )


@workload(
    "user_activity_features",
    """
    WITH mx AS (SELECT MAX(ts) AS tmax FROM events),
    aged AS (
      SELECT user_id, value,
             epoch_us(tmax - ts) // 86400000000 AS age_d
      FROM events CROSS JOIN mx
    )
    SELECT user_id,
           CAST(SUM(CASE WHEN age_d < 7 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_7d,
           CAST(SUM(CASE WHEN age_d < 14 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_14d,
           CAST(SUM(CASE WHEN age_d < 28 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_28d,
           CAST(SUM(CASE WHEN age_d < 7
                         THEN CAST(value AS DECIMAL(18,2)) END) * 100
                AS BIGINT) AS value_7d_c,
           CAST(SUM(CASE WHEN age_d < 28
                         THEN CAST(value AS DECIMAL(18,2)) END) * 100
                AS BIGINT) AS value_28d_c,
           CAST(MIN(age_d) AS BIGINT) AS days_since_last
    FROM aged GROUP BY user_id
    """,
    category="analytics",
)
def user_activity_features(spark, sf_dir):
    """Trailing-window feature table (7/14/28-day activity counts,
    value sums in exact cents, recency) — the one-pass conditional-
    aggregation shape feature stores use instead of three windowed
    self-joins: ONE scan, ONE hash-agg on user_id, every window a CASE
    inside the same aggregate. Ages are whole days from integer
    microsecond division against the broadcast corpus max; NULL (not 0)
    value sums when a window is empty, so downstream imputation can
    tell 'inactive' from 'spent nothing'."""
    t = load_tables(spark, sf_dir)
    ev = t["events"]
    mx = ev.groupBy().agg(F.max("ts").alias("tmax"))
    age = F.expr(
        "(unix_micros(CAST(tmax AS TIMESTAMP))"
        " - unix_micros(CAST(ts AS TIMESTAMP))) DIV 86400000000"
    )
    dec = F.col("value").cast("decimal(18,2)")

    def n_within(d):
        return F.sum(F.when(F.col("age_d") < d, 1).otherwise(0)).cast("long")

    def v_within(d):
        return (
            F.sum(F.when(F.col("age_d") < d, dec)) * 100
        ).cast("long")

    return (
        ev.crossJoin(F.broadcast(mx))
        .select("user_id", "value", age.alias("age_d"))
        .groupBy("user_id")
        .agg(
            n_within(7).alias("n_7d"),
            n_within(14).alias("n_14d"),
            n_within(28).alias("n_28d"),
            v_within(7).alias("value_7d_c"),
            v_within(28).alias("value_28d_c"),
            F.min("age_d").cast("long").alias("days_since_last"),
        )
    )


_RBO_WEIGHTS = [1.0, 0.9, 0.81, 0.7290000000000001, 0.6561, 0.5904900000000001, 0.531441, 0.4782969000000001, 0.4304672100000001, 0.3874204890000001]  # 0.9^(d-1), d = 1..10 — Python-computed literals
# so neither engine's pow() enters the comparison


@workload(
    "rbo_bm25_vs_tfidf",
    f"""
    WITH {_RANK_LISTS_CTES},
    depths AS (SELECT UNNEST(range(1, 11)) AS d),
    ovl AS (
      SELECT depths.d,
             (SELECT COUNT(*) FROM btop b JOIN ttop t ON b.id = t.id
              WHERE b.r <= depths.d AND t.r <= depths.d) AS x_d
      FROM depths
    ),
    terms AS (
      SELECT d, x_d,
             CAST(FLOOR(0.09999999999999998
                        * ([1.0, 0.9, 0.81, 0.7290000000000001, 0.6561, 0.5904900000000001, 0.531441, 0.4782969000000001, 0.4304672100000001, 0.3874204890000001][d])
                        * CAST(x_d AS DOUBLE) / CAST(d AS DOUBLE)
                        * 1000000000.0 + 0.5) AS BIGINT) AS term_q
      FROM ovl
    )
    SELECT CAST(SUM(term_q) AS BIGINT) AS rbo_q,
           CAST(MAX(CASE WHEN d = 10 THEN x_d END) AS BIGINT) AS overlap_at_10
    FROM terms
    """,
    category="text",
)
def rbo_bm25_vs_tfidf(spark, sf_dir):
    """Rank-biased overlap (p = 0.9, truncated at depth 10) between the
    BM25 and TF-IDF rankings of the same query — the top-weighted
    list-agreement metric that, with nDCG, completes the retrieval-eval
    pair: nDCG judges one ranking against relevance, RBO judges two
    rankings against each other. The p-weights are PYTHON-computed
    double literals embedded in both engines (repr round-trip), so
    neither engine's pow() enters the comparison; each depth's
    (1-p)·p^(d-1)·X_d/d term is quantized before the 10-term integer
    sum. Depth overlaps X_d are integer counts over the two 100-row
    rank lists; both lists come from ``orderBy().limit(100)``
    (TakeOrdered heap) and are ranked windowlessly via
    ``rank_bounded`` — no corpus-wide single-partition sort."""
    from etl_manager_spark.functions.exact import lit_double_array
    from etl_manager_spark.operators import ranking as R
    from etl_manager_spark.operators.topk import rank_bounded

    t = load_tables(spark, sf_dir)
    docs = t["documents"]
    qterms = sorted(set(_BM25_TERMS))
    # round 10: the BM25 scorer shares this tf table (one tokenize pass
    # for both scorers — eagerly checkpointed, so the explode+agg runs
    # once, not once per ranker) and the distinct-doc count rides
    # in-plan as a broadcast scalar instead of an eager driver count
    tf = R.term_frequencies(docs).filter(
        F.col("term").isin(qterms)
    ).localCheckpoint(eager=True)
    bm = R.bm25_scores(docs, _BM25_TERMS, top=100, tf=tf)
    dfreq = R.document_frequencies(tf)
    ndocs = (
        docs.select(F.col("doc_id").alias("id"))
        .distinct()
        .agg(F.count(F.lit(1)).cast("long").alias("_ndocs"))
    )
    from etl_manager_spark.operators.ranking import _attach_scalar

    per = _attach_scalar(
        tf.join(F.broadcast(dfreq), on="term"), ndocs
    ).withColumn(
        "contrib",
        F.col("tf").cast("double")
        * F.log(F.col("_ndocs").cast("double") / F.col("df")),
    )
    piv = per.groupBy("id").agg(
        *[
            F.max(F.when(F.col("term") == q, F.col("contrib"))).alias(
                f"_c{i}"
            )
            for i, q in enumerate(qterms)
        ]
    )
    score = F.lit(0.0)
    for i in range(len(qterms)):
        score = score + F.coalesce(F.col(f"_c{i}"), F.lit(0.0))
    ti = (
        piv.select("id", R.quantize(score).alias("score_q"))
        .orderBy(F.desc("score_q"), F.asc("id"))
        .limit(100)
    )
    btop = rank_bounded(
        bm, [("score_q", "desc"), ("id", "asc")], rank_name="br"
    ).select("id", "br")
    ttop = rank_bounded(
        ti, [("score_q", "desc"), ("id", "asc")], rank_name="tr"
    ).select("id", "tr")
    both = btop.join(ttop, on="id").select("br", "tr")
    depths = spark.range(1, 11).select(F.col("id").cast("int").alias("d"))
    overlaps = (
        F.broadcast(depths)
        .crossJoin(both)
        .filter((F.col("br") <= F.col("d")) & (F.col("tr") <= F.col("d")))
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("x_d"))
    )
    # depths with zero overlap contribute 0 — restore them via left join
    overlaps = depths.join(overlaps, on="d", how="left").select(
        "d", F.coalesce("x_d", F.lit(0)).alias("x_d")
    )
    w = F.element_at(lit_double_array(_RBO_WEIGHTS), F.col("d"))
    term_q = F.floor(
        F.lit(1.0 - 0.9)
        * w
        * F.col("x_d").cast("double")
        / F.col("d").cast("double")
        * F.lit(1000000000.0)
        + F.lit(0.5)
    ).cast("long")
    return overlaps.select(
        term_q.alias("term_q"),
        F.when(F.col("d") == 10, F.col("x_d")).alias("x10"),
    ).groupBy().agg(
        F.sum("term_q").cast("long").alias("rbo_q"),
        F.max("x10").cast("long").alias("overlap_at_10"),
    )


@workload(
    "session_duration_stats",
    """
    WITH ordered AS (
      SELECT user_id, ts, event_id,
             CASE WHEN EPOCH_US(ts) - LAG(EPOCH_US(ts))
                    OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST)
                    > 1800000000
                  OR LAG(ts) OVER (PARTITION BY user_id
                                   ORDER BY ts NULLS FIRST, event_id NULLS FIRST) IS NULL
             THEN 1 ELSE 0 END AS new_session
      FROM events WHERE ts IS NOT NULL
    ),
    numbered AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (PARTITION BY user_id
                                    ORDER BY ts NULLS FIRST, event_id NULLS FIRST
                                    ROWS UNBOUNDED PRECEDING) AS sid
      FROM ordered
    ),
    sessions AS (
      SELECT user_id, sid,
             EPOCH_US(MAX(ts) - MIN(ts)) AS dur_us,
             COUNT(*) AS n_events
      FROM numbered GROUP BY user_id, sid
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(dur_us) AS BIGINT) AS total_duration_us,
           CAST(MAX(dur_us) AS BIGINT) AS max_duration_us,
           CAST(FLOOR(CAST(SUM(dur_us) AS DOUBLE) / COUNT(*)
                      * 0.000001 * 1000000000.0 + 0.5) AS BIGINT)
             AS avg_duration_s_q,
           CAST(SUM(n_events) AS BIGINT) AS n_events_total
    FROM sessions
    """,
    category="events",
)
def session_duration_stats(spark, sf_dir):
    """Session dwell-time summary over the 30-minute-gap sessions:
    durations are exact integer microseconds (max − min per session),
    totals and max are integer reductions, and only the average is a
    single division (µs → seconds, quantized). Same tie-safe
    sessionization as bounce_rate_sessions — one window family on
    user_id, one rollup."""
    from pyspark.sql import Window

    t = load_tables(spark, sf_dir)
    # events without a timestamp cannot be placed in a session timeline
    # (and the engines disagree on where NULL sorts) - excluded both sides
    ev = t["events"].filter(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    micros = F.expr("unix_micros(CAST(ts AS TIMESTAMP))")
    new_session = F.when(
        F.lag("ts").over(w).isNull()
        | ((micros - F.lag(micros).over(w)) > 1800000000),
        1,
    ).otherwise(0)
    wsum = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, 0
    )
    numbered = ev.select(
        "user_id",
        "ts",
        micros.alias("us"),
        new_session.alias("new_session"),
        "event_id",
    ).select(
        "user_id", "us", F.sum("new_session").over(wsum).alias("sid")
    )
    sessions = numbered.groupBy("user_id", "sid").agg(
        (F.max("us") - F.min("us")).alias("dur_us"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return sessions.groupBy().agg(
        F.count(F.lit(1)).cast("long").alias("n_sessions"),
        F.sum("dur_us").cast("long").alias("total_duration_us"),
        F.max("dur_us").cast("long").alias("max_duration_us"),
        F.floor(
            F.sum("dur_us").cast("double")
            / F.count(F.lit(1))
            * F.lit(0.000001)
            * F.lit(1000000000.0)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("avg_duration_s_q"),
        F.sum("n_events").cast("long").alias("n_events_total"),
    )


@workload(
    "nearest_supplier_per_customer",
    """
    WITH c AS (
      SELECT c_custkey,
             (c_custkey * 37) % 12000 / 100.0 - 60 AS c_lat,
             (c_custkey * 73) % 36000 / 100.0 - 180 AS c_lon,
             COS(RADIANS((c_custkey * 37) % 12000 / 100.0 - 60)) AS c_cos
      FROM customer
    ),
    s AS (
      SELECT s_suppkey,
             (s_suppkey * 41) % 12000 / 100.0 - 60 AS s_lat,
             (s_suppkey * 97) % 36000 / 100.0 - 180 AS s_lon,
             COS(RADIANS((s_suppkey * 41) % 12000 / 100.0 - 60)) AS s_cos
      FROM supplier
    ),
    scored AS (
      SELECT c_custkey,
             CAST(FLOOR(12742.0 * ASIN(SQRT(
               SIN(RADIANS(c_lat - s_lat) / 2)
                 * SIN(RADIANS(c_lat - s_lat) / 2)
               + s_cos * c_cos
                 * SIN(RADIANS(c_lon - s_lon) / 2)
                 * SIN(RADIANS(c_lon - s_lon) / 2)
             )) * 1000000.0 + 0.5) AS BIGINT) * 1000000 + s_suppkey AS pack
      FROM c CROSS JOIN s
    )
    SELECT c_custkey,
           CAST(MIN(pack) % 1000000 AS BIGINT) AS s_suppkey,
           CAST(MIN(pack) // 1000000 AS BIGINT) AS distance_q
    FROM scored GROUP BY c_custkey
    """,
    category="join",
)
def nearest_supplier_per_customer(spark, sf_dir):
    """Exact 1-nearest-neighbor spatial join: every customer's closest
    supplier. The supplier dimension is the (bounded) small side, so it
    BROADCASTS and the argmin is a map-side aggregate — no shuffle of
    the customer side at all beyond the final per-key min combine. Ties
    and libm ulp noise are handled by the packed-integer total order
    (mm-quantized distance · 1e6 + suppkey) — MIN over one BIGINT is
    deterministic where min_by over doubles is not. At a truly large
    right side, swap the broadcast for operators/spatial.py's 1°-grid
    prefilter with expanding-ring fallback; the argmin packing is
    unchanged."""
    t = load_tables(spark, sf_dir)
    # cos(lat) precomputed per ROW on each side (15k + 1k evaluations)
    # instead of per PAIR (2×15M) — bitwise-identical values, ~1/3 less
    # trig in the pair loop; the oracle stages the same columns
    # spread(): the single-file fixture is ONE input split, and the BNLJ
    # runs on the STREAM side's partitions — unspread, all 15M pair
    # distances serialize on one core
    cust = spread(t["customer"], spark).select(
        "c_custkey",
        ((F.col("c_custkey") * 37) % 12000 / F.lit(100.0) - 60).alias("c_lat"),
        ((F.col("c_custkey") * 73) % 36000 / F.lit(100.0) - 180).alias("c_lon"),
        F.cos(
            F.radians((F.col("c_custkey") * 37) % 12000 / F.lit(100.0) - 60)
        ).alias("c_cos"),
    )
    supp = t["supplier"].select(
        "s_suppkey",
        ((F.col("s_suppkey") * 41) % 12000 / F.lit(100.0) - 60).alias("s_lat"),
        ((F.col("s_suppkey") * 97) % 36000 / F.lit(100.0) - 180).alias("s_lon"),
        F.cos(
            F.radians((F.col("s_suppkey") * 41) % 12000 / F.lit(100.0) - 60)
        ).alias("s_cos"),
    )
    dphi = F.radians(F.col("c_lat") - F.col("s_lat"))
    dlmb = F.radians(F.col("c_lon") - F.col("s_lon"))
    a = (
        F.sin(dphi / 2) * F.sin(dphi / 2)
        + F.col("s_cos") * F.col("c_cos") * F.sin(dlmb / 2) * F.sin(dlmb / 2)
    )
    d = F.lit(12742.0) * F.asin(F.sqrt(a))
    pack = (
        F.floor(d * F.lit(1000000.0) + F.lit(0.5)).cast("long")
        * F.lit(1000000)
        + F.col("s_suppkey")
    )
    scored = cust.crossJoin(F.broadcast(supp)).select(
        "c_custkey", pack.alias("pack")
    )
    return scored.groupBy("c_custkey").agg(
        (F.min("pack") % F.lit(1000000)).cast("long").alias("s_suppkey"),
        F.floor(F.min("pack") / F.lit(1000000)).cast("long").alias("distance_q"),
    )


@workload(
    "skyline_orders_price_date",
    """
    WITH o AS (
      -- a row missing either dimension cannot be compared for dominance
      SELECT o_orderkey, o_orderdate AS day,
             CAST(FLOOR(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
               AS price_c
      FROM orders
      WHERE o_totalprice IS NOT NULL AND o_orderdate IS NOT NULL
    ),
    -- sweep formulation of the NOT-EXISTS dominance test (value-identical,
    -- verified against the quadratic form at sf0.01/sf0.1; the quadratic
    -- form is 280 s at sf0.1 and times out at sf1): a row survives iff it
    -- carries its day's MIN price AND beats the running MIN over all
    -- strictly-later days — a same-day cheaper row dominates it, and a
    -- later-day <=-price row dominates it; equal (day, price) twins never
    -- dominate each other and all survive together
    d AS (SELECT day, MIN(price_c) AS day_min FROM o GROUP BY day),
    d2 AS (
      SELECT day, day_min,
             MIN(day_min) OVER (ORDER BY day DESC NULLS LAST
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND 1 PRECEDING) AS later_min
      FROM d
    )
    SELECT a.o_orderkey, a.day,
           CAST(a.price_c AS BIGINT) AS price_c
    FROM o a JOIN d2 USING (day)
    WHERE a.price_c = d2.day_min
      AND (d2.later_min IS NULL OR a.price_c < d2.later_min)
    """,
    category="analytics",
)
def skyline_orders_price_date(spark, sf_dir):
    """Skyline (Pareto front) of orders under (price ↓, recency ↑):
    orders no other order beats on both dimensions — the preference-query
    operator family. The naive form is an O(n²) NOT-EXISTS self-join;
    this plan is two-phase over the BOUNDED date domain instead: per-day
    min price (one groupBy, ≤|calendar| rows), a strict-suffix min over
    that table via a broadcast theta-join, then one map-side row filter
    — an order survives iff it is its day's minimum AND strictly cheaper
    than every later day's minimum. Equal (day, price) twins don't
    dominate each other, so both survive (matching strict dominance).
    Prices compared in exact cents. The oracle mirrors the sweep (the
    brute-force NOT-EXISTS form it replaced is 280 s at sf0.1 and times
    out at sf1) — it was verified row-identical to the brute force at
    sf0.01/sf0.1 before the swap, and its window runs over the
    independent per-day-min table, so an engine pruning bug still
    hash-mismatches."""
    t = load_tables(spark, sf_dir)
    o = (
        t["orders"]
        # both dimensions required for dominance comparison (both sides)
        .filter(
            F.col("o_totalprice").isNotNull()
            & F.col("o_orderdate").isNotNull()
        )
        .select(
            "o_orderkey",
            F.col("o_orderdate").alias("day"),
            F.floor(F.col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("long")
            .alias("price_c"),
        )
    )
    # days-bounded minima consumed by both sides of the suffix-min
    # theta-join — one orders aggregate, not two (§8)
    daymin = o.groupBy("day").agg(F.min("price_c").alias("minp")).localCheckpoint(
        eager=True
    )
    later = daymin.select(
        F.col("day").alias("l_day"), F.col("minp").alias("l_minp")
    )
    sufmin = (
        daymin.join(F.broadcast(later), F.col("l_day") > F.col("day"), "left")
        .groupBy("day", "minp")
        .agg(F.min("l_minp").alias("suf_minp"))
    )
    return (
        o.join(F.broadcast(sufmin), "day")
        .filter(
            (F.col("price_c") == F.col("minp"))
            & (
                F.col("suf_minp").isNull()
                | (F.col("price_c") < F.col("suf_minp"))
            )
        )
        .select("o_orderkey", "day", F.col("price_c").cast("long").alias("price_c"))
    )


@workload(
    "kneser_ney_bigram_score_documents",
    rf"""
    WITH toks AS (
      SELECT doc_id, LIST_FILTER({{_TOK}}, x -> x <> '') AS tt FROM documents
    ),
    pairs AS (
      SELECT doc_id AS id,
             UNNEST(tt[1:LEN(tt)-1]) AS w1,
             UNNEST(tt[2:LEN(tt)]) AS w2
      FROM toks WHERE LEN(tt) >= 2
    ),
    bc AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c12
           FROM pairs GROUP BY w1, w2),
    ctx AS (SELECT w1, CAST(SUM(c12) AS BIGINT) AS c1,
                   CAST(COUNT(*) AS BIGINT) AS n1f
            FROM bc GROUP BY w1),
    back AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS n1b FROM bc GROUP BY w2),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n1tot FROM bc),
    scored AS (
      SELECT id,
             CAST(FLOOR(LN(
               (CAST(c12 AS DOUBLE) - 0.75
                + 0.75 * CAST(n1f AS DOUBLE)
                  * (CAST(n1b AS DOUBLE) / CAST(n1tot AS DOUBLE)))
               / CAST(c1 AS DOUBLE))
               * 1000000000.0 + 0.5) AS BIGINT) AS logp_q
      FROM pairs JOIN bc USING (w1, w2) JOIN ctx USING (w1)
      JOIN back USING (w2) CROSS JOIN tot
    )
    SELECT id, COUNT(*) AS n_bigrams,
           CAST(SUM(logp_q) AS BIGINT) AS sum_logp_q
    FROM scored GROUP BY id
    """.replace("{_TOK}", r"LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\s+'), x -> x <> '')"),
    category="text",
)
def kneser_ney_bigram_score_documents(spark, sf_dir):
    """Interpolated Kneser-Ney bigram scoring (fixed discount d=0.75) —
    the smoothing that actually models continuation probability, vs the
    add-1 variant in bigram_lm_score_documents:
    P(w2|w1) = (c12 − d + d·N1+(w1·)·Pcont(w2)) / c1, with
    Pcont(w2) = N1+(·w2) / |bigram types|. All four count tables come
    from ONE bigram aggregate (context totals, forward and backward
    continuation counts are rollups of it), joined back on w1/w2 —
    count-table joins, no windows. Per-bigram log-probs nano-quantized
    before the exact per-doc integer sum (the add-1 discipline).

    Round 10: join strategy kept (the captured before-plan already shows
    all six joins as BroadcastHashJoin — Catalyst's estimates got this
    one right, unlike bigram_lm's — and hard-forcing broadcasts would
    remove the planner's sort-merge fallback for a billion-bigram
    corpus). But the before-plan also showed FIVE documents scans: the
    lazy ``bc`` subtree was re-planned per consumer (ctx, back, tot,
    scoring join) because per-branch column pruning breaks canonical-plan
    exchange reuse. The vocabulary²-bounded bigram count table is now
    eagerly localCheckpointed — its three rollups and the scoring joins
    all read the checkpoint, so the corpus is tokenized exactly TWICE
    (count-table build, scoring probe) instead of five times. The pair
    stream itself is deliberately NOT materialized: checkpointing the
    corpus-sized stream (tried this round) accumulated corpus-scale
    blocks per invocation and a repeated-measurement harness times the
    resulting storage-memory thrash, while a persist's canonical-plan
    cache entry is silently reused across invocations (warm-cache
    medians) — both rejected; the second map-local tokenize pass is the
    cheaper, memory-safe side."""
    t = load_tables(spark, sf_dir)
    toks = spread(t["documents"], spark).select(
        F.col("doc_id").alias("id"),
        F.filter(F.split(F.trim("text"), r"\s+"), lambda x: x != "").alias("tt"),
    ).filter(F.size("tt") >= 2)
    pairs = toks.select(
        "id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(tt) - 1), i -> "
                "named_struct('w1', element_at(tt, i), 'w2', element_at(tt, i + 1)))"
            )
        ).alias("p"),
    ).select("id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    bc = pairs.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).cast("long").alias("c12")
    ).localCheckpoint(eager=True)
    ctx = bc.groupBy("w1").agg(
        F.sum("c12").cast("long").alias("c1"),
        F.count(F.lit(1)).cast("long").alias("n1f"),
    )
    back = bc.groupBy("w2").agg(F.count(F.lit(1)).cast("long").alias("n1b"))
    tot = bc.agg(F.count(F.lit(1)).cast("long").alias("n1tot"))
    logp = F.log(
        (
            F.col("c12").cast("double") - F.lit(0.75)
            + F.lit(0.75) * F.col("n1f").cast("double")
            * (F.col("n1b").cast("double") / F.col("n1tot").cast("double"))
        )
        / F.col("c1").cast("double")
    )
    scored = (
        pairs.join(bc, ["w1", "w2"])
        .join(ctx, ["w1"])
        .join(back, ["w2"])
        .crossJoin(F.broadcast(tot))
        .select("id", R.quantize(logp).alias("logp_q"))
    )
    return scored.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum("logp_q").cast("long").alias("sum_logp_q"),
    )


@workload(
    "theil_decomposition_nation_revenue",
    """
    WITH cust AS (
      SELECT c.c_nationkey AS nat, o.o_custkey AS ck,
             CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS r
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
      GROUP BY 1, 2
      HAVING CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) > 0
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(r AS DECIMAL(18,2))) AS DOUBLE) AS sr
      FROM cust
    ),
    terms AS (
      SELECT nat,
             CAST(FLOOR((r / (sr / n)) * LN(r / (sr / n)) / n
                  * 1000000000.0 + 0.5) AS BIGINT) AS t_q
      FROM cust CROSS JOIN tot
    ),
    grp AS (
      SELECT c.nat, CAST(COUNT(*) AS BIGINT) AS ng,
             CAST(SUM(CAST(c.r AS DECIMAL(18,2))) AS DOUBLE) AS sg
      FROM cust c GROUP BY c.nat
    ),
    btw AS (
      SELECT CAST(SUM(CAST(FLOOR(
               (CAST(ng AS DOUBLE) / n) * ((sg / ng) / (sr / n))
               * LN((sg / ng) / (sr / n)) * 1000000000.0 + 0.5) AS BIGINT))
             AS BIGINT) AS theil_between_q
      FROM grp CROSS JOIN tot
    )
    SELECT tot.n AS n_customers,
           CAST((SELECT SUM(t_q) FROM terms) AS BIGINT) AS theil_total_q,
           btw.theil_between_q,
           CAST((SELECT SUM(t_q) FROM terms) - btw.theil_between_q AS BIGINT)
             AS theil_within_q
    FROM tot CROSS JOIN btw
    """,
    category="analytics",
)
def theil_decomposition_nation_revenue(spark, sf_dir):
    """Theil-T inequality of per-customer revenue, decomposed into
    BETWEEN-nation and WITHIN-nation components — the decomposability
    gini_revenue_customers can't offer (Gini doesn't split additively;
    Theil does: T = T_between + T_within). Per-customer and per-nation
    contributions are nano-quantized before the order-free integer sums;
    the within term is the exact integer difference, so the identity
    holds by construction at the emitted precision. Shuffles: the
    orders⋈customer join and two bounded aggregates — no windows, no
    sorts."""
    from etl_manager_spark.functions.exact import dec_sum

    t = load_tables(spark, sf_dir)
    cust = (
        t["orders"]
        .join(
            F.broadcast(t["customer"].select("c_custkey", "c_nationkey")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .groupBy(F.col("c_nationkey").alias("nat"), F.col("o_custkey").alias("ck"))
        .agg(dec_sum("o_totalprice").alias("r"))
        # positive revenue only, on BOTH sides: Theil-T is defined over
        # positive shares (a net-refund customer would feed LN a negative
        # ratio - a loud error in DuckDB, a silent NULL in Spark)
        .filter(F.col("r") > 0)
        # customers-bounded revenue table consumed by three branches
        # (totals, per-customer terms, per-nation groups) — one pass over
        # the orders⋈customer join, not three (§8)
        .localCheckpoint(eager=True)
    )
    tot = cust.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        dec_sum("r").alias("sr"),
    # one-row totals consumed by terms, between-groups AND the final
    # projection — materialize once
    ).localCheckpoint(eager=True)
    mu = F.col("sr") / F.col("n")
    terms = cust.crossJoin(F.broadcast(tot)).select(
        "nat",
        F.floor(
            (F.col("r") / mu) * F.log(F.col("r") / mu) / F.col("n")
            * F.lit(1000000000.0) + F.lit(0.5)
        ).cast("long").alias("t_q"),
    )
    total = terms.agg(F.sum("t_q").cast("long").alias("theil_total_q"))
    grp = cust.groupBy("nat").agg(
        F.count(F.lit(1)).cast("long").alias("ng"),
        dec_sum("r").alias("sg"),
    )
    mug = F.col("sg") / F.col("ng")
    btw = (
        grp.crossJoin(F.broadcast(tot))
        .select(
            F.floor(
                (F.col("ng").cast("double") / F.col("n"))
                * (mug / mu) * F.log(mug / mu)
                * F.lit(1000000000.0) + F.lit(0.5)
            ).cast("long").alias("b_q")
        )
        .agg(F.sum("b_q").cast("long").alias("theil_between_q"))
    )
    return (
        tot.select(F.col("n").alias("n_customers"))
        .crossJoin(F.broadcast(total))
        .crossJoin(F.broadcast(btw))
        .select(
            "n_customers",
            "theil_total_q",
            "theil_between_q",
            (F.col("theil_total_q") - F.col("theil_between_q"))
            .cast("long").alias("theil_within_q"),
        )
    )


@workload(
    "heaps_law_fit_documents",
    r"""
    WITH cps AS (SELECT UNNEST([63, 125, 188, 250, 313, 375, 438, 500]) AS cp),
    scaled AS (
      SELECT CAST(FLOOR(CAST(cp AS DOUBLE) / 500.0
                  * (SELECT COUNT(*) FROM documents)) AS BIGINT) AS cp_n
      FROM cps
    ),
    tok AS (
      SELECT doc_id, UNNEST(REGEXP_EXTRACT_ALL(LOWER(text), '[a-z]+')) AS tk
      FROM documents
    ),
    pts AS (
      SELECT s.cp_n,
             CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(COUNT(DISTINCT t.tk) AS BIGINT) AS vocab
      FROM tok t JOIN scaled s ON t.doc_id < s.cp_n
      GROUP BY s.cp_n
    ),
    q AS (
      SELECT CAST(FLOOR(LN(CAST(n_tokens AS DOUBLE)) * 1000000000.0 + 0.5)
                  AS BIGINT) AS x_q,
             CAST(FLOOR(LN(CAST(vocab AS DOUBLE)) * 1000000000.0 + 0.5)
                  AS BIGINT) AS y_q,
             CAST(FLOOR(LN(CAST(n_tokens AS DOUBLE))
                        * LN(CAST(n_tokens AS DOUBLE))
                  * 1000000000.0 + 0.5) AS BIGINT) AS xx_q,
             CAST(FLOOR(LN(CAST(n_tokens AS DOUBLE))
                        * LN(CAST(vocab AS DOUBLE))
                  * 1000000000.0 + 0.5) AS BIGINT) AS xy_q
      FROM pts
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(FLOOR((COUNT(*) * (CAST(SUM(xy_q) AS DOUBLE) / 1000000000.0)
                       - (CAST(SUM(x_q) AS DOUBLE) / 1000000000.0)
                         * (CAST(SUM(y_q) AS DOUBLE) / 1000000000.0))
                / (COUNT(*) * (CAST(SUM(xx_q) AS DOUBLE) / 1000000000.0)
                   - (CAST(SUM(x_q) AS DOUBLE) / 1000000000.0)
                     * (CAST(SUM(x_q) AS DOUBLE) / 1000000000.0))
                * 1000000000.0 + 0.5) AS BIGINT) AS beta_q
    FROM q
    """,
    category="text",
)
def heaps_law_fit_documents(spark, sf_dir):
    """Heaps'-law exponent: vocabulary grows as V(n) ∝ n^β (β ≈ 0.4-0.6
    for natural text; β near 0 screams boilerplate, near 1 screams
    noise/garbage). Eight corpus-prefix checkpoints (scaled by corpus
    size so the query is sf-independent) each count tokens and distinct
    vocabulary via ONE fan-out join (token × matching checkpoints) + one
    distinct aggregate — no ordering, no windows; β is the ln-ln OLS
    slope over the 8 quantized points (the zipf_fit discipline)."""
    t = load_tables(spark, sf_dir)
    docs = spread(t["documents"], spark)
    tok = docs.select(
        "doc_id",
        F.explode(
            F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
        ).alias("tk"),
    )
    # round 11: the checkpoint thresholds are computed IN-PLAN from a
    # 1-row count aggregate riding the broadcast build — the former
    # docs.count() was a separate eager job (a full corpus pass at scale)
    # per invocation. FLOOR(c/500·n) over the count-double replays the
    # former Python int() exactly (non-negative values, same IEEE order,
    # and the oracle's own FLOOR formula).
    nd = t["documents"].groupBy().agg(
        F.count(F.lit(1)).cast("double").alias("_nd")
    )
    fracs = spark.createDataFrame(
        [(c,) for c in (63, 125, 188, 250, 313, 375, 438, 500)], "c long"
    )
    scaled = fracs.crossJoin(F.broadcast(nd)).select(
        F.floor(F.col("c").cast("double") / F.lit(500.0) * F.col("_nd"))
        .cast("long")
        .alias("cp_n")
    )
    pts = (
        tok.join(F.broadcast(scaled), F.col("doc_id") < F.col("cp_n"))
        .groupBy("cp_n")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.countDistinct("tk").cast("long").alias("vocab"),
        )
    )
    lx = F.log(F.col("n_tokens").cast("double"))
    ly = F.log(F.col("vocab").cast("double"))
    q = pts.select(
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
    return q.agg(
        n.cast("long").alias("n_points"),
        R.quantize((n * sxy - sx * sy) / (n * sxx - sx * sx)).alias("beta_q"),
    )


@workload(
    "symspell_pairs_vocab_documents",
    r"""
    WITH vocab AS (
      SELECT tok AS word, CAST(COUNT(*) AS BIGINT) AS freq
      FROM (SELECT LOWER(UNNEST(LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\s+'), x -> x <> ''))) AS tok
            FROM documents)
      WHERE LEN(tok) >= 4
      GROUP BY tok ORDER BY freq DESC, tok LIMIT 2000
    ),
    dels AS (
      SELECT DISTINCT word, freq,
             UNNEST(LIST_TRANSFORM(RANGE(0, LEN(word) + 1), i ->
               CASE WHEN i = 0 THEN word
                    ELSE SUBSTRING(word, 1, CAST(i - 1 AS INTEGER))
                         || SUBSTRING(word, CAST(i + 1 AS INTEGER),
                                      LEN(word) - CAST(i AS INTEGER))
               END)) AS variant
      FROM vocab
    )
    SELECT DISTINCT a.word AS w1, b.word AS w2,
           a.freq AS freq1, b.freq AS freq2
    FROM dels a JOIN dels b
      ON a.variant = b.variant AND a.word < b.word
    WHERE LEVENSHTEIN(a.word, b.word) = 1
    """,
    category="dedup",
)
def symspell_pairs_vocab_documents(spark, sf_dir):
    """Edit-distance-1 vocabulary pairs via SymSpell deletion
    neighborhoods — the scalable spelling-dedup blocking: each word emits
    itself + its 1-deletion variants (O(V·L) candidates), pairs share a
    variant via one equijoin, and the exact levenshtein runs ONLY on
    candidates — never the O(V²) all-pairs the naive edit-distance join
    needs. Verification filter (= 1) makes the blocking loss-free for
    distance-1 typos; the oracle replays generation + join + verify."""
    t = load_tables(spark, sf_dir)
    vocab = (
        spread(t["documents"], spark)
        .select(F.explode(F.filter(F.split("text", r"\s+"), lambda x: x != "")).alias("tok0"))
        .select(F.lower("tok0").alias("word"))
        .filter(F.length("word") >= 4)
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
        .orderBy(F.desc("freq"), F.asc("word"))
        .limit(2000)
        # 2000-word vocab consumed by both deletion-neighborhood sides —
        # one tokenize pass, not two (§8)
        .localCheckpoint(eager=True)
    )
    dels = vocab.select(
        "word", "freq",
        F.explode(
            F.expr(
                "transform(sequence(0, length(word)), i -> "
                "CASE WHEN i = 0 THEN word "
                "ELSE concat(substring(word, 1, i - 1), "
                "substring(word, i + 1, length(word) - i)) END)"
            )
        ).alias("variant"),
    ).distinct()
    b = dels.select(
        F.col("word").alias("w2"),
        F.col("freq").alias("freq2"),
        "variant",
    )
    return (
        dels.select(F.col("word").alias("w1"), F.col("freq").alias("freq1"), "variant")
        .join(b, "variant")
        .filter(F.col("w1") < F.col("w2"))
        .filter(F.levenshtein("w1", "w2") == 1)
        .select("w1", "w2", "freq1", "freq2")
        .distinct()
    )
