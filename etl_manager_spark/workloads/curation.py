"""Corpus-curation + time-series-hygiene workloads (round 5).

Text normalization, linear quality scoring, per-domain capping, and k-fold
assignment over ``documents`` (operators/curation.py), plus gap detection
and winsorization over ``events``. Float discipline per house rules:
nano-quantized scores, doubles passed through unchanged where no
arithmetic is applied, integer ranks/counts cast to the types Spark emits.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from etl_manager_spark.operators import curation as C
from etl_manager_spark.operators import ranking as R
from etl_manager_spark.operators import sampling as SMP
from etl_manager_spark.operators import text as X
from etl_manager_spark.operators.materialize import materialize
from etl_manager_spark.workloads import workload
from etl_manager_spark.workloads.tables import load_tables, spread

_TOK_SQL = r"LIST_FILTER(REGEXP_SPLIT_TO_ARRAY(TRIM(text), '\s+'), x -> x <> '')"
_STOP_SQL = "('" + "','".join(X.STOPWORDS) + "')"


@workload(
    "clean_text_documents",
    rf"""
    SELECT doc_id,
           {C.normalize_sql('text')} AS norm_text,
           MD5({C.normalize_sql('text')}) AS norm_hash
    FROM documents
    """,
    category="text",
)
def clean_text_documents(spark, sf_dir):
    """Canonical text + cross-engine dedup hash (operators/curation.py:
    normalize_text): whitespace collapsed, trimmed, lower-cased, md5'd.
    A pure per-row projection — no shuffle, pipelines with the scan; the
    hash column is the key exact-dedup and incremental ingestion join on."""
    t = load_tables(spark, sf_dir)
    return spread(t["documents"], spark).select(
        "doc_id",
        C.normalize_text("text").alias("norm_text"),
        C.normalized_hash("text").alias("norm_hash"),
    )


@workload(
    "quality_linear_score_documents",
    rf"""
    WITH tok AS (SELECT doc_id, {_TOK_SQL} AS toks FROM documents),
    scored AS (
      SELECT doc_id,
             {C.linear_quality_sql('toks', _STOP_SQL)} AS z
      FROM tok
    )
    SELECT doc_id,
           CAST(FLOOR(z * 1000000000.0 + 0.5) AS BIGINT) AS z_q,
           z > 0.5 AS keep
    FROM scored
    """,
    category="text",
)
def quality_linear_score_documents(spark, sf_dir):
    """Model-based quality filtering, linear flavor (operators/curation.py:
    linear_quality_z): fixed public weights over ln(1+tokens),
    distinct-token ratio, stopword ratio — the CCNet/fasttext-shaped gate,
    entirely in JVM columns (no UDF), nano-quantized for the oracle.
    Scale: per-row projection, no shuffle; the keep flag is the pushdown
    predicate of the next pipeline stage."""
    t = load_tables(spark, sf_dir)
    z = C.linear_quality_z("text")
    return spread(t["documents"], spark).select(
        "doc_id",
        R.quantize(z).alias("z_q"),
        (z > F.lit(0.5)).alias("keep"),
    )


@workload(
    "domain_cap_documents",
    """
    SELECT source, rank, doc_id, n_chars
    FROM (SELECT source, doc_id, n_chars,
                 CAST(ROW_NUMBER() OVER (PARTITION BY source
                      ORDER BY n_chars DESC NULLS LAST, doc_id ASC NULLS FIRST) AS INTEGER) AS rank
          FROM documents)
    WHERE rank <= 10
    """,
    category="dedup",
)
def domain_cap_documents(spark, sf_dir):
    """Per-domain contribution cap (operators/curation.py:cap_per_group):
    keep the 10 largest documents per source under a total order
    (n_chars DESC, doc_id ASC). Two-phase: a per-(source, input-partition)
    rank keeps ≤10 rows per cell BEFORE the per-source shuffle, so one hot
    domain with 10⁹ pages shuffles 10·P rows, not 10⁹ — the prefilter is
    exact because a group's true top-10 rows are each in their own cell's
    top-10 under the same order. Oracle = the single-window formulation."""
    t = load_tables(spark, sf_dir)
    capped = C.cap_per_group(
        spread(t["documents"], spark),
        "source",
        [F.col("n_chars").desc(), F.col("doc_id").asc()],
        k=10,
    )
    return capped.select("source", "rank", "doc_id", "n_chars")


@workload(
    "kfold_assign_documents",
    f"""
    WITH f AS (SELECT doc_id, n_chars,
                      {C.kfold_sql('doc_id', 5)} AS fold
               FROM documents)
    SELECT fold, COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id
    FROM f GROUP BY fold
    """,
    category="etl",
)
def kfold_assign_documents(spark, sf_dir):
    """Reproducible 5-fold cross-validation assignment
    (operators/curation.py:kfold_column — md5-hex draw bucketed at i/k
    thresholds, the same discipline as train/test splitting) with per-fold
    integrity stats. The fold column is a per-row projection (no shuffle);
    the summary is one partial-aggregated groupBy over 5 keys."""
    t = load_tables(spark, sf_dir)
    return (
        spread(t["documents"], spark)
        .select("doc_id", "n_chars", C.kfold_column("doc_id", 5).alias("fold"))
        .groupBy("fold")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )


@workload(
    "events_gap_detection",
    """
    WITH g AS (
      SELECT user_id, event_id, ts,
             LAG(event_id) OVER w AS prev_event_id,
             LAG(ts) OVER w AS prev_ts,
             EPOCH_US(ts) - LAG(EPOCH_US(ts)) OVER w AS gap_us
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST)
    )
    SELECT user_id, prev_event_id, event_id, prev_ts, ts, gap_us
    FROM g WHERE gap_us >= 86400000000
    """,
    category="timeseries",
)
def events_gap_detection(spark, sf_dir):
    """Session-gap / outage detection: per-user consecutive-event pairs
    more than 24 h apart (lag window under the total order (ts, event_id),
    microsecond-exact integer arithmetic — no float). One shuffle on
    user_id; the window is the natural per-key sort. The complement of
    gap-filling (gapfill_locf_user_hours): this finds the holes, that
    fills them."""
    t = load_tables(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # parquet reads ts as TIMESTAMP_NTZ; unix_micros wants TIMESTAMP — the
    # cast is a pure reinterpretation under the UTC session load_tables pins
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    g = t["events"].select(
        "user_id",
        "event_id",
        "ts",
        F.lag("event_id").over(w).alias("prev_event_id"),
        F.lag("ts").over(w).alias("prev_ts"),
        (us - F.lag(us).over(w)).alias("gap_us"),
    )
    return g.filter(F.col("gap_us") >= 86400000000).select(
        "user_id", "prev_event_id", "event_id", "prev_ts", "ts", "gap_us"
    )


@workload(
    "winsorize_events_value",
    """
    WITH r AS (
      -- value IS NOT NULL: NULL values are unrankable (the engines rank
      -- them at opposite ends, poisoning the rank-selected bounds) and
      -- cannot be clipped — order statistics are over observed values
      SELECT event_id, event_type, value,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY value NULLS FIRST, event_id NULLS FIRST) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM events WHERE value IS NOT NULL
    ),
    bounds AS (
      SELECT event_type,
             MIN(CASE WHEN rn = CAST(CEIL(0.05 * n) AS BIGINT)
                      THEN value END) AS lo,
             MIN(CASE WHEN rn = CAST(CEIL(0.95 * n) AS BIGINT)
                      THEN value END) AS hi
      FROM r GROUP BY event_type
    )
    SELECT r.event_id, r.event_type, r.value,
           LEAST(GREATEST(r.value, b.lo), b.hi) AS winsorized
    FROM r JOIN bounds b ON r.event_type = b.event_type
    WHERE r.value < b.lo OR r.value > b.hi
    """,
    category="analytics",
)
def winsorize_events_value(spark, sf_dir):
    """Winsorization (tail clipping) per event type at the exact p05/p95
    ORDER STATISTICS — value at rank ceil(p·n) under the total order
    (value, event_id), no float interpolation, so both engines pick the
    identical source double and the clipped output is a pass-through copy
    (bitwise-safe). Emits only the clipped rows. Plan: one window shuffle
    on event_type, a 5-row bounds aggregate broadcast back onto the rows.
    Scale: for heavy keys, swap the exact rank for the Greenwald-Khanna
    sketch bound (validation.py) — same join shape."""
    t = load_tables(spark, sf_dir)
    wo = Window.partitionBy("event_type").orderBy("value", "event_id")
    wn = Window.partitionBy("event_type")
    # observed values only — mirrors the oracle (see note there)
    r = t["events"].filter(F.col("value").isNotNull()).select(
        "event_id",
        "event_type",
        "value",
        F.row_number().over(wo).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    bounds = r.groupBy("event_type").agg(
        F.min(
            F.when(
                F.col("rn") == F.ceil(F.lit(0.05) * F.col("n")), F.col("value")
            )
        ).alias("lo"),
        F.min(
            F.when(
                F.col("rn") == F.ceil(F.lit(0.95) * F.col("n")), F.col("value")
            )
        ).alias("hi"),
    )
    return (
        r.join(F.broadcast(bounds), on="event_type")
        .filter((F.col("value") < F.col("lo")) | (F.col("value") > F.col("hi")))
        .select(
            "event_id",
            "event_type",
            "value",
            F.least(F.greatest(F.col("value"), F.col("lo")), F.col("hi")).alias(
                "winsorized"
            ),
        )
    )


@workload(
    "temperature_resample_documents",
    SMP.temperature_resample_sql("documents", "source", "doc_id", 200).replace(
        "SELECT * FROM ranked",
        "SELECT source, doc_id, n_in_stratum, quota, rk FROM ranked",
    ),
    category="dedup",
)
def temperature_resample_documents(spark, sf_dir):
    """Temperature (α=0.5) mixture rebalancing toward √count shares
    (operators/sampling.py:temperature_resample): per-source quotas from
    integer arithmetic over nano-quantized √counts, filled in md5-priority
    order — deterministic under any partitioning, nested budgets compose.
    One tiny count aggregate broadcast back + one window shuffle on
    source."""
    from etl_manager_spark.operators.sampling import temperature_resample

    t = load_tables(spark, sf_dir)
    kept = temperature_resample(
        spread(t["documents"], spark), "source", "doc_id", total_budget=200
    )
    return kept.select("source", "doc_id", "n_in_stratum", "quota", "rk")


@workload(
    "twa_user_value_daily",
    """
    WITH seg AS (
      SELECT user_id, CAST(DATE_TRUNC('day', ts) AS DATE) AS day,
             CAST(FLOOR(value * 100.0 + 0.5) AS BIGINT) AS value_centi,
             LEAD(EPOCH_US(ts)) OVER (
               PARTITION BY user_id, DATE_TRUNC('day', ts)
               -- NULLS FIRST replays Spark's ASC default: a NULL-id row
               -- segments BEFORE its same-ts twin (nullts edge dataset)
               ORDER BY ts NULLS FIRST,
                        event_id NULLS FIRST) - EPOCH_US(ts) AS dt_us
      FROM events
    )
    SELECT user_id, day,
           CAST(SUM(value_centi * dt_us) AS BIGINT) AS num_q,
           CAST(SUM(dt_us) AS BIGINT) AS den_us,
           CAST(FLOOR(CAST(SUM(value_centi * dt_us) AS DOUBLE)
                      / CAST(SUM(dt_us) AS DOUBLE) / 100.0
                      * 1000000000.0 + 0.5) AS BIGINT) AS twa_q
    FROM seg WHERE dt_us IS NOT NULL AND dt_us > 0
    GROUP BY user_id, day
    """,
    category="timeseries",
)
def twa_user_value_daily(spark, sf_dir):
    """Time-weighted average (the hypertable/metrics-rollup aggregate):
    per (user, day), each value is weighted by how long it was current —
    Σ value·Δt / Σ Δt over segments to the next event in the same day.
    Exact by construction: values centi-quantized to int64, Δt in integer
    microseconds, products and sums pure BIGINT (bounded: 5·10⁴ centi ×
    8.6·10¹⁰ µs × events/user-day ≪ 2⁶³), one double division at the end.
    One shuffle on (user_id, day) shared by the lead window and the
    aggregate — the window's sort IS the groupBy's partitioning."""
    t = load_tables(spark, sf_dir)
    day_col = F.date_trunc("day", "ts")
    w = Window.partitionBy("user_id", day_col).orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    seg = t["events"].select(
        "user_id",
        day_col.cast("date").alias("day"),
        F.floor(F.col("value") * F.lit(100.0) + F.lit(0.5))
        .cast("long")
        .alias("value_centi"),
        (F.lead(us).over(w) - us).alias("dt_us"),
    )
    agg = (
        seg.filter(F.col("dt_us").isNotNull() & (F.col("dt_us") > 0))
        .groupBy("user_id", "day")
        .agg(
            F.sum(F.col("value_centi") * F.col("dt_us")).alias("num_q"),
            F.sum("dt_us").alias("den_us"),
        )
    )
    return agg.select(
        "user_id",
        "day",
        "num_q",
        "den_us",
        F.floor(
            F.col("num_q").cast("double")
            / F.col("den_us").cast("double")
            / F.lit(100.0)
            * F.lit(1e9)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("twa_q"),
    )


# --------------------------------------------------------------------- #
# BPE tokenizer training + vocabulary encoding (operators/bpe.py)


def _bpe_merge_list_sql(syms: str = "syms", lft: str = "b.lft", rgt: str = "b.rgt") -> str:
    """Positional left-to-right non-overlapping merge of (lft, rgt) in a
    symbol list — no sequential fold, so DuckDB's list lambdas express it
    directly. matched(i) = pair starts at i AND (distinct pair OR an even
    run-offset — inside an L-run with lft=rgt, merges take offsets
    0,2,4…); consumed(i) = matched(i-1). Equivalent to the driver loop in
    operators/bpe.py merge_pair_ltr (left fold with skip)."""

    def run_offset(i: str) -> str:
        return (
            f"({i} - 1 - COALESCE(list_max(list_filter(range(1, {i}), "
            f"j -> {syms}[j] <> {lft})), 0))"
        )

    def matched(i: str) -> str:
        return (
            f"({syms}[{i}] = {lft} AND {i} < len({syms}) "
            f"AND {syms}[{i}+1] = {rgt} "
            f"AND ({lft} <> {rgt} OR ({run_offset(i)}) % 2 = 0))"
        )

    return f"""
      flatten(list_transform(range(1, len({syms})+1), i ->
        CASE WHEN {matched('i')} THEN [{lft} || {rgt}]
             WHEN i > 1 AND {matched('(i-1)')} THEN []
             ELSE [{syms}[i]] END))"""


def _bpe_chain_sql(num_merges: int, vocab_limit: int) -> str:
    """The unrolled learning rounds as a WITH-clause body: w0 = the
    top-N word-frequency dictionary, then per round r: p_r (weighted
    adjacent-pair counts), b_r (argmax, tie-break count desc / pair asc),
    w_{r+1} (merged dictionary). Every round CTE is MATERIALIZED — w_r
    and b_r are each referenced twice, and DuckDB's default CTE inlining
    would re-expand the chain exponentially."""
    parts = [
        f"""w0 AS MATERIALIZED (
      SELECT word, CAST(cnt AS BIGINT) AS freq,
             list_transform(range(1, LEN(word)+1), i -> word[i]) AS syms
      FROM (SELECT tok AS word, COUNT(*) AS cnt
            FROM (SELECT UNNEST(REGEXP_EXTRACT_ALL(LOWER(text), '[a-z]+')) AS tok
                  FROM documents)
            WHERE LEN(tok) >= 2
            GROUP BY tok ORDER BY cnt DESC, tok LIMIT {vocab_limit})
    )"""
    ]
    for r in range(num_merges):
        parts.append(
            f""",
    p{r} AS MATERIALIZED (
      SELECT (p).l AS lft, (p).r AS rgt, CAST(SUM(freq) AS BIGINT) AS pair_freq
      FROM (SELECT freq, UNNEST(CASE WHEN len(syms) < 2 THEN []
             ELSE list_transform(range(1, len(syms)), i ->
                  {{'l': syms[i], 'r': syms[i+1]}}) END) AS p FROM w{r})
      GROUP BY 1, 2
    ),
    b{r} AS MATERIALIZED (
      SELECT lft, rgt, pair_freq FROM p{r}
      ORDER BY pair_freq DESC, lft, rgt LIMIT 1
    ),
    w{r + 1} AS MATERIALIZED (
      SELECT word, freq,
             CASE WHEN b.lft IS NULL THEN syms
                  ELSE {_bpe_merge_list_sql()} END AS syms
      FROM w{r} LEFT JOIN b{r} b ON TRUE
    )"""
        )
    return "".join(parts)


_BPE_K = 8
_BPE_VOCAB = 2000


def _bpe_learn_oracle(sf_dir: str) -> str:
    union = "\n      UNION ALL ".join(
        f"SELECT {r + 1} AS merge_rank, lft, rgt, pair_freq FROM b{r}"
        for r in range(_BPE_K)
    )
    return f"""
    WITH {_bpe_chain_sql(_BPE_K, _BPE_VOCAB)}
    SELECT * FROM ({union}) ORDER BY merge_rank
    """


@workload("bpe_learn_merges_documents", _bpe_learn_oracle, category="text")
def bpe_learn_merges_documents(spark, sf_dir):
    """Learn the top-8 BPE merges from the corpus (operators/bpe.py).

    Distributed word-count dictionary (map-side-combined groupBy +
    TakeOrdered top-2000) → driver merge rounds on the bounded dictionary
    (the IVF/PQ-codebook precedent — at 100 TB only the token count grows;
    the dictionary is bounded by language). Oracle replays the rounds as
    an unrolled MATERIALIZED-CTE chain with a positional merge lambda."""
    from etl_manager_spark.operators import bpe as B

    t = load_tables(spark, sf_dir)
    merges, _ = B.learn_bpe(
        spark, spread(t["documents"], spark),
        num_merges=_BPE_K, vocab_limit=_BPE_VOCAB,
    )
    return B.merges_df(spark, merges)


def _bpe_encode_oracle(sf_dir: str) -> str:
    return f"""
    WITH {_bpe_chain_sql(_BPE_K, _BPE_VOCAB)}
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(COALESCE(LEN(w.syms), LEN(t.tok))) AS BIGINT) AS n_bpe_syms
    FROM (SELECT doc_id,
                 UNNEST(REGEXP_EXTRACT_ALL(LOWER(text), '[a-z]+')) AS tok
          FROM documents) t
    LEFT JOIN w{_BPE_K} w ON t.tok = w.word
    GROUP BY t.doc_id
    """


@workload("bpe_vocab_encode_documents", _bpe_encode_oracle, category="text")
def bpe_vocab_encode_documents(spark, sf_dir):
    """Encode every document with the learned BPE vocabulary: per-doc
    token count + post-merge symbol count (OOV words fall back to char
    count). The learned dictionary ships as a broadcast literal map —
    tokens never shuffle; the only exchange is the per-doc re-agg. The
    corpus-scale path is pure JVM expressions (regexp_extract_all +
    map lookup), so it rides whole-stage codegen at any scale."""
    from etl_manager_spark.operators import bpe as B

    t = load_tables(spark, sf_dir)
    docs = spread(t["documents"], spark)
    _, final_symbols = B.learn_bpe(
        spark, docs, num_merges=_BPE_K, vocab_limit=_BPE_VOCAB
    )
    return B.encode_symbol_counts(docs, final_symbols)


# --------------------------------------------------------------------- #
# Coreset selection: greedy k-center (farthest-point) over embeddings

_KC_ROUNDS = 8  # selections after the deterministic seed
_KC_DIM = 64


def _kc_sqdist_sql(emb_a: str, emb_b: str) -> str:
    """Squared L2 as the house sequential in-row fold (bitwise-identical
    to Spark's zip_with + aggregate left fold over the same doubles)."""
    return (
        f"LIST_AGGREGATE(LIST_TRANSFORM(RANGE(1, {_KC_DIM + 1}), i -> "
        f"({emb_a}[i] - {emb_b}[i]) * ({emb_a}[i] - {emb_b}[i])), 'sum')"
    )


def _kcenter_oracle(sf_dir: str) -> str:
    parts = [f"""
    WITH e AS MATERIALIZED (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings
    ),
    c0 AS MATERIALIZED (SELECT vec_id, emb FROM e ORDER BY vec_id LIMIT 1),
    m0 AS MATERIALIZED (
      SELECT e.vec_id, e.emb, {_kc_sqdist_sql('e.emb', 'c.emb')} AS dmin
      FROM e CROSS JOIN c0 c
    )"""]
    for r in range(1, _KC_ROUNDS + 1):
        parts.append(f""",
    b{r} AS MATERIALIZED (
      SELECT vec_id, emb, dmin FROM m{r - 1} ORDER BY dmin DESC, vec_id LIMIT 1
    )""")
        if r < _KC_ROUNDS:
            parts.append(f""",
    m{r} AS MATERIALIZED (
      SELECT m.vec_id, m.emb,
             LEAST(m.dmin, {_kc_sqdist_sql('m.emb', 'b.emb')}) AS dmin
      FROM m{r - 1} m CROSS JOIN b{r} b
    )""")
    union = "\n      UNION ALL ".join(
        [
            "SELECT 1 AS sel_rank, vec_id, CAST(-1 AS BIGINT) AS dmin_q FROM c0"
        ]
        + [
            f"SELECT {r + 1} AS sel_rank, vec_id, "
            f"CAST(FLOOR(dmin * 1000000000.0 + 0.5) AS BIGINT) AS dmin_q "
            f"FROM b{r}"
            for r in range(1, _KC_ROUNDS + 1)
        ]
    )
    parts.append(f"\n    SELECT * FROM ({union}) ORDER BY sel_rank")
    return "".join(parts)


@workload("kcenter_coreset_embeddings", _kcenter_oracle, category="curation")
def kcenter_coreset_embeddings(spark, sf_dir):
    """Greedy k-center (farthest-point) coreset selection — the classic
    max-diversity subset pick for training-data curation (2-approximation
    of the k-center objective). Deterministic seed = min vec_id; each
    round keeps a running min-squared-distance column (one LEAST against
    the newly selected center, never a re-scan of the selected set) and
    takes the argmax via a TakeOrdered heap + 1-row collect. At 100 TB:
    k bounded rounds of map-only work + k tiny collects; distances are
    the house sequential in-row fold, so the oracle's unrolled
    MATERIALIZED chain matches bitwise."""
    import math

    from etl_manager_spark.functions.exact import lit_double_array

    t = load_tables(spark, sf_dir)
    e = materialize(
        spread(t["embeddings"], spark)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("emb"))
    )

    def sqdist(center_vals):
        lit_c = lit_double_array(center_vals)
        return F.aggregate(
            F.zip_with(F.col("emb"), lit_c, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    seed_rows = e.orderBy("vec_id").limit(1).collect()
    if not seed_rows:
        # empty corpus: nothing to seed from — zero rows, matching the
        # oracle's empty c0 chain
        return spark.createDataFrame([], "sel_rank int, vec_id long, dmin_q long")
    seed = seed_rows[0]
    sel = [(1, seed["vec_id"], -1)]
    df = e.withColumn("dmin", sqdist(list(seed["emb"])))
    for r in range(2, _KC_ROUNDS + 2):
        b = df.orderBy(F.desc("dmin"), F.asc("vec_id")).limit(1).collect()[0]
        # same binary64 ops as the SQL quantize: floor(d·1e9 + 0.5)
        sel.append((r, b["vec_id"], int(math.floor(b["dmin"] * 1e9 + 0.5))))
        if r < _KC_ROUNDS + 1:
            df = df.withColumn(
                "dmin", F.least(F.col("dmin"), sqdist(list(b["emb"])))
            )
    return spark.createDataFrame(sel, "sel_rank int, vec_id long, dmin_q long")


def _bpe_fertility_oracle(sf_dir: str) -> str:
    return f"""
    WITH {_bpe_chain_sql(_BPE_K, _BPE_VOCAB)},
    enc AS (
      SELECT t.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(SUM(COALESCE(LEN(w.syms), LEN(t.tok))) AS BIGINT) AS n_syms
      FROM (SELECT doc_id,
                   UNNEST(REGEXP_EXTRACT_ALL(LOWER(text), '[a-z]+')) AS tok
            FROM documents) t
      LEFT JOIN w{_BPE_K} w ON t.tok = w.word
      GROUP BY t.doc_id
    )
    SELECT d.lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(enc.n_tokens) AS BIGINT) AS n_tokens,
           CAST(SUM(enc.n_syms) AS BIGINT) AS n_syms,
           CAST(FLOOR(CAST(SUM(enc.n_syms) AS DOUBLE)
                / CAST(SUM(enc.n_tokens) AS DOUBLE)
                * 1000000000.0 + 0.5) AS BIGINT) AS fertility_q
    FROM enc JOIN documents d ON d.doc_id = enc.doc_id
    GROUP BY d.lang
    """


@workload("bpe_fertility_by_lang", _bpe_fertility_oracle, category="text")
def bpe_fertility_by_lang(spark, sf_dir):
    """Tokenizer fertility (symbols per word) by language — THE
    cross-lingual tokenizer-quality gate: a vocabulary trained on a
    lopsided mix over-fragments the minority languages, and this query
    is how you see it before burning compute. Same broadcast-dictionary
    encode as bpe_vocab_encode_documents, re-aggregated per lang via a
    doc_id join back to the documents dimension."""
    from etl_manager_spark.operators import bpe as B

    t = load_tables(spark, sf_dir)
    docs = spread(t["documents"], spark)
    _, final_symbols = B.learn_bpe(
        spark, docs, num_merges=_BPE_K, vocab_limit=_BPE_VOCAB
    )
    enc = B.encode_symbol_counts(docs, final_symbols)
    return (
        enc.join(docs.select("doc_id", "lang"), "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
            F.sum("n_bpe_syms").cast("long").alias("n_syms"),
            F.floor(
                F.sum("n_bpe_syms").cast("double")
                / F.sum("n_tokens").cast("double")
                * F.lit(1000000000.0) + F.lit(0.5)
            ).cast("long").alias("fertility_q"),
        )
    )
