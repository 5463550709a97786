"""Text-retrieval ranking operators over a document table.

The retrieval primitives every corpus pipeline eventually needs: TF-IDF
term weighting, BM25 scoring against a query, an inverted index, and
benchmark decontamination (flag training documents that share long
n-grams with an evaluation set — the standard leakage gate before
pretraining, cf. the n-gram overlap checks published with GPT-3/PaLM).

All operators are pure ``pyspark.sql.functions`` expressions — JVM-side,
whole-stage codegen, no Python in the row path. Shuffle profile per op is
documented inline; none is all-pairs.

Float discipline (oracle parity): scores whose last-ulp could differ
between engines are emitted nano-quantized (``floor(x·1e9 + 0.5)`` as
BIGINT) exactly like the centroid workloads, and every floating sum is
evaluated in a FIXED order (per-term pivot columns added left-to-right),
never via a commutative shuffle aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from etl_manager_spark.operators.materialize import materialize
from etl_manager_spark.operators.text import token_count, tokens


def _attach_scalar(left: DataFrame, scalars: DataFrame) -> DataFrame:
    """Attach a one-row aggregate to every left row — the round-10
    replacement for driver-side ``count()``/``first()`` scalars: the
    value rides in-plan as a broadcast column, so the operator triggers
    ZERO eager Spark jobs (the old shape paid one job per scalar per
    call). Plans as a broadcast nested-loop join whose build side is a
    single aggregate row — the catalog lint's adjudicated "scalar"
    class."""
    return left.crossJoin(F.broadcast(scalars))


def quantize(c: F.Column) -> F.Column:
    """floor(x·1e9 + 0.5) as BIGINT — engine-portable float comparison.

    Domain contract: |x| < ~9.2e9 (int64 range after the ×1e9 scale).
    Beyond it the engines diverge loudly vs silently — DuckDB raises a
    conversion error on the BIGINT cast while Spark's floor(double)
    saturates — so quantized columns must come from bounded measures."""
    return F.floor(c * F.lit(1000000000.0) + F.lit(0.5)).cast("long")


def term_frequencies(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, term, tf) — one explode + one hash-agg shuffle on (id, term);
    partial aggregation combines map-side so the shuffle carries counts,
    not token instances."""
    return (
        df.select(F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("term"))
        .filter(F.col("term") != "")
        .groupBy("id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def document_frequencies(tf: DataFrame) -> DataFrame:
    """(term, df) from a term-frequency table — one hash-agg shuffle on
    term. At 100 TB the distinct-term table is vocabulary-sized (small),
    so downstream joins against it broadcast."""
    return tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))


def tfidf_top_terms(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 5,
) -> DataFrame:
    """Top-``k`` TF-IDF terms per document: tf · ln(N/df), ranked per doc
    (score desc, term asc for determinism). The df table is vocabulary-
    sized → broadcast join; the per-doc top-k is one window over the
    (id, term) partitioning that the tf aggregation already produced.

    Returns (id, rank, term, tf, df, tfidf_q) with the score
    nano-quantized for engine-portable comparison."""
    # distinct-doc count as a broadcast one-row aggregate (COUNT(*) over
    # the distinct id rows — null ids counted, exactly like the former
    # driver-side distinct().count(), whose long→double conversion the
    # cast below replays); no eager job
    ndocs = (
        df.select(F.col(id_col).alias("id"))
        .distinct()
        .agg(F.count(F.lit(1)).cast("long").alias("_ndocs"))
    )
    # (id, term)-bounded tf table consumed by the df rollup AND the
    # scored join — one tokenize pass, not two (§8; the r10 plan audit
    # showed 3 corpus scans per call, pruning having broken lazy reuse)
    tf = materialize(term_frequencies(df, id_col, text_col))
    dfreq = document_frequencies(tf)
    scored = _attach_scalar(
        tf.join(F.broadcast(dfreq), on="term"), ndocs
    ).withColumn(
        "tfidf_q",
        quantize(
            F.col("tf").cast("double")
            * F.log(
                F.col("_ndocs").cast("double") / F.col("df").cast("double")
            )
        ),
    )
    # rank on the QUANTIZED score (not the raw double): ln() may differ by
    # an ulp across engines, and ordering must agree with the emitted
    # comparison value — otherwise near-equal terms could rank differently
    # here and in an oracle.
    w = Window.partitionBy("id").orderBy(F.desc("tfidf_q"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col("id"), "rank", "term", "tf", "df", "tfidf_q")
    )


def bm25_scores(
    df: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    top: int | None = None,
    tf: DataFrame | None = None,
) -> DataFrame:
    """BM25(query, doc) for every document, the classic Robertson idf
    (ln(1 + (N - df + 0.5)/(df + 0.5))).

    Scale shape: tf for the query's terms only (explode + filter on a
    broadcast literal set, then hash-agg), df and avgdl are scalar-sized
    aggregates attached via broadcast. The per-term contributions are
    pivoted into fixed columns and added LEFT-TO-RIGHT in sorted term
    order, so the floating sum has one defined evaluation order on both
    engines (a groupBy SUM would add in shuffle order — nondeterministic).

    Returns (id, score_q) — nano-quantized; ``top`` optionally keeps the
    global top-N rows (ordered score desc, id asc). Documents containing
    NONE of the query terms are OMITTED (their score is conceptually 0 —
    left-join the corpus and coalesce to 0 if a dense score vector is
    needed); with ``top`` set the result may therefore have fewer than
    ``top`` rows.

    Round 10: ``n_docs`` and ``avgdl`` ride in-plan as broadcast one-row
    aggregates instead of driver-side ``count()``/``first()`` — the SAME
    doubles reach the contrib expression (Spark computed both either
    way; the driver hop only re-literalized them), but the operator now
    triggers zero eager jobs, so a caller's whole query is one job and
    an empty corpus needs no special-case branch (every downstream table
    is empty with the right schema)."""
    qterms = sorted(set(query_terms))
    if not qterms:
        raise ValueError(
            "bm25_scores: query_terms is empty (the query tokenized to "
            "nothing upstream?) — every document would score 0; filter "
            "empty queries out before scoring"
        )
    # the per-doc length table is the §8 proxy every other aggregate
    # reads: eagerly checkpointed because THREE consumers (ndocs, avgdl,
    # the per-term join) would otherwise each re-scan the corpus — the
    # r10 plan audit showed 5 corpus scans per call; per-branch column
    # pruning breaks lazy exchange reuse
    lens = materialize(df.select(
        F.col(id_col).alias("id"),
        # token_count carries the nullif(-1) legacy-ANSI guard, so
        # NULL-text docs contribute NULL (avg-ignored), never dl=-1
        token_count(text_col).alias("dl"),
    ))
    # lens is a 1:1 projection of df's rows, so the distinct-id count
    # over it IS the former distinct-id count over df — no corpus pass
    ndocs = (
        lens.select("id")
        .distinct()
        .agg(F.count(F.lit(1)).cast("long").alias("_ndocs"))
    )
    avgdl = lens.agg(F.avg("dl").alias("_avgdl"))
    if tf is None:
        # query-term-bounded (≤ |qterms| rows per doc): checkpoint so
        # dfreq and the per-term join share one tokenize pass
        tf = materialize(term_frequencies(df, id_col, text_col).filter(
            F.col("term").isin(qterms)
        ))
    # else: the caller passes its own (id, term, tf) table ALREADY
    # restricted to the query terms (and typically checkpointed), so a
    # query that needs both the scores and another per-term aggregate
    # tokenizes the corpus once. df over the full corpus for these terms
    # == df over the filtered tf (tf already has exactly one row per
    # (doc, term) pair).
    dfreq = document_frequencies(tf)
    per_term = (
        _attach_scalar(
            _attach_scalar(tf.join(F.broadcast(dfreq), on="term"), ndocs),
            avgdl,
        )
        .join(lens, on="id")
        .withColumn(
            "contrib",
            F.log(
                F.lit(1.0)
                + (F.col("_ndocs").cast("double") - F.col("df") + F.lit(0.5))
                / (F.col("df") + F.lit(0.5))
            )
            * (F.col("tf") * F.lit(k1 + 1.0))
            / (
                F.col("tf")
                + F.lit(k1)
                * (
                    F.lit(1.0 - b)
                    + F.lit(b)
                    * F.col("dl").cast("double")
                    / F.col("_avgdl")
                )
            ),
        )
    )
    # Pivot each query term to its own column (exactly one row per
    # (id, term), so F.max is a value-pick, not an aggregate choice),
    # then sum left-to-right in sorted term order.
    pivoted = per_term.groupBy("id").agg(
        *[
            F.max(F.when(F.col("term") == t, F.col("contrib"))).alias(f"_c{i}")
            for i, t in enumerate(qterms)
        ]
    )
    score = F.lit(0.0)
    for i in range(len(qterms)):
        score = score + F.coalesce(F.col(f"_c{i}"), F.lit(0.0))
    out = pivoted.select("id", quantize(score).alias("score_q"))
    if top is not None:
        out = (
            out.orderBy(F.desc("score_q"), F.asc("id")).limit(top)
        )
    return out


def rrf_fuse(
    rankings: list[DataFrame],
    id_col: str = "id",
    score_col: str = "score_q",
    k0: int = 60,
    top: int | None = None,
) -> DataFrame:
    """Reciprocal-rank fusion of N ranked lists:
    ``rrf(d) = Σᵢ 1/(k0 + rankᵢ(d))`` over the lists containing d
    (Cormack et al.'s k0=60 default) — the standard way to merge
    lexical + semantic retrieval without score calibration.

    Each input is an (id, score) list; ranks are assigned here by
    (score desc, id asc) — a total order, so fusion is deterministic
    for any tie pattern. Inputs are expected PRE-CAPPED to top-N (the
    retrieval convention, and what bounds the no-partition rank window
    below: N rows, not the corpus). The reciprocal terms add
    left-to-right in list order — one defined float order, matching the
    SQL oracle.

    Returns (id, rank_0..rank_{n-1} nullable int, rrf_q), optionally
    capped to the fused ``top`` by (rrf_q desc, id asc)."""
    from pyspark.sql import Window

    assert rankings, "rrf_fuse needs at least one ranking"
    w = Window.orderBy(F.desc(score_col), F.asc(id_col))
    fused = None
    for i, r in enumerate(rankings):
        ranked = r.select(
            F.col(id_col).alias("id"),
            F.row_number().over(w).cast("int").alias(f"rank_{i}"),
        )
        fused = ranked if fused is None else fused.join(ranked, "id", "full")
    score = F.lit(0.0)
    for i in range(len(rankings)):
        score = score + F.coalesce(
            F.lit(1.0) / (F.lit(k0) + F.col(f"rank_{i}")), F.lit(0.0)
        )
    out = fused.select(
        "id",
        *[F.col(f"rank_{i}") for i in range(len(rankings))],
        quantize(score).alias("rrf_q"),
    )
    if top is not None:
        out = out.orderBy(F.desc("rrf_q"), F.asc("id")).limit(top)
    return out


def inverted_index(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_postings: int = 20,
) -> DataFrame:
    """token → (document frequency, first ``max_postings`` posting ids).

    One explode + one hash-agg shuffle on term. The posting list is
    sorted then truncated AFTER collect (collect_list order is shuffle-
    nondeterministic; array_sort makes it canonical), and emitted as a
    JSON string so array values compare stably across engines. df counts
    ALL postings, not just the kept prefix.

    At 100 TB, collect_set per term is bounded by per-term document
    frequency; stopword-like terms dominate — cap them upstream with a
    df ceiling (filter after :func:`document_frequencies`) if the index
    is materialized, the same way the LSH path caps bucket sizes."""
    postings = (
        df.select(F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("term"))
        .filter(F.col("term") != "")
        .distinct()
        .groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("df"),
            F.slice(F.array_sort(F.collect_list("id")), 1, max_postings).alias(
                "_post"
            ),
        )
    )
    return postings.select("term", "df", F.to_json("_post").alias("postings"))


def ngram_decontaminate(
    train_df: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Benchmark decontamination: for each training document, count the
    DISTINCT ``n``-grams it shares with any document of the evaluation
    set. A training doc with any overlap is contaminated (the filter the
    caller applies before pretraining).

    Scale shape: the eval side is tiny relative to the corpus (benchmarks
    are thousands of docs, the corpus is billions) → its distinct n-gram
    set broadcasts; the train side is one explode + a broadcast semi-ish
    join + one hash-agg on id. No shuffle of the corpus beyond the final
    per-doc count.

    Returns (id, n_shared) for contaminated training docs only."""

    def grams(df: DataFrame, keep_id: bool) -> DataFrame:
        # token array staged as a COLUMN: an inline tokens() expression
        # inside the transform lambda re-tokenizes per n-gram position —
        # O(len²) per document (the bigram_lm hazard class)
        id_cols = [F.col(id_col).alias("id")] if keep_id else []
        staged = df.select(
            *id_cols,
            F.filter(tokens(text_col), lambda t: t != "").alias("_toks"),
        ).filter(F.size("_toks") >= n)
        g = F.transform(
            F.sequence(F.lit(1), F.size("_toks") - F.lit(n - 1)),
            lambda i: F.array_join(F.slice("_toks", i, n), " "),
        )
        out_cols = [F.col("id")] if keep_id else []
        return staged.select(*out_cols, F.explode(g).alias("ngram")).distinct()

    eval_grams = grams(eval_df, keep_id=False)
    train_grams = grams(train_df, keep_id=True)
    return (
        train_grams.join(F.broadcast(eval_grams), on="ngram")
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )


def bigram_lm_scores(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    add_k: float = 1.0,
    broadcast_counts: bool = True,
) -> DataFrame:
    """CCNet-style n-gram language-model quality scoring: train an
    add-k-smoothed bigram LM on the corpus itself, then score every
    document by its total bigram log-probability — low scores mark
    out-of-distribution / garbled documents, the classic perplexity
    filter of LLM data pipelines.

    logp(w2|w1) = ln((c(w1,w2) + k) / (c(w1) + k·V)).

    Determinism: each bigram's logp is nano-quantized to int64 FIRST and
    the per-document total is then an INTEGER sum — exact, associative,
    order-free — so the result is identical under any partitioning and
    across engines (a double sum would depend on shuffle order). The
    mean is left to the caller as sum/n to keep the output integral.

    Scale shape: bigram/unigram count tables are vocabulary²-bounded
    (far below corpus size; prune with a min-count gate when
    materializing for 100 TB), so with ``broadcast_counts`` (default)
    the scoring side is a single map stage — explode → two
    broadcast-hash probes → map-side partial agg — and the ONLY shuffle
    is the per-doc rollup on id. Without the hint Catalyst's pre-AQE
    size estimate for an aggregate-of-explode is pessimistic and it
    plans two sort-merge joins of the full pair stream (measured 7×
    slower at sf0.1). Disable only for billion-bigram pruned models
    that genuinely exceed broadcast size; then pre-bucket both sides
    on the bigram key instead.

    The corpus is tokenized exactly TWICE: one explode emits a
    ``(id, w1, w2)`` row per token — ``w2`` is the following token, or
    NULL for a document's final token — and ONE hash-agg rolls that
    stream up to a vocabulary²-bounded count table that is eagerly
    materialized (``localCheckpoint``) for all three count consumers
    (bigram counts, unigram counts, vocabulary size); the scoring probe
    pays the second, map-local tokenize pass. The lazy form re-ran
    scan + regex tokenize + explode once per consumer — 4 passes over
    the corpus, the dominant cost at sf0.1 — while checkpointing the
    raw stream itself materializes corpus-scale blocks (memory-unsafe
    under repeated invocation). Unigram counts sum ALL count rows
    (every token appears exactly once as ``w1``, boundary marker
    included); bigram rows are the ``w2 IS NOT NULL`` subset —
    identical counts to tokenizing separately, so the oracle SQL is
    unchanged.

    Returns (id, n_bigrams, sum_logp_q)."""
    # The token array is projected into a COLUMN before the explode:
    # inlining the split+filter expression into the transform lambda
    # re-evaluated the whole tokenize per element_at call — O(len²)
    # interpreted work per document (measured ~20× on the corpus fixture;
    # the old persist masked it by serving every re-invocation from the
    # first materialization's cache). As a column reference, element_at
    # reads the materialized array.
    staged = df.select(
        F.col(id_col).alias("id"),
        F.filter(tokens(text_col), lambda t: t != "").alias("tt"),
    ).filter(F.size("tt") >= 1)
    # one struct per token: (tok_i, tok_{i+1} | NULL at the doc boundary);
    # the when() guard keeps element_at in-bounds under ANSI mode
    units = F.transform(
        F.sequence(F.lit(1), F.size("tt")),
        lambda i: F.struct(
            F.element_at(F.col("tt"), i).alias("w1"),
            F.when(
                i < F.size("tt"), F.element_at(F.col("tt"), i + F.lit(1))
            ).alias("w2"),
        ),
    )
    token_stream = staged.select(
        "id", F.explode(units).alias("u")
    ).select("id", F.col("u.w1").alias("w1"), F.col("u.w2").alias("w2"))
    # Checkpoint the vocabulary²-BOUNDED count table, never the
    # corpus-sized token stream. An eager checkpoint of the raw
    # (id, w1, w2) stream (tried this round) materializes corpus-scale
    # blocks per invocation; under the bench's repeated-invocation
    # protocol the accumulated blocks saturate storage memory and the
    # median measured the resulting spill/GC thrash (33 s vs 3 s in a
    # fresh session). The count table rolls the stream up to one row per
    # (w1, w2 | NULL-boundary) — all three count consumers (bigram,
    # unigram, vocabulary) derive from it exactly: unigram counts sum
    # every (w1, *) row including the boundary marker, so c1 counts each
    # token instance once, and the scoring probe pays the second
    # (map-local) tokenize pass instead of reading giant blocks. A
    # persist of the stream is no better: its CacheManager entry is
    # matched by canonical plan, so repeated invocations silently read
    # warm cache and a repeated-measurement harness times cache reads.
    tc = materialize(
        token_stream.groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    pairs = token_stream.filter(F.col("w2").isNotNull())
    bigram_counts = tc.filter(F.col("w2").isNotNull()).select(
        "w1", "w2", F.col("c").alias("c12")
    )
    unigram_counts = tc.groupBy("w1").agg(F.sum("c").alias("c1"))
    # vocabulary size rides along as a broadcast one-row frame instead of a
    # driver-side count(): that action would re-run the whole unigram
    # aggregation once per invocation just to embed a literal. Double math
    # is unchanged (k·V evaluates to the same IEEE product either way).
    vocab_df = unigram_counts.agg(F.count(F.lit(1)).alias("_vocab"))
    if broadcast_counts:
        bigram_counts = F.broadcast(bigram_counts)
        unigram_counts = F.broadcast(unigram_counts)
        vocab_df = F.broadcast(vocab_df)
    scored = (
        pairs.join(bigram_counts, on=["w1", "w2"])
        .join(unigram_counts, on="w1")
        .crossJoin(vocab_df)
        .select(
            "id",
            quantize(
                F.log(
                    (F.col("c12") + F.lit(add_k))
                    / (F.col("c1") + F.lit(add_k) * F.col("_vocab"))
                )
            ).alias("logp_q"),
        )
    )
    return scored.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum("logp_q").alias("sum_logp_q"),
    )


def corpus_stats(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """One-row corpus report card: total token instances, vocabulary
    size, hapax count (terms occurring exactly once — the Zipf tail that
    dominates vocabulary), and the nano-quantized type/token ratio.
    Two hash-aggs (term counts, then one global rollup); output is a
    single row regardless of corpus size."""
    term_counts = (
        df.select(
            F.explode(F.filter(tokens(text_col), lambda t: t != "")).alias("term")
        )
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    return term_counts.agg(
        F.sum("n").alias("total_tokens"),
        F.count(F.lit(1)).alias("vocab_size"),
        F.sum(F.when(F.col("n") == 1, 1).otherwise(0)).alias("hapax_count"),
        quantize(
            F.count(F.lit(1)).cast("double") / F.sum("n").cast("double")
        ).alias("type_token_ratio_q"),
    )
