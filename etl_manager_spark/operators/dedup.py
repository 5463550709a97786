"""Deduplication operators (SURVEY §2.D): exact, MinHash+LSH band join,
SimHash, n-gram Jaccard.

Scale design (100 TB):

* **Exact dedup** is one hash-aggregate shuffle on the dedup key — Spark
  does map-side partial aggregation, so the shuffle carries one row per
  distinct key per map partition, not the full data.
* **MinHash hashing is embarrassingly parallel** (per-row expressions, no
  Python). The only shuffles are the explode→min aggregation and the final
  band-bucket self-join, whose fan-out is bounded by bucket size; hot
  buckets (boilerplate docs) should be capped — see ``max_bucket_size``.
* Hash functions are built from md5 (deterministic, engine-portable),
  not ``F.hash`` (Spark-specific seed), so results are reproducible and
  oracle-checkable.

Invariant (also binds the iterative loops in ``operators/graph.py``): a
loop's convergence count rides its checkpoint job as a
``DataFrame.observe`` metric, and ``Observation.get`` blocks, with no
timeout, until a job over the observed frame finishes. Each
``.observe(obs, ...)`` must therefore sit directly under an EAGER
``localCheckpoint``, whose job fires the listener before ``obs.get`` is
read. Making that checkpoint lazy, or running under Spark Connect, turns
every such loop into an indefinite hang rather than an error.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from etl_manager_spark.operators.text import tokens

# NULL-text convention, shared by every signature family here: a document
# whose text is NULL (or tokenizes to nothing) emits NO signature rows
# (explode of an empty/NULL token array), so the minhash/simhash/ngram
# near-dup paths can never flag it — such rows are "not comparable", not
# "duplicates of each other". Exact-equality semantics on NULLs belong to
# exact_dedup, whose groupBy does treat NULL keys as one group. Jaccard
# verification scores an empty-union pair 0.0 (see _jaccard_expr).


def exact_dedup(
    df: DataFrame,
    subset: list[str],
    id_col: str,
) -> DataFrame:
    """Keep one deterministic survivor (minimum ``id_col``) per distinct
    ``subset`` value, annotated with the group's duplicate count.

    Single shuffle on the dedup key; for a pure ``dropDuplicates`` without
    survivor determinism Spark's built-in is fine — determinism is the point
    here (reproducible pipelines). ``copies`` is the output count column,
    so neither ``subset`` nor ``id_col`` may use that name (or overlap
    each other) — refused up front instead of an AMBIGUOUS_REFERENCE
    pointing at internals."""
    if id_col in subset or "copies" in subset or id_col == "copies":
        raise ValueError(
            f"exact_dedup: id_col={id_col!r} and subset={subset!r} must be "
            "disjoint and must not use the reserved output name 'copies'"
        )
    return (
        df.groupBy(*subset)
        .agg(
            F.min(id_col).alias(id_col),
            F.count(F.lit(1)).alias("copies"),
        )
        .select(id_col, *subset, "copies")
    )


# Bump whenever the signature algorithm changes (hash scheme, tokenizer,
# default num_hashes): materialized signature stores embed this in their
# path, so a stale store from an older algorithm can never be silently
# joined against signatures computed by newer code.
# v2: pairwise_jaccard/minhash token sets dedupe duplicate doc rows
SIGNATURE_ALGO_VERSION = 2


def _minhash_token_hash(token_col, seed: int):
    """Portable 64-bit-ish hash: first 16 hex chars of md5(seed:token)."""
    return F.substring(F.md5(F.concat(F.lit(f"{seed}:"), token_col)), 1, 16)


def minhash_signatures(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
) -> DataFrame:
    """Per-document MinHash signature: for each of ``num_hashes`` seeded
    hash functions, the minimum hash over the document's distinct tokens.

    Implementation: explode distinct tokens → per-token array of seeded
    hashes → groupBy doc taking element-wise min. One shuffle (by doc id);
    the element-wise min is computed via ``F.min`` per signature position.
    """
    toks = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(tokens(text_col))).alias("tok"),
    )
    hashed = toks.select(
        id_col,
        *[
            _minhash_token_hash(F.col("tok"), i).alias(f"h{i}")
            for i in range(num_hashes)
        ],
    )
    return hashed.groupBy(id_col).agg(
        *[F.min(f"h{i}").alias(f"minhash_{i}") for i in range(num_hashes)]
    )


def band_bucket_keys(
    sigs: DataFrame, id_col: str, num_hashes: int, bands: int
) -> DataFrame:
    """(id, bucket) rows from a minhash signature table: signatures split
    into ``bands`` contiguous groups of ``num_hashes // bands`` rows, each
    group md5-folded into one bucket key prefixed with its band index.
    THE single band-key derivation — the batch self-join path
    (:func:`minhash_near_duplicates`) and the incremental new-vs-corpus
    path (:func:`incremental_minhash_dedup`) must bucket identical
    signatures identically, so both call this (two drifting copies would
    silently make incremental dedup miss matches the batch path finds)."""
    if num_hashes % bands != 0:
        raise ValueError(
            f"num_hashes ({num_hashes}) must be a multiple of bands "
            f"({bands}) — a truncating split would silently ignore the "
            "trailing signatures and weaken LSH recall"
        )
    rows_per_band = num_hashes // bands
    band_cols = [
        F.md5(
            F.concat_ws(
                "|",
                *[
                    F.col(f"minhash_{b * rows_per_band + i}")
                    for i in range(rows_per_band)
                ],
            )
        ).alias(f"band_{b}")
        for b in range(bands)
    ]
    return sigs.select(id_col, *band_cols).select(
        id_col,
        F.explode(
            F.array(*[
                F.concat_ws(":", F.lit(str(b)), F.col(f"band_{b}"))
                for b in range(bands)
            ])
        ).alias("bucket"),
    )


def minhash_near_duplicates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 8,
    bands: int = 2,
    jaccard_threshold: float = 0.5,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """LSH near-duplicate candidate pairs, verified with exact Jaccard.

    Pipeline: minhash signatures → band keys (md5 of each band's hashes) →
    self-join per band bucket (pairs with id_a < id_b) → exact token-set
    Jaccard filter at ``jaccard_threshold``.

    Scale: the self-join is per band-bucket; ``max_bucket_size`` drops
    degenerate buckets (e.g. empty-doc signatures) whose quadratic fan-out
    would dominate at 100 TB. The exact-verify join re-reads only candidate
    pairs' token sets.
    """
    sigs = minhash_signatures(df, id_col, text_col, num_hashes)
    buckets = band_bucket_keys(sigs, id_col, num_hashes, bands)
    # cap degenerate buckets before the quadratic self-join; eagerly
    # checkpoint the (id, bucket) table — ids+hashes only, the §8
    # lightweight proxy — so the self-join's two sides read one
    # materialization instead of re-running the whole signature pass
    # per side (round-10 scan audit: 6 corpus scans per execution; the
    # sf0.1 walls of the with/without variants are inside this box's
    # noise band, so the one-signature-pass shape wins on §1.2 grounds)
    sized = buckets.withColumn(
        "bucket_n", F.count(F.lit(1)).over(Window.partitionBy("bucket"))
    ).filter(F.col("bucket_n") <= max_bucket_size).localCheckpoint(eager=True)
    pairs = (
        sized.alias("a")
        .join(sized.alias("b"), on="bucket")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    jac = pairwise_jaccard(df, pairs, id_col, text_col)
    return jac.filter(F.col("jaccard") >= jaccard_threshold)


def connected_components_star(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 25,
) -> DataFrame:
    """Connected components via alternating large-star / small-star
    contraction — the O(log² n)-round algorithm of Kiveris et al.,
    "Connected Components in MapReduce and Beyond" (SoCC 2014; public).

    Unlike min-label propagation (rounds = component diameter), star
    contraction halves long chains every other round, so one giant
    boilerplate component — even a pathological chain — converges in
    logarithmic rounds. Per round: two groupBy-min aggregations and two
    joins, all keyed on node id (ordinary hash shuffles; no broadcast, no
    driver state), which is the 100 TB-safe shape.

    * large-star: every node links its LARGER neighbors to the minimum of
      its neighborhood (incl. itself).
    * small-star: every node links its smaller-or-equal neighbors and
      itself to the minimum among them.

    At the fixpoint the edge set is a union of stars centered at each
    component's minimum id; labels read directly off the edges. Returns
    (id, cluster_id) for every node appearing in ``pairs``."""
    nodes = (
        pairs.select(F.col(id_a).alias("id"))
        .union(pairs.select(F.col(id_b).alias("id")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # canonical orientation u > v, self-loops dropped. Round 11: edge
    # counts ride the checkpoint job as an observed metric — the former
    # separate .count() was one-to-two extra jobs PER ROUND (the
    # checkpointed scan is cheap, but each count is a full job barrier).
    obs0 = Observation()
    edges = (
        pairs.select(
            F.greatest(F.col(id_a), F.col(id_b)).alias("u"),
            F.least(F.col(id_a), F.col(id_b)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .observe(obs0, F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )

    def large_star(e: DataFrame) -> DataFrame:
        # PRECONDITION: e is oriented u > v (the canonical orientation
        # above; small_star's output preserves it — see its note).
        # Round-11 fused round (verdict item 6): with oriented input,
        # "(u, v) ∈ sym with v > u" is exactly the canonical edge set
        # read backwards, so the textbook emit — for every center c and
        # larger neighbor w: (w, m(c)) — is ONE join of e against the
        # per-node neighborhood minimum ON THE SMALL ENDPOINT. The old
        # form joined the 2|E|-row symmetric view a second time and paid
        # a full distinct per round; duplicates are harmless downstream
        # (small_star's aggregations are MIN and it closes with the
        # round's one distinct), so both are gone.
        sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        m = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select(F.col("u").alias("_c"), F.least("u", "mn").alias("m"))
        )
        return (
            e.join(m, e["v"] == m["_c"])
            .select(F.col("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
        )

    def small_star(e: DataFrame) -> DataFrame:
        # input oriented u > v (large_star emits (w, m) with m < w),
        # possibly with duplicates; per u: link {v-neighbors} ∪ {u} to
        # their min. Output is oriented again — from_u: m < u by
        # construction; from_v: m ≤ v with equals filtered — so the
        # round's closing distinct is the only dedup the pair needs.
        mins = e.groupBy("u").agg(F.min("v").alias("m"))
        from_u = mins.select(F.col("u"), F.col("m").alias("v"))
        from_v = (
            e.join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
        )
        return from_u.union(from_v).distinct()

    converged = False
    n_edges = int(obs0.get["n"])
    for _ in range(max_iterations):
        obs = Observation()
        new_edges = (
            small_star(large_star(edges))
            .observe(obs, F.count(F.lit(1)).alias("n"))
            .localCheckpoint(eager=True)
        )
        # set-equality in ONE subtraction job, not two: both sides are
        # duplicate-free (distinct), so equal counts + empty A∖B imply
        # equality; the counts ride the checkpoint jobs as observed
        # metrics (zero extra jobs — obs.get returns after the eager
        # checkpoint has materialized)
        n_new = int(obs.get["n"])
        changed = (
            1
            if n_new != n_edges
            else new_edges.exceptAll(edges).limit(1).count()
        )
        edges, n_edges = new_edges, n_new
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iterations} "
            "rounds — this exceeds the O(log² n) bound and indicates a bug "
            "or an astronomically large component; raise max_iterations"
        )
    # stars: every non-center node points at its component min exactly once
    return (
        nodes.join(edges, nodes["id"] == edges["u"], "left")
        .select("id", F.coalesce("v", "id").alias("cluster_id"))
    )


def near_dup_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 25,
    algorithm: str = "auto",
) -> DataFrame:
    """Connected components over a near-duplicate pair list: every node in
    a component gets the component's minimum id as ``cluster_id`` — the
    canonical "pick one representative per duplicate cluster" step after
    pair generation (pairs alone over-delete: A~B and B~C must not keep
    both A and C if only B is removed).

    Algorithm: min-label propagation. Every node starts as its own label;
    each round every node takes the minimum label among itself and its
    neighbors; fixpoint when nothing changes. Rounds = graph diameter —
    near-dup graphs are clique-like (duplicates of one source all pair
    with each other), so 2-3 rounds is typical. Each round is one join +
    one aggregate (shuffles on node id); ``localCheckpoint`` truncates
    the per-round lineage so plans don't nest.

    ``algorithm``:

    * ``"auto"`` (default) — propagation; if ``max_iterations`` rounds
      don't reach the fixpoint (a giant chain-shaped component, e.g. a
      boilerplate-heavy corpus where overlapping templates daisy-chain),
      fall back to :func:`connected_components_star`, whose round count is
      O(log² n) regardless of diameter. The operator is total: it never
      fails on deep graphs, it just switches to the scale algorithm.
    * ``"propagation"`` — raise ``RuntimeError`` on cap exhaustion
      (returning partial labels would silently mis-cluster).
    * ``"star"`` — go straight to large-star/small-star contraction.

    Returns (id, cluster_id) for every node that appears in ``pairs``
    (singletons never enter the pair list — they are their own cluster
    implicitly)."""
    if algorithm == "star":
        return connected_components_star(pairs, id_a, id_b, max_iterations)
    if algorithm not in ("auto", "propagation"):
        raise ValueError(f"unknown algorithm {algorithm!r}")
    # Materialize the edge list once: ``pairs`` is typically the tail of an
    # expensive pipeline (MinHash signatures -> LSH band join -> verify), and
    # the loop below re-reads edges every round — without this checkpoint each
    # round would recompute the whole upstream pair generation.
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("cluster_id", F.col("id"))
        .localCheckpoint(eager=True)
    )
    converged = False
    for _ in range(max_iterations):
        neighbor_labels = edges.join(
            labels.withColumnRenamed("id", "dst"), on="dst"
        ).select(
            F.col("src").alias("id"),
            "cluster_id",
            F.lit(None).cast(labels.schema["cluster_id"].dataType).alias("old_label"),
        )
        # Carry the previous label through the SAME aggregation (old_label is
        # non-NULL exactly once per id), and ride the changed-row count on
        # the checkpoint job as an observed metric (round 11) — the former
        # limit(1).count() over the checkpointed result was still a full
        # extra job barrier per round.
        obs = Observation()
        agged = (
            neighbor_labels.unionByName(
                labels.withColumn("old_label", F.col("cluster_id"))
            )
            .groupBy("id")
            .agg(
                F.min("cluster_id").alias("cluster_id"),
                F.max("old_label").alias("old_label"),
            )
            .observe(
                obs,
                F.count(
                    F.when(F.col("cluster_id") != F.col("old_label"), 1)
                ).alias("chg"),
            )
            .localCheckpoint(eager=True)
        )
        changed = int(obs.get["chg"])
        labels = agged.select("id", "cluster_id")
        if changed == 0:
            converged = True
            break
    if not converged:
        if algorithm == "auto":
            # diameter > max_iterations: switch to the O(log² n) algorithm.
            # Star gets its own default budget — the caller's cap bounded
            # diameter-proportional rounds, not logarithmic ones (25 star
            # rounds cover any component a real cluster could hold).
            # Feed it the already-checkpointed symmetric edge list, NOT
            # the raw pairs plan: pairs is typically the tail of the
            # whole MinHash→LSH→verify pipeline, and rebuilding star's
            # node/edge checkpoints from it would re-run that upstream
            # from scratch.
            return connected_components_star(
                edges.select(
                    F.col("src").alias(id_a), F.col("dst").alias(id_b)
                ),
                id_a,
                id_b,
            )
        raise RuntimeError(
            f"near_dup_clusters did not converge in {max_iterations} rounds; "
            "graph diameter exceeds max_iterations — raise it, or use "
            "algorithm='star' (large-star/small-star contraction) for "
            "chain-shaped graphs"
        )
    return labels


def _jaccard_expr(a: str, b: str):
    """|a∩b| / |a∪b| with the empty-union pair scoring 0.0 — explicit,
    deployment-independent semantics (see pairwise_jaccard)."""
    union = F.size(F.array_union(a, b))
    return F.when(union == 0, F.lit(0.0)).otherwise(
        F.size(F.array_intersect(a, b)).cast("double")
        / union.cast("double")
    )


def pairwise_jaccard(
    df: DataFrame, pairs: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Exact token-set Jaccard for given (id_a, id_b) candidate pairs.

    NULL-text documents have the EMPTY token set by convention, and a
    pair whose union is empty scores 0.0 ("nothing in common"), never a
    duplicate. Stated explicitly because the bare size-ratio expression
    is deployment-dependent there: legacy sizeOfNull makes NULL/NULL =
    -1/-1 = jaccard 1.0 (a NULL doc becomes everyone's perfect
    duplicate), while ANSI throws or drops the pair silently."""
    # per-DOCUMENT token UNION: duplicate doc ids (re-ingested rows,
    # multi-part docs - possibly with DIFFERENT text) merge into one
    # token set, the same resolution minhash_signatures' groupBy applies;
    # a per-row formulation would join each pair once per copy and
    # duplicate every downstream edge/degree count. Token-less docs keep
    # their empty set via the left join (a pair touching one must score
    # 0.0, not vanish).
    #
    # Round 10 (§8): the candidate pair list is the bounded proxy that
    # decides which documents matter. It is checkpointed once (its lazy
    # plan is typically the whole LSH candidate chain, which the three
    # consumers below would otherwise each re-execute), token-set
    # construction is restricted BEFORE the tokenize to ids that appear
    # in some pair (non-candidate documents are never tokenized — the
    # dominant saving at scale), and the candidate-bounded set table is
    # checkpointed so both pair sides read one materialization instead
    # of re-running the explode/groupBy per join side.
    pairs = pairs.localCheckpoint(eager=True)
    cand_ids = (
        pairs.select(F.col("id_a").alias(id_col))
        .union(pairs.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    cand = df.join(cand_ids, on=id_col, how="left_semi")
    ids = cand.select(F.col(id_col).alias("_sid")).distinct()
    tokensets = (
        cand.select(
            F.col(id_col).alias("_sid"),
            F.explode(F.array_distinct(tokens(text_col))).alias("_tok"),
        )
        .distinct()
        .groupBy("_sid")
        .agg(F.collect_list("_tok").alias("_toks"))
    )
    sets = ids.join(tokensets, on="_sid", how="left").select(
        "_sid",
        F.coalesce(
            F.col("_toks"), F.array().cast("array<string>")
        ).alias("_toks"),
    ).localCheckpoint(eager=True)
    return (
        pairs.join(sets.withColumnRenamed("_sid", "id_a"), on="id_a")
        .withColumnRenamed("_toks", "toks_a")
        .join(sets.withColumnRenamed("_sid", "id_b"), on="id_b")
        .withColumnRenamed("_toks", "toks_b")
        .select(
            "id_a",
            "id_b",
            _jaccard_expr("toks_a", "toks_b").alias("jaccard"),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    top_k: int = 20,
) -> DataFrame:
    """Top-k most similar document pairs by exact unigram-set Jaccard,
    computed via an inverted-index join (explode tokens → join on token →
    count intersections) — the scalable exact formulation: work is
    proportional to co-occurring token pairs, not |docs|².

    Deterministic order: (jaccard DESC, id_a, id_b)."""
    # distinct() across ROWS, not just array_distinct within one row: a
    # duplicated doc_id (reingested row, multi-part doc) would otherwise
    # double |A| and quadruple the intersection counts, yielding
    # impossible Jaccard values > 1 - the set semantics are per DOCUMENT
    # §8: the inverted-index table feeds the size aggregate AND both
    # self-join sides — eagerly materialized so the tokenize runs once
    # per call, not once per consumer (this is the standard materialized
    # posting table of inverted-index dedup; ids + tokens, no documents)
    tok = df.select(
        F.col(id_col), F.explode(F.array_distinct(tokens(text_col))).alias("tok")
    ).distinct().localCheckpoint(eager=True)
    sizes = tok.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    inter = (
        tok.alias("a")
        .join(tok.alias("b"), on="tok")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count(F.lit(1)).alias("i"))
    )
    scored = (
        inter.join(sizes.withColumnRenamed(id_col, "id_a").withColumnRenamed("n", "na"), "id_a")
        .join(sizes.withColumnRenamed(id_col, "id_b").withColumnRenamed("n", "nb"), "id_b")
        .select(
            "id_a",
            "id_b",
            (F.col("i").cast("double") / (F.col("na") + F.col("nb") - F.col("i")).cast("double")).alias("jaccard"),
        )
    )
    return scored.orderBy(F.desc("jaccard"), "id_a", "id_b").limit(top_k)


def simhash(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 16,
) -> DataFrame:
    """Per-document SimHash: each distinct token votes ±1 on ``bits`` bit
    positions (bit b = top bit of hex digit b of md5(token), i.e. digit >=
    '8' lexicographically — a portable comparison); the signature sets bit b
    iff the vote sum is positive.

    Pure expression pipeline: explode → per-bit vote columns → sum → bit
    assembly. One shuffle. ``bits`` must be ≤ 32: each bit reads one hex
    digit of md5 (32 digits total) — beyond that, substring returns ''
    and the bit would silently vote -1 for every document (constant-zero
    high bits that make banded candidate generation degenerate)."""
    if not 1 <= bits <= 32:
        raise ValueError(f"simhash bits must be in [1, 32], got {bits}")
    # distinct() across rows: duplicate doc ids vote over the UNION of
    # their token sets (one vote per distinct token), matching the
    # minhash/jaccard resolution - per-row votes would double-weight
    # tokens shared by the copies and could flip signature bits
    toks = df.select(
        F.col(id_col), F.explode(F.array_distinct(tokens(text_col))).alias("tok")
    ).distinct()
    votes = toks.select(
        id_col,
        *[
            F.when(F.substring(F.md5("tok"), b + 1, 1) >= "8", 1)
            .otherwise(-1)
            .alias(f"v{b}")
            for b in range(bits)
        ],
    )
    summed = votes.groupBy(id_col).agg(
        *[F.sum(f"v{b}").alias(f"s{b}") for b in range(bits)]
    )
    sig = summed.select(
        id_col,
        sum(
            [
                F.when(F.col(f"s{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0)).cast("long")
                for b in range(bits)
            ],
            F.lit(0).cast("long"),
        ).alias("simhash"),
    )
    return sig


def fuzzy_name_pairs(
    df: DataFrame,
    name_col: str,
    max_distance: int = 3,
    block=None,
) -> DataFrame:
    """Edit-distance near-duplicate names: pairs of DISTINCT ``name_col``
    values within ``max_distance`` Levenshtein edits.

    The classic entity-resolution shape: distinct values first (vocabulary
    scale, not row scale — at 100 TB the distinct set of a name-like
    column is orders of magnitude smaller than the table), then a blocked
    self-join so candidates share a cheap key, then the exact distance.
    ``block`` maps the name Column to a blocking key; the default blocks
    on the last whitespace token (surname/noun), which keeps buckets small
    for name-shaped data. One shuffle on the block key, O(Σ|block|²)
    distance evaluations, all JVM-side (``F.levenshtein`` — same unit-cost
    edit distance DuckDB's ``levenshtein`` computes)."""
    if block is None:
        block = lambda c: F.element_at(F.split(c, " "), -1)  # noqa: E731
    names = df.select(F.col(name_col).alias("name")).distinct()
    a = names.select(F.col("name").alias("name_a"), block(F.col("name")).alias("_blk"))
    b = names.select(F.col("name").alias("name_b"), block(F.col("name")).alias("_blk"))
    return (
        a.join(b, on="_blk")
        .filter(F.col("name_a") < F.col("name_b"))
        .select(
            "name_a",
            "name_b",
            F.levenshtein("name_a", "name_b").alias("distance"),
        )
        .filter(F.col("distance") <= max_distance)
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    name_col: str,
    window: int = 3,
    max_distance: int = 3,
    n_partitions: int | None = None,
) -> DataFrame:
    """Sorted-neighborhood entity resolution (Hernández & Stolfo): sort
    the DISTINCT ``name_col`` values lexicographically and compare each
    to its next ``window - 1`` successors — the complementary classic to
    key blocking (:func:`fuzzy_name_pairs`): it catches near-duplicates
    whose blocking key itself is corrupted ("ivory yelow" vs "ivory
    yellow" share a neighborhood but not a last-token block), at a fixed
    O(w·|distinct|) comparison budget no matter how skewed any block is.

    Candidates come from ``lead(1..w-1)`` over the sorted order, then
    the exact Levenshtein gate. Scale shape: ``repartitionByRange`` on
    the name (contiguous lexicographic slices per partition, pinned with
    a localCheckpoint), the lead window runs PER PARTITION, and each
    partition receives the first ``w-1`` names of ALL following
    partitions combined (``chained_overlap_entries`` walks forward until
    w-1 successor rows are accumulated — a single-neighbor copy silently
    drops boundary pairs whenever a range holds fewer than w-1 names,
    the normal regime when parallelism ≫ vocabulary/partition) —
    exactly the pair set of a global sort, with no Exchange
    SinglePartition and a w-1-row overlap per range.

    Returns (name_a, name_b, distance) with name_a < name_b (sort-order
    adjacency implies lexicographic order)."""
    from pyspark.sql import Window

    from etl_manager_spark.operators.prefix import overlap_plan

    spark = df.sparkSession
    parts = n_partitions or spark.sparkContext.defaultParallelism
    names = df.select(F.col(name_col).alias("name_a")).distinct()
    base = (
        names.repartitionByRange(parts, "name_a")
        .withColumn("_snp", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    wloc = Window.partitionBy("_snp").orderBy("name_a")
    # round 11: the forward-overlap replication plan is computed IN-PLAN
    # from the checkpointed base (operators.prefix.overlap_plan — the
    # same chained-walk math the former driver collect ran), so the
    # operator has no driver barrier left
    remap = overlap_plan(base, "_snp", window - 1, successors=True).select(
        F.col("_src").alias("_snp"),
        F.col("_lim").alias("_snp_lim"),
        F.col("_dst").alias("_snp_dst"),
    )
    heads = (
        base.withColumn("_snp_rn", F.row_number().over(wloc))
        .join(F.broadcast(remap), "_snp")
        .filter(F.col("_snp_rn") <= F.col("_snp_lim"))
        .select(
            F.col("_snp_dst").alias("_snp"),
            "name_a",
            F.lit(True).alias("_replica"),
        )
    )
    aug = base.withColumn("_replica", F.lit(False)).unionByName(heads)
    cands = aug.select(
        "name_a",
        "_replica",
        *[
            F.lead("name_a", i).over(wloc).alias(f"_n{i}")
            for i in range(1, window)
        ],
    ).filter(~F.col("_replica"))
    pairs = (
        cands.select(
            "name_a",
            F.explode(
                F.array(*[F.col(f"_n{i}") for i in range(1, window)])
            ).alias("name_b"),
        )
        .filter(F.col("name_b").isNotNull())
        .select(
            "name_a",
            "name_b",
            F.levenshtein("name_a", "name_b").alias("distance"),
        )
        .filter(F.col("distance") <= max_distance)
    )
    return pairs


def incremental_minhash_dedup(
    new_df: DataFrame,
    corpus_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    corpus_sigs: DataFrame | None = None,
    num_hashes: int = 8,
    bands: int = 2,
    jaccard_threshold: float = 0.5,
    max_bucket_size: int = 1000,
) -> DataFrame:
    """Near-dup check of a NEW batch against an EXISTING corpus — the
    production incremental-dedup shape: signatures are computed only for
    the new batch (pass the corpus's stored signature table via
    ``corpus_sigs``; recomputed here only as a fallback), candidates come
    from a band-bucket join of new-side against corpus-side keys (never a
    corpus self-join), and exact Jaccard verification re-reads token sets
    for CANDIDATE ids only (a semi-join point-lookup, not a corpus scan).

    Per-batch cost is O(|batch| + candidates) — independent of corpus
    size except for the bucket join against the (indexed, pre-banded)
    signature table. Corpus buckets larger than ``max_bucket_size`` are
    dropped before the join (degenerate near-identical clusters;
    deduplicate those corpus-side first).

    Returns (new_id, corpus_id, jaccard) for verified matches — the
    batch rows to drop (or link) before appending."""
    if corpus_sigs is None:
        corpus_sigs = minhash_signatures(corpus_df, id_col, text_col, num_hashes)
    new_sigs = minhash_signatures(new_df, id_col, text_col, num_hashes)
    # band keys come from the SAME derivation as the batch path
    # (band_bucket_keys) — a drifting copy here would silently bucket
    # identical signatures differently and miss matches
    corpus_buckets = band_bucket_keys(corpus_sigs, id_col, num_hashes, bands).withColumn(
        "_bn", F.count(F.lit(1)).over(Window.partitionBy("bucket"))
    ).filter(F.col("_bn") <= max_bucket_size).drop("_bn")
    new_buckets = band_bucket_keys(new_sigs, id_col, num_hashes, bands)
    cand = (
        new_buckets.alias("n")
        .join(corpus_buckets.alias("c"), on="bucket")
        .select(
            F.col(f"n.{id_col}").alias("new_id"),
            F.col(f"c.{id_col}").alias("corpus_id"),
        )
        .distinct()
    )
    # candidates are reused by the corpus-side semi-join below and the
    # verify join; one materialization keeps the band-bucket join from
    # running twice
    cand = cand.localCheckpoint(eager=True)
    # per-DOCUMENT token UNION (duplicate ids merge), the same
    # resolution as pairwise_jaccard/minhash_signatures - a per-row
    # formulation would emit duplicate pair rows for re-ingested ids
    tok_sets_new = (
        new_df.select(
            F.col(id_col).alias("new_id"),
            F.explode(F.array_distinct(tokens(text_col))).alias("_tok"),
        )
        .distinct()
        .groupBy("new_id")
        .agg(F.collect_list("_tok").alias("toks_n"))
    )
    # the verify step tokenizes CANDIDATE corpus rows only: semi-join the
    # corpus to the candidate ids BEFORE the tokenizer, or this step is a
    # full corpus scan per batch and the O(|batch| + candidates) contract
    # above is broken
    cand_corpus = corpus_df.join(
        cand.select(F.col("corpus_id").alias(id_col)).distinct(),
        on=id_col,
        how="left_semi",
    )
    tok_sets_corpus = (
        cand_corpus.select(
            F.col(id_col).alias("corpus_id"),
            F.explode(F.array_distinct(tokens(text_col))).alias("_tok"),
        )
        .distinct()
        .groupBy("corpus_id")
        .agg(F.collect_list("_tok").alias("toks_c"))
    )
    return (
        cand.join(tok_sets_new, on="new_id")
        .join(tok_sets_corpus, on="corpus_id")
        .select(
            "new_id",
            "corpus_id",
            _jaccard_expr("toks_n", "toks_c").alias("jaccard"),
        )
        .filter(F.col("jaccard") >= jaccard_threshold)
    )


def cluster_representatives(
    clusters: DataFrame,
    scores: DataFrame,
    id_col: str = "id",
    score_col: str = "score",
) -> DataFrame:
    """The dedup decision table: for every clustered document, which
    cluster member survives. The representative is the highest-scoring
    member (ties broken by smallest id — total order, so the choice is
    deterministic under any partitioning).

    ``clusters`` is (id, cluster_id) from :func:`near_dup_clusters`;
    ``scores`` maps ``id_col`` → ``score_col`` (any quality signal:
    Gopher score, token count, recency). One join on id + one window
    over cluster_id — near-dup clusters are small by construction
    (bounded by the LSH bucket caps upstream), so the per-cluster sort
    is a few rows; the shuffles are on id then cluster_id.

    Every clustered document appears in the output even when ``scores``
    has no row for it (LEFT join): unscored members rank BELOW every
    scored member (NULL-last ordering) and fall into the delete list
    unless the whole cluster is unscored — an inner join here would
    silently drop them from the keep/delete decision entirely, and a
    delete-list built from ``keep = false`` would then retain them as
    duplicates.

    Returns (id, cluster_id, rep_id, keep): ``keep`` marks the
    representative; the delete-list is ``keep = false``."""
    from pyspark.sql import Window

    score = F.col(score_col)
    if dict(scores.dtypes).get(score_col) in ("float", "double"):
        # Spark orders NaN ABOVE every double: a NaN score (0/0 quality
        # ratio upstream) would beat every real score and become the
        # representative. Map NaN to NULL so it ranks below all scored
        # members, like the unscored LEFT-join misses.
        score = F.nanvl(score, F.lit(None).cast("double"))
    joined = clusters.join(
        scores.select(F.col(id_col).alias("id"), score.alias("_score")),
        on="id",
        how="left",
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("_score").desc_nulls_last(), F.col("id").asc()
    )
    return (
        joined.withColumn("rep_id", F.first("id").over(w))
        .select(
            "id",
            "cluster_id",
            "rep_id",
            (F.col("id") == F.col("rep_id")).alias("keep"),
        )
    )


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 16,
    bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-duplicate pairs via banded bucketing — the Hamming-
    space analogue of the MinHash LSH band join. The ``bits``-bit
    signature splits into ``bands`` equal slices; two documents become a
    candidate pair iff at least one whole slice matches (guaranteed
    complete for ``max_hamming < bands`` by pigeonhole: fewer flipped
    bits than bands leaves some band untouched), then candidates are
    verified exactly with ``bit_count(xor)``.

    Never an all-pairs join: the self-join is keyed on (band index, band
    value) — the same bucket-join shape, shuffle profile, and degenerate-
    bucket caveats as :func:`minhash_near_duplicates`.

    Returns (id_a, id_b, hamming) with id_a < id_b, one row per verified
    pair."""
    sigs = simhash(df, id_col, text_col, bits)
    return hamming_near_dup_pairs(
        sigs, id_col, "simhash", bits, bands, max_hamming
    )


def hamming_near_dup_pairs(
    sigs: DataFrame,
    id_col: str,
    sig_col: str,
    bits: int,
    bands: int = 4,
    max_hamming: int = 3,
) -> DataFrame:
    """Generic banded Hamming-LSH pair join over ANY integer signature
    column (SimHash of text, perceptual hash of media, …): split the
    ``bits``-bit signature into ``bands`` slices, candidate iff a whole
    slice matches (complete for ``max_hamming < bands`` by pigeonhole),
    verify exactly with ``bit_count(xor)``. Shuffle is keyed on
    (band index, band value) — never all-pairs; degenerate-bucket
    caveats as :func:`minhash_near_duplicates`. Returns
    (id_a, id_b, hamming) with id_a < id_b."""
    if bits % bands != 0:
        raise ValueError(f"bits ({bits}) must divide evenly into {bands} bands")
    if not 0 <= max_hamming < bands:
        raise ValueError(
            f"need 0 <= max_hamming < bands for a complete band join, got "
            f"max_hamming={max_hamming} bands={bands} (a pair {max_hamming} "
            f"flips apart could differ in every band)"
        )
    width = bits // bands
    mask = (1 << width) - 1
    banded = sigs.select(
        F.col(id_col).alias("id"),
        F.col(sig_col).alias("_sig"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col(sig_col), b * width)
                        .bitwiseAND(F.lit(mask))
                        .alias("bv"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("id", "_sig", F.col("bk.band").alias("band"), F.col("bk.bv").alias("bv"))
    left = banded.select(
        F.col("id").alias("id_a"), F.col("_sig").alias("sig_a"), "band", "bv"
    )
    right = banded.select(
        F.col("id").alias("id_b"), F.col("_sig").alias("sig_b"), "band", "bv"
    )
    cand = (
        left.join(right, on=["band", "bv"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sig_a", "sig_b")
        .distinct()
    )
    return cand.select(
        "id_a",
        "id_b",
        F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))).alias("hamming"),
    ).filter(F.col("hamming") <= max_hamming)


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    top_k: int = 20,
) -> DataFrame:
    """Top-k DIRECTIONAL near-duplicate pairs by n-gram containment
    C(A→B) = |shingles(A) ∩ shingles(B)| / |shingles(A)| — the
    asymmetric measure that catches "A is mostly contained in B"
    (quote farms, wrapper pages, partial copies) where symmetric
    Jaccard stays low because B is much larger. Same inverted-index
    shape as the Jaccard pairs: work scales with co-occurring shingles,
    not |docs|². Deterministic order: (containment DESC, id_a, id_b);
    both directions of a pair can appear (that is the point)."""
    from etl_manager_spark.operators.text import tokens

    # token array staged as a COLUMN: an inline tokens() expression in
    # the transform lambda re-tokenizes per shingle position — O(len²)
    # per document (the bigram_lm hazard class)
    staged = df.select(
        F.col(id_col),
        F.filter(tokens(text_col), lambda t: t != "").alias("_toks"),
    ).filter(F.size("_toks") >= n)
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size("_toks") - F.lit(n - 1)),
            lambda i: F.array_join(F.slice("_toks", i, n), " "),
        )
    )
    # distinct() across rows: duplicated doc_ids must not inflate the
    # shingle multiset (containment is a SET ratio; > 1 is impossible)
    g = (
        staged.select(F.col(id_col), F.explode(grams).alias("gram"))
        .distinct()
        # §8: size aggregate + both self-join sides read this posting
        # table; one shingle pass per call instead of three
        .localCheckpoint(eager=True)
    )
    sizes = g.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    inter = (
        g.alias("a")
        .join(g.alias("b"), on="gram")
        .filter(F.col(f"a.{id_col}") != F.col(f"b.{id_col}"))
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .agg(F.count(F.lit(1)).alias("i"))
    )
    scored = inter.join(
        sizes.withColumnRenamed(id_col, "id_a").withColumnRenamed("n", "na"),
        "id_a",
    ).select(
        "id_a",
        "id_b",
        (F.col("i").cast("double") / F.col("na").cast("double")).alias(
            "containment"
        ),
    )
    return scored.orderBy(F.desc("containment"), "id_a", "id_b").limit(top_k)


def connected_components_local(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_edges: int = 200_000,
) -> DataFrame:
    """Connected components for a graph KNOWN to be small: collect the
    edge list (bounded by ``max_edges`` — raises if exceeded, never
    silently degrades), run union-find on the driver, return the same
    (id, cluster_id = component min-id) frame as
    :func:`near_dup_clusters`.

    This is the "solve small subproblems locally" move: composite
    pipelines (DBSCAN's core graph, the perceptual-hash media graph)
    end in a CC over a FILTERED edge set that is orders of magnitude
    smaller than the input; each distributed label-propagation round
    costs a fixed scheduling overhead that dwarfs the microseconds of
    union-find at that size. The driver memory bound is explicit and
    caller-chosen — the same O(k) contract as the centroid/codebook
    training collects. For edge lists that can exceed the budget, use
    :func:`near_dup_clusters` (propagation with the star-contraction
    fallback); equivalence is pinned by
    ``tests/test_operators.py::test_local_cc_equals_propagation``."""
    rows = (
        pairs.select(F.col(id_a).alias("a"), F.col(id_b).alias("b"))
        .limit(max_edges + 1)
        .collect()
    )
    if len(rows) > max_edges:
        raise ValueError(
            f"edge list exceeds max_edges={max_edges}; use "
            "near_dup_clusters for graphs this large"
        )
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for r in rows:
        a, b = r["a"], r["b"]
        if a is None or b is None:
            # a NULL endpoint carries no identity to union on; the
            # distributed variants' equi-joins drop such edges too —
            # skipping here keeps the equivalence instead of a driver
            # TypeError from min/max(None, int)
            continue
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    out = [(x, find(x)) for x in parent]
    schema_src = pairs.select(F.col(id_a).alias("id")).schema["id"]
    id_type = schema_src.dataType.simpleString()
    return pairs.sparkSession.createDataFrame(
        out, f"id {id_type}, cluster_id {id_type}"
    )
